package graft


/** graft_dot semantics: bitwise parity with the HOF formulation including
  * the NULL edge cases (mismatched lengths, null elements) — a corrupt
  * vector must surface as NULL, never a silently-truncated partial sum.
  */
class VectorExprSpec extends SparkSpec {

  private def dotOf(sql: String): Option[Double] = {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(s"SELECT $sql AS d").first()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("plain dot matches the HOF formulation bitwise") {
    val viaKernel = dotOf("graft_dot(array(1.5D, 2.5D, -3.0D), array(4.0D, 0.5D, 2.0D))")
    val viaHof = dotOf(
      "aggregate(zip_with(array(1.5D, 2.5D, -3.0D), array(4.0D, 0.5D, 2.0D), (x, y) -> x * y), 0D, (a, z) -> a + z)")
    assert(viaKernel == viaHof && viaKernel.contains(1.5 * 4.0 + 2.5 * 0.5 + -3.0 * 2.0))
  }

  test("mismatched lengths yield NULL (matches HOF zip_with padding)") {
    assert(dotOf("graft_dot(array(1.0D, 2.0D), array(3.0D))").isEmpty)
    assert(dotOf(
      "aggregate(zip_with(array(1.0D, 2.0D), array(3.0D), (x, y) -> x * y), 0D, (a, z) -> a + z)").isEmpty)
  }

  test("null element yields NULL (matches HOF)") {
    assert(dotOf("graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D))").isEmpty)
  }

  test("null array yields NULL; float arrays widen exactly") {
    assert(dotOf("graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))").isEmpty)
    assert(dotOf(
      "graft_dot(array(CAST(0.5 AS FLOAT)), array(CAST(2.0 AS FLOAT)))").contains(1.0))
  }
}
