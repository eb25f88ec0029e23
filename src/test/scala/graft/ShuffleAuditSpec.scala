package graft

import org.apache.spark.sql.functions.{col, udf}

/** The harness's measured call is load-bearing: a map-only query must
  * profile at zero shuffle bytes, and a genuinely shuffling aggregate
  * must not — so ShuffleAudit's artifact can be trusted when it says a
  * plan moves (or does not move) data. A throwing query must stay a
  * value the harness loop carries on past.
  */
class ShuffleAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("map-only query audits at zero shuffle bytes; shuffling aggregate does not") {
    // q_mm_enriched_filter: broadcast join + filter, exchanges:0 in the
    // plan digest — nothing may cross the wire
    val (_, p0) = Harness.profiled(spark) {
      SparkEntry.queries("q_mm_enriched_filter")(spark, dir).count()
    }
    assert(p0.shuffleReadBytes == 0 && p0.shuffleWriteBytes == 0,
      s"map-only query shuffled: read=${p0.shuffleReadBytes} write=${p0.shuffleWriteBytes}")
    assert(p0.inputBytes > 0, "it must still have read its input")

    // s_agg_salted: two-phase salted aggregate — the partial results
    // must actually cross the wire
    val (_, p1) = Harness.profiled(spark) {
      SparkEntry.queries("s_agg_salted")(spark, dir).count()
    }
    assert(p1.shuffleReadBytes > 0 && p1.shuffleWriteBytes > 0,
      s"salted aggregate reported no shuffle: read=${p1.shuffleReadBytes} write=${p1.shuffleWriteBytes}")
  }

  test("timed call under the profile: the shuffling query reports its jobs and stages") {
    def run(name: String) = {
      val (r, p) = Harness.profiled(spark)(
        Harness.timed(spark, name, SparkEntry.queries(name), dir))
      assert(r.isRight, s"$name failed: $r")
      p
    }
    val shuffling = run("s_agg_salted")
    assert(shuffling.jobs.nonEmpty && shuffling.stages > 0,
      s"no jobs/stages recorded: $shuffling")
    assert(shuffling.jobs.flatMap(_.stages).forall(_.tasks > 0), shuffling)
    assert(shuffling.tasks > 0 && shuffling.shuffleWriteBytes > 0, shuffling)
    val mapOnly = run("q_mm_enriched_filter")
    assert(mapOnly.shuffleReadBytes == 0 && mapOnly.shuffleWriteBytes == 0,
      s"map-only query shuffled: $mapOnly")
  }

  test("a throwing query is a Left, clears its job group, and the loop runs on") {
    val boom = udf((id: Long) => if (id == 2) throw new IllegalStateException("boom") else true)
    val throwing: Harness.Query = (s, _) => s.range(4).toDF("id").filter(boom(col("id")))
    val loop = Seq("throwing" -> throwing,
      "q_agg_pricing_summary" -> SparkEntry.queries("q_agg_pricing_summary"))
    val results = loop.map { case (name, fn) =>
      val r = Harness.timed(spark, name, fn, dir)
      (r, spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
    }
    val (failed, groupAfterFailure) = results.head
    assert(failed.isLeft, s"throwing query returned $failed")
    assert(failed.swap.exists(_.contains("boom")), failed)
    assert(groupAfterFailure == null, s"job group left set: $groupAfterFailure")
    val (next, _) = results(1)
    assert(next.exists(_.rows > 0), s"the next query did not run: $next")
  }
}
