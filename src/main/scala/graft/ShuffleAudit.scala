package graft
import Harness.mb

/** Per-query shuffle/spill/input BYTE accounting — the instrument that
  * answers "is there a shuffle here that becomes the bottleneck at
  * 100 TB" with measured bytes instead of plan-shape inference
  * (PlanDigest counts exchanges; this weighs them).
  *
  * `runMain graft.ShuffleAudit OUT.json [query...]` — runs each selected
  * query (names or substrings; default: every SparkEntry query) once
  * against SPARK_GRAFT_SF_DIR and writes one JSON object per query:
  * shuffle_read_mb / shuffle_write_mb / spilled_mb / input_mb, read
  * from `Harness.profiled`.
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SHUFFLE_AUDIT.json")
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus("32"))
    val lines = Harness.select(args.toSeq.drop(1)).map { case (name, fn) =>
      val (r, p) = Harness.profiled(spark)(Harness.timed(spark, name, fn, sfDir))
      Blocks.dropAll(spark)
      r match {
        case Right(_) =>
          s""""$name": {"shuffle_read_mb":${mb(p.shuffleReadBytes)},"shuffle_write_mb":${mb(p.shuffleWriteBytes)},"spilled_mb":${mb(p.spillBytes)},"input_mb":${mb(p.inputBytes)}}"""
        case Left(m) => s""""$name": {"err":${Harness.json(m)}}"""
      }
    }
    val json = lines.mkString("{\n  ", ",\n  ", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[shuffleaudit] wrote ${lines.size} entries to $out")
    spark.stop()
  }
}
