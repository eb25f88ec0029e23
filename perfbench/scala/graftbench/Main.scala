package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM. `perfbench/run.py` makes
  * the inputs, launches this, checks the outputs and prints the metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace, out,
  * cpus; data (relational); ndjson, users, backlog, max_rows and rate
  * (ingest). Writes `<out>/result.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = a("out")
    val cpus = a("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any](
      "ready_ms" -> readyMs,
      "calib_s" -> calibrate(),
      "spark_version" -> spark.version,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }.toMap)
    val run = new Run(spark, a("trace") == "1")
    val seconds = a("seconds").toDouble
    try {
      a("workload") match {
        case "relational" => result ++= Registry.workload(run, a("data"), out, seconds)
        case "ingest" => result ++= Ingest.workload(run, a, seconds)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      if (run.traced) result ++= run.traceOut()
    } finally {
      Files.write(Paths.get(s"$out/result.json"),
        Json(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** Fixed pure-JVM loop: host speed drift shows beside the numbers. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 200000000) { h = h * 6364136223846793005L + i; i += 1 }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}
