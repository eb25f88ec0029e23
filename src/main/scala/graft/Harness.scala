package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Plumbing shared by the harness mains (Bench, Verify, TimeQ,
  * HostFactor, PlanDigest, ShuffleAudit, Explain, PqTune): one session
  * config, one query selection, one timed query call and one per-query
  * profile read from Spark's public listener surface.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)
  def sfDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** The one session every main measures, checks and inspects. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // coalesce tiny post-shuffle partitions down to the target size
      // instead of defending parallelism — at bench scale most shuffles
      // are far below one 64MB partition and the 32-way task scheduling
      // IS the cost; big shuffles still split by size. Results are
      // partition-count-invariant by construction (Verify's 7-cpu run
      // re-proves it).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Registry queries, sorted by name, whose name equals or contains one
    * of `patterns` (every query when there are none). A pattern that
    * matches nothing is reported on stdout. */
  def select(patterns: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    def hit(name: String, p: String) = name == p || name.contains(p)
    patterns.filterNot(p => all.exists(q => hit(q._1, p)))
      .foreach(p => println(s"[harness] unknown query: $p"))
    if (patterns.isEmpty) all
    else all.filter { case (name, _) => patterns.exists(hit(name, _)) }
  }

  /** A throwable as one line: class name and message. */
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.mkString(" ")

  final case class Timed(seconds: Double, rows: Long)

  /** Time `fn(spark, dir).count()` with its jobs in the job group `name`.
    * A throwing query is a `Left` (its message), never an abort of the
    * caller's loop; the group is cleared either way. */
  def timed(spark: SparkSession, name: String, fn: Query,
            dir: String): Either[String, Timed] = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try {
      val n = fn(spark, dir).count()
      Right(Timed((System.nanoTime() - t0) / 1e9, n))
    } catch { case e: Throwable => Left(describe(e).take(200)) }
    finally sc.clearJobGroup()
  }

  /** Pay one-off session/JIT/codegen/parquet-footer/page-cache costs
    * before a timing loop, so the first timed query measures the query,
    * not JVM startup. One cheap query per base table: the alphabetically
    * first query touching a table otherwise absorbs its whole cold-scan
    * cost (q_curate_fuzzy was charged ~2.5s of first-documents-read). */
  def warmUp(spark: SparkSession, dir: String): Unit =
    Seq("q_agg_pricing_summary", "q_agg_distinct_daily",
        "q_text_quality", "q_sim_cosine_topk").foreach { q =>
      SparkEntry.queries.get(q).foreach(timed(spark, q, _, dir))
    }

  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  def mb(bytes: Long): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(bytes / 1048576.0))

  /** A JSON string literal: backslash, quote and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a json.load of the artifact fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write `line` to `path`; a failure is reported, never fatal. */
  def writeLine(path: String, line: String, tag: String): Unit =
    try Files.write(Paths.get(path), (line + "\n").getBytes(UTF_8))
    catch { case e: Throwable => System.err.println(s"[$tag] could not write $path: $e") }

  final case class Stage(id: Int, seconds: Double, tasks: Int)
  final case class Job(id: Int, stages: Seq[Stage])
  /** What one measured call cost: its jobs, each with the stages it
    * ran (a stage shared by later jobs is listed under the first), and
    * task totals summed over every task that ended. */
  final case class Profile(jobs: Seq[Job], tasks: Long, taskSeconds: Double,
                           shuffleReadBytes: Long, shuffleWriteBytes: Long,
                           spillBytes: Long, inputBytes: Long) {
    def stages: Int = jobs.map(_.stages.size).sum
  }

  private final class Recorder extends SparkListener {
    private val jobStages = mutable.LinkedHashMap.empty[Int, Seq[Int]]
    private val stages = mutable.Map.empty[Int, Stage]
    private var tasks, runMs, read, write, spill, input = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStages(e.jobId) = e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val ms = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
      stages(i.stageId) = Stage(i.stageId, ms.getOrElse(0L) / 1e3, i.numTasks)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        read += m.shuffleReadMetrics.totalBytesRead
        write += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled + m.memoryBytesSpilled
        input += m.inputMetrics.bytesRead
      }
    }
    def snapshot: Profile = synchronized {
      val seen = mutable.Set.empty[Int]
      val jobs = jobStages.toSeq.map { case (j, ids) =>
        Job(j, ids.distinct.sorted.filter(seen.add).flatMap(stages.get))
      }
      Profile(jobs, tasks, runMs / 1e3, read, write, spill, input)
    }
  }

  /** Run `body` under a fresh listener; returns its result and profile.
    * Listener delivery is async, so the profile is read once the bus
    * goes quiet (two identical snapshots 100 ms apart). */
  def profiled[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    @annotation.tailrec def settle(prev: Profile, tries: Int): Profile = {
      Thread.sleep(100)
      val cur = rec.snapshot
      if (cur == prev || tries >= 100) cur else settle(cur, tries + 1)
    }
    try {
      val out = body
      (out, settle(rec.snapshot, 1))
    } finally spark.sparkContext.removeSparkListener(rec)
  }
}
