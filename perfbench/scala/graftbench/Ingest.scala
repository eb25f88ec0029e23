package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.{JsonIngest, MqBroker}
import graft.streaming.ServingSink

/** The reference topology: MqBroker → graft-mq stream → JsonIngest.parse
  * (EventValidation) → ServingSink.upsertBatch in foreachBatch, with the
  * read path queried beside it.
  *
  * Drain phase: a backlog published during set-up is drained at a fixed
  * `maxRowsPerTrigger`. Paced phase: an open-loop generator publishes the
  * following lines at a fixed offered rate while one closed-loop reader
  * issues view reads.
  */
final class Ingest(run: Run, root: String, lines: IndexedSeq[String]) {
  private val spark: SparkSession = run.spark
  val topic = "events"
  val chunk = 5000

  /** Per publish call: (seconds). */
  val publishS = mutable.ArrayBuffer[Double]()

  /** Start a broker under a fresh directory and publish lines [0, n). */
  def startBroker(name: String, n: Int): MqBroker = {
    val b = MqBroker.start(s"$root/$name")
    (0 until n by chunk).foreach { s =>
      val batch = lines.slice(s, math.min(n, s + chunk))
      val t0 = System.nanoTime()
      run.span("publish", "sources", "setup") {
        MqBroker.publishStrings("127.0.0.1", b.port, topic, batch)
      }
      publishS += (System.nanoTime() - t0) / 1e9
    }
    b
  }

  /** Start and end (ns) of one trigger's upsert, by batch id. */
  final case class Commit(batchId: Long, startNs: Long, endNs: Long)

  def stream(b: MqBroker, name: String, maxRows: Int,
             commits: mutable.ArrayBuffer[Commit]): StreamingQuery = {
    val store = s"$root/$name/store"
    Files.createDirectories(Paths.get(store))
    JsonIngest.parse(spark.readStream.format("graft-mq")
        .option("port", b.port.toLong).option("topic", topic)
        .option("maxRowsPerTrigger", maxRows.toLong).load())
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        // the span's op id is the listener's key for this trigger
        val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        run.span(s"upsert#$id", "streaming", s"$group#$id") {
          ServingSink.upsertBatch(spark, store, df, id)
        }
        commits.synchronized(commits += Commit(id, t0, System.nanoTime()))
        ()
      }
      .option("checkpointLocation", s"$root/$name/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  def storeDir(name: String): String = s"$root/$name/store"

  private def committedOffset(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.toLong).getOrElse(0L)

  /** Block until the stream has committed offset `n`; false on timeout. */
  def awaitOffset(q: StreamingQuery, n: Long, timeoutS: Double): Boolean = {
    val t0 = System.nanoTime()
    while (committedOffset(q) < n && q.isActive &&
      (System.nanoTime() - t0) / 1e9 < timeoutS) Thread.sleep(2)
    committedOffset(q) >= n
  }

  /** One trigger's progress: offsets, input rows and durationMs phases. */
  def progress(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val src = p.sources.head
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "start" -> Option(src.startOffset).map(_.toLong).getOrElse(0L),
        "end" -> src.endOffset.toLong,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  final case class Pacing(startNs: Long, first: Int, rate: Double,
                          published: Int, lateS: Seq[Double])

  /** Open-loop publisher of lines [first, first + rate·seconds) at `rate`
    * lines/s. Lateness is the wait behind schedule of each publish call. */
  def pace(b: MqBroker, first: Int, rate: Double, seconds: Double): Pacing = {
    val last = math.min(lines.size, first + (rate * seconds).toInt)
    val late = mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    var sent = first
    while (sent < last) {
      val elapsed = (System.nanoTime() - start) / 1e9
      val due = math.min(last, first + (elapsed * rate).toInt + 1)
      if (due > sent) {
        late += elapsed - (sent - first) / rate
        val t0 = System.nanoTime()
        run.span("publish", "sources", "paced") {
          MqBroker.publishStrings("127.0.0.1", b.port, topic, lines.slice(sent, due))
        }
        publishS += (System.nanoTime() - t0) / 1e9
        sent = due
      } else Thread.sleep(1)
    }
    Pacing(start, first, rate, sent - first, late.toSeq)
  }

  /** Closed-loop reader: point reads on the three views until `stop`. */
  def reads(store: String, seed: Long, stop: () => Boolean,
            users: Int, hours: Seq[java.sql.Timestamp]): Seq[(String, Double, String)] = {
    val rnd = new scala.util.Random(seed)
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    var i = 0
    while (!stop()) {
      val kind = Seq("counts", "uniques", "topk")(i % 3)
      try {
        val (_, s) = run.op(s"ingest:read:$kind#$i", "streaming")(kind match {
          case "counts" => ServingSink.countsPerUser(spark, store)
              .filter(col("user_id") === rnd.nextInt(users).toLong).collect()
          case "uniques" => ServingSink.uniquesHourly(spark, store)
              .filter(col("hour") === hours(rnd.nextInt(hours.size))).collect()
          case _ => ServingSink.topkHourly(spark, store)
              .filter(col("hour") === hours(rnd.nextInt(hours.size))).collect()
        })
        out += ((kind, s, null))
      } catch {
        case e: Throwable =>
          out += ((kind, Double.NaN, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
      }
      i += 1
    }
    out.toSeq
  }

  /** Write the three views and the dead-letter rows for the check. */
  def dumpViews(store: String, out: String): Long = {
    ServingSink.countsPerUser(spark, store).write.parquet(s"$out/counts")
    ServingSink.uniquesHourly(spark, store).write.parquet(s"$out/uniques")
    ServingSink.topkHourly(spark, store).write.parquet(s"$out/topk")
    spark.read.parquet(s"$store/rejects/*").count()
  }
}

object Ingest {
  /** Warm-up stream, set-up (three broker starts with backlog publish),
    * drain, then the paced phase with the reader beside it. */
  def workload(run: Run, a: Map[String, String], seconds: Double): Map[String, Any] = {
    val ing = new Ingest(run, s"${a("out")}/ingest",
      Files.readAllLines(Paths.get(a("ndjson"))).asScala.toIndexedSeq)
    val backlog = a("backlog").toInt
    val maxRows = a("max_rows").toInt
    val rate = a("rate").toDouble

    // warm-up: the same path over a small separate topic and store
    val (_, warmS) = Run.timed {
      val b = ing.startBroker("warm", maxRows / 2)
      val warm = mutable.ArrayBuffer[ing.Commit]()
      val q = ing.stream(b, "warm", maxRows / 4, warm)
      try require(ing.awaitOffset(q, maxRows / 2, 120), "warm-up did not drain")
      finally { q.stop(); b.close() }
    }
    ing.publishS.clear()
    // set-up repeated three times: start a broker, publish the backlog
    val reps = (0 until 3).map(r => Run.timed(ing.startBroker(s"broker$r", backlog)))
    reps.init.foreach(_._1.close())
    val broker = reps.last._1
    val publishSetup = ing.publishS.toSeq
    ing.publishS.clear()

    val commits = mutable.ArrayBuffer[ing.Commit]()
    val drainStart = System.nanoTime()
    val q = ing.stream(broker, "main", maxRows, commits)
    val result = mutable.LinkedHashMap[String, Any]()
    try {
      require(ing.awaitOffset(q, backlog, 150), "backlog did not drain")
      val drainEnd = commits.synchronized(commits.last.endNs)
      // paced phase with one reader beside it
      @volatile var done = false
      // the generator's 720 hours from 2024-01-01
      val hours = (0 until 720).map(h =>
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(h)))
      var reads: Seq[(String, Double, String)] = Nil
      val reader = new Thread(() => {
        reads = ing.reads(ing.storeDir("main"), a("seed").toLong, () => done,
          a("users").toInt, hours)
      })
      reader.start()
      val pacing = try ing.pace(broker, backlog, rate, seconds)
        finally { done = true; reader.join() }
      val endOffset = backlog + pacing.published
      val behind = endOffset - Option(q.lastProgress).flatMap(_.sources.headOption)
        .map(_.endOffset.toLong).getOrElse(0L)
      require(ing.awaitOffset(q, endOffset, 120), "paced lines did not commit")
      result ++= Map(
        "setup_once_s" -> warmS,
        "setup_reps_s" -> reps.map(_._2),
        "publish_setup_s" -> publishSetup,
        "publish_paced_s" -> ing.publishS.toSeq,
        "drain_s" -> (drainEnd - drainStart) / 1e9,
        "backlog" -> backlog, "published" -> endOffset,
        "backlog_end" -> behind,
        "pacing" -> Map("start_ns" -> pacing.startNs, "first" -> pacing.first,
          "rate" -> pacing.rate, "late_s" -> pacing.lateS),
        "commits" -> commits.synchronized(commits.toSeq).map(c =>
          Seq(c.batchId, c.startNs, c.endNs)),
        "progress" -> ing.progress(q),
        "reads" -> reads.map { case (k, s, e) => Seq(k, s, e) })
    } finally {
      q.stop()
      broker.close()
    }
    val rejected = ing.dumpViews(ing.storeDir("main"), s"${a("out")}/views")
    result("rejected") = rejected
    result("view_rows") = run.spark.read.parquet(s"${a("out")}/views/counts").count()
    result("stream_group") = q.runId.toString
    result.toMap
  }
}
