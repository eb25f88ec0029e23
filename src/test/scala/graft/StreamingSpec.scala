package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** SURVEY.md §5.3.3 — batch ≡ stream equivalence through MemoryStream
  * micro-batches, plus watermark late-data and replay-dedup behavior.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val base = Seq(
    Ev(1, ts("2024-01-01 00:05:00"), 1, "view", 1.0),
    Ev(2, ts("2024-01-01 00:45:00"), 1, "view", 2.0),
    Ev(3, ts("2024-01-01 01:10:00"), 2, "click", 3.0),
    Ev(4, ts("2024-01-01 01:20:00"), 1, "view", 4.5),
    Ev(5, ts("2024-01-01 02:59:00"), 2, "purchase", 10.0),
    Ev(6, ts("2024-01-01 03:01:00"), 2, "purchase", 0.5))

  private def runComplete(makeStream: DataFrame => DataFrame,
                          batches: Seq[Seq[Ev]], name: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = makeStream(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame, cols: String*): Seq[String] =
    df.orderBy(cols.map(col): _*).collect().map(_.toString).toSeq

  test("s_stream_tumbling: streaming tumbling agg equals batch, any batch split") {
    import spark.implicits._
    val batchResult = StreamOps.tumblingHourly(base.toDF())
    for ((split, i) <- Seq(Seq(base), base.grouped(2).toSeq, base.map(Seq(_))).zipWithIndex) {
      val streamed = runComplete(StreamOps.tumblingHourly, split, s"tumb$i")
      assert(sortedRows(streamed, "hour", "event_type") ==
        sortedRows(batchResult, "hour", "event_type"), s"split #$i diverged")
    }
  }

  test("s_stream_sliding: streaming sliding agg equals batch, any batch split; twin matches q_evt_sliding") {
    import spark.implicits._
    // the last §2.10 twin without a MemoryStream batch≡stream case
    // (VERDICT r10 item 4)
    val batchResult = StreamOps.sliding(base.toDF())
    for ((split, i) <- Seq(Seq(base), base.grouped(2).toSeq, base.map(Seq(_))).zipWithIndex) {
      val streamed = runComplete(StreamOps.sliding, split, s"slide$i")
      assert(sortedRows(streamed, "window_start", "event_type") ==
        sortedRows(batchResult, "window_start", "event_type"), s"split #$i diverged")
    }
    // 1h window / 30min slide: every event lands in exactly two windows
    assert(batchResult.agg(sum("cnt")).head().getLong(0) == 2L * base.size)
    // and the twin computes the SAME windows as the oracle-checked
    // q_evt_sliding micro-unit arithmetic over the real events table
    val viaOp = StreamOps.sliding(Tables.events(spark, sfDir))
      .select(col("window_start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("cnt"))
    val viaQuery = SparkEntry.queries("q_evt_sliding")(spark, sfDir)
      .select("window_start", "event_type", "cnt")
    assert(viaOp.exceptAll(viaQuery).isEmpty && viaQuery.exceptAll(viaOp).isEmpty,
      "stream twin's windows diverge from q_evt_sliding's batch result")
  }

  test("s_stream_quantile: per-hour sketch quantiles equal batch, any batch split") {
    import spark.implicits._
    // ≤k distinct values per (hour, type) → the sketch is an exact
    // histogram and therefore ORDER-INDEPENDENT: every micro-batch split
    // must produce bitwise-equal estimates to the one-shot batch run
    val batchResult = StreamOps.quantileSketchHourly(base.toDF())
    for ((split, i) <- Seq(Seq(base), base.grouped(2).toSeq, base.map(Seq(_))).zipWithIndex) {
      val streamed = runComplete(StreamOps.quantileSketchHourly(_), split, s"qsk$i")
      assert(sortedRows(streamed, "hour", "event_type") ==
        sortedRows(batchResult, "hour", "event_type"), s"split #$i diverged")
    }
    // sanity on the values themselves: the 00:00 view hour holds {1.0, 2.0}
    val p = batchResult.filter(col("hour") === ts("2024-01-01 00:00:00"))
      .select("p50", "p90").head()
    assert(p.getDouble(0) === 1.5 && p.getDouble(1) === 2.0, p.toString)
  }

  test("s_stream_visits: transformWithState per-user numbering equals batch row_number") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store backend
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batchTwin = base.toDF()
        .withColumn("visit_no", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("ts", "event_id")))
        .select("event_id", "user_id", "visit_no")
      for ((split, i) <- Seq(Seq(base), base.grouped(2).toSeq, base.map(Seq(_))).zipWithIndex) {
        val input = MemoryStream[Ev]
        val q = graft.streaming.VisitCounter.numberVisits(input.toDF())
          .writeStream.format("memory").queryName(s"visits$i")
          .outputMode("update").start()
        try split.foreach { b => input.addData(b); q.processAllAvailable() }
        finally q.stop()
        assert(sortedRows(spark.table(s"visits$i"), "event_id") ==
          sortedRows(batchTwin, "event_id"), s"split #$i diverged")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("s_stream_profile: MapState per-user type counters converge to batch counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batchTwin = base.toDF().groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
      for ((split, i) <- Seq(Seq(base), base.grouped(2).toSeq, base.map(Seq(_))).zipWithIndex) {
        val input = MemoryStream[Ev]
        val q = graft.streaming.EventTypeProfile.profile(input.toDF())
          .writeStream.format("memory").queryName(s"prof$i")
          .outputMode("update").start()
        try split.foreach { b => input.addData(b); q.processAllAvailable() }
        finally q.stop()
        // the changelog's latest (= max, counters are monotone) row per
        // (user, type) must equal the batch groupBy count
        val converged = spark.table(s"prof$i")
          .groupBy("user_id", "event_type").agg(max("cnt").as("cnt"))
        assert(sortedRows(converged, "user_id", "event_type") ==
          sortedRows(batchTwin, "user_id", "event_type"), s"split #$i diverged")
      }
    } finally spark.conf.unset(key)
  }

  test("s_stream_enrich: stream-static left join keeps unknown keys, broadcast plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val withUnknown = base :+ Ev(7, ts("2024-01-01 03:30:00"), 99, "view", 1.0)
    val input = MemoryStream[Ev]
    val q = StreamOps.enrichWithDim(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      withUnknown.grouped(3).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val out = spark.table("enrich")
      .collect().map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier")))
      .toMap
    assert(out.size == withUnknown.size, "left join must keep every stream row")
    assert(out(1L).contains("gold") && out(3L).contains("silver"))
    assert(out(7L).isEmpty, "unknown key must flow through with NULL attributes")
  }

  test("s_stream_fanout: one input, two aggregate sinks per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val byType = scala.collection.mutable.Map[String, Long]()
    val byUser = scala.collection.mutable.Map[Long, Long]()
    val q = input.toDF().writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.groupBy("event_type").count().collect()
        .foreach(r => byType(r.getString(0)) = byType.getOrElse(r.getString(0), 0L) + r.getLong(1))
      batch.groupBy("user_id").count().collect()
        .foreach(r => byUser(r.getLong(0)) = byUser.getOrElse(r.getLong(0), 0L) + r.getLong(1))
    }.start()
    try { base.grouped(3).foreach { b => input.addData(b); q.processAllAvailable() } }
    finally q.stop()
    assert(byType == Map("view" -> 3L, "click" -> 1L, "purchase" -> 2L))
    assert(byUser == Map(1L -> 3L, 2L -> 3L))
  }

  test("s_stream_dedup: replayed event_ids are emitted exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.dedupById(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(base.take(4)); q.processAllAvailable()
      // at-least-once replay: batch 2 re-delivers events 3 and 4
      input.addData(Seq(base(2), base(3), base(4), base(5))); q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("s_stream_watermark_late: a row older than watermark-delay is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.tumblingWithWatermark(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      input.addData(Seq(Ev(1, ts("2024-01-01 00:10:00"), 1, "view", 1.0)))
      q.processAllAvailable()
      // advance event time far ahead → watermark passes 00:xx windows
      input.addData(Seq(Ev(2, ts("2024-01-01 06:00:00"), 1, "view", 1.0)))
      q.processAllAvailable()
      // this row is hours behind the watermark — must be dropped
      input.addData(Seq(Ev(3, ts("2024-01-01 00:20:00"), 1, "view", 1.0)))
      q.processAllAvailable()
      // close the 06:00 window so it flushes in append mode
      input.addData(Seq(Ev(4, ts("2024-01-01 09:00:00"), 1, "view", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late")
      .select(col("hour").cast("string"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("2024-01-01 00:00:00") == 1L, s"late row must not join the 00:00 window: $rows")
  }

  test("s_stream_session_state: session_window matches batch gap-sessionization") {
    // user 1: events at 00:05, 00:45 (gap 40min > 30 ⇒ new session), 01:20
    // (gap 35min ⇒ new session); user 2: 01:10, 02:59 (new), 03:01 (same)
    val streamed = runComplete(df => StreamOps.sessionize(df), Seq(base), "sess")
    val got = streamed.orderBy("user_id", "session_start")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // session_end = max event ts (the batch twin's definition), NOT +gap
    assert(got == Seq(
      (1L, "2024-01-01 00:05:00", "2024-01-01 00:05:00", 1L),
      (1L, "2024-01-01 00:45:00", "2024-01-01 00:45:00", 1L),
      (1L, "2024-01-01 01:20:00", "2024-01-01 01:20:00", 1L),
      (2L, "2024-01-01 01:10:00", "2024-01-01 01:10:00", 1L),
      (2L, "2024-01-01 02:59:00", "2024-01-01 03:01:00", 2L)), s"got $got")
  }
}
