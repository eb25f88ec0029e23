package graft

import graft.streaming.StreamingTopK
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** s_stream_topk — streaming Space-Saving heavy hitters: exactness when
  * shards track every distinct item, the [count−err, count] containment
  * bound under eviction pressure, and batch-split invariance.
  */
class StreamingTopKSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  // Zipf-ish: user 1 ×32, user 2 ×16, user 3 ×8, users 10..29 ×1
  private val evs: Seq[Ev] = {
    val heavy = Seq.fill(32)(1L) ++ Seq.fill(16)(2L) ++ Seq.fill(8)(3L)
    val tail = (10L until 30L)
    (heavy ++ tail).zipWithIndex.map { case (u, i) =>
      Ev(i.toLong, ts("2024-01-01 00:00:00"), u, "view", 1.0)
    }
  }

  private val trueCounts: Map[Long, Long] =
    evs.groupBy(_.user_id).map { case (u, g) => u -> g.size.toLong }

  /** Run the stream over the given micro-batch split; return the FINAL
    * (max-ver) summary rows as (item → (est, err)).
    */
  private def run(batches: Seq[Seq[Ev]], m: Int, shards: Int,
                  name: String): Map[Long, (Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingTopK.perShardTopK(input.toDF(), "user_id", m, shards)
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val lastVer = rows.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).max }
    rows.filter(r => lastVer(r._1) == r._2)
      .map(r => r._3 -> (r._4, r._5)).toMap
  }

  test("s_stream_topk: with capacity for every item, counts are exact for ANY batch split") {
    for ((split, i) <- Seq(Seq(evs), evs.grouped(7).toSeq, evs.grouped(1).toSeq).zipWithIndex) {
      val got = run(split, m = 64, shards = 4, s"sstk_exact_$i")
      assert(got.view.mapValues(_._1).toMap == trueCounts, s"split #$i diverged")
      assert(got.values.forall(_._2 == 0L), s"split #$i: err must be 0 without eviction")
    }
  }

  test("s_stream_topk: under eviction pressure the [est-err, est] bound holds and heavy items survive") {
    val got = run(Seq(evs), m = 3, shards = 2, "sstk_tight")
    got.foreach { case (item, (est, err)) =>
      val t = trueCounts(item)
      assert(est >= t && est - err <= t,
        s"item $item: true $t outside [${est - err}, $est]")
    }
    // guaranteed survivors are items with true count > N_shard/m: user 1
    // (32 > 50/3 in shard 1) and user 2 (16 > 26/3 in shard 0); user 3's
    // 8 is BELOW its shard's ε·N ≈ 16.7, so Space-Saving may legitimately
    // evict it — asserting it would over-claim the sketch's guarantee
    for (u <- Seq(1L, 2L)) assert(got.contains(u), s"heavy user $u evicted: $got")
  }
}
