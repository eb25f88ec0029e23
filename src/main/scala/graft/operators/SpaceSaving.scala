package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Space-Saving heavy hitters (Metwally et al., "Efficient Computation of
  * Frequent and Top-k Elements in Data Streams") as a mergeable typed
  * Aggregator — the sketch answer to "top-k most frequent" with PROVABLE
  * bounds, unlike `stat.freqItems` (no count estimates) or an exact
  * groupBy (cardinality-sized shuffle).
  *
  * m counters track (item → count, err): a tracked item increments; an
  * untracked item evicts the minimum counter and inherits its count as
  * `err` (the classic overestimate bound: true_count ∈ [count - err,
  * count]). Summaries MERGE by summing counts per item (err likewise)
  * then pruning back to the m largest — the Berinde et al. merge that
  * preserves the ε = N/m error guarantee, which is what makes the
  * map-side partial aggregation sound: each partition sketches locally,
  * partials combine associatively, and only m counters per partition
  * ever shuffle.
  *
  * Determinism: eviction and pruning tie-break on (count, err, item) so
  * a given multiset of inputs per partition yields one summary; exact
  * counts for items with count - err > m-th max are partition-invariant
  * (the guarantee the test asserts).
  */
class SpaceSaving(m: Int) extends Aggregator[Long, Map[Long, (Long, Long)], Seq[(Long, Long, Long)]] {
  require(m > 0, s"counter budget must be positive: $m")

  override def zero: Map[Long, (Long, Long)] = Map.empty

  private def evictMin(buf: Map[Long, (Long, Long)]): (Long, Map[Long, (Long, Long)]) = {
    val (item, (c, _)) = buf.minBy { case (k, (c, e)) => (c, e, k) }
    (c, buf - item)
  }

  override def reduce(buf: Map[Long, (Long, Long)], item: Long): Map[Long, (Long, Long)] =
    buf.get(item) match {
      case Some((c, e)) => buf.updated(item, (c + 1, e))
      case None if buf.size < m => buf.updated(item, (1L, 0L))
      case None =>
        val (minC, rest) = evictMin(buf)
        rest.updated(item, (minC + 1, minC))
    }

  override def merge(a: Map[Long, (Long, Long)], b: Map[Long, (Long, Long)]): Map[Long, (Long, Long)] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val combined = (a.keySet ++ b.keySet).iterator.map { k =>
      val (c1, e1) = a.getOrElse(k, (0L, 0L))
      val (c2, e2) = b.getOrElse(k, (0L, 0L))
      k -> (c1 + c2, e1 + e2)
    }.toMap
    if (combined.size <= m) combined
    else combined.toSeq
      .sortBy { case (k, (c, e)) => (-c, -e, k) } // keep the m largest, stable
      .take(m).toMap
  }

  /** (item, count, err) sorted by count desc then item — the summary. */
  override def finish(buf: Map[Long, (Long, Long)]): Seq[(Long, Long, Long)] =
    buf.toSeq.map { case (k, (c, e)) => (k, c, e) }
      .sortBy { case (k, c, _) => (-c, k) }

  override def bufferEncoder: Encoder[Map[Long, (Long, Long)]] =
    ExpressionEncoder[Map[Long, (Long, Long)]]()
  override def outputEncoder: Encoder[Seq[(Long, Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long, Long)]]()
}

object SpaceSaving {

  /** Top heavy hitters of a LONG column: one narrow aggregate (partial
    * summaries merge map-side), exploded to scalar rows.
    */
  def topK(df: DataFrame, keyCol: String, m: Int = 64, k: Int = 10): DataFrame = {
    val agg = udaf(new SpaceSaving(m))
    df.select(col(keyCol).cast("long").as("item"))
      .agg(agg(col("item")).as("summary"))
      .select(explode(col("summary")).as("s"))
      .select(col("s._1").as("item"), col("s._2").as("est_count"), col("s._3").as("max_err"))
      .orderBy(col("est_count").desc, col("item"))
      .limit(k)
  }
}
