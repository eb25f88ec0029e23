package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch — the re-aggregable per-bucket analog of
  * s_agg_hll_union for percentiles (what a serving view rolls up at
  * 100 TB: daily sketches union into monthly quantiles WITHOUT
  * re-touching raw data).
  *
  * The sketch is the Ben-Haim & Yom-Tov streaming histogram ("A
  * Streaming Parallel Decision Tree Algorithm", JMLR 11, 2010): at most
  * `k` (centroid, weight) bins, insert adds a unit bin and merges the
  * two CLOSEST adjacent centroids when over capacity; union concatenates
  * and compacts the same way. Chosen over t-digest/KLL deliberately:
  *   - deterministic compaction (no random sampling like KLL; ties
  *     break on the lower index) — NOTE this makes the sketch a pure
  *     function of its MERGE ORDER, not of the data set: above capacity
  *     a distributed aggregate's bins can differ run-to-run with
  *     partial-merge order (estimates stay within the error bound);
  *     below capacity no lossy merge fires and the result is fully
  *     order-independent — which is why the bitwise specs and the
  *     streaming twin pin that regime, and why this stays an `s_*`
  *     rows-check query rather than a hash-matched oracle;
  *   - EXACT below capacity: while total distinct values ≤ k no merge
  *     ever fires, bins are the true histogram, and union is exactly
  *     associative bit-for-bit (QuantileSketchSpec proves both);
  *   - mergeable by construction — partial aggregation, sketch
  *     persistence, and cross-bucket rollup are all the same `merge`.
  *
  * Encoding: flat Array[Double] of interleaved (centroid, weight) pairs
  * sorted by centroid — primitive-array buffers keep the Aggregator's
  * per-row path allocation-light and the persisted sketch column a plain
  * ARRAY<DOUBLE> any engine can store.
  */
object QuantileSketch {

  /** Merge adjacent closest-centroid bins until at most `k` remain.
    * `bins` is interleaved (c, w) sorted by c; equal centroids always
    * collapse first (distance 0). Deterministic: smallest gap wins, ties
    * at the lowest index.
    */
  private[operators] def compact(bins: Array[Double], k: Int): Array[Double] = {
    var n = bins.length / 2
    val cs = new Array[Double](n); val ws = new Array[Double](n)
    var i = 0
    while (i < n) { cs(i) = bins(2 * i); ws(i) = bins(2 * i + 1); i += 1 }
    // equal centroids ALWAYS collapse (lossless — weighted mean of equal
    // values is the value): keeps "capacity" meaning k DISTINCT values
    // and the below-capacity sketch an exact histogram
    if (n > 1) {
      var w = 0; i = 1
      while (i < n) {
        if (cs(i) == cs(w)) ws(w) += ws(i)
        else { w += 1; cs(w) = cs(i); ws(w) = ws(i) }
        i += 1
      }
      n = w + 1
    }
    while (n > k) {
      var best = 0; var bestGap = Double.PositiveInfinity
      i = 0
      while (i < n - 1) {
        val gap = cs(i + 1) - cs(i)
        if (gap < bestGap) { bestGap = gap; best = i }
        i += 1
      }
      val w = ws(best) + ws(best + 1)
      cs(best) = (cs(best) * ws(best) + cs(best + 1) * ws(best + 1)) / w
      ws(best) = w
      i = best + 1
      while (i < n - 1) { cs(i) = cs(i + 1); ws(i) = ws(i + 1); i += 1 }
      n -= 1
    }
    val out = new Array[Double](2 * n)
    i = 0
    while (i < n) { out(2 * i) = cs(i); out(2 * i + 1) = ws(i); i += 1 }
    out
  }

  /** Merge two sorted interleaved bin arrays (stable by centroid). */
  private[operators] def mergeBins(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length + b.length)
    var i = 0; var j = 0; var o = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(o) = a(i); out(o + 1) = a(i + 1); i += 2 }
      else { out(o) = b(j); out(o + 1) = b(j + 1); j += 2 }
      o += 2
    }
    while (i < a.length) { out(o) = a(i); out(o + 1) = a(i + 1); i += 2; o += 2 }
    while (j < b.length) { out(o) = b(j); out(o + 1) = b(j + 1); j += 2; o += 2 }
    out
  }

  /** Estimated value at quantile `q` (BHYT's sum-inverse with the
    * standard half-weight trapezoid interpolation between adjacent
    * centroids; edge ranks clamp to the extreme centroids).
    */
  def estimate(bins: Array[Double], q: Double): Double = {
    val n = bins.length / 2
    if (n == 0) return Double.NaN
    var total = 0.0
    var i = 0
    while (i < n) { total += bins(2 * i + 1); i += 1 }
    val target = q * total
    // cum(i) = weight strictly below centroid i plus half of bin i —
    // the rank the centroid itself represents
    var below = 0.0
    i = 0
    while (i < n) {
      val w = bins(2 * i + 1)
      val cum = below + w / 2
      if (target <= cum) {
        if (i == 0) return bins(0)
        val prevW = bins(2 * (i - 1) + 1)
        val prevCum = below - prevW / 2
        val f = (target - prevCum) / (cum - prevCum)
        return bins(2 * (i - 1)) + f * (bins(2 * i) - bins(2 * (i - 1)))
      }
      below += w
      i += 1
    }
    bins(2 * (n - 1))
  }

  /** Build a ≤`k`-bin sketch from a DOUBLE column. */
  class HistAgg(k: Int) extends Aggregator[Double, Array[Double], Array[Double]] {
    require(k >= 2, s"need at least 2 bins, got $k")
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(buf: Array[Double], v: Double): Array[Double] = {
      // insert keeping centroid order; compact lazily at 2k so the
      // per-row path is one arraycopy, not a full closest-pair scan
      var lo = 0; var hi = buf.length / 2
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (buf(2 * mid) < v) lo = mid + 1 else hi = mid
      }
      val out = new Array[Double](buf.length + 2)
      System.arraycopy(buf, 0, out, 0, 2 * lo)
      out(2 * lo) = v; out(2 * lo + 1) = 1.0
      System.arraycopy(buf, 2 * lo, out, 2 * lo + 2, buf.length - 2 * lo)
      if (out.length / 2 > 2 * k) compact(out, k) else out
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      compact(mergeBins(compact(a, k), compact(b, k)), k)
    override def finish(buf: Array[Double]): Array[Double] = compact(buf, k)
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** Union pre-built sketches (an ARRAY<DOUBLE> column) into one. */
  class HistUnionAgg(k: Int) extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    require(k >= 2, s"need at least 2 bins, got $k") // else compact() indexes past ws
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(buf: Array[Double], s: Array[Double]): Array[Double] =
      compact(mergeBins(buf, s), k)
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      compact(mergeBins(a, b), k)
    override def finish(buf: Array[Double]): Array[Double] = buf
    override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** Column building a sketch over `v`. */
  def sketchAgg(v: Column, k: Int = 128): Column = udaf(new HistAgg(k)).apply(v)

  /** Column unioning a sketch column built by [[sketchAgg]]. */
  def unionAgg(sketch: Column, k: Int = 128): Column =
    udaf(new HistUnionAgg(k)).apply(sketch)

  /** Quantile estimates out of a sketch column, as one array column —
    * pure declarative expression (`aggregate` over the bin array is the
    * codegen-friendly form of [[estimate]]'s loop), so the whole rollup
    * stays UDF-free after the sketch aggregates themselves.
    */
  def estimateCols(sketch: Column, qs: Seq[Double]): Seq[Column] = {
    // total = sum of odd slots (integer division — sequence needs ints)
    val n = (size(sketch) / 2).cast("int")
    val total = aggregate(sequence(lit(0), n - 1), lit(0.0),
      (acc, i) => acc + element_at(sketch, i * 2 + 2))
    qs.map { q =>
      val target = lit(q) * total
      // walk bins via aggregate: state = (below, answer) — answer set at
      // the first bin whose half-weight rank covers the target
      val st = aggregate(
        sequence(lit(0), n - 1),
        struct(lit(0.0).as("below"), lit(Double.NaN).as("ans")),
        (acc, i) => {
          val c = element_at(sketch, i * 2 + 1)
          val w = element_at(sketch, i * 2 + 2)
          val cum = acc("below") + w / 2
          val prevC = element_at(sketch, (i - 1) * 2 + 1)
          val prevW = element_at(sketch, (i - 1) * 2 + 2)
          val prevCum = acc("below") - prevW / 2
          val interp = when(i === 0, c).otherwise(
            prevC + ((target - prevCum) / (cum - prevCum)) * (c - prevC))
          val ans = when(isnan(acc("ans")) && target <= cum, interp)
            .otherwise(acc("ans"))
          struct((acc("below") + w).as("below"), ans.as("ans"))
        },
        // target above the last half-weight rank → clamp to max centroid
        acc => when(isnan(acc("ans")), element_at(sketch, size(sketch) - 1))
          .otherwise(acc("ans")))
      round(when(size(sketch) === 0, lit(Double.NaN)).otherwise(st), 6)
        .as(s"p${(q * 100).toInt}")
    }
  }
}
