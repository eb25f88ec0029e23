package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan, "An Improved Data Stream
  * Summary: the Count-Min Sketch and its Applications") — point-frequency
  * estimates over an unbounded key domain in depth×width LONG counters.
  * Completes the mergeable-sketch family next to HLL (distinct), BHYT
  * (quantiles), SpaceSaving (top-k) and Bloom (membership): CMS answers
  * "how often did THIS key occur" without a cardinality-sized state.
  *
  * Estimate is one-sided: est(key) ≥ true(key) always (counters only
  * ever add), and est ≤ true + εN with probability 1−δ for ε = e/width,
  * δ = e^−depth. Unlike the Bloom/SpaceSaving prune paths the MERGE here
  * is lossless arithmetic: counter matrices add element-wise, so
  * sketch(A ⊎ B) == merge(sketch(A), sketch(B)) EXACTLY (bitwise, any
  * split, any partition count) — partial aggregation, cross-day unions
  * and unions of parquet-persisted sketches are all the same operation.
  *
  * Layout and hashing: one flat Array[Long] of depth·width counters
  * (row-major), row r probing position (h1 + r·h2) mod width with
  * h1 = xxhash64(key) >>> 32, h2 = (h & 0xffffffff) | 1 — the same
  * Kirsch–Mitzenmacher double hashing as [[BloomDedup]], kept under 2^36
  * so the SQL probe never overflows under ANSI mode. The probe compiles
  * to built-in expressions over the sketch (array literal or column):
  * no UDF on the read path, stays inside whole-stage codegen.
  *
  * Persistence: the sketch is a plain ARRAY<BIGINT> cell — parquet-safe,
  * so daily sketches persist via [[SketchStore.write]] and roll up later
  * with [[CountMinSketch.unionAgg]]; union-after-reload is bitwise equal
  * to the single-pass sketch (integer adds — CountMinSpec proves it).
  */
object CountMinSketch {

  /** Weighted element-wise-add aggregator over (xxhash64 key, weight)
    * pairs. Buffer = flat depth×width counter matrix.
    */
  class CmsAggregator(depth: Int, width: Int)
    extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
    require(depth > 0 && depth <= 16, s"depth out of range: $depth")
    require(width > 1, s"width must exceed 1: $width")

    override def zero: Array[Long] = new Array[Long](depth * width)

    override def reduce(b: Array[Long], kw: (Long, Long)): Array[Long] = {
      val (h, w) = kw
      val h1 = h >>> 32
      val h2 = (h & 0xffffffffL) | 1L
      var r = 0
      while (r < depth) {
        b(r * width + ((h1 + r * h2) % width).toInt) += w
        r += 1
      }
      b
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Sketch-building aggregate column over any key expression (hashed
    * internally); `weight` defaults to 1 per row. Mergeable — map-side
    * combine does most of the work, only depth·width longs shuffle.
    */
  def sketchAgg(key: Column, depth: Int = 4, width: Int = 1024,
                weight: Column = lit(1L)): Column =
    udaf(new CmsAggregator(depth, width))
      .apply(xxhash64(key), weight.cast("long"))

  /** Element-wise sum of sketch columns — the lossless rollup aggregate
    * (daily → monthly). Exact integer arithmetic: associative and
    * commutative bit-for-bit.
    */
  def unionAgg(sketchCol: Column, depth: Int = 4, width: Int = 1024): Column = {
    val agg = udaf(new CmsUnionAggregator(depth * width))
    agg(sketchCol)
  }

  class CmsUnionAggregator(cells: Int)
    extends Aggregator[Seq[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](cells)
    override def reduce(b: Array[Long], s: Seq[Long]): Array[Long] = {
      require(s.length == cells, s"sketch size ${s.length} != $cells")
      var i = 0
      while (i < cells) { b(i) += s(i); i += 1 }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < cells) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Equi-join SIZE estimate from two sketches over the join key (the
    * inner-product estimator of Cormode & Muthukrishnan §4.2):
    * |A ⋈ B| ≈ min over rows r of Σ_j A[r][j]·B[r][j]. One-sided like
    * the point estimate (colliding keys only ever add), so est ≥ true
    * — the join-planning primitive at warehouse scale: two persisted
    * 256 KiB sketches answer "how big is this join" without touching
    * either table. Exact when either side's distinct keys are
    * collision-free in some row; within true + N_A·N_B/width w.h.p.
    *
    * Counter-magnitude bound (ADVICE r9): the row dot product sums
    * width terms of a·b, so it stays inside a signed Long iff
    * N_A·N_B < 2^63 — both sides under ~3·10^9 rows per sketch at any
    * width (more than a day of any realistic key stream; shard daily
    * sketches past that). Beyond it the driver form would wrap silently
    * negative while the ANSI column form throws mid-query — the bound
    * is asserted here so both forms fail fast and identically.
    */
  def joinSizeEstimate(a: Array[Long], b: Array[Long], depth: Int = 4,
                       width: Int = 1024): Long = {
    require(a.length == depth * width && b.length == depth * width,
      s"sketch sizes ${a.length}/${b.length} != ${depth * width}")
    // Σ_j a_j·b_j ≤ (Σ_j a_j)(Σ_j b_j) for non-negative counters, so the
    // dot product is Long-safe iff the total-count product is
    val tA = (0 until width).foldLeft(0L)((s, j) => s + a(j))
    val tB = (0 until width).foldLeft(0L)((s, j) => s + b(j))
    require(tA >= 0 && tB >= 0 && (tA == 0 || tB <= Long.MaxValue / tA),
      s"sketch totals $tA × $tB overflow the Long inner product — " +
        "shard the stream into smaller (e.g. daily) sketches")
    (0 until depth).map { r =>
      var dot = 0L
      var j = r * width
      while (j < (r + 1) * width) { dot += a(j) * b(j); j += 1 }
      dot
    }.min
  }

  /** Column form of [[joinSizeEstimate]] for sketches riding a frame
    * (e.g. two persisted daily sketches joined side by side): min over
    * rows of the per-row inner product, via built-in HOF expressions.
    * Same counter-magnitude guard as the driver form: past the bound it
    * raises instead of wrapping (under ANSI the multiply would throw
    * anyway; the guard makes non-ANSI sessions agree).
    */
  def joinSizeEstimateCol(a: Column, b: Column, depth: Int = 4,
                          width: Int = 1024): Column = {
    def rowTotal(s: Column) =
      aggregate(slice(s, 1, width), lit(0L), (acc, v) => acc + v)
    val (tA, tB) = (rowTotal(a), rowTotal(b))
    val est = (0 until depth).map { r =>
      aggregate(
        zip_with(slice(a, r * width + 1, width), slice(b, r * width + 1, width),
          (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
    }.reduce(least(_, _))
    // exact integer bound via DECIMAL(38,0) — `/` on longs is DOUBLE
    // division and Long.MaxValue rounds UP to 2^63 as a double, which
    // let a boundary case pass here that the driver form rejects
    // (review r10); tA·tB ≤ (2^63)² < 10^38 fits decimal exactly
    val overflow = tA.cast("decimal(19,0)") * tB.cast("decimal(19,0)") >
      lit(Long.MaxValue).cast("decimal(19,0)")
    when(overflow,
      raise_error(lit("sketch totals overflow the Long inner product — " +
        "shard the stream into smaller (e.g. daily) sketches")))
      .otherwise(est)
  }

  /** Point estimate of `key`'s frequency against a sketch COLUMN (e.g.
    * the result of [[sketchAgg]]/[[unionAgg]] riding along a join or a
    * 1-row broadcast): min over rows of the probed counter. Pure
    * built-in expressions — codegen-friendly, usable scan-side.
    */
  def estimate(sketch: Column, key: Column, depth: Int = 4,
               width: Int = 1024): Column = {
    val h = xxhash64(key)
    val h1 = shiftrightunsigned(h, 32)
    val h2 = h.bitwiseAND(lit(0xffffffffL)).bitwiseOR(lit(1L))
    (0 until depth).map { r =>
      val p = pmod(h1 + lit(r.toLong) * h2, lit(width.toLong))
      element_at(sketch, (lit(r.toLong * width) + p).cast("int") + 1)
    }.reduce(least(_, _))
  }
}
