package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bloom-filter membership sketch for incremental corpus dedup — the
  * approximate-membership analog of q_dedup_incremental's exact
  * fingerprint anti-join.
  *
  * Why it matters at 100 TB: the exact anti-join shuffles the SEEN corpus
  * keys every batch. The Bloom filter is a bounded bit array built in one
  * partial+final aggregate over the seen keys (OR-mergeable, so map-side
  * combine does most of the work), then BROADCAST into a scan-side filter
  * on the new batch — the corpus is never shuffled again. One-sided
  * error: a seen key always probes true (no duplicate ever sneaks in);
  * a novel key falsely probes true with p ≈ (1-e^{-kn/m})^k, so the only
  * cost is a few novel documents misdropped — the cheap direction for
  * training-data dedup. Sizing: m/n = 10 bits/key, k = 7 → p ≈ 0.8%.
  *
  * Build and probe share one position formula over a key's xxhash64:
  * h1 = h >>> 32, h2 = (h & 0xffffffff) | 1 (odd), position_i =
  * (h1 + i·h2) mod m — double hashing (Kirsch–Mitzenmacher), all
  * arithmetic kept under 2^36 so the SQL probe never overflows under
  * ANSI mode. The probe compiles to pure built-in expressions over a
  * broadcast literal array: no UDF, stays inside whole-stage codegen.
  */
object BloomDedup {

  /** OR-mergeable bit-array aggregator over xxhash64 keys. */
  class BloomAggregator(numBits: Int, numHashes: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {
    require(numBits > 0 && numBits % 64 == 0, s"numBits must be a positive multiple of 64: $numBits")
    require(numHashes > 0, s"numHashes must be positive: $numHashes")

    override def zero: Array[Long] = new Array[Long](numBits / 64)

    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      val h1 = h >>> 32
      val h2 = (h & 0xffffffffL) | 1L
      var i = 0
      while (i < numHashes) {
        val p = ((h1 + i * h2) % numBits).toInt
        b(p >> 6) |= 1L << (p & 63)
        i += 1
      }
      b
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Build the filter over `keys` (a LONG hash column) — one narrow
    * aggregate, collected to the driver (the array is m/8 bytes, e.g.
    * 64 KiB at m = 2^19; at scale it rides a broadcast either way).
    */
  def build(df: DataFrame, keyCol: Column, numBits: Int, numHashes: Int): Array[Long] = {
    val agg = udaf(new BloomAggregator(numBits, numHashes))
    val rows = df.select(agg(keyCol).as("bloom")).collect()
    if (rows.isEmpty || rows(0).isNullAt(0)) new Array[Long](numBits / 64)
    else rows(0).getSeq[Long](0).toArray
  }

  /** Probe expression: true iff every derived bit of `h` is set — the
    * bit array rides along as a broadcast literal, the test is built-in
    * integer ops only (codegen-friendly, scan-side).
    */
  def mightContain(bits: Array[Long], numBits: Int, numHashes: Int, h: Column): Column = {
    require(bits.length == numBits / 64, s"bit array length ${bits.length} != numBits/64")
    val arr = typedlit(bits.toSeq)
    val h1 = shiftrightunsigned(h, 32)
    val h2 = h.bitwiseAND(lit(0xffffffffL)).bitwiseOR(lit(1L))
    (0 until numHashes).map { i =>
      val p = pmod(h1 + lit(i.toLong) * h2, lit(numBits.toLong))
      // p < 2^36 → p/64 is exact in double; cast truncates to the word index
      val word = element_at(arr, (p.divide(lit(64))).cast("int") + 1)
      call_function("shiftrightunsigned", word, pmod(p, lit(64L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Incremental dedup: rows of `batch` whose key is (probably) NOT in
    * `seen`. Every truly-seen key is dropped for sure; a ~p fraction of
    * novel keys is misdropped (false positives) — never the reverse.
    */
  def novelRows(seen: DataFrame, batch: DataFrame, keyCol: Column,
                numBits: Int = 1 << 19, numHashes: Int = 7): DataFrame = {
    val bits = build(seen, keyCol, numBits, numHashes)
    batch.filter(!mightContain(bits, numBits, numHashes, keyCol))
  }
}
