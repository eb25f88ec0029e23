package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the trained-classifier step a modern
  * corpus pipeline runs after heuristic gates (the FineWeb-Edu /
  * fastText-filter pattern: score every document with a tiny linear model,
  * keep the top slice). This is a distributed logistic regression on
  * hashed bag-of-words features, trained by full-batch gradient descent
  * with a FIXED epoch count and deterministic arithmetic.
  *
  * Scale shape (100 TB):
  *  - The training set is built ONCE as doc-grouped rows
  *    (y, buckets[], xs[]) — one shuffle total — and cached (the
  *    round-5 iterative-op discipline: materialize static state before
  *    the loop). r17: the previous per-epoch relational plan (margin
  *    groupBy → label join → gradient union aggregate) believed itself
  *    co-partitioned, but localCheckpoint forgets hash partitioning, so
  *    every epoch really paid 3 exchanges; the whole chain is a
  *    doc-local fold, so each epoch is now ONE treeAggregate job with
  *    zero shuffles shipping dim+1 longs to the driver.
  *  - Scoring is one map-only pass against broadcast weights.
  *
  * Determinism: double summation is partition-order sensitive, so every
  * distributed sum here is fixed-point — contributions are scaled by 2^24
  * and floored to BIGINT before aggregation (the embedding-centroid
  * trick): associative, order-independent, bit-identical at any partition
  * count. The only doubles are driver-side weight updates computed from
  * those exact integer sums.
  */
object QualityModel {

  private val FX = 16777216.0 // 2^24

  /** Hashed relative-frequency token features: (doc_id, bucket, x) with
    * x = count(tokens in bucket) / n_tokens. Frequencies, not presence:
    * on a shared-vocabulary corpus (every class contains every stopword
    * at SOME rate) the class signal lives in the rates — a presence bag
    * measurably failed to beat the majority class on the langid fixture.
    * The ~1/n feature scale is compensated by the default learning rate.
    */
  def features(docs: DataFrame, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("n"),
        explode(col("toks")).as("token"))
      .select(col("doc_id"), col("n"),
        pmod(xxhash64(col("token")), lit(dim)).cast("int").as("bucket"))
      .groupBy("doc_id", "bucket", "n")
      .agg(count(lit(1)).cast("double").as("c"))
      .select(col("doc_id"), col("bucket"), (col("c") / col("n")).as("x"))
  }

  /** The demo weak-supervision teacher: label = 1 iff the document's rate
    * of reference-vocabulary tokens clears a threshold — the
    * "resembles the target domain" gate a pipeline distills into a model
    * so the expensive rule (here trivial; in production an LLM judge or
    * curated domain list) runs once on a slice, not on every crawl.
    * Linear in unigram rates, hence honestly learnable by this model —
    * unlike the fixture's `lang` column, which is independent of the
    * text (measured: per-lang stopword rates are identical).
    */
  def allowlistLabels(docs: DataFrame,
                      vocab: Seq[String] = Seq("fast", "index", "cache",
                        "stream", "hash", "sort"),
                      threshold: Double = 0.13): DataFrame = {
    val toks = split(col("text"), " ")
    val allow = array(vocab.map(lit): _*)
    val rate = size(filter(toks, t => array_contains(allow, t)))
      .cast("double") / size(toks)
    docs.select(col("doc_id"), (rate >= threshold).cast("int").as("label"))
  }

  /** Train `epochs` full-batch GD steps of L2-regularized logistic
    * regression. `labeled` must carry (doc_id, label ∈ {0,1}) for every
    * document in `docs`. Returns dim+1 weights (index dim = bias).
    *
    * `sampleFraction` < 1 trains on a DETERMINISTIC hash sample of the
    * documents (xxhash64(doc_id) bucket test — reproducible at any
    * partition count, no RNG state): the 100 TB valve, since each epoch
    * scans the training set. The model is a 257-weight linear scorer —
    * its sample complexity is tiny relative to any corpus, so accuracy
    * holds (QualityModelSpec pins half-corpus-vs-full delta ≤ 0.02);
    * scoring still covers every document.
    */
  def train(docs: DataFrame, labeled: DataFrame, dim: Int = 256,
            epochs: Int = 10, lr: Double = 10.0, l2: Double = 1e-4,
            sampleFraction: Double = 1.0): Array[Double] = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    // lr calibration (measured on the sf0.001 fixture, balanced classes):
    // lr 10 → 0.874 accuracy; lr ≥ 50 oscillates — the bias gradient is
    // O(1) so large steps saturate every sigmoid and training flatlines
    // at the majority class. Keep lr ≤ ~20 for rel-freq features.
    val keep = pmod(xxhash64(col("doc_id")), lit(1000000L)) <
      lit(math.round(sampleFraction * 1e6))
    val (d, l) =
      if (sampleFraction >= 1.0) (docs, labeled)
      else (docs.filter(keep), labeled.filter(keep))
    // static state, built ONCE as DOC-GROUPED rows (y, buckets[], xs[])
    // and cached as a primitive-array RDD (r17): the old per-epoch plan
    // (per-doc margin groupBy → label join → gradient union aggregate)
    // re-exchanged the checkpointed tables every epoch — localCheckpoint
    // FORGETS hash partitioning, so the "co-partitioned, exchange-free"
    // epoch was really 3 exchanges + a 2·width-task aggregate per epoch,
    // and the whole margin/err/gradient chain is one doc-local fold
    // anyway. Grouping once turns each epoch into a single
    // treeAggregate job over cached arrays: zero shuffles, dim+1 longs
    // to the driver — the CrossModal.fitRidge shape. The weight
    // TRAJECTORY is bit-identical: per-doc margin is the same
    // Σ_j floor(x_j·w_j·2^24) (long sum, any feature order), err the
    // same σ-expression, gradient cells the same Σ_docs floor(e·x·2^24)
    // — all fixed-point, partition- and order-free (QualityModelSpec's
    // determinism and accuracy pins re-prove it).
    val grouped = l.select(col("doc_id"), col("label").cast("double").as("y"))
      .join(features(d, dim)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("bucket"), col("x"))).as("fs")),
        Seq("doc_id"), "left")
      .select(col("y"), col("fs"))
    val rdd = grouped.rdd.map { r =>
      val y = r.getDouble(0)
      val fs = if (r.isNullAt(1)) Seq.empty[org.apache.spark.sql.Row]
        else r.getSeq[org.apache.spark.sql.Row](1)
      val bs = new Array[Int](fs.length)
      val xs = new Array[Double](fs.length)
      var i = 0
      fs.foreach { f => bs(i) = f.getInt(0); xs(i) = f.getDouble(1); i += 1 }
      (y, bs, xs)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one job materializes the cache AND the class priors
    val (nDocsL, nPosL) = rdd.treeAggregate((0L, 0L))(
      (acc, r) => (acc._1 + 1L, acc._2 + (if (r._1 == 1.0) 1L else 0L)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    val nDocs = nDocsL.toDouble
    val nPos = nPosL.toDouble
    require(nPos > 0 && nPos < nDocs, "need both classes present to train")
    // class-balanced loss: weight each class's errors by 1/(2·prior) so a
    // feature present in BOTH classes at the class base rates contributes
    // zero gradient — without this, imbalance plus a mostly-shared
    // vocabulary buries the few discriminative features under a uniform
    // negative shift (measured: the unbalanced model never beat the
    // majority class on the langid fixture)
    val wPos = nDocs / (2.0 * nPos)
    val wNeg = nDocs / (2.0 * (nDocs - nPos))
    val w = Array.fill(dim + 1)(0.0)
    try {
      for (_ <- 1 to epochs) {
        val wB = w.clone()
        val gfx = rdd.treeAggregate(new Array[Long](dim + 1))(
          (acc, r) => {
            val (y, bs, xs) = r
            // margin_fx(doc) = Σ_j floor(x_j · w_j · 2^24) (+ bias):
            // fixed-point BEFORE the sum so the reduce is order-free
            var mfx = 0L
            var j = 0
            while (j < bs.length) {
              mfx += math.floor(xs(j) * wB(bs(j)) * FX).toLong
              j += 1
            }
            val e = (1.0 / (1.0 + math.exp(-(mfx / FX + wB(dim)))) - y) *
              (if (y == 1.0) wPos else wNeg)
            j = 0
            while (j < bs.length) {
              acc(bs(j)) += math.floor(e * xs(j) * FX).toLong
              j += 1
            }
            acc(dim) += math.floor(e * FX).toLong
            acc
          },
          (a, b) => { var j = 0; while (j < a.length) { a(j) += b(j); j += 1 }; a })
        for (j <- 0 to dim) {
          val g = gfx(j) / FX / nDocs + l2 * w(j)
          w(j) -= lr * g
        }
      }
      w
    } finally {
      // free the cached training set (iterative-op hygiene)
      rdd.unpersist(blocking = false); ()
    }
  }

  /** Map-only scoring pass: (doc_id, score) with score = σ(w·x + b),
    * rounded to 6 dp. Weights travel as a plan literal (dim+1 doubles —
    * the broadcast-dim discipline of q_select_dsir).
    */
  def score(docs: DataFrame, w: Array[Double]): DataFrame = {
    val dim = w.length - 1
    val wArr = array((0 until dim).map(j => lit(w(j))): _*)
    features(docs, dim)
      .select(col("doc_id"),
        floor(col("x") * element_at(wArr, col("bucket") + 1) * FX)
          .cast("long").as("mfx"))
      .groupBy("doc_id").agg(sum("mfx").as("mfx"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-(col("mfx") / FX + lit(w(dim))))), 6)
          .as("score"))
  }
}
