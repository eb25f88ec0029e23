package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Zero-row and degenerate inputs must produce empty results, never
  * errors — at 100 TB some partition, some day, some bucket is always
  * empty.
  */
class EdgeCaseSpec extends SparkSpec {

  private def emptyDocs = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  test("dedup operators on zero documents: empty, no error") {
    assert(MinHashDedup.nearDupPairs(emptyDocs).count() == 0)
    assert(SimHashDedup.nearDupPairs(emptyDocs).count() == 0)
  }

  test("dedup operators on single-token docs (below shingle size): empty, no error") {
    import spark.implicits._
    val tiny = Seq((1L, "one"), (2L, "two words")).toDF("doc_id", "text")
    assert(MinHashDedup.nearDupPairs(tiny).count() == 0)
  }

  test("selectBudget on zero documents and on a budget below every doc") {
    import spark.implicits._
    assert(TokenPacker.selectBudget(emptyDocs, 1000L).count() == 0)
    // every doc bigger than the budget: nothing selected, no error
    val docs = Seq((1L, (1 to 50).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    assert(TokenPacker.selectBudget(docs, 10L).count() == 0)
    intercept[IllegalArgumentException](TokenPacker.selectBudget(docs, 0L))
  }

  test("DedupClusters on an empty pair table: empty labels, no error") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(DedupClusters.components(pairs).count() == 0)
    assert(DedupClusters.canonical(pairs).count() == 0)
  }

  test("TopKAggregator on empty input and on fewer rows than k") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, String, Double, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    assert(TopKAggregator.topOrdersPerCustomer(empty, 3).count() == 0)
    val two = Seq((10L, 1L, "O", 5.0, "x"), (11L, 1L, "O", 7.0, "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val rows = TopKAggregator.topOrdersPerCustomer(two, 3)
      .select("rn", "o_orderkey").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 11L), (2L, 10L)), s"got $rows")
  }

  test("Fanout.views on zero events: three empty views, no error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    Fanout.views(empty).foreach { case (name, df) =>
      assert(df.count() == 0, s"$name not empty")
    }
  }

  test("ingest parsers on empty input: empty valid and reject channels") {
    import spark.implicits._
    val noLines = Seq.empty[String].toDF("value")
    assert(sources.JsonIngest.parse(noLines).count() == 0)
    assert(sources.CsvIngest.parse(noLines).count() == 0)
  }

  // single-event sessionization is covered through the PRODUCTION path in
  // TypedOpsSpec (StatefulSession flushes a 1-event session on timeout)

  test("ANN operators on an empty corpus: empty results, no error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(AnnIvf.approxTopK(spark, empty).count() == 0)
    assert(AnnLsh.approxTopK(spark, empty).count() == 0)
    assert(AnnLsh.nearDupPairs(spark, empty).count() == 0)
    val (assigned, centroids) = AnnIvf.buildIndex(spark, empty)
    assert(assigned.count() == 0 && centroids.count() == 0)
  }

  test("frame sampling boundary: a blob of exactly one frame yields that frame") {
    val one = Multimodal.sampleFramesStub(Array.ofDim[Byte](64), frameSize = 64)
    assert(one.length == 1 && one.head.length == 64)
    val boundary = Multimodal.sampleFramesStub(Array.ofDim[Byte](320), frameSize = 64, stride = 256)
    assert(boundary.length == 2, "frame at offset 256 (256+64=320) must be sampled")
  }

  test("round-5 operators on degenerate inputs: empty, singleton, k overflow") {
    import spark.implicits._
    // PageRank: empty edge list -> empty ranks, no crash — with AND
    // without the ε-exit (the movement aggregate over zero rows is null;
    // regression: tol>0 NPE'd where tol=0 returned empty)
    assert(graft.operators.PageRank.run(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
    assert(graft.operators.PageRank.run(
      Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 3, tol = 1e-6).count() == 0)
    // PageRank: one self-loop — all mass on the single node
    val self = graft.operators.PageRank.run(Seq((7L, 7L)).toDF("src", "dst"))
      .collect()
    assert(self.length == 1 && math.abs(self(0).getDouble(1) - 1.0) < 1e-9)
    // zvalue: bits=1 keeps only the low bit of each dimension
    val z = Seq((3L, 2L)).toDF("a", "b")
      .select(graft.operators.ZOrderLayout.zvalue(col("a"), col("b"), bits = 1))
      .head().getLong(0)
    assert(z == 1L, s"bits=1 of (3,2) must be 0b01, got $z")
    // GraftTopK: k larger than any group -> every row survives
    val small = Seq((1L, 10L, 5.0), (1L, 11L, 3.0), (2L, 12L, 9.0))
      .toDF("k", "id", "v")
    assert(graft.plans.GraftTopK.perKey(small, "k", "v", "id", 100).count() == 3)
    // GraftTopK: null order values rank last but are kept when k allows
    val withNull = Seq((1L, 1L, Some(5.0)), (1L, 2L, None), (1L, 3L, Some(7.0)))
      .toDF("k", "id", "v")
    val top2 = graft.plans.GraftTopK.perKey(withNull, "k", "v", "id", 2)
      .collect().map(_.getLong(1)).toSet
    assert(top2 == Set(1L, 3L), s"nulls must lose to real values: $top2")
    // BPE: "aa"x3 ties (a,a) with (a,</w>) at 3; lexicographic tiebreak
    // on the right symbol picks (a,</w>) ('<' sorts before 'a')
    val m = graft.operators.BpeTrainer.train(
      Seq((1L, "aa aa aa")).toDF("doc_id", "text"), numMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(m.toSeq == Seq(("a", "</w>")))
  }
}
