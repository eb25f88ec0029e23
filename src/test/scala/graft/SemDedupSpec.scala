package graft

import graft.operators.{AnnIvf, SemDedup}

/** SemDeDup cluster-then-prune vs its exact all-pairs twin
  * (q_dedup_embed_cosine): precision is exactly 1 (same cosine, same
  * threshold, candidate set a subset), recall is the same-cell fraction
  * of true pairs, and — the 100 TB property — no cross-cluster pair is
  * ever materialized, structurally (equi-join plan, no cartesian) and
  * semantically (every emitted pair shares its cell).
  */
class SemDedupSpec extends SparkSpec {

  private lazy val emb = Tables.t(spark, sfDir, "embeddings")

  private lazy val exactPairs: Map[(Long, Long), Double] =
    SparkEntry.queries("q_dedup_embed_cosine")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private lazy val semPairs = SemDedup.nearDupPairs(spark, emb).collect()
    .map(r => (r.getAs[Int]("list_id"),
      r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("sim")))

  test("semdedup: precision 1.0 — every within-cell pair is an exact-twin pair") {
    assert(semPairs.nonEmpty, "no within-cell pairs at all — nlist too high for this corpus")
    semPairs.foreach { case (_, a, b, sim) =>
      assert(exactPairs.contains((a, b)), s"($a,$b) not in the exact twin")
      assert(math.abs(exactPairs((a, b)) - sim) < 1e-9,
        s"sim mismatch on ($a,$b): $sim vs ${exactPairs((a, b))}")
    }
  }

  test("semdedup: recall vs the exact twin clears the measured floor") {
    // near-uniform random unit vectors are the WORST case for cluster
    // pruning (true pairs at 0.4-0.5 cosine scatter across cells, as in
    // IVF) — measured recall at nlist=16 on sf0.001 is ~0.2-0.4; the
    // floor asserts the mechanism works without overfitting the seed.
    // On real clustered embeddings recall approaches 1 (the paper's
    // setting); nlist is the dial.
    val recall = semPairs.length.toDouble / exactPairs.size
    assert(recall > 0.05 && semPairs.length >= 1,
      s"recall $recall (${semPairs.length}/${exactPairs.size})")
  }

  test("semdedup: no cross-cluster pair is materialized") {
    // semantically: recompute the same assignment (same seed) and check
    // both endpoints of every emitted pair really live in the pair's cell
    val (assigned, _) = AnnIvf.buildIndex(spark, emb)
    val cell = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    semPairs.foreach { case (lid, a, b, _) =>
      assert(cell(a) == lid && cell(b) == lid,
        s"pair ($a,$b) emitted for cell $lid but lives in (${cell(a)},${cell(b)})")
    }
    // structurally: the candidate join is an equi-join on list_id — the
    // plan may not contain a cartesian/nested-loop pair generator
    val df = SemDedup.nearDupPairs(spark, emb)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay an equi-join:\n$p")
  }

  test("semdedup decisions: keep-min-id, total over the corpus") {
    val dec = SemDedup.decisions(spark, emb).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dec.size == emb.count(), "decisions must cover every vector")
    val droppedWant = semPairs.map(_._3).toSet
    assert(dec.filter(_._2).keySet == droppedWant,
      "dropped set must be exactly the higher ids of within-cell pairs")
    // a chain's minimum id always survives
    semPairs.foreach { case (_, a, _, _) =>
      if (!droppedWant.contains(a)) assert(!dec(a)) }
  }
}
