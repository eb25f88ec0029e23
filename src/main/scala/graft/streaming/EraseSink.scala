package graft.streaming

import graft.operators.{AnnIndexStore, DedupStore, InvertedIndex, MergeInto}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming erasure: a queue of deletion requests (GDPR right-to-be-
  * forgotten tickets, takedowns) drives the corpus snapshot AND every
  * derived store that can serve the document back — the end-to-end
  * loop the per-store delete APIs exist for. One micro-batch of ids:
  *
  *   1. [[MergeInto.deleteWhere]] erases the snapshot rows (COW,
  *      one-rename commit, prior version = the audit window);
  *   2. [[InvertedIndex.delete]] tombstones the ids in the full-text
  *      index (unsearchable at commit; bytes drop at compact);
  *   3. [[AnnIndexStore.delete]] tombstones them in the ANN store
  *      (unreturnable at commit; bytes drop at purgeDeletes);
  *   4. [[DedupStore.delete]] erases accepted docs AND their
  *      fingerprints from the ingest dedup store (r12 — it serves
  *      document text back via readDocs, so the doctrine applies;
  *      the fingerprint is forgotten, so the content may re-ingest).
  *
  * Exactly-once EFFECT from foreachBatch's at-least-once delivery
  * WITHOUT batch markers: erasure is naturally convergent — all three
  * deletes are content-level no-ops for ids already erased (deleteWhere
  * matches no rows and returns without committing; the two tombstone
  * deletes drop already-tombstoned ids pre-commit and write NOTHING on
  * a clean replay), so a crash between stores just replays to the same
  * end state, and a replayed trigger commits no store version at all.
  * Order matters only for the audit trail: the snapshot erases first so
  * a reader that still finds a doc via an index during the window
  * cannot join it back to live corpus bytes.
  *
  * ==The racing-ticket ordering requirement==
  *
  * By default (`pendingDir = None`) a request id NO maintained store
  * holds is silently absorbed (erasure of the absent is vacuously
  * done). That contract is only safe when erasure requests cannot
  * OVERTAKE ingest: a ticket for a doc still in flight through
  * IndexSink/AnnIndexSink/snapshot ingest would be dropped here and
  * the doc becomes retrievable when it later lands — the opposite of
  * the sink's purpose (ADVICE r11). Operators running ingest and
  * erasure concurrently must either quiesce/flush ingest ahead of the
  * erasure queue, or pass `pendingDir`:
  *
  * With `pendingDir = Some(dir)`, unmatched ids persist as PENDING
  * tombstones (one small text file, staged + atomic-renamed, rewritten
  * per trigger) and replay at every subsequent trigger until each
  * maintained store has provably seen them — per-store outstanding
  * flags, because stores ingest independently and "the index knows id
  * 7" says nothing about the snapshot's lag. A store settles its flag
  * when the id is found there at trigger time (present → erased now,
  * or already tombstoned). Residual conservatisms, both harmless to
  * correctness: a ticket for an id that NEVER arrives parks in the
  * pending file indefinitely (each retry is a no-op — inspect/trim the
  * file operationally), and a crash after a store's delete commit but
  * before the pending rewrite can re-park an already-erased id the
  * same way (its store evidence — snapshot row, index tombstone — may
  * be gone by replay time). Pending never loses a ticket; it can only
  * retry vacuous deletes.
  *
  * Scale: every step's cost tracks the REQUEST batch plus pending set
  * (id-keyed membership probes against auxes / column-pruned scans,
  * id-keyed anti-joins, tombstone files), never corpus or index size;
  * a day's physical reclaim (compact + purgeDeletes + vacuum) stays an
  * offline maintenance concern, exactly like every other store here.
  */
object EraseSink {

  /** Start the sink over a stream bearing a `doc_id` column of erasure
    * requests. `snapshotDir` must hold a MergeInto snapshot partitioned
    * by `partitionCol`; `indexDir`/`annDir` are optional (None = that
    * store is not maintained here). Vector ids are the document ids
    * (the repo-wide doc_id ≡ vec_id embedding contract). `pendingDir`
    * enables the racing-ticket pending store documented above.
    */
  def start(requests: DataFrame, snapshotDir: String, partitionCol: String,
            indexDir: Option[String], annDir: Option[String],
            checkpoint: String, pendingDir: Option[String] = None,
            dedupDir: Option[String] = None): StreamingQuery =
    requests.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // the request batch is ticket-sized by nature; collect once so
        // the snapshot predicate and both tombstone frames agree even
        // if the source re-evaluates non-deterministically
        // null or malformed ids drop instead of killing the query
        // (try_cast, not ANSI cast) — a poisoned request must not
        // wedge the erasure queue forever on checkpoint replay
        // (review r11)
        val batchIds =
          if (batch.isEmpty) Seq.empty[Long]
          else batch.selectExpr("try_cast(doc_id AS LONG) AS doc_id")
            .filter(col("doc_id").isNotNull)
            .distinct().collect().map(_.getLong(0)).toSeq
        // fresh tickets owe every maintained store; carried-over pending
        // ids keep their remaining flags (settled stores stay settled —
        // a snapshot row erased last trigger will never be "present"
        // again, so progress must persist, not re-derive)
        val prev = pendingDir.map(readPending).getOrElse(Map.empty)
        val merged = prev ++ batchIds.filterNot(prev.contains)
          .map(id => id -> Outstanding(snap = true,
            idx = indexDir.isDefined, ann = annDir.isDefined,
            dedup = dedupDir.isDefined))
        if (merged.nonEmpty) {
          val ids = merged.keys.toSeq.sorted
          // per-store knowledge BEFORE the deletes: an id found in a
          // store now is erased by this trigger's delete below. Only the
          // pending rewrite consumes these — each probe is a store-read
          // Spark job, so computing them unconditionally was pure
          // per-trigger latency for pendingDir-less deployments
          // (ADVICE r12)
          val known = pendingDir.map { _ =>
            val snapKnown = knownIn(MergeInto.readSnapshot(spark, snapshotDir)
              .select(col("doc_id")), ids)
            val idxKnown = indexDir.map(d =>
              knownIn(InvertedIndex.docLengths(spark, d).select("doc_id")
                .unionByName(InvertedIndex.tombstones(spark, d).select("doc_id")), ids))
              .getOrElse(Set.empty[Long])
            val annKnown = annDir.map(d =>
              knownIn(spark.read.parquet(s"$d/lists").select(col("vec_id").as("doc_id"))
                .unionByName(AnnIndexStore.loadTombstones(spark, d)
                  .select(col("vec_id").as("doc_id"))), ids))
              .getOrElse(Set.empty[Long])
            // dedup erasure is hard-delete (no tombstones), so "known" =
            // accepted right now; absence stays outstanding via pending.
            // A store with no committed version yet holds nothing.
            val dedupKnown = dedupDir
              .filter(d => graft.operators.StoreManifest
                .currentVersion(spark, d) >= 0)
              .map(d => knownIn(DedupStore.readDocs(spark, d)
                .select(col("doc_id")), ids))
              .getOrElse(Set.empty[Long])
            (snapKnown, idxKnown, annKnown, dedupKnown)
          }
          MergeInto.deleteWhere(spark, snapshotDir,
            col("doc_id").isin(ids: _*), partitionCol)
          indexDir.foreach(d => InvertedIndex.delete(spark, d, ids))
          annDir.foreach(d => AnnIndexStore.delete(spark, d, ids))
          dedupDir.foreach(d => DedupStore.delete(spark, d, ids))
          pendingDir.foreach { pd =>
            val (snapKnown, idxKnown, annKnown, dedupKnown) = known.get
            val next = merged.map { case (id, o) =>
              id -> Outstanding(o.snap && !snapKnown(id),
                o.idx && !idxKnown(id), o.ann && !annKnown(id),
                o.dedup && !dedupKnown(id))
            }.filter(_._2.any)
            writePending(pd, next)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Per-store erasure still owed for a pending id (true = outstanding). */
  private final case class Outstanding(snap: Boolean, idx: Boolean,
                                       ann: Boolean, dedup: Boolean = false) {
    def any: Boolean = snap || idx || ann || dedup
  }

  /** Which of `ids` the store frame holds — ONE ticket-sized membership
    * probe (isin-filtered, column-pruned scan), collected driver-side.
    */
  private def knownIn(store: DataFrame, ids: Seq[Long]): Set[Long] =
    store.filter(col("doc_id").isin(ids: _*)).distinct()
      .collect().map(_.getLong(0)).toSet

  private val PendingFile = "pending.tsv"

  private def readPending(dir: String): Map[Long, Outstanding] = {
    val f = new java.io.File(dir, PendingFile)
    if (!f.exists()) Map.empty
    // Using closes the source even on a malformed line — the sink runs
    // once per trigger forever, so an unclosed reader is a per-trigger
    // handle leak (ADVICE r12)
    else scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) { src =>
      src.getLines().filter(_.nonEmpty)
        .map { l =>
          // 3-field lines predate the dedup store (r12) — read as settled
          l.split('\t') match {
            case Array(id, s, i, a) =>
              id.toLong -> Outstanding(s.toBoolean, i.toBoolean, a.toBoolean)
            case Array(id, s, i, a, d) =>
              id.toLong -> Outstanding(s.toBoolean, i.toBoolean, a.toBoolean,
                d.toBoolean)
            case other =>
              throw new IllegalStateException(
                s"malformed pending line: ${other.mkString("\t")}")
          }
        }.toMap
    }
  }

  /** Rewrite the pending file (tmp + atomic rename; deleted when the
    * set drains). Single-writer like every sink here; a replayed
    * trigger recomputes the same content — convergent.
    */
  private def writePending(dir: String, pend: Map[Long, Outstanding]): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    val dst = new java.io.File(d, PendingFile)
    if (pend.isEmpty) { dst.delete(); return }
    val tmp = new java.io.File(d, s".$PendingFile.tmp")
    val lines = pend.toSeq.sortBy(_._1)
      .map { case (id, o) => s"$id\t${o.snap}\t${o.idx}\t${o.ann}\t${o.dedup}" }
    java.nio.file.Files.write(tmp.toPath,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.Fs.atomicMove(tmp.toString, dst.toString)
  }
}
