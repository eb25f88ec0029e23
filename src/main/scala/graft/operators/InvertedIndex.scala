package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index over a tokenized corpus — the full-text
  * half of a curation engine: term → (doc, positions) posting lists,
  * persisted bucketed-by-term so a query touches only its terms'
  * buckets, with phrase search expressed RELATIONALLY (offset-aligned
  * join + distinct-offset count), so it scales as a posting-list join,
  * never a corpus scan.
  *
  * Scale shape:
  *  - build: one explode + one (term, doc) aggregate — a single shuffle
  *    of the token stream, the same cost class as q_text_tfidf_top.
  *  - store: `partitionBy(bucket)` with bucket = xxhash64(term) mod B —
  *    a search for k phrase terms opens ≤ k of B directories
  *    (partition-pruned scan, proven in InvertedIndexSpec), each a
  *    sorted-by-term parquet a term predicate pushes into.
  *  - phrase query: postings of the phrase's terms join on doc_id with
  *    positions realigned to the phrase start (pos − offset); a base
  *    position where ALL k offsets land is an occurrence. Cost is the
  *    sum of the k posting lists, independent of corpus size.
  *
  * Phrase semantics match exact token-window equality (the q_dedup_span
  * span definition): overlapping occurrences count, and a term repeated
  * in the phrase must appear at every one of its offsets.
  */
object InvertedIndex {

  /** (term, doc_id, dl, positions ARRAY<INT> sorted, tf) posting rows
    * from a whitespace-tokenized text column. `dl` is the document's
    * token count, computed BEFORE the explode (free — no extra shuffle;
    * it rides the (term, doc) group-by as a key that is functionally
    * dependent on doc_id) and denormalized onto every posting row —
    * the Lucene norms-inline layout that lets BM25 score candidates
    * from the pruned posting read alone, with no corpus-sized
    * doc-length join at query time.
    */
  def build(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(sort_array(collect_list("pos")).as("positions"),
        count(lit(1)).as("tf"))
      .select("term", "doc_id", "positions", "tf", "dl")

  /** Persist posting rows as the index's BASE segment and commit
    * manifest version 0 referencing it. Layout is
    * seg=<name>/bucket=<hash mod B>/: the seg layer is the atomic
    * append/compact unit, the bucket layer is the term-pruning unit;
    * one term-sorted file per (segment, bucket). Which segments are
    * LIVE is resolved through the [[StoreManifest]] pointer — data
    * dirs land first, one manifest rename commits them, so readers
    * never see a torn segment, a half-compacted index, or (during
    * compaction) the same posting twice. Single-writer, like every
    * store in this repo.
    */
  def write(index: DataFrame, dir: String, buckets: Int = 32): Unit = {
    val spark = index.sparkSession
    val next = StoreManifest.currentVersion(spark, dir) + 1
    // version-unique name on a REBUILD over an existing store: the live
    // base segment must survive until the new manifest commits (readers
    // of version N keep resolving it, and a crash here must not destroy
    // committed data) — it becomes unreferenced and vacuum sweeps it
    // pick a name that neither any retained manifest references NOR
    // exists on disk: an existing-but-unreferenced dir might be a
    // crashed APPEND's complete data awaiting its replay — deleting or
    // overwriting it would lose that batch (review r10). Our own
    // crashed attempts stay untouched too and vacuum sweeps them once
    // unreferenced.
    val segName = freshSegName(spark, dir,
      i => if (i == 0) "seg=base" else s"seg=r$i", next)
    val segDir = new java.io.File(dir, segName)
    val tmp = new java.io.File(dir, s".tmp_$segName")
    graft.Fs.rmTree(tmp.toString)
    writeSegment(index, tmp.toString, buckets)
    graft.Fs.atomicMove(tmp.toString, segDir.toString)
    // the bucket count is part of the committed layout (ADVICE r10: a
    // store searched with a different `buckets` than it was written with
    // prunes the wrong dirs and silently returns wrong results) — write
    // is a REBUILD, so its caller-chosen count becomes the store's
    StoreManifest.commit(spark, dir, next,
      Seq(s"buckets\t$buckets", s"seg\t$segName")) // THE commit point
    if (next > 0) vacuum(spark, dir)
  }

  /** The store's committed bucket count — the manifest line every read
    * and append path resolves INSTEAD of trusting the caller's
    * parameter (ADVICE r10: a mismatched caller default made searches
    * prune the wrong bucket dirs and silently miss postings; compact
    * could even re-bucket a store out from under its readers).
    *
    * When the manifest predates the buckets line (or the dir is a
    * legacy un-manifested store), the modulus is DERIVED from the
    * segments' own `bucket=` dirs (max value + 1 — exact whenever any
    * segment populates its top bucket, overwhelmingly likely under
    * xxhash64's uniform spread for any real term count) instead of
    * trusting the caller's default: append/compact STAMP this value
    * into the next manifest, and stamping the 32 fallback into a store
    * written with another count would bake the wrong modulus in
    * permanently — the exact poisoning delete() carries its line
    * verbatim to avoid (ADVICE r11). `fallback` is reached only for a
    * store with no line AND no segment dirs (nothing to prune anyway).
    *
    * Derivation reads only COMMITTED segments (the current manifest's
    * `seg` lines; for an un-manifested legacy dir, its on-disk `seg=`
    * dirs). Callers that stage a new segment and then commit must
    * resolve the count ONCE, BEFORE staging — a post-stage call would
    * derive from the segment just written and, on a fresh store whose
    * first small batch leaves the top bucket empty, under-stamp the
    * modulus its own data was bucketed with.
    */
  def storedBuckets(spark: SparkSession, dir: String, fallback: Int): Int = {
    val cur = StoreManifest.currentVersion(spark, dir)
    val line =
      if (cur < 0) None
      else StoreManifest.read(spark, dir, cur, "buckets").headOption.map(_.toInt)
    line.getOrElse {
      val segs =
        if (cur >= 0) StoreManifest.read(spark, dir, cur, "seg")
        else Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .map(_.getName).filter(_.startsWith("seg="))
      val bucketVals = for {
        s <- segs
        d <- Option(new java.io.File(dir, s).listFiles()).toSeq.flatten
        n = d.getName if n.startsWith("bucket=")
      } yield n.stripPrefix("bucket=").toInt
      if (bucketVals.isEmpty) fallback else bucketVals.max + 1
    }
  }

  /** First generated segment name (index ≥ `from`) that no retained
    * manifest references and that has no dir on disk — the
    * never-delete-before-commit discipline for generated names.
    */
  private def freshSegName(spark: SparkSession, dir: String,
                           name: Long => String, from: Long): String =
    freshName(spark, dir, "seg", name, from)

  /** [[freshSegName]] generalized over the manifest tag (`seg` dirs and
    * `tomb` dirs follow the same discipline).
    */
  private def freshName(spark: SparkSession, dir: String, tag: String,
                        name: Long => String, from: Long): String = {
    val refd = referenced(spark, dir, tag)
    Iterator.iterate(from)(_ + 1).map(name)
      .find(n => !refd(n) && !new java.io.File(dir, n).exists())
      .get
  }

  private def writeSegment(index: DataFrame, segDir: String, buckets: Int): Unit = {
    require(index.columns.contains("dl"),
      "writeSegment expects dl-bearing postings (the build() schema)")
    index.withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .repartition(col("bucket"))
      .sortWithinPartitions("term", "doc_id")
      .write.partitionBy("bucket").mode("overwrite").parquet(segDir)
    // per-doc token counts (the standalone doc-length table backing
    // [[docLengths]]) plus a ONE-ROW `_stats` (n_docs, tot_dl) summary,
    // co-committed by the segment's one rename. Both derive from the
    // JUST-WRITTEN parquet, not the input frame — re-evaluating a lazy
    // `index` lineage here would re-run the whole tokenize/merge
    // shuffle a second time per streaming trigger. The underscore
    // prefix hides them from posting-scan file discovery, so phrase
    // search never reads them; BM25 reads dl inline off the posting
    // rows and its corpus stats from `_stats` — O(segments) at query
    // time, never a corpus scan.
    val spark = index.sparkSession
    // explicit schemas: pruned reads, and an EMPTY segment (no part
    // files) must not die in schema inference
    // select BEFORE distinct: partition discovery appends the bucket
    // column, and a doc's terms span many buckets — distinct over
    // (doc_id, dl, bucket) would duplicate docs and corrupt _stats
    spark.read.schema("doc_id BIGINT, dl BIGINT").parquet(segDir)
      .select("doc_id", "dl").distinct()
      .write.mode("overwrite").parquet(s"$segDir/_doclen")
    spark.read.schema("doc_id BIGINT, dl BIGINT").parquet(s"$segDir/_doclen")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
      .write.mode("overwrite").parquet(s"$segDir/_stats")
    // per-term score-bound aux (the MaxScore/WAND dictionary): df plus
    // the tf/dl extremes that bound any posting's BM25 tf-norm (the
    // norm is monotone ↑tf, ↓dl). Vocab-sized, term-sorted in ONE file
    // so a query's terms resolve via rowgroup pushdown; [[searchBm25TopK]]
    // uses it to skip scoring docs that cannot reach the top-k.
    spark.read.schema("term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT")
      .parquet(segDir)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), max("tf").as("max_tf"), min("dl").as("min_dl"))
      .coalesce(1).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$segDir/_terms")
  }

  /** Live segment dirs of the current committed version (empty for a
    * dir that was never written). Falls back to directory listing for a
    * legacy un-manifested index.
    */
  def segments(spark: SparkSession, dir: String): Seq[String] = {
    val cur = StoreManifest.currentVersion(spark, dir)
    if (cur >= 0) StoreManifest.read(spark, dir, cur, "seg").sorted
    else Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("seg=")).sorted
  }

  /** Incrementally index a batch of NEW documents as segment `seg`:
    * data staged in a reader-invisible tmp dir, renamed to its final
    * seg dir (ATOMIC_MOVE — a filesystem that would tear it fails
    * fast), then COMMITTED by the next manifest version referencing
    * old segments + this one. Readers resolve the manifest, so they
    * see the whole segment or none of it, and the base postings are
    * never rewritten. Sound because posting rows are keyed
    * (term, doc_id) and phrase matching never merges across doc
    * boundaries, so disjoint doc_ids mean search-after-append ≡ full
    * rebuild (InvertedIndexSpec proves it). Re-appending an
    * already-indexed doc_id WOULD double its postings — dedup the batch
    * first (the BloomDedup / q_dedup_incremental path).
    *
    * Idempotence (the [[graft.streaming.IndexSink]] replay hook):
    * a seg already referenced by the current manifest returns false —
    * a replayed trigger is a no-op. A seg dir present but UNREFERENCED
    * is the crash window between data rename and manifest commit: the
    * data is complete (the rename was atomic), so the replay skips the
    * rewrite and just commits the manifest.
    */
  def append(docs: DataFrame, dir: String, seg: String,
             buckets: Int = 32): Boolean = {
    val spark = docs.sparkSession
    val cur = StoreManifest.currentVersion(spark, dir)
    val live =
      if (cur >= 0) StoreManifest.read(spark, dir, cur, "seg")
      else Option(new java.io.File(dir).listFiles()).toSeq.flatten // legacy adopt
        .map(_.getName).filter(_.startsWith("seg="))
    if (live.contains(s"seg=$seg")) return false // committed already: replay no-op
    // resolved ONCE, before staging: the post-stage dir must not feed
    // the derivation path (see storedBuckets) — write and stamp must
    // agree on the same modulus
    val b = storedBuckets(spark, dir, buckets)
    val segDir = new java.io.File(dir, s"seg=$seg")
    if (!segDir.exists()) { // else: crashed between rename and commit — data is whole
      val tmp = new java.io.File(dir, s".tmp_seg_$seg") // dot: reader-invisible
      graft.Fs.rmTree(tmp.toString) // a torn earlier attempt restages cleanly
      // append joins an existing store: the store's committed bucket
      // count wins over the caller's parameter — a segment bucketed
      // differently from its siblings would be pruned wrongly forever
      writeSegment(build(docs), tmp.toString, b)
      graft.Fs.atomicMove(tmp.toString, segDir.toString)
    } else {
      // the crash-window heal (adopt an existing complete dir) is only
      // sound if NO retained manifest references the dir. A dir that an
      // OLDER manifest still references is a superseded pre-compaction
      // segment vacuum kept for in-flight readers — adopting it would
      // commit stale postings as this batch and silently drop the
      // batch's real data (ADVICE r10). Hit by restarting a sink on a
      // compacted store with a FRESH checkpoint (batch ids restart at 0
      // and collide with retired segment names) — fail loudly; the
      // operator picks a new checkpoint-unique segment prefix.
      require(!referencedSegs(spark, dir).contains(s"seg=$seg"),
        s"seg=$seg exists under $dir but is referenced by an older retained " +
          "manifest (a superseded pre-compaction segment, not this batch's " +
          "staged data) — refusing to adopt it; append this batch under a " +
          "segment name no retained manifest uses")
    }
    // tombstones carry forward unchanged: an append introduces new docs
    // (disjoint ids, the precondition above), so the erased set is the
    // erased set
    val tombs = if (cur >= 0) StoreManifest.read(spark, dir, cur, "tomb") else Nil
    StoreManifest.commit(spark, dir, cur + 1, // THE commit point
      s"buckets\t$b" +:
        (tombs.sorted.map("tomb\t" + _) ++
          (live :+ s"seg=$seg").sorted.map("seg\t" + _)))
    // appends carry every live segment forward, so expiring old
    // manifests never orphans a referenced segment — keeps the
    // manifest count (and with compaction, the whole store) bounded
    // under an endless stream
    vacuum(spark, dir)
    true
  }

  /** SIZE-TIERED segment merge (the Lucene-style policy that keeps
    * streaming lookup fan-in bounded WITHOUT unbounded write
    * amplification): fold only the SMALLEST `live − targetSegs + 1`
    * segments into one new segment, carrying the largest
    * `targetSegs − 1` forward untouched — so the big, old segments stop
    * being rewritten once they graduate out of the merge pool, and the
    * bytes a document is rewritten is O(log corpus), not O(merges).
    * (`targetSegs = 1` degenerates to a full fold — the one-shot
    * "optimize".) One manifest flip commits kept + merged: readers on
    * version N keep their own segment list while (and after) version
    * N+1 commits, so search never sees a posting twice or a term
    * missing. Old segments become unreferenced once the retention
    * window passes and are swept here ([[vacuum]] semantics,
    * `retainVersions` like the snapshot store).
    *
    * Sound because appends carry disjoint doc_ids (the [[append]]
    * precondition), so a (term, doc_id) posting lives in exactly one
    * segment and any SUBSET of segments can merge independently.
    * Returns the number of segments merged (0 = at/below target).
    */
  def compact(spark: SparkSession, dir: String, buckets: Int = 32,
              targetSegs: Int = 1, retainVersions: Int = 2): Int = {
    val cur = StoreManifest.currentVersion(spark, dir)
    val live =
      if (cur >= 0) StoreManifest.read(spark, dir, cur, "seg")
      else Option(new java.io.File(dir).listFiles()).toSeq.flatten // legacy adopt
        .map(_.getName).filter(_.startsWith("seg="))
    if (live.size <= targetSegs) return 0
    val next = cur + 1
    // smallest first (name tiebreak keeps the pick deterministic);
    // segments missing the inline-dl `_stats` aux sort as size −1 so a
    // legacy segment — however large — is folded by the NEXT merge,
    // which rewrites it with the aux and actually retires searchBm25's
    // corpus-width fallback (size-tiering alone would graduate a big
    // legacy segment out of the pool forever)
    val bySize = live.sortBy { s =>
      val sz = if (new java.io.File(dir, s"$s/_stats").exists())
        segBytes(new java.io.File(dir, s)) else -1L
      (sz, s)
    }
    val toMerge = bySize.take(live.size - targetSegs + 1)
    val kept = bySize.drop(live.size - targetSegs + 1)
    // re-derive dl per doc from the merged postings (window by doc_id)
    // instead of carrying the column through the group-by: uniform for
    // legacy segments that predate the inline-dl layout, and exact
    // because a doc's postings are wholly contained in the merged set
    // (the disjoint-doc append precondition again).
    // Tombstoned docs are dropped HERE — compact is where a logical
    // delete becomes physical erasure: their postings never enter the
    // merged segment, whose freshly-derived _doclen/_stats aux then
    // excludes them for free.
    val tomb = tombstonesOf(spark, dir, cur)
    val hasTombs = cur >= 0 && StoreManifest.read(spark, dir, cur, "tomb").nonEmpty
    val mergedRaw = spark.read.option("basePath", dir)
      .parquet(toMerge.map(s => s"$dir/$s"): _*)
      .select("term", "doc_id", "positions", "tf")
    val merged = (if (hasTombs)
      mergedRaw.join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti")
    else mergedRaw)
      .groupBy("term", "doc_id")
      .agg(sort_array(flatten(collect_list("positions"))).as("positions"),
        sum("tf").as("tf"))
      .withColumn("dl", sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val segName = freshSegName(spark, dir, i => s"seg=c$i", next) // see write()
    val segDir = new java.io.File(dir, segName)
    val tmp = new java.io.File(dir, s".tmp_$segName")
    graft.Fs.rmTree(tmp.toString)
    // compact must rewrite in the STORE's bucket count, not the
    // caller's: a re-bucketed merged segment would be pruned with the
    // wrong modulus by every reader holding the committed count
    val b = storedBuckets(spark, dir, buckets)
    writeSegment(merged, tmp.toString, b)
    graft.Fs.atomicMove(tmp.toString, segDir.toString)
    // shrink the tombstone set to docs still PHYSICALLY present — i.e.
    // those living in kept (untouched) segments, resolved off their
    // _doclen aux. A full fold (kept empty) retires every tombstone:
    // the store has genuinely forgotten. Checkpoint before the commit:
    // the rewrite below must not re-read the OLD tomb dir after vacuum
    // could sweep it.
    val keptTomb =
      if (!hasTombs || kept.isEmpty) tomb.limit(0)
      else tomb.join(docLengthsOf(spark, dir, kept).select("doc_id"),
        Seq("doc_id"), "left_semi")
    val keptTombRows = keptTomb.localCheckpoint()
    val tombLines =
      if (keptTombRows.isEmpty) Nil
      else {
        val tombName = freshName(spark, dir, "tomb", i => s"tomb=t$i", next)
        val tombTmp = new java.io.File(dir, s".tmp_$tombName")
        graft.Fs.rmTree(tombTmp.toString)
        keptTombRows.coalesce(1).write.mode("overwrite").parquet(tombTmp.toString)
        graft.Fs.atomicMove(tombTmp.toString, new java.io.File(dir, tombName).toString)
        Seq(s"tomb\t$tombName")
      }
    StoreManifest.commit(spark, dir, next, // THE commit point
      s"buckets\t$b" +: (tombLines ++ (kept :+ segName).sorted.map("seg\t" + _)))
    vacuum(spark, dir, retainVersions)
    toMerge.size
  }

  /** Recursive on-disk size of a segment (driver-side metadata walk —
    * local-FS form of the FileSystem.getContentSummary an HDFS port
    * would use).
    */
  private def segBytes(d: java.io.File): Long =
    Option(d.listFiles()).toSeq.flatten
      .map(f => if (f.isDirectory) segBytes(f) else f.length()).sum

  /** Segment names referenced by ANY retained manifest — the set whose
    * members must never be deleted or overwritten pre-commit.
    */
  private def referencedSegs(spark: SparkSession, dir: String): Set[String] =
    referenced(spark, dir, "seg")

  /** `tag`-values referenced by ANY retained manifest (segments AND
    * tombstone dirs share the never-delete-before-commit discipline).
    */
  private def referenced(spark: SparkSession, dir: String, tag: String): Set[String] =
    StoreManifest.versions(spark, dir)
      .flatMap(v => StoreManifest.read(spark, dir, v, tag)).toSet

  /** Expire manifests beyond the newest `retain` versions and delete
    * segment/tombstone dirs no surviving manifest references.
    * Single-writer, replay-first (the store-wide contract): a crashed
    * append's complete-but-uncommitted segment is also unreferenced,
    * and only the guarantee that the append REPLAYS before any other
    * writer acts keeps it from being swept here first.
    */
  def vacuum(spark: SparkSession, dir: String, retain: Int = 2): Long = {
    if (StoreManifest.currentVersion(spark, dir) < 0) return 0L
    val keep = StoreManifest.expire(spark, dir, retain)
    val refd = keep.flatMap(v => StoreManifest.read(spark, dir, v, "seg") ++
      StoreManifest.read(spark, dir, v, "tomb")).toSet
    val stale = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => (f.getName.startsWith("seg=") || f.getName.startsWith("tomb=")) &&
        !refd(f.getName))
    stale.foreach(f => graft.Fs.rmTree(f.toString))
    stale.size.toLong
  }

  /** Tombstoned (doc_id, dl) rows of the current committed version —
    * empty for stores with no deletions (or legacy un-manifested dirs,
    * which predate the delete API). The carried `dl` is what keeps
    * post-delete BM25 EXACT: [[searchBm25]] subtracts the erased docs'
    * counts from the segments' `_stats` sums, so corpus stats (and
    * therefore every surviving doc's score) equal a fresh index built
    * without the deleted documents — delete ≡ rebuild-without, to the
    * bit (ErasureSpec proves it).
    */
  def tombstones(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    tombstonesOf(s, dir, StoreManifest.currentVersion(s, dir))
  }

  private def tombstonesOf(spark: SparkSession, dir: String,
                           version: Long): DataFrame = {
    val tombs =
      if (version < 0) Nil
      else StoreManifest.read(spark, dir, version, "tomb")
    if (tombs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, dl BIGINT"))
    else spark.read.schema("doc_id BIGINT, dl BIGINT")
      .parquet(tombs.map(t => s"$dir/$t"): _*)
  }

  /** Anti-join `df` against the version's tombstones — the one filter
    * every read path applies so an erased document is unreachable the
    * instant its delete commits. Skipped (plan-identical to pre-delete)
    * when the version carries no tombstones.
    */
  private def minusTombstones(spark: SparkSession, dir: String, version: Long,
                              df: DataFrame): DataFrame =
    if (version < 0 || StoreManifest.read(spark, dir, version, "tomb").isEmpty) df
    else df.join(broadcast(tombstonesOf(spark, dir, version).select("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Erase documents from the index — the derived-store half of the
    * GDPR story that [[MergeInto.deleteWhere]] starts on the corpus
    * snapshot (VERDICT r10 gap #1): without it a document erased from
    * the corpus stayed retrievable via searchBm25/searchPhrase forever.
    *
    * Logical delete, physical drop deferred: the doc_ids (with their
    * dl, resolved from the live segments' `_doclen` aux — an O(aux)
    * read, never a posting scan) land as a `tomb=` parquet dir, and ONE
    * manifest rename commits segments-unchanged + the new tombstone
    * set — the same data-first/pointer-last discipline as every other
    * mutation here, so a crash leaves only an unreferenced orphan and
    * readers flip atomically from "retrievable" to "gone". Every read
    * path filters through the committed tombstones; the next [[compact]]
    * drops the rows physically and shrinks the tombstone set to the
    * docs still present in untouched segments. Time travel applies: the
    * PREVIOUS manifest version still resolves the pre-delete state
    * until vacuum expires it (the auditable-erasure window, mirroring
    * deleteWhere; `retainVersions = 1` at the next vacuum erases now).
    *
    * Like [[append]]'s disjointness precondition, a deleted doc_id must
    * not be re-appended while its tombstone lives — the tombstone would
    * mask the new postings. Compact first (it physically retires the
    * tombstone), then re-append.
    *
    * Returns the number of docs newly erased; ids already tombstoned or
    * absent from the index are no-ops (so a replay commits nothing).
    */
  def delete(spark: SparkSession, dir: String, docIds: DataFrame): Long = {
    val cur = StoreManifest.currentVersion(spark, dir)
    require(cur >= 0,
      s"delete requires a manifested index store under $dir (legacy " +
        "un-manifested dirs have no commit pointer to flip — rebuild first)")
    val segs = StoreManifest.read(spark, dir, cur, "seg")
    if (segs.isEmpty) return 0L // zero-segment store: nothing to erase
    val oldTomb = tombstonesOf(spark, dir, cur)
    // resolve dl off the _doclen aux (exact: a doc lives in ONE segment)
    // and drop ids that are absent or already tombstoned — checkpointed
    // because the tiny result is read twice (count + write) and must
    // not re-resolve across the commit
    val newly = docLengthsOf(spark, dir, segs)
      .join(docIds.select(col("doc_id").cast("long").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .join(oldTomb.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val n = newly.count()
    if (n == 0L) return 0L
    val next = cur + 1
    // ONE tomb dir per version (the full accumulated set — tombstones
    // are erased-doc-sized, so the rewrite is trivial and readers union
    // nothing): version-unique fresh name, data lands, manifest commits
    val tombName = freshName(spark, dir, "tomb", i => s"tomb=t$i", next)
    val tmp = new java.io.File(dir, s".tmp_$tombName")
    graft.Fs.rmTree(tmp.toString)
    oldTomb.unionByName(newly).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    graft.Fs.atomicMove(tmp.toString, new java.io.File(dir, tombName).toString)
    // carry the committed bucket line VERBATIM (0 or 1 lines): delete
    // takes no buckets parameter, and inventing the 32 default here
    // would poison a pre-buckets-line store written with another count
    // — every later search would prune with the wrong modulus (review
    // r11; the exact ADVICE-r10 failure this line exists to prevent)
    StoreManifest.commit(spark, dir, next, // THE commit point
      StoreManifest.read(spark, dir, cur, "buckets").map("buckets\t" + _) ++
        (s"tomb\t$tombName" +: segs.sorted.map("seg\t" + _)))
    vacuum(spark, dir)
    n
  }

  /** [[delete]] for a literal id list. */
  def delete(spark: SparkSession, dir: String, docIds: Seq[Long]): Long = {
    import spark.implicits._
    delete(spark, dir, docIds.toDF("doc_id"))
  }

  /** Read ONLY the buckets that can hold `terms` — the directory-level
    * prune that makes an index lookup O(terms), not O(index). Segments
    * resolve through the manifest pointer (a committed version is read
    * in full or not at all); a legacy un-manifested dir falls back to
    * directory discovery.
    */
  def readForTerms(spark: SparkSession, dir: String, terms: Seq[String],
                   buckets: Int = 32): DataFrame = {
    // prune with the COMMITTED bucket count — the caller's parameter is
    // only the legacy-store fallback (ADVICE r10)
    val wanted = terms.map(t => bucketOf(t, storedBuckets(spark, dir, buckets))).distinct
    val cur = StoreManifest.currentVersion(spark, dir)
    val base =
      if (cur < 0) spark.read.parquet(dir) // legacy layout
      else {
        val segs = StoreManifest.read(spark, dir, cur, "seg")
        if (segs.isEmpty)
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "term STRING, doc_id BIGINT, positions ARRAY<INT>, tf BIGINT, " +
                "dl BIGINT, seg STRING, bucket INT"))
        spark.read.option("basePath", dir).parquet(segs.map(s => s"$dir/$s"): _*)
      }
    // erased docs filter out of every posting read — deletion commits
    // take effect atomically with the manifest flip (delete API)
    minusTombstones(spark, dir, cur, base
      .filter(col("bucket").isin(wanted: _*))
      .filter(col("term").isin(terms: _*)))
  }

  /** Per-doc token counts (doc_id, dl) of the current version — the
    * union of the live segments' co-committed `_doclen` tables. Exact
    * because a doc's postings live in exactly ONE segment (the append
    * precondition), so no re-aggregation is needed. Segments written
    * before the aux existed (legacy adopts) fall back to deriving
    * lengths from their own postings — correct but it scans those
    * segments' full posting lists; the first compaction that folds
    * them rewrites the aux and retires the fallback.
    */
  def docLengths(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(spark, dir)
    require(segs.nonEmpty, s"no live segments under $dir")
    minusTombstones(spark, dir, StoreManifest.currentVersion(spark, dir),
      docLengthsOf(spark, dir, segs))
  }

  /** [[docLengths]] over an already-resolved segment list — the form
    * [[searchBm25]] uses so every read in one query shares one
    * committed version.
    */
  private def docLengthsOf(spark: SparkSession, dir: String,
                           segs: Seq[String]): DataFrame = {
    val (withAux, legacy) =
      segs.partition(s => new java.io.File(s"$dir/$s/_doclen").exists())
    val parts =
      withAux.headOption.map(_ => spark.read
        .parquet(withAux.map(s => s"$dir/$s/_doclen"): _*)
        .select("doc_id", "dl")).toSeq ++
      legacy.headOption.map(_ => spark.read.option("basePath", dir)
        .parquet(legacy.map(s => s"$dir/$s"): _*)
        .groupBy("doc_id").agg(sum("tf").as("dl"))
        .select("doc_id", "dl")).toSeq
    parts.reduce(_ unionByName _)
  }

  /** The BM25 per-(term, doc) score term over columns
    * (tf, df, dl, n_docs, tot_dl), k1 = 1.2, b = 0.75, as ONE textual
    * SQL expression — the DuckDB oracle embeds the identical text, so
    * both engines execute the same IEEE operation sequence per row.
    * The per-doc SUM of these scores is where naive float summation
    * would reintroduce order-dependence (shuffle partials merge in
    * arrival order — the q_evt_interpolate rounding-tie lesson), so
    * [[bm25]] and [[Bm25OracleSql]] both fold the scores in TERM-SORTED
    * order left-to-right: bit-identical totals in any partition layout,
    * making the final ROUND(·, 6) safe.
    */
  val Bm25ScoreSql: String =
    "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) / " +
      "(tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (CAST(tot_dl AS DOUBLE) / n_docs)))"

  /** The full DuckDB oracle for BM25 retrieval on the `documents`
    * table with the top-trigram query derivation — shared verbatim by
    * q_text_bm25 and s_text_index_bm25 so the score text cannot drift
    * between the in-memory and persisted proofs. The per-doc sum is
    * `list_reduce(list(score ORDER BY term), +)`: the same term-sorted
    * left fold [[bm25]] runs (DuckDB's init-less reduce starts at the
    * first element; Spark folds from +0.0, and 0.0 + x ≡ x for the
    * strictly positive scores), so the rounded totals are bit-equal.
    */
  val Bm25OracleSql: String = bm25OracleSql("TRUE")

  /** [[Bm25OracleSql]] over the sub-corpus `keep` selects — the oracle
    * twin for the ERASURE path (s_text_index_delete): DuckDB recomputes
    * BM25 from scratch over `documents WHERE keep`, which is exactly
    * the delete ≡ rebuild-without contract the tombstoned store must
    * reproduce bit for bit (probe span, df, dl, corpus stats and the
    * term-sorted score fold all derive from the kept docs alone).
    */
  def bm25OracleSql(keep: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |           WHERE ($keep) AND len(string_split(text, ' ')) >= 3),
       |sp AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS span
       |       FROM d, unnest(range(1, len(toks) - 1)) AS t(i)),
       |top AS (SELECT span FROM (SELECT span, COUNT(*) AS c FROM sp GROUP BY 1)
       |        ORDER BY c DESC, span LIMIT 1),
       |qt AS (SELECT DISTINCT unnest(string_split((SELECT span FROM top), ' ')) AS term),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents WHERE ($keep)),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tok JOIN qt USING (term) GROUP BY 1, 2),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  ROUND(list_reduce(list($Bm25ScoreSql ORDER BY term),
       |                    (acc, x) -> acc + x), 6) AS bm25
       |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** One-row (n_docs, tot_dl) corpus summary of the current version —
    * the union of the live segments' co-committed `_stats` rows (sums
    * are exact by the disjoint-doc append precondition). O(segments)
    * tiny files; requires every live segment to carry the aux (the
    * inline-dl layout) — [[searchBm25]] routes legacy stores through
    * [[docLengths]] instead.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(spark, dir)
    require(segs.nonEmpty, s"no live segments under $dir")
    adjustStats(spark, dir, StoreManifest.currentVersion(spark, dir),
      statsOf(spark, dir, segs))
  }

  /** Subtract the version's tombstoned docs from a one-row
    * (n_docs, tot_dl) summary — exact integer arithmetic off the dl the
    * [[delete]] commit recorded, so post-delete corpus stats (and every
    * BM25 score built on them) equal a rebuild without the erased docs.
    */
  private def adjustStats(spark: SparkSession, dir: String, version: Long,
                          stats: DataFrame): DataFrame =
    if (version < 0 || StoreManifest.read(spark, dir, version, "tomb").isEmpty) stats
    else stats.crossJoin(broadcast(tombstonesOf(spark, dir, version)
        .agg(count(lit(1)).as("t_docs"),
          coalesce(sum("dl"), lit(0L)).as("t_dl"))))
      .select((col("n_docs") - col("t_docs")).as("n_docs"),
        (col("tot_dl") - col("t_dl")).as("tot_dl"))

  /** [[corpusStats]] over an already-resolved segment list (the
    * [[searchBm25]] one-version form, mirroring [[docLengthsOf]]).
    */
  private def statsOf(spark: SparkSession, dir: String,
                      segs: Seq[String]): DataFrame =
    spark.read.parquet(segs.map(s => s"$dir/$s/_stats"): _*)
      .agg(sum("n_docs").as("n_docs"), sum("tot_dl").as("tot_dl"))

  /** BM25 ranked retrieval from dl-bearing posting rows (the [[build]]
    * schema) already filtered to the query's terms, plus a one-row
    * (n_docs, tot_dl) corpus summary: per candidate doc, n_terms
    * matched and the summed score ROUND(·, 6). df comes from the
    * posting-list lengths (one tiny per-term aggregate that
    * broadcasts) and dl rides the posting rows themselves — so the
    * cost tracks the query terms' posting lists ALONE; nothing
    * corpus-sized is read or joined. Output order unspecified; callers
    * sort by the unique doc_id (never by the rounded double — the
    * tie-flip doctrine).
    */
  def bm25(postings: DataFrame, stats: DataFrame): DataFrame =
    bm25Over(postings, postings, stats)

  /** [[bm25]] scoring a doc SUBSET: `scorePosts` feeds the per-doc
    * aggregate while df still counts over `dfPosts` (the full pruned
    * posting read) — the split [[searchBm25TopK]] needs so MaxScore
    * pruning shrinks the expensive aggregate without perturbing a
    * single surviving score.
    */
  private def bm25Over(scorePosts: DataFrame, dfPosts: DataFrame,
                       stats: DataFrame): DataFrame = {
    val df = dfPosts.groupBy("term").agg(count(lit(1)).as("df"))
    scorePosts.select("term", "doc_id", "tf", "dl")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        // ORDERED left fold over term-sorted scores — the per-doc sum
        // is bit-identical in any partition layout and to the oracle's
        // list_reduce(list(... ORDER BY term)); a plain sum() would
        // merge shuffle partials in arrival order and put the ROUND at
        // the mercy of a 1-ulp tie (see Bm25ScoreSql scaladoc)
        round(expr(
          s"aggregate(array_sort(collect_list(struct(term, $Bm25ScoreSql AS s)))," +
            " cast(0 as double), (acc, x) -> acc + x.s)"), 6).as("bm25"))
  }

  /** End-to-end: BM25-score a PERSISTED index for query `terms`,
    * reading only those terms' buckets plus the per-segment one-row
    * `_stats` aux. A store with any pre-inline-dl segment falls back
    * to joining [[docLengths]] (corpus-width but narrow); [[compact]]
    * folds aux-less segments FIRST, so one merge retires the fallback.
    *
    * The manifest resolves exactly ONCE: postings, corpus stats, and
    * any fallback length join all read the SAME committed segment list
    * — resolving per-read would let a concurrent append/compact supply
    * stats for documents whose postings were never read, producing
    * scores that match no committed snapshot.
    */
  def searchBm25(spark: SparkSession, dir: String, terms: Seq[String],
                 buckets: Int = 32): DataFrame = {
    val segs = segments(spark, dir)
    if (segs.isEmpty) {
      // a COMMITTED store with zero segments legitimately answers
      // "no documents"; zero seg= dirs with no manifest is a flat
      // legacy layout or a mistyped path — fail loudly like the old
      // docLengths require did, instead of a silent empty result
      require(StoreManifest.currentVersion(spark, dir) >= 0,
        s"no live segments under $dir (not a seg=-layout index store)")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, n_terms BIGINT, bm25 DOUBLE"))
    }
    val cur = StoreManifest.currentVersion(spark, dir)
    // erased docs drop out of the candidate set inside livePosts, and
    // adjustStats subtracts their (count, dl) from the corpus summary —
    // together the two make post-delete scores bit-equal to a rebuild
    // without them. Bucket pruning uses the committed bucket count,
    // never the caller's (ADVICE r10).
    val posts = livePosts(spark, dir, terms, buckets, segs, cur)
    val inlined = posts.columns.contains("dl") &&
      segs.forall(s => new java.io.File(s"$dir/$s/_stats").exists())
    if (inlined) bm25(posts, adjustStats(spark, dir, cur, statsOf(spark, dir, segs)))
    else {
      // transitional path: materialize the doc-length table once — it
      // feeds BOTH the candidate join and the stats aggregate, and for
      // truly legacy segments each evaluation would re-scan their full
      // posting lists. Tombstones already filtered out of dls, so the
      // derived stats need no adjustment.
      val dls = minusTombstones(spark, dir, cur,
        docLengthsOf(spark, dir, segs)).localCheckpoint()
      bm25(posts.drop("dl").join(dls, "doc_id"),
        dls.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl")))
    }
  }

  /** The bucket-pruned, tombstone-filtered posting read of one
    * committed version — shared by [[searchBm25]]'s phases and
    * [[searchBm25TopK]] so every read in one query resolves the SAME
    * segment list.
    */
  private def livePosts(spark: SparkSession, dir: String, terms: Seq[String],
                        buckets: Int, segs: Seq[String], cur: Long): DataFrame = {
    val wanted =
      terms.map(t => bucketOf(t, storedBuckets(spark, dir, buckets))).distinct
    minusTombstones(spark, dir, cur, spark.read
      .option("basePath", dir)
      .parquet(segs.map(s => s"$dir/$s"): _*)
      .filter(col("bucket").isin(wanted: _*))
      .filter(col("term").isin(terms: _*)))
  }

  /** MaxScore planning for [[searchBm25TopK]]: per-term score UPPER
    * bounds off the `_terms` aux (df + the tf/dl extremes — the BM25
    * tf-norm is monotone ↑tf ↓dl, and IEEE rounding preserves
    * monotonicity when the bound mirrors [[Bm25ScoreSql]]'s operation
    * sequence, which this does textually), a θ lower bound on the
    * true k-th score from FULLY scoring the best-bounded term's docs,
    * and the ESSENTIAL prefix: the smallest bound-descending prefix
    * whose complement's bound-sum stays below θ. Any doc matching no
    * essential term scores ≤ that complement sum < θ ≤ true k-th —
    * provably outside the top-k, so only essential-term docs are ever
    * aggregated. Returns (essential terms, θ). Soundness margins: the
    * persisted df counts tombstoned docs, so idf uses df − |tombstones|
    * (a lower bound — idf decreases in df); θ is a ROUND(·,6) value, so
    * the prune comparison backs off 1e-6.
    */
  def maxScorePlan(spark: SparkSession, dir: String, terms: Seq[String],
                   k: Int, buckets: Int = 32): (Seq[String], Option[Double]) = {
    val qTerms = terms.distinct
    require(qTerms.nonEmpty, "maxScorePlan requires at least one query term")
    val segs = segments(spark, dir)
    require(segs.nonEmpty && segs.forall(s =>
      new java.io.File(s"$dir/$s/_stats").exists() &&
        new java.io.File(s"$dir/$s/_terms").exists()),
      s"maxScorePlan requires every live segment under $dir to carry the " +
        "_stats and _terms aux (searchBm25TopK falls back to the " +
        "exhaustive scorer for such stores)")
    val cur = StoreManifest.currentVersion(spark, dir)
    maxScorePlanResolved(spark, dir, qTerms, k, segs, cur,
      livePosts(spark, dir, qTerms, buckets, segs, cur),
      adjustStats(spark, dir, cur, statsOf(spark, dir, segs)))
  }

  /** [[maxScorePlan]] over an already-resolved (segments, version,
    * postings, stats) — the form [[searchBm25TopK]] uses so one query
    * resolves the manifest and builds the pruned posting/stats reads
    * exactly once (review r11).
    */
  private def maxScorePlanResolved(spark: SparkSession, dir: String,
                                   qTerms: Seq[String], k: Int,
                                   segs: Seq[String], cur: Long,
                                   posts: DataFrame, stats: DataFrame)
      : (Seq[String], Option[Double]) = {
    val statsRow = stats.head()
    val nDocs = statsRow.getLong(0)
    val totDl = statsRow.getLong(1)
    val tombCount =
      if (cur < 0 || StoreManifest.read(spark, dir, cur, "tomb").isEmpty) 0L
      else tombstonesOf(spark, dir, cur).count()
    val tr = spark.read.schema("term STRING, df BIGINT, max_tf BIGINT, min_dl BIGINT")
      .parquet(segs.map(s => s"$dir/$s/_terms"): _*)
      .filter(col("term").isin(qTerms: _*))
      .groupBy("term").agg(sum("df").as("df"), max("max_tf").as("max_tf"),
        min("min_dl").as("min_dl"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val ub: Map[String, Double] = qTerms.map { t =>
      t -> tr.get(t).map { case (df, maxTf, minDl) =>
        val dfLb = math.max(1L, df - tombCount)
        val tf = maxTf.toDouble
        val dl = minDl.toDouble
        // textually mirrors Bm25ScoreSql — see monotonicity note above
        math.log(1.0 + (nDocs - dfLb + 0.5) / (dfLb + 0.5)) * (tf * (1.2 + 1.0)) /
          (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (totDl.toDouble / nDocs)))
      }.getOrElse(0.0)
    }.toMap
    val ordered = qTerms.sortBy(t => (-ub(t), t))
    val c1 = posts.filter(col("term") === ordered.head).select("doc_id")
    val top1 = bm25Over(posts.join(c1, Seq("doc_id"), "left_semi"), posts, stats)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .select("bm25").collect()
    val theta = if (top1.length < k) None else Some(top1.last.getDouble(0))
    val essential = theta match {
      case None => ordered // fewer than k docs seen: no safe prune yet
      case Some(th) =>
        val j = (1 to ordered.length)
          .find(i => ordered.drop(i).map(ub).sum < th - 1e-6)
          .getOrElse(ordered.length)
        ordered.take(j)
    }
    (essential, theta)
  }

  /** EXACT BM25 top-k with MaxScore (WAND-lite) early termination:
    * identical rows to `searchBm25(...).orderBy(bm25 desc, doc_id)
    * .limit(k)` — same scores to the bit (df still counts the full
    * pruned postings; only the per-doc aggregate shrinks) — but only
    * documents matching an ESSENTIAL term (see [[maxScorePlan]]) enter
    * the scoring aggregate. On a skewed query (one rare high-idf term
    * among common ones) the common terms' doc sets never aggregate:
    * the scored-posting-row reduction is measured in InvertedIndexSpec.
    * Costs one extra tiny job (phase-1 θ probe). Stores predating the
    * `_terms` aux fall back to the exhaustive scorer — correct,
    * unpruned.
    */
  def searchBm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
                     k: Int, buckets: Int = 32): DataFrame = {
    val segs = segments(spark, dir)
    val qTerms = terms.distinct
    def exhaustive() = searchBm25(spark, dir, terms, buckets)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
    val prunable = qTerms.nonEmpty && segs.nonEmpty && segs.forall(s =>
      new java.io.File(s"$dir/$s/_stats").exists() &&
        new java.io.File(s"$dir/$s/_terms").exists())
    if (!prunable) return exhaustive()
    // resolve the store ONCE: segments, version, pruned postings and
    // adjusted stats are shared by the planning probe and the final
    // scoring (review r11 — the first cut rebuilt all four twice)
    val cur = StoreManifest.currentVersion(spark, dir)
    val posts = livePosts(spark, dir, qTerms, buckets, segs, cur)
    val stats = adjustStats(spark, dir, cur, statsOf(spark, dir, segs))
    val (essential, _) =
      maxScorePlanResolved(spark, dir, qTerms, k, segs, cur, posts, stats)
    val cands = posts.filter(col("term").isin(essential: _*))
      .select("doc_id").distinct()
    bm25Over(posts.join(cands, Seq("doc_id"), "left_semi"), posts, stats)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** The writer's bucket function, computed locally: xxhash64 of the
    * term string under Spark's default seed, mod `buckets`.
    */
  def bucketOf(term: String, buckets: Int): Long = {
    val bytes = term.getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L)
    ((h % buckets) + buckets) % buckets
  }

  /** Occurrences of `phrase` (ordered tokens) per doc from posting rows:
    * (doc_id, n_occ). Data-driven — `phrase` may itself be a computed
    * 1-column frame of (offset, term) rows; k is derived from it, so no
    * driver round-trip is needed.
    */
  def phraseOccurrences(postings: DataFrame, phrase: DataFrame): DataFrame = {
    val k = phrase.select(countDistinct("offset").as("k"))
    postings.join(phrase, Seq("term"))
      .select(col("doc_id"), col("offset"),
        explode(col("positions")).as("pos"))
      .select(col("doc_id"), col("offset"), (col("pos") - col("offset")).as("base"))
      .filter(col("base") >= 0)
      .groupBy("doc_id", "base")
      .agg(countDistinct("offset").as("n_off"))
      .crossJoin(broadcast(k))
      .filter(col("n_off") === col("k"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** The corpus's most frequent n-token span (ties lexicographically
    * smallest) — a ONE-string driver collect off a span-type-bounded
    * aggregate. Shared by q_text_phrase and s_text_index_phrase so the
    * probe-phrase semantics (and their DuckDB oracle twins) can never
    * diverge, and so the span subtree is computed once, not once per
    * consumer branch.
    */
  def topSpan(docs: DataFrame, n: Int = 3, textCol: String = "text"): String = {
    // width pin (r17, the NgramJaccard doctrine): the span transform is
    // interpreted per element and the span aggregate shuffles strings —
    // both ran as single tasks at test scale (one-file scan, AQE
    // size-coalesce); the count is partitioning-independent
    val width = {
      val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      math.max(docs.sparkSession.sparkContext.defaultParallelism.toLong,
        (bytes / (64L * 1024L * 1024L)).toLong).min(Int.MaxValue.toLong).toInt
    }
    docs.select(split(col(textCol), " ").as("t"))
      .repartition(width)
      .filter(size(col("t")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(t) - $n)," +
          s" i -> concat_ws(' ', slice(t, i + 1, $n)))")).as("span"))
      .repartition(width, col("span"))
      .groupBy("span").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("span")).limit(1)
      .head().getString(0)
  }

  /** Phrase frame from literal tokens: rows (offset, term). */
  def phraseFrame(spark: SparkSession, tokens: Seq[String]): DataFrame = {
    import spark.implicits._
    tokens.zipWithIndex.map { case (t, i) => (i, t) }.toDF("offset", "term")
  }

  /** End-to-end: search a PERSISTED index for a literal phrase, reading
    * only the phrase terms' buckets.
    */
  def searchPhrase(spark: SparkSession, dir: String, tokens: Seq[String],
                   buckets: Int = 32): DataFrame =
    phraseOccurrences(readForTerms(spark, dir, tokens, buckets),
      phraseFrame(spark, tokens))
}
