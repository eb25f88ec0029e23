package graft

import graft.operators.InvertedIndex
import org.apache.spark.sql.functions._

/** Positional inverted index (operators.InvertedIndex): exact phrase
  * semantics on a hand corpus (overlaps, repeated terms, no match),
  * persisted-search ≡ in-memory recomputation on real documents,
  * bucket function fidelity vs Spark's xxhash64, and the
  * directory-level prune that makes a lookup O(terms).
  */
class InvertedIndexSpec extends SparkSpec {

  private def handCorpus = {
    import spark.implicits._
    Seq(
      (1L, "a b c a b c"),   // "a b" twice; "b c a" once
      (2L, "a a a"),          // "a a" overlaps: twice
      (3L, "c b a"),          // reversed — no "a b"
      (4L, "a b")             // exactly one "a b"
    ).toDF("doc_id", "text")
  }

  private def occ(phrase: String): Map[Long, Long] = {
    val idx = InvertedIndex.build(handCorpus)
    InvertedIndex.phraseOccurrences(idx,
        InvertedIndex.phraseFrame(spark, phrase.split(' ').toSeq))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("phrase semantics: overlap counted, repeated terms, absent phrase") {
    assert(occ("a b") == Map(1L -> 2L, 4L -> 1L))
    assert(occ("a a") == Map(2L -> 2L)) // overlapping occurrences
    assert(occ("b c a") == Map(1L -> 1L))
    assert(occ("c a c") == Map.empty[Long, Long]) // never occurs
  }

  test("bucketOf matches Spark's xxhash64 pmod for every corpus term") {
    import spark.implicits._
    val buckets = 32
    val terms = Tables.t(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("term")).distinct()
    val sparkSide = terms
      .select(col("term"), pmod(xxhash64(col("term")), lit(buckets.toLong)).as("b"))
      .as[(String, Long)].collect()
    val bad = sparkSide.filter { case (t, b) =>
      InvertedIndex.bucketOf(t, buckets) != b
    }
    assert(bad.isEmpty, s"bucketOf diverges from xxhash64 for: ${bad.take(5).mkString(", ")}")
  }

  test("append: search-after-append == full rebuild; old postings untouched") {
    val docs = Tables.t(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val incDir = java.nio.file.Files.createTempDirectory("graft_idxinc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_idxfull").toString
    try {
      InvertedIndex.write(InvertedIndex.build(old), incDir)
      val beforeFiles = spark.read.parquet(incDir).inputFiles.toSet
      assert(InvertedIndex.append(fresh, incDir, "inc1"))
      assert(spark.read.parquet(incDir).inputFiles.toSet.intersect(beforeFiles)
        == beforeFiles, "append rewrote pre-existing posting files")
      // a replayed append of the same segment is a committed no-op
      val afterFiles = spark.read.parquet(incDir).inputFiles.toSet
      assert(!InvertedIndex.append(fresh, incDir, "inc1"))
      assert(spark.read.parquet(incDir).inputFiles.toSet == afterFiles)
      InvertedIndex.write(InvertedIndex.build(docs), fullDir)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res(dir: String) = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (inc, full) = (res(incDir), res(fullDir))
      assert(inc == full, "incremental index search != full-rebuild search")
      assert(inc.nonEmpty)
    } finally { Fs.rmTree(incDir); Fs.rmTree(fullDir) }
  }

  test("IndexSink: streamed index == batch rebuild; torn tmp heals on replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.t(spark, sfDir, "documents")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val slices = rows.grouped((rows.size + 1) / 2).toSeq
    val streamDir = java.nio.file.Files.createTempDirectory("graft_idxsink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idxsink_ck").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_idxsink_full").toString
    try {
      // a torn earlier attempt: junk where batch 0's tmp would stage
      val torn = new java.io.File(streamDir, ".tmp_seg_b0")
      torn.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(torn, "junk.parquet").toPath, "not parquet")
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.IndexSink.start(
        in.toDF().toDF("doc_id", "text"), streamDir, ckpt)
      try slices.foreach { s => in.addData(s); q.processAllAvailable() }
      finally q.stop()
      InvertedIndex.write(InvertedIndex.build(docs), fullDir)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res(dir: String) = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (streamed, full) = (res(streamDir), res(fullDir))
      assert(streamed == full, "streamed index search != batch rebuild")
      assert(streamed.nonEmpty)
      // the aux rides every streamed segment's commit too: BM25 off the
      // stream-built store must equal a batch build BITWISE — per-term
      // scores are IEEE-identical and the per-doc sum is a term-sorted
      // left fold, so no layout-dependent summation order survives
      def bm(dir: String) = InvertedIndex.searchBm25(spark, dir, toks.distinct)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val (sb, fb) = (bm(streamDir), bm(fullDir))
      assert(sb == fb, "streamed-store BM25 != batch-store BM25 (bitwise)")
      assert(sb.nonEmpty)
    } finally { Fs.rmTree(streamDir); Fs.rmTree(ckpt); Fs.rmTree(fullDir) }
  }

  test("bucket count is committed: reads ignore a mismatched caller; append/compact inherit it") {
    // ADVICE r10: a store written with B buckets but searched with the
    // default pruned the wrong dirs and silently missed postings; the
    // count is now a manifest line every path resolves
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxbkt").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)),
        dir, buckets = 8)
      // caller passes a WRONG count everywhere from here on — the store's
      // committed 8 must win
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1),
        dir, "inc1", buckets = 16))
      def bucketDirs(seg: String): Set[String] =
        Option(new java.io.File(dir, seg).listFiles()).toSeq.flatten
          .map(_.getName).filter(_.startsWith("bucket=")).toSet
      for (seg <- InvertedIndex.segments(spark, dir))
        assert(bucketDirs(seg).forall(_.stripPrefix("bucket=").toInt < 8),
          s"$seg was written outside the store's 8-bucket layout")
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def phr(b: Int) = InvertedIndex.searchPhrase(spark, dir, toks, buckets = b)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val truth = phr(8)
      assert(truth.nonEmpty)
      assert(phr(32) == truth, "default-bucket search diverged from the store's count")
      def bm(b: Int) = InvertedIndex.searchBm25(spark, dir, toks.distinct, buckets = b)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(bm(32) == bm(8) && bm(8).nonEmpty)
      // compact with yet another caller count must NOT re-bucket the store
      assert(InvertedIndex.compact(spark, dir, buckets = 64) > 0)
      for (seg <- InvertedIndex.segments(spark, dir))
        assert(bucketDirs(seg).forall(_.stripPrefix("bucket=").toInt < 8),
          s"compact re-bucketed $seg out from under committed readers")
      assert(phr(32) == truth, "post-compact default search diverged")
      assert(InvertedIndex.storedBuckets(spark, dir, 32) == 8)
    } finally Fs.rmTree(dir)
  }

  test("pre-buckets-line manifest: the modulus derives from the segment layout, never the caller default (ADVICE r11)") {
    // a store committed before the buckets line existed, written with a
    // non-default count: append/compact used to stamp the 32 FALLBACK
    // into the next manifest, baking the wrong modulus in permanently
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxleg").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)),
        dir, buckets = 8)
      val cur = graft.operators.StoreManifest.currentVersion(spark, dir)
      val mf = new java.io.File(dir, s"_graft_manifest/v$cur.manifest")
      val stripped = scala.io.Source.fromFile(mf, "UTF-8").getLines()
        .filterNot(_.startsWith("buckets\t")).mkString("\n")
      java.nio.file.Files.write(mf.toPath,
        stripped.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the in-place rewrite invalidates LocalFileSystem's checksum
      // sidecar — drop it (a real pre-buckets-line store never had a
      // crc for content it didn't write)
      new java.io.File(mf.getParent, s".${mf.getName}.crc").delete()
      assert(InvertedIndex.storedBuckets(spark, dir, 32) == 8,
        "modulus must derive from the segments' bucket= dirs, not the fallback")
      // an append with the default caller count must write AND stamp the
      // derived 8 — and default-count searches keep finding everything
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1), dir, "inc1"))
      assert(graft.operators.StoreManifest.read(spark, dir,
        graft.operators.StoreManifest.currentVersion(spark, dir), "buckets") == Seq("8"),
        "append must stamp the derived modulus into the healed manifest")
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).distinct.toSeq
      val bmDefault = InvertedIndex.searchBm25(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val bm8 = InvertedIndex.searchBm25(spark, dir, toks, buckets = 8)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(bmDefault == bm8 && bm8.nonEmpty,
        "default-count search must resolve the stamped modulus")
    } finally Fs.rmTree(dir)
  }

  test("append refuses to adopt a superseded pre-compaction segment dir") {
    // ADVICE r10: a compacted-away segment dir, retained on disk for an
    // older manifest's readers, passed the crash-window heal under a
    // reused name (fresh checkpoint restarting at b0) — the new batch's
    // data was silently replaced by stale pre-compaction postings
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxadopt").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 3 === 0)), dir)
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 3 === 1), dir, "b0"))
      assert(InvertedIndex.compact(spark, dir) > 0)
      // default retention keeps the pre-compaction manifest, so its
      // segment dirs survive vacuum — exactly the trap
      assert(new java.io.File(dir, "seg=b0").exists(),
        "test premise: superseded seg dir must still be on disk")
      val before = InvertedIndex.segments(spark, dir)
      val e = intercept[IllegalArgumentException](
        InvertedIndex.append(docs.filter(col("doc_id") % 3 === 2), dir, "b0"))
      assert(e.getMessage.contains("older retained manifest"), e.getMessage)
      assert(InvertedIndex.segments(spark, dir) == before,
        "refused append must commit nothing")
    } finally Fs.rmTree(dir)
  }

  test("compact: search-after-compact == search-before; one live segment; inputs swept") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxcpt").toString
    try {
      // five appended segments (disjoint doc slices)
      (0 until 5).foreach { i =>
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 5 === i),
          dir, s"b$i"))
      }
      assert(InvertedIndex.segments(spark, dir).size == 5)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res() = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = res()
      assert(before.nonEmpty)
      assert(InvertedIndex.compact(spark, dir, retainVersions = 1) == 5)
      assert(res() == before, "compaction changed search results")
      assert(InvertedIndex.segments(spark, dir).size == 1,
        "compaction must leave exactly one live segment")
      // retainVersions = 1: merged inputs are unreferenced and swept
      val onDisk = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSeq
      assert(onDisk == Seq(InvertedIndex.segments(spark, dir).head),
        s"merged input segments not swept: $onDisk")
      // a second compact below threshold is a no-op
      assert(InvertedIndex.compact(spark, dir) == 0)
      // posting content (not just phrase counts) matches a fresh build:
      // (term, doc_id, positions, tf) sets are identical
      val live = InvertedIndex.segments(spark, dir).head
      val stored = spark.read.parquet(s"$dir/$live")
        .select(col("term"), col("doc_id"),
          concat_ws(",", col("positions").cast("array<string>")).as("p"), col("tf"))
        .as[(String, Long, String, Long)].collect().toSet
      val fresh = InvertedIndex.build(docs)
        .select(col("term"), col("doc_id"),
          concat_ws(",", col("positions").cast("array<string>")).as("p"), col("tf"))
        .as[(String, Long, String, Long)].collect().toSet
      assert(stored == fresh, "compacted postings diverge from a fresh build")
    } finally Fs.rmTree(dir)
  }

  test("append crash window: data renamed, manifest not committed — replay commits it") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxcw").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)), dir)
      val fresh = docs.filter(col("doc_id") % 2 === 1)
      // simulate the crash: stage + rename the segment by hand, no commit
      val tmp = new java.io.File(dir, ".tmp_seg_bX")
      InvertedIndex.build(fresh)
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(32L)))
        .repartition(col("bucket")).sortWithinPartitions("term", "doc_id")
        .write.partitionBy("bucket").parquet(tmp.toString)
      Fs.atomicMove(tmp.toString, new java.io.File(dir, "seg=bX").toString)
      // readers on the committed version do not see the orphan segment
      assert(InvertedIndex.segments(spark, dir) == Seq("seg=base"))
      // the replayed append finds whole data and just commits the pointer
      assert(InvertedIndex.append(fresh, dir, "bX"))
      assert(InvertedIndex.segments(spark, dir).toSet == Set("seg=base", "seg=bX"))
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxcw_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full), "healed index search != full rebuild")
      } finally Fs.rmTree(full)
    } finally Fs.rmTree(dir)
  }

  test("rebuild never claims a crashed append's segment name; the replayed batch survives") {
    val docs = Tables.t(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_idxclaim").toString
    try {
      InvertedIndex.write(InvertedIndex.build(old), dir) // v0: seg=base
      // a crashed append whose caller-chosen name collides with the
      // rebuild's generated one: data renamed in, manifest never committed
      val tmp = new java.io.File(dir, ".tmp_seg_r1")
      InvertedIndex.build(fresh)
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(32L)))
        .repartition(col("bucket")).sortWithinPartitions("term", "doc_id")
        .write.partitionBy("bucket").parquet(tmp.toString)
      Fs.atomicMove(tmp.toString, new java.io.File(dir, "seg=r1").toString)
      // an in-place rebuild interleaves BEFORE the replay: claiming
      // seg=r1 would make the replay see its name committed and no-op —
      // the appended batch would be silently lost forever
      InvertedIndex.write(InvertedIndex.build(old), dir)
      assert(InvertedIndex.segments(spark, dir) == Seq("seg=r2"),
        "rebuild claimed the crashed append's segment name")
      // the replay re-applies the batch (restaging from source if the
      // rebuild's vacuum already swept the unreferenced orphan)
      assert(InvertedIndex.append(fresh, dir, "r1"),
        "replay of the crashed append no-opped — its batch is lost")
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxclaim_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full),
          "rebuild + replayed append diverges from a full rebuild")
      } finally Fs.rmTree(full)
    } finally Fs.rmTree(dir)
  }

  test("IndexSink bounds segment count: compaction keeps fan-in <= maxSegments") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.t(spark, sfDir, "documents")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val slices = rows.grouped(math.max(1, rows.size / 8)).toSeq // ~8+ triggers
    val dir = java.nio.file.Files.createTempDirectory("graft_idxbnd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idxbnd_ck").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_idxbnd_full").toString
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.IndexSink.start(
        in.toDF().toDF("doc_id", "text"), dir, ckpt, maxSegments = 3)
      val maxSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
      try slices.foreach { s =>
        in.addData(s); q.processAllAvailable()
        maxSeen += InvertedIndex.segments(spark, dir).size
      } finally q.stop()
      assert(slices.size >= 8, s"fixture too small: ${slices.size} triggers")
      assert(maxSeen.max <= 4, // one append past the threshold triggers the merge
        s"segment count unbounded under streaming: $maxSeen")
      InvertedIndex.write(InvertedIndex.build(docs), fullDir)
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(res(dir) == res(fullDir),
        "compacting streamed index diverges from batch rebuild")
    } finally { Fs.rmTree(dir); Fs.rmTree(ckpt); Fs.rmTree(fullDir) }
  }

  test("tiered compaction: smallest segments fold; the largest segment's files are not rewritten") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxtier").toString
    try {
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 10 < 7), dir, "big"))
      (7 to 9).foreach { i =>
        assert(InvertedIndex.append(docs.filter(col("doc_id") % 10 === i), dir, s"s$i"))
      }
      def filesOf(seg: String): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(dir, seg))
          .map(f => f.getPath -> f.lastModified()).toMap
      }
      val bigBefore = filesOf("seg=big")
      // 4 live, target 2: the 3 smallest (the s* slices) fold into one;
      // the big segment graduates out of the merge pool untouched —
      // write amplification must not track index size
      assert(InvertedIndex.compact(spark, dir, targetSegs = 2) == 3)
      val live = InvertedIndex.segments(spark, dir)
      assert(live.size == 2 && live.contains("seg=big"),
        s"tiered merge rewrote the large segment: $live")
      assert(filesOf("seg=big") == bigBefore,
        "the kept segment's files were rewritten or touched")
      // at/below target: no-op
      assert(InvertedIndex.compact(spark, dir, targetSegs = 2) == 0)
      // search parity with a full rebuild
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxtier_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full), "tiered compaction changed search results")
        // doc lengths survive the merge: the folded segment's _doclen is
        // re-derived from its merged postings, kept segments keep theirs
        def dls(d: String) = InvertedIndex.docLengths(spark, d)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(dls(dir) == dls(full),
          "doc-length aux diverges from a fresh build after tiered merge")
      } finally Fs.rmTree(full)
    } finally Fs.rmTree(dir)
  }

  test("bm25: hand-checked scores; persisted retrieval == in-memory formula") {
    // hand corpus, query {a, b}: N=4, dl = (6,3,3,2), df(a)=4, df(b)=3
    val idx = InvertedIndex.build(handCorpus)
    def stats(ix: org.apache.spark.sql.DataFrame) =
      ix.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val got = InvertedIndex.bm25(idx.filter(col("term").isin("a", "b")), stats(idx))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def s(tf: Long, df: Long, dl: Long): Double = // Bm25ScoreSql, same op order
      math.log(1.0 + (4L - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / (14L.toDouble / 4L)))
    val exp = Map(
      1L -> (2L, s(2, 4, 6) + s(2, 3, 6)),
      2L -> (1L, s(3, 4, 3)),
      3L -> (2L, s(1, 4, 3) + s(1, 3, 3)),
      4L -> (2L, s(1, 4, 2) + s(1, 3, 2)))
    assert(got.keySet == exp.keySet, s"candidate set wrong: ${got.keySet}")
    exp.foreach { case (d, (n, sc)) =>
      assert(got(d)._1 == n, s"doc $d matched-term count")
      assert(math.abs(got(d)._2 - sc) < 2e-6,
        s"doc $d score ${got(d)._2} != expected $sc")
    }
    // persisted path (pruned buckets + one-row _stats) == in-memory formula
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxbm25").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      val full = InvertedIndex.build(docs).localCheckpoint()
      val direct = InvertedIndex.bm25(
          full.filter(col("term").isin(terms: _*)), stats(full))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val stored = InvertedIndex.searchBm25(spark, dir, terms)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // bitwise: the ordered fold makes persisted == in-memory exact
      assert(stored == direct, "persisted BM25 != in-memory BM25 (bitwise)")
      assert(stored.nonEmpty)
      // the public corpusStats accessor agrees with the doc-length table
      val st = InvertedIndex.corpusStats(spark, dir).collect()(0)
      val viaDl = InvertedIndex.docLengths(spark, dir)
        .agg(count(lit(1)), sum("dl")).collect()(0)
      assert((st.getLong(0), st.getLong(1)) == (viaDl.getLong(0), viaDl.getLong(1)),
        "_stats summary diverges from the _doclen table")
    } finally Fs.rmTree(dir)
  }

  test("docLengths/searchBm25: aux-stripped segments fall back; compaction retires the fallback FIRST") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxdl").toString
    try {
      // a is the LARGEST segment (half the corpus); b and c split the rest
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 4 < 2), dir, "a"))
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 4 === 2), dir, "b"))
      assert(InvertedIndex.append(docs.filter(col("doc_id") % 4 === 3), dir, "c"))
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      def bm() = InvertedIndex.searchBm25(spark, dir, terms)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      def dls() = InvertedIndex.docLengths(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (truth, aux) = (bm(), dls())
      // simulate a pre-aux (legacy-adopted) segment: strip its aux dirs
      Fs.rmTree(s"$dir/seg=a/_doclen")
      assert(dls() == aux, "postings-derived lengths diverge from the aux")
      Fs.rmTree(s"$dir/seg=a/_stats")
      // searchBm25 routes through the docLengths join now; same inputs,
      // same score expression, same ordered fold -> bitwise-same scores
      val legacy = bm()
      assert(legacy == truth, "fallback BM25 != inlined BM25 (bitwise)")
      assert(legacy.nonEmpty)
      // go further: make seg=a a TRUE pre-inline-dl segment — postings
      // parquet WITHOUT the dl column (the shape a store written by the
      // previous code version has), exercising the mixed-schema read
      // and the posts.drop("dl") leg, not just the missing-aux leg
      val segA = s"$dir/seg=a"
      val noDl = spark.read.parquet(segA)
        .select("term", "doc_id", "positions", "tf", "bucket")
      val tmpA = java.nio.file.Files.createTempDirectory("graft_idxdl_nodl").toString
      noDl.write.partitionBy("bucket").mode("overwrite").parquet(tmpA)
      Fs.rmTree(segA)
      Fs.atomicMove(tmpA, segA)
      assert(bm() == truth, "true pre-dl segment BM25 != inlined (bitwise)")
      // size-tiering alone would keep the LARGEST segment forever; the
      // aux-less segment sorts as size -1, so one merge folds it and
      // rewrites its aux — the corpus-width fallback actually retires
      assert(InvertedIndex.compact(spark, dir, targetSegs = 2) == 2)
      val live = InvertedIndex.segments(spark, dir)
      assert(live.size == 2 && !live.contains("seg=a"),
        s"legacy segment must be folded by the next merge: $live")
      assert(live.forall(s => new java.io.File(s"$dir/$s/_stats").exists()),
        "merged segment must carry the aux")
      assert(bm() == truth, "post-retirement BM25 diverges (bitwise)")
    } finally Fs.rmTree(dir)
  }

  test("searchBm25: unmanifested dir fails loudly; committed zero-segment store answers empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idxempty").toString
    try {
      // bare dir, no manifest: a flat legacy layout or a typo'd path —
      // must raise, not silently report "no relevant documents"
      intercept[IllegalArgumentException] {
        InvertedIndex.searchBm25(spark, dir, Seq("x")).collect()
      }
      // a COMMITTED store with zero segments legitimately answers empty
      graft.operators.StoreManifest.commit(spark, dir, 0, Seq.empty)
      assert(InvertedIndex.searchBm25(spark, dir, Seq("x")).collect().isEmpty)
    } finally Fs.rmTree(dir)
  }

  test("in-place rebuild: committed data survives; old version stays readable until vacuum") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxrb").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0)), dir)
      val v0Seg = InvertedIndex.segments(spark, dir)
      assert(v0Seg == Seq("seg=base"))
      // rebuild IN PLACE over the full corpus: the live base segment
      // must never be deleted before the new manifest commits
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      assert(InvertedIndex.segments(spark, dir) == Seq("seg=r1"))
      // retain=2 default: v0's segment is still on disk and resolvable
      assert(new java.io.File(dir, "seg=base").exists(),
        "rebuild destroyed the previous version's committed data")
      assert(graft.operators.StoreManifest
        .read(spark, dir, 0L, "seg") == Seq("seg=base"))
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxrb_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full), "rebuilt index search != fresh build")
      } finally Fs.rmTree(full)
      // vacuum to 1 retained version sweeps the superseded base segment
      InvertedIndex.vacuum(spark, dir, retain = 1)
      assert(!new java.io.File(dir, "seg=base").exists())
    } finally Fs.rmTree(dir)
  }

  test("bounded growth: long append+compact stream keeps disk = live + retained segments") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxgrow").toString
    try {
      // 12 appended slices with compaction every time the live list
      // exceeds 3 — the IndexSink loop, run synchronously
      (0 until 12).foreach { i =>
        InvertedIndex.append(docs.filter(col("doc_id") % 12 === i), dir, s"b$i")
        if (InvertedIndex.segments(spark, dir).size > 3)
          InvertedIndex.compact(spark, dir)
      }
      val live = InvertedIndex.segments(spark, dir)
      assert(live.size <= 4, s"live segments unbounded: $live")
      // disk = segments referenced by the <= 2 retained manifests
      val versions = graft.operators.StoreManifest.versions(spark, dir)
      assert(versions.size <= 2, s"manifests grow with stream age: $versions")
      val referenced = versions.flatMap(v =>
        graft.operators.StoreManifest.read(spark, dir, v, "seg")).toSet
      val onDisk = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("seg=")).toSet
      assert(onDisk == referenced,
        s"unreferenced segments accumulating: ${onDisk -- referenced}")
      // content still equals a fresh full build
      val toks = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
        .take(3).toSeq
      val full = java.nio.file.Files.createTempDirectory("graft_idxgrow_full").toString
      try {
        InvertedIndex.write(InvertedIndex.build(docs), full)
        def res(d: String) = InvertedIndex.searchPhrase(spark, d, toks)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(res(dir) == res(full))
      } finally Fs.rmTree(full)
    } finally Fs.rmTree(dir)
  }

  test("persisted search == in-memory recomputation on real documents; prune proven") {
    val docs = Tables.t(spark, sfDir, "documents")
    val idx = InvertedIndex.build(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft_idxspec").toString
    try {
      InvertedIndex.write(idx, dir)
      // a phrase that certainly exists: the first doc's first trigram
      val first = docs.orderBy("doc_id")
        .select(split(col("text"), " ").as("t")).head().getSeq[String](0)
      val toks = first.take(3).toSeq
      val stored = InvertedIndex.searchPhrase(spark, dir, toks)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = InvertedIndex
        .phraseOccurrences(idx, InvertedIndex.phraseFrame(spark, toks))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stored == direct, "persisted-index search != direct recomputation")
      assert(stored.nonEmpty, "probe phrase missing from its own document")
      // the pruned read lists only the probed buckets' directories
      val scan = InvertedIndex.readForTerms(spark, dir, toks)
      scan.collect()
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [bucket"),
        s"bucket filter must prune partitions:\n$plan")
      // runtime file count from the executed scan (inputFiles reflects the
      // unpruned relation): one file per bucket by construction, so the
      // scan must open exactly the probed buckets' files
      val wanted = toks.map(t => InvertedIndex.bucketOf(t, 32)).distinct.toSet
      val opened = PlanDigest.nodes(scan.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }
      assert(opened == Seq(wanted.size.toLong),
        s"scan opened $opened files, expected exactly ${wanted.size} " +
          s"(buckets $wanted of 32)")
    } finally Fs.rmTree(dir)
  }

  private def topkRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("searchBm25TopK: identical to the exhaustive top-k on real documents, every k") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_wand").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct :+ "no_such_term"
      for (k <- Seq(1, 3, 10, 1000)) {
        val exhaustive = InvertedIndex.searchBm25(spark, dir, terms)
          .orderBy(col("bm25").desc, col("doc_id")).limit(k)
        assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, k)) ==
          topkRows(exhaustive), s"pruned top-$k diverged from exhaustive")
      }
    } finally Fs.rmTree(dir)
  }

  test("searchBm25TopK: skewed query prunes to the essential term; measured row reduction; sound after delete") {
    import spark.implicits._
    // 100 docs all matching the common terms; only 3 match the rare one
    val docs = (0 until 100).map { i =>
      val rare = if (i < 3) " zebra" else ""
      (i.toLong, s"c1 c2 x$i y$i$rare")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_wand_skew").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = Seq("zebra", "c1", "c2")
      val (essential, theta) = InvertedIndex.maxScorePlan(spark, dir, terms, k = 2)
      assert(theta.isDefined, "3 zebra docs must yield a k=2 threshold")
      assert(essential == Seq("zebra"),
        s"common terms must prune out of the essential set, got $essential")
      // measured scored-row reduction: only essential-matching docs'
      // postings enter the aggregate
      val posts = InvertedIndex.readForTerms(spark, dir, terms)
      val candDocs = posts.filter(col("term").isin(essential: _*))
        .select("doc_id").distinct()
      val scored = posts.join(candDocs, Seq("doc_id"), "left_semi").count()
      val all = posts.count()
      assert(scored <= all / 10,
        s"expected >=10x scored-row reduction, got $scored of $all")
      // and the pruned result is still exactly the exhaustive one
      def exhaustive(k: Int) = InvertedIndex.searchBm25(spark, dir, terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, 2)) ==
        topkRows(exhaustive(2)))
      // after erasing a zebra doc the persisted df over-counts; the plan
      // compensates (df lower bound) and stays exact
      InvertedIndex.delete(spark, dir, Seq(0L))
      assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, 2)) ==
        topkRows(exhaustive(2)), "post-delete pruned top-k diverged")
    } finally Fs.rmTree(dir)
  }

  test("searchBm25TopK: store predating the _terms aux falls back to the exhaustive scorer; guards hold") {
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_wand_leg").toString
    try {
      InvertedIndex.write(InvertedIndex.build(docs), dir)
      val terms = InvertedIndex.topSpan(docs).split(' ').toSeq.distinct
      // empty term list answers empty instead of crashing the planner
      assert(InvertedIndex.searchBm25TopK(spark, dir, Seq.empty, 5).isEmpty)
      InvertedIndex.segments(spark, dir).foreach(s =>
        Fs.rmTree(s"$dir/$s/_terms"))
      val exhaustive = InvertedIndex.searchBm25(spark, dir, terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
      assert(topkRows(InvertedIndex.searchBm25TopK(spark, dir, terms, 5)) ==
        topkRows(exhaustive))
      // direct maxScorePlan on the aux-less store names its contract
      val e = intercept[IllegalArgumentException](
        InvertedIndex.maxScorePlan(spark, dir, terms, 5))
      assert(e.getMessage.contains("_terms"), s"unhelpful error: $e")
    } finally Fs.rmTree(dir)
  }
}
