package graft

import graft.operators.BpeTrainer
import org.apache.spark.sql.functions._
import scala.sys.process._

/** Cross-engine pin for the BPE DuckDB oracle's subtlest semantics
  * (r16): pair counting must be POSITIONAL (every adjacent occurrence,
  * overlaps included) while merge application is NON-OVERLAPPING
  * left-to-right — the asymmetry the wrapped-string design encodes
  * (positional sums for counts, one `replace()` for application).
  *
  * The corpus is CONSTRUCTED so the two counting rules disagree on the
  * very first merge: "aaa"×10 gives (a,a) positional count 20 but
  * non-overlapping count 10, against (b,c) at 15 — a replace-counting
  * oracle would pick (b,c) first and diverge from trainOnHistogram on
  * merge 1. The graded sf0.01 corpus never exercises this; this spec
  * keeps the semantics pinned against both engines forever.
  */
class BpeOracleSpec extends SparkSpec {

  private val duckdbAvailable =
    try { Seq("python3", "-c", "import duckdb").! == 0 } catch { case _: Throwable => false }

  test("training oracle matches trainOnHistogram on an overlapped-self-pair corpus") {
    assume(duckdbAvailable, "python3+duckdb oracle not available")
    import spark.implicits._
    // 10 docs "aaa", 15 docs "bc", plus shared filler so several merge
    // rounds run; doc_id unique
    val texts =
      (0 until 10).map(i => (i.toLong, "aaa low lower")) ++
      (10 until 25).map(i => (i.toLong, "bc low lowest")) ++
      (25 until 30).map(i => (i.toLong, "aa bc ab"))
    val docs = texts.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_oracle").toString
    try {
      docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = BpeTrainer.train(docs, numMerges = 8).orderBy("rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      // the divergence sentinel: positional counting puts (a,a) at 20
      // via the "aaa" word type (2 occurrences × 10 docs) — strictly
      // above (b,c)'s 15+5; non-overlapping counting would see 10+5
      val aa = got.find(m => m._2 == "a" && m._3 == "a")
      assert(aa.exists(_._4 >= 20), s"(a,a) must count overlaps: $aa in ${got.toSeq}")
      // run the SAME committed oracle text through DuckDB on this corpus
      val sql =
        s"""WITH RECURSIVE ${BpeTrainer.oracleTrainCtes("documents", numMerges = 8)}
           |SELECT m.rank AS rank, m.l AS l, m.r AS r, m.c AS c
           |FROM (SELECT unnest(ml) AS m FROM mfinal)
           |ORDER BY rank""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/oracle.sql"), sql.getBytes("UTF-8"))
      val py =
        s"""import duckdb
           |con = duckdb.connect()
           |con.execute("CREATE VIEW documents AS SELECT * FROM '$dir/documents.parquet/*.parquet'")
           |for row in con.sql(open('$dir/oracle.sql').read()).fetchall():
           |    print('\\t'.join(str(x) for x in row))
           |""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/run.py"),
        py.getBytes("UTF-8"))
      val out = Seq("python3", s"$dir/run.py").!!
      val oracle = out.linesIterator.filter(_.nonEmpty).map { l =>
        val p = l.split('\t')
        (p(0).toLong, p(1), p(2), p(3).toLong)
      }.toArray
      assert(oracle.toSeq == got.toSeq,
        s"oracle ${oracle.toSeq}\nspark  ${got.toSeq}")
    } finally Fs.rmTree(dir)
  }

  test("encode oracle matches BpeTrainer.encode on the same corpus (lowest-rank-first loop)") {
    assume(duckdbAvailable, "python3+duckdb oracle not available")
    import spark.implicits._
    val texts =
      (0 until 10).map(i => (i.toLong, "aaa low lower")) ++
      (10 until 25).map(i => (i.toLong, "bc low lowest")) ++
      (25 until 30).map(i => (i.toLong, "aa bc ab"))
    val docs = texts.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_oracle_enc").toString
    try {
      docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // numMerges = 64 matches the committed oracle text's default
      val merges = BpeTrainer.train(docs, numMerges = 64)
      val got = BpeTrainer.encode(docs, merges, BpeTrainer.alphabet(docs))
        .select(col("doc_id"), col("n_tokens"),
          concat_ws(",", col("token_ids")).as("tokens_csv"))
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val sql =
        s"""WITH RECURSIVE ${BpeTrainer.oracleEncodeCtes("documents")}
           |SELECT d.doc_id AS doc_id,
           |  CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           |  coalesce(t.tokens_csv, '') AS tokens_csv
           |FROM documents d LEFT JOIN doc_tok t ON d.doc_id = t.doc_id
           |ORDER BY doc_id""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle.sql"),
        sql.getBytes("UTF-8"))
      val py =
        s"""import duckdb
           |con = duckdb.connect()
           |con.execute("CREATE VIEW documents AS SELECT * FROM '$dir/documents.parquet/*.parquet'")
           |for row in con.sql(open('$dir/oracle.sql').read()).fetchall():
           |    print('\\t'.join(str(x) for x in row))
           |""".stripMargin
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/run.py"),
        py.getBytes("UTF-8"))
      val out = Seq("python3", s"$dir/run.py").!!
      val oracle = out.linesIterator.filter(_.nonEmpty).map { l =>
        val p = l.split('\t')
        (p(0).toLong, p(1).toLong, if (p.length > 2) p(2) else "")
      }.toArray
      assert(oracle.toSeq == got.toSeq,
        s"oracle ${oracle.toSeq}\nspark  ${got.toSeq}")
    } finally Fs.rmTree(dir)
  }

  test("oracle type-count valve fails loudly past maxTypes and is silent inside it") {
    assume(duckdbAvailable, "python3+duckdb oracle not available")
    import spark.implicits._
    // 7 word types (w0..w5 + common) — trains fine at the default
    // valve, trips a maxTypes=5
    // valve with the routing-hint message (VERDICT r16 #6: the oracle
    // recursion is quadratic-ish in vocabulary, so an open-vocabulary
    // testdata swap must fail the t2 gate loudly, not time the driver out)
    val docs = (0 until 12).map(i => (i.toLong, s"w${i % 6} common"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_valve").toString
    try {
      docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run(maxTypes: Int): (Int, String) = {
        val sql =
          s"""WITH RECURSIVE ${BpeTrainer.oracleTrainCtes("documents",
                numMerges = 4, maxTypes = maxTypes)}
             |SELECT len(ml) FROM mfinal""".stripMargin
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle.sql"),
          sql.getBytes("UTF-8"))
        val py =
          s"""import duckdb, sys
             |con = duckdb.connect()
             |con.execute("CREATE VIEW documents AS SELECT * FROM '$dir/documents.parquet/*.parquet'")
             |try:
             |    print(con.sql(open('$dir/oracle.sql').read()).fetchall())
             |except Exception as e:
             |    print('ERR', e); sys.exit(3)
             |""".stripMargin
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/run.py"),
          py.getBytes("UTF-8"))
        val sb = new StringBuilder
        val code = Seq("python3", s"$dir/run.py").!(ProcessLogger(sb.append(_)))
        (code, sb.toString)
      }
      val (okCode, okOut) = run(maxTypes = BpeTrainer.MaxOracleTypes)
      assert(okCode == 0, s"default valve must be silent on 7 types: $okOut")
      val (valveCode, valveOut) = run(maxTypes = 5)
      assert(valveCode == 3, s"valve must error past maxTypes: $valveOut")
      assert(valveOut.contains("BPE oracle valve"),
        s"valve error must carry the routing hint: $valveOut")
    } finally Fs.rmTree(dir)
  }
}
