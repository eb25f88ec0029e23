package graftbench

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The relational workload: passes over registry queries
  * (`SparkEntry.queries`). Every call materializes its whole result with
  * `collect()`; the result is fingerprinted outside the timed window. */
object Registry {
  val relational: Seq[String] = Seq(
    "q_agg_pricing_summary", "q_join_inner_equi", "q_win_rank_topn",
    "q_evt_tumbling_hourly", "q_sim_cosine_topk", "q_agg_distinct_daily",
    "q_evt_funnel", "q_evt_rfm", "q_tpch_q3", "q_tpch_q5", "q_tpch_q18",
    "q_tpch_q21", "q_quantile_weighted", "q_agg_routed_rollup",
    "s_topk_custom_plan", "s_hybrid_store_rrf")
  val hybrid = "s_hybrid_store_rrf"

  /** Order-sensitive fingerprint: row count plus a hash of every cell. */
  def fingerprint(rows: Array[Row]): String =
    f"${rows.length}:${MurmurHash3.orderedHash(rows.iterator.map(_.toString))}%08x"

  final case class Call(name: String, seconds: Double, fingerprint: String,
                        error: String)

  /** First pass, then the timed window, then the references of the
    * store probe; inputs under `dir`. */
  def workload(run: Run, dir: String, out: String, seconds: Double): Map[String, Any] = {
    val first = firstPass(run, dir, s"$out/results")
    val calls = window(run, dir, seconds)
    bm25Reference(run, dir, s"$out/results/_bm25_ref")
    val oracle = graft.SparkEntry.oracleSql
    Map(
      "setup_once_s" -> first.map(_.seconds).filterNot(_.isNaN).sum,
      "first" -> json(first),
      "calls" -> json(calls),
      "oracle" -> relational.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "vector_ref_sql" -> oracle("q_hybrid_rrf"))
  }

  /** Time one call; returns it with the collected rows and their schema
    * (nulls when the call threw). */
  private def call(run: Run, group: String, name: String,
                   dir: String): (Call, Array[Row], StructType) = {
    val fn = graft.SparkEntry.queries(name)
    try {
      val ((rows, schema), s) = run.op(group, "queries") {
        val df = fn(run.spark, dir)
        (df.collect(), df.schema)
      }
      (Call(name, s, fingerprint(rows), null), rows, schema)
    } catch {
      case e: Throwable => (Call(name, Double.NaN, null, Run.describe(e)), null, null)
    } finally graft.Blocks.dropAll(run.spark)
  }

  /** The untimed first pass: warms the JVM and yields the reference
    * fingerprints. Results of queries with an oracle, and of the store
    * probe, are written as parquet under `dumpDir` for the checks. */
  private def firstPass(run: Run, dir: String, dumpDir: String): Seq[Call] = {
    val oracle = graft.SparkEntry.oracleSql
    relational.map { name =>
      val (c, rows, schema) = call(run, s"relational:first:$name", name, dir)
      if (rows != null && (oracle.contains(name) || name == hybrid))
        run.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dumpDir/$name")
      c
    }
  }

  /** The store probe's keyword arm must equal the exhaustive BM25
    * ordering over the same index with the probe doc dropped: written as
    * (doc_id, kw_rank) for the check. The index is the one the probe
    * searched (`Fixtures.store` keeps it per input directory). */
  private def bm25Reference(run: Run, dir: String, path: String): Unit = {
    import graft.operators.InvertedIndex
    val docs = graft.Tables.t(run.spark, dir, "documents")
    val (idx, _) = graft.queries.Fixtures.store("invidx", dir) { fx =>
      InvertedIndex.write(InvertedIndex.build(docs), fx)
      Map.empty
    }
    val qt = docs.filter(col("doc_id") === 0)
      .select(slice(split(col("text"), " "), 1, 5).as("t"))
      .head().getSeq[String](0).distinct
    val top = InvertedIndex.searchBm25(run.spark, idx, qt)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0))
    import run.spark.implicits._
    top.zipWithIndex.map { case (d, i) => (d, i + 1L) }.toSeq
      .toDF("doc_id", "kw_rank").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Cycle through the queries until `seconds` have passed and every
    * query ran at least once. */
  private def window(run: Run, dir: String, seconds: Double): Seq[Call] = {
    val n = relational.size
    val out = Seq.newBuilder[Call]
    val t0 = System.nanoTime()
    var i = 0
    while (i < n || (System.nanoTime() - t0) / 1e9 < seconds) {
      val name = relational(i % n)
      out += call(run, s"relational:$name#${i / n}", name, dir)._1
      i += 1
    }
    out.result()
  }

  private def json(calls: Seq[Call]): Seq[Map[String, Any]] = calls.map(c =>
    Map("name" -> c.name, "s" -> c.seconds, "fp" -> c.fingerprint, "error" -> c.error))
}
