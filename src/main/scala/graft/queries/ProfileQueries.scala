package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Dataset profiling — the ANALYZE-style passes an engine (and its
  * operators' own planning decisions) read before touching 100 TB:
  * per-column statistics and join-key skew diagnostics. Both are exact
  * and oracle-checked; both reduce the table to stats-sized output in
  * one scan + dim-bounded aggregates.
  */
object ProfileQueries extends QueryPack {

  val queries: Map[String, Fn] = Map(
    // ---- per-column profile of lineitem's numeric measures ----
    // count / nulls / ndv / min / max / mean per column, one row per
    // column via a stack unpivot so ONE scan feeds every column's
    // aggregate (the ANALYZE TABLE shape). Mean is a decimal-exact sum
    // over count, rounded once.
    "q_profile_stats" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val stacked = Tables.t(s, dir, "lineitem")
        .select(expr(s"stack(${cols.size}, " +
          cols.map(c => s"'$c', $c").mkString(", ") +
          ") AS (column_name, x)"))
      stacked.groupBy("column_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("x").isNull, 1).otherwise(0)).cast("long").as("n_null"),
          countDistinct(col("x")).as("ndv"),
          round(min("x"), 6).as("min_value"),
          round(max("x"), 6).as("max_value"),
          // mean via exact micro-units: decimal-exact ×1e6 → BIGINT sum,
          // then ONE double division chain (bit-identical cross-engine;
          // decimal division scales differ between engines at the 6th dp)
          round(sum((col("x").cast("decimal(18,6)") * 1000000).cast("long"))
            .cast("double") / count(col("x")) / 1e6, 6).as("mean_value"))
        .orderBy("column_name")
    }),

    // ---- join-key skew diagnostic over lineitem.l_suppkey ----
    // the report you read BEFORE choosing a salted join: rows per key
    // reduce first (map-side combine), then one stats aggregate plus the
    // top-5 heaviest keys, unioned into a single (metric, value) table.
    // skew_ratio = max/mean over key weights — the number that says
    // whether AQE skew-join or salting is needed.
    "q_profile_skew" -> ((s, dir) => {
      val perKey = Tables.t(s, dir, "lineitem")
        .groupBy("l_suppkey").agg(count(lit(1)).as("c"))
      // global top-5 without a global window (r13 uwin ban): orderBy +
      // limit fuses to TakeOrderedAndProject, then the ≤5 checkpointed
      // survivors rank as 1 + strictly-better broadcast self-count — ≡
      // row_number under the total (c desc, key) order (the r12
      // hybrid-store pattern)
      val top5 = perKey.orderBy(col("c").desc, col("l_suppkey")).limit(5)
        .localCheckpoint()
      val top = top5.alias("a")
        .join(broadcast(top5.alias("b")),
          col("b.c") > col("a.c") ||
            (col("b.c") === col("a.c") &&
              col("b.l_suppkey") < col("a.l_suppkey")), "left")
        .groupBy(col("a.l_suppkey"), col("a.c").as("c"))
        .agg((count(col("b.l_suppkey")) + 1).as("rn"))
        .select(concat(lit("top"), col("rn"), lit("_key_rows")).as("metric"),
          col("c").cast("double").as("value"))
      val stats = perKey.agg(
        count(lit(1)).cast("double").as("n_keys"),
        sum("c").cast("double").as("n_rows"),
        max("c").cast("double").as("max_key_rows"),
        round(avg(col("c").cast("double")), 6).as("mean_key_rows"),
        round(max("c") / avg(col("c").cast("double")), 6).as("skew_ratio"))
      val longStats = stats.select(
        expr("stack(5, 'n_keys', n_keys, 'n_rows', n_rows, " +
          "'max_key_rows', max_key_rows, 'mean_key_rows', mean_key_rows, " +
          "'skew_ratio', skew_ratio) AS (metric, value)"))
      longStats.unionByName(top).orderBy("metric")
    }),

    // ---- Dataset.observe in-flight metrics (operators.Observed) ----
    // quality counters collected DURING a pass (accumulator-backed, no
    // second scan) — then hash-checked against DuckDB's ground-truth
    // aggregate, proving the in-flight numbers equal a dedicated pass.
    "q_profile_observe" -> ((s, dir) => {
      val (instrumented, obs) = graft.operators.Observed.withQualityMetrics(
        Tables.events(s, dir).select(col("value")), "value")
      instrumented.count() // the pipeline action the metrics ride on
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("n_nonnull").asInstanceOf[Long],
        m("n_negative").asInstanceOf[Long], m("max_value").asInstanceOf[Double]))
        .toDF("n_rows", "n_nonnull", "n_negative", "max_value")
    }),

    // ---- sketch-based join-size estimation (CMS inner product) ----
    // the join-planning primitive at warehouse scale: |A ⋈ B| from two
    // 256 KiB Count-Min sketches over the join key — no row of either
    // table is touched once the sketches exist (and they persist via
    // SketchStore, so tomorrow's planner reads yesterday's sketches).
    // One-sided like the point estimate: overestimate >= 0 always, and
    // the output carries exact vs estimate so the error is visible.
    // CountMinSpec pins the bound and the scala/column-form agreement.
    "s_profile_joinsize" -> ((s, dir) => {
      import graft.operators.CountMinSketch
      val (d, w) = (4, 8192) // 256 KiB — error ∝ NaNb/w, so width is cheap
      val a = Tables.events(s, dir).select(col("user_id").as("k"))
      val b = Tables.t(s, dir, "orders").select(col("o_custkey").as("k"))
      val est = a.agg(CountMinSketch.sketchAgg(col("k"), d, w).as("ska"))
        .crossJoin(b.agg(CountMinSketch.sketchAgg(col("k"), d, w).as("skb")))
        .select(CountMinSketch.joinSizeEstimateCol(col("ska"), col("skb"), d, w)
          .as("est_rows"))
      a.join(b, "k").agg(count(lit(1)).as("exact_rows"))
        .crossJoin(est)
        .select(col("exact_rows"), col("est_rows"),
          (col("est_rows") - col("exact_rows")).as("overestimate"))
    }),

    // ANALYZE → catalog (operators.Analyze): the real `ANALYZE TABLE …
    // FOR COLUMNS` runs against the nation parquet and the emitted
    // metrics come BACK OUT of the catalog (DESCRIBE EXTENDED), where
    // CostBasedJoinReorder reads them — hash-proving the stats pipeline
    // end to end (ndv is HLL++-based but exact at dim cardinalities;
    // CboSpec proves the join-reorder consumption separately).
    "q_profile_analyze" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Analyze.table(s, "graft_stats_nation",
        s"$dir/nation.parquet", Seq("n_nationkey", "n_regionkey"))
      val rows = Seq("n_nationkey", "n_regionkey").map { c =>
        val kv = s.sql(s"DESCRIBE EXTENDED graft_stats_nation $c").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        (c, kv("distinct_count").toLong, kv("min").toLong,
          kv("max").toLong, kv("num_nulls").toLong)
      }
      s.sql("DROP TABLE IF EXISTS graft_stats_nation")
      rows.toDF("col_name", "distinct_count", "min_val", "max_val", "num_nulls")
        .orderBy("col_name")
    })
  )

  val oracle: Map[String, String] = Map(
    // catalog stats must equal direct recomputation over the table
    "q_profile_analyze" ->
      """SELECT 'n_nationkey' AS col_name,
        |  CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS distinct_count,
        |  CAST(MIN(n_nationkey) AS BIGINT) AS min_val,
        |  CAST(MAX(n_nationkey) AS BIGINT) AS max_val,
        |  CAST(SUM(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS num_nulls
        |FROM nation
        |UNION ALL
        |SELECT 'n_regionkey',
        |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT),
        |  CAST(MIN(n_regionkey) AS BIGINT),
        |  CAST(MAX(n_regionkey) AS BIGINT),
        |  CAST(SUM(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM nation
        |ORDER BY col_name""".stripMargin,

    "q_profile_observe" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(value) AS BIGINT) AS n_nonnull,
        |  CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        |  MAX(value) AS max_value
        |FROM events""".stripMargin,

    "q_profile_stats" ->
      """WITH u AS (
        |  SELECT 'l_quantity' AS column_name, l_quantity AS x FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  COUNT(DISTINCT x) AS ndv,
        |  ROUND(MIN(x), 6) AS min_value,
        |  ROUND(MAX(x), 6) AS max_value,
        |  ROUND(CAST(SUM(CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT))
        |        AS DOUBLE) / COUNT(x) / 1e6, 6) AS mean_value
        |FROM u GROUP BY column_name ORDER BY column_name""".stripMargin,

    "q_profile_skew" ->
      """WITH pk AS (SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY 1),
        |top AS (SELECT 'top' || rn || '_key_rows' AS metric,
        |          CAST(c AS DOUBLE) AS value
        |        FROM (SELECT c, row_number() OVER (ORDER BY c DESC, l_suppkey) AS rn
        |              FROM pk) t
        |        WHERE rn <= 5),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_keys,
        |         CAST(SUM(c) AS DOUBLE) AS n_rows,
        |         CAST(MAX(c) AS DOUBLE) AS max_key_rows,
        |         ROUND(AVG(CAST(c AS DOUBLE)), 6) AS mean_key_rows,
        |         ROUND(MAX(c) / AVG(CAST(c AS DOUBLE)), 6) AS skew_ratio
        |       FROM pk),
        |ls AS (SELECT 'n_keys' AS metric, n_keys AS value FROM st
        |       UNION ALL SELECT 'n_rows', n_rows FROM st
        |       UNION ALL SELECT 'max_key_rows', max_key_rows FROM st
        |       UNION ALL SELECT 'mean_key_rows', mean_key_rows FROM st
        |       UNION ALL SELECT 'skew_ratio', skew_ratio FROM st)
        |SELECT metric, value FROM ls
        |UNION ALL SELECT metric, value FROM top
        |ORDER BY metric""".stripMargin
  )
}
