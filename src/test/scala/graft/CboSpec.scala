package graft

import graft.operators.Analyze
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** ANALYZE → catalog → CostBasedJoinReorder (operators.Analyze): with
  * stats in the catalog and CBO on, a join chain written in a bad order
  * is re-associated by cost — the join tree changes, the values do not.
  * Without stats (or with CBO off) the written order stands.
  */
class CboSpec extends SparkSpec {

  // the catalog tables of the join tree, left-to-right — exprId-free,
  // so two plan instances compare meaningfully
  private def tableOrder(plan: LogicalPlan): Seq[String] =
    plan.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.catalogTable.map(_.identifier.table).getOrElse("?")
    }

  test("ANALYZE'd stats let CostBasedJoinReorder re-associate a bad join order") {
    // bad written order: the two BIG tables join first, the tiny
    // filtered dim last — cost-based reorder should push the selective
    // dim into the first join
    def q: DataFrame = {
      val li = spark.table("graft_cbo_lineitem")
      val ord = spark.table("graft_cbo_orders")
      val cust = spark.table("graft_cbo_customer")
        .filter(col("c_mktsegment") === "BUILDING")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
    }
    Analyze.table(spark, "graft_cbo_lineitem", s"$sfDir/lineitem.parquet",
      Seq("l_orderkey", "l_quantity"))
    Analyze.table(spark, "graft_cbo_orders", s"$sfDir/orders.parquet",
      Seq("o_orderkey", "o_custkey"))
    Analyze.table(spark, "graft_cbo_customer", s"$sfDir/customer.parquet",
      Seq("c_custkey", "c_mktsegment"))
    try {
      Analyze.disableCbo(spark)
      val offOrder = tableOrder(q.queryExecution.optimizedPlan)
      Analyze.enableCbo(spark)
      val onOrder = tableOrder(q.queryExecution.optimizedPlan)
      info(s"cbo off: $offOrder / cbo on: $onOrder")
      assert(offOrder == Seq("graft_cbo_lineitem", "graft_cbo_orders",
        "graft_cbo_customer"),
        s"precondition lost: without CBO the written order should stand: $offOrder")
      assert(onOrder != offOrder,
        s"CBO produced the identical join order — stats not reaching the planner? $onOrder")
      // and the answer is unchanged by the reorder
      Analyze.disableCbo(spark)
      val a = q.collect().toSeq
      Analyze.enableCbo(spark)
      val b = q.collect().toSeq
      assert(a == b, "join reorder changed the result")
    } finally {
      Analyze.disableCbo(spark)
      Seq("graft_cbo_lineitem", "graft_cbo_orders", "graft_cbo_customer")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("stats land in the catalog: row counts and column ndv visible") {
    Analyze.table(spark, "graft_cbo_nation", s"$sfDir/nation.parquet",
      Seq("n_nationkey", "n_regionkey"))
    try {
      Analyze.enableCbo(spark) // rowCount surfaces in stats only under CBO
      val stats = spark.table("graft_cbo_nation")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)),
        s"ANALYZE row count missing/wrong: ${stats.rowCount}")
      val desc = spark.sql(
        "DESCRIBE EXTENDED graft_cbo_nation n_regionkey").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("distinct_count").exists(_.toLong >= 4),
        s"column ndv not in catalog: $desc")
    } finally {
      Analyze.disableCbo(spark)
      spark.sql("DROP TABLE IF EXISTS graft_cbo_nation")
    }
  }
}
