package graft

import org.apache.spark.sql.functions._

/** AQE skew-join handling — the AUTOMATIC half of the skew story
  * (q_join_skew_salted is the manual, deterministic half): with adaptive
  * execution on, a sort-merge join whose shuffle has one oversized
  * partition is re-planned at runtime into split-and-replicate subtasks,
  * marked `skew=true` in the final plan. The thresholds here are shrunk
  * so a test-sized hot key trips the same code path a 100 TB hot key
  * would; results must be identical either way.
  */
class AqeSkewSpec extends SparkSpec {

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join; result matches broadcast plan") {
    // 100k rows on one hot key + a spread tail, joined to a 100-key dim.
    // The payload is an incompressible hash that the aggregate keeps
    // alive: partition skew is judged on COMPRESSED shuffle bytes, and a
    // partition of nothing but the repeated hot key lz4-compresses to
    // under any realistic threshold (measured — skew never triggered).
    val fact = spark.range(0, 100000)
      .select((when(col("id") % 10 =!= 0, lit(7)).otherwise(col("id") % 100))
        .as("k"), xxhash64(col("id")).as("v"))
    val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 10).as("w"))
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the aggregate after the join wants hash-partitioning on k, which
      // the skew split breaks — without force, AQE declines to split
      // rather than add the extra exchange (the right default; forcing it
      // here exercises the split path deliberately)
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = fact.hint("merge").join(dim, "k")
        .groupBy("k").agg(count(lit(1)).as("cnt"), sum("w").as("sw"),
          sum(pmod(col("v"), lit(1000003))).as("sv"))
        .orderBy("k")
      val rows = joined.collect()
      // AQE finalizes the plan only on execution — read it AFTER collect
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$plan")
      // semantics unchanged vs the plain (broadcast) plan
      val expected = fact.join(broadcast(dim), "k")
        .groupBy("k").agg(count(lit(1)).as("cnt"), sum("w").as("sw"),
          sum(pmod(col("v"), lit(1000003))).as("sv"))
        .orderBy("k").collect()
      assert(rows.toSeq.map(_.toString) == expected.toSeq.map(_.toString))
    }
  }
}
