package graft

import org.apache.spark.sql.functions._

import graft.queries.Joins
import graft.sources.Tables

/** q119 manual skew-split two-path join: the plan must genuinely
  * contain BOTH strategies (broadcast hot path + shuffle cold path),
  * and the rewrite must be semantically invisible vs the plain join.
  */
class SkewJoinSpec extends SparkSpec {

  test("q119: two-path plan holds a broadcast AND a shuffle join; result equals plain join") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val df = Joins.skewSplitJoined(spark, sfDir)
      df.collect() // materialize so the AQE final plan is available
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "hot path lost its broadcast join despite the explicit hint")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "cold path did not shuffle-join with broadcast disabled")

      val twoPath = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      val plain = Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      assert(twoPath == plain, "skew-split rewrite changed the join result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q119 frames built in two sessions on one context both read their own output") {
    val q119 = graft.queries.Joins.all.find(_.name.startsWith("q119_")).get
    val first = q119.fn(spark, sfDir)
    val other = siblingSession(_ => ())
    val second = q119.fn(other, sfDir).collect().map(_.toString).toSeq
    assert(first.collect().map(_.toString).toSeq == second)
  }
}
