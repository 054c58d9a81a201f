package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{RankFilterToTopK, TopKPerGroupStrategy}
import graft.sources.Tables

/** The RankFilterToTopK optimizer rule: the window-rank-filter idiom
  * must come out planned as TopKPerGroupExec (no WindowExec, no
  * partition sort of the input) with identical results, and the rule
  * must refuse patterns it cannot prove invisible.
  */
class RuleRewriteSpec extends SparkSpec {

  private def idiom(k: Int) = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, sfDir)
      .select("c_mktsegment", "c_custkey", "c_acctbal")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  private def withRule[A](body: => A): A = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.exists(_.isInstanceOf[TopKPerGroupStrategy]))
        exp.extraStrategies = exp.extraStrategies :+ new TopKPerGroupStrategy
      exp.extraOptimizations = exp.extraOptimizations :+ RankFilterToTopK
    }
    try body
    finally exp.synchronized {
      exp.extraOptimizations = exp.extraOptimizations.filterNot(_ eq RankFilterToTopK)
    }
  }

  test("idiom rewrites to TopKPerGroupExec with no Window/Sort, same result") {
    val plain = idiom(3).collect().map(_.toString).sorted.toSeq
    withRule {
      val df = idiom(3)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup ["), s"rule did not fire:\n$plan")
      assert(!plan.contains("Window ["), s"WindowExec survived the rewrite:\n$plan")
      assert(!plan.contains("Sort ["), s"partition sort survived the rewrite:\n$plan")
      val rewritten = df.collect().map(_.toString).sorted.toSeq
      assert(rewritten == plain, "rule changed the query result")
    }
  }

  test("rule refuses: rank column kept, non-row_number rank, rank() ties") {
    withRule {
      // Rank column still projected → no rewrite (the rank is consumed).
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val keep = Tables.customer(spark, sfDir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      keep.collect()
      assert(keep.queryExecution.executedPlan.toString.contains("Window ["),
        "rule must not fire when the rank column is in the output")
      // rank() (ties share ranks — different semantics) → no rewrite.
      val r = Tables.customer(spark, sfDir)
        .withColumn("rk", rank().over(w)).filter(col("rk") <= 3).drop("rk")
      r.collect()
      assert(r.queryExecution.executedPlan.toString.contains("Window ["),
        "rule must not fire for rank(), whose tie semantics differ")
    }
  }

  test("q120 frames built in two sessions on one context both read their own output") {
    val q120 = graft.queries.Relational.all.find(_.name.startsWith("q120")).get
    val first = q120.fn(spark, sfDir)
    val other = siblingSession(_ => ())
    val second = q120.fn(other, sfDir).collect().map(_.toString).toSeq
    assert(first.collect().map(_.toString).toSeq == second)
  }
}
