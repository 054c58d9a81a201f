package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical rule that runs a read over one file split as one stage. When
  * the input of a query is a single file that Spark's split planning reads
  * as one partition, the shuffle `EnsureRequirements` puts under its final
  * aggregate, its `ORDER BY` or its `TopKPerGroupExec` moves one
  * partition's rows into one partition: a map stage, an adaptive re-plan
  * and a result stage, for nothing. This rule replaces such a shuffle with
  * `CoalesceExec(1, child)`, so the read runs as one job.
  *
  * A `ShuffleExchangeExec` is replaced when
  *  - `EnsureRequirements` inserted it (user `repartition`,
  *    `DISTRIBUTE BY` and rebalance shuffles are kept);
  *  - it is on the plan's spine: it and every operator above it have one
  *    child and `SinglePartition` satisfies each one's required
  *    distribution, so no operator relies on its partitioning matching a
  *    sibling's (a sort-merge join's co-partitioned inputs keep theirs);
  *  - its child provably runs as one partition: through projections,
  *    filters, aggregates, local sorts, `TopKPerGroupExec`, earlier
  *    `CoalesceExec(1)`s and broadcast hash joins' streamed sides down to
  *    either a non-bucketed, unpartitioned file scan of exactly one file
  *    no larger than `FilePartition.maxSplitBytes` for its listing, or a
  *    materialized shuffle stage that adaptive execution's own coalescing
  *    (`CoalesceShufflePartitions` under `session`'s settings) reads as
  *    one partition.
  *
  * The second leaf is what a re-optimisation sees once a map stage has
  * run: the range shuffle of an `ORDER BY` over the tiny result of a
  * `GROUP BY` then costs a sampling job, a map stage and a re-plan, to
  * sort rows that are read as one partition anyway. With coalescing off,
  * or a stage it reads as several partitions, the shuffle stays.
  *
  * `CoalesceExec(1)` outputs `SinglePartition` whatever its input, so
  * under the spine condition a wrong guess in the last test costs
  * parallelism, never an answer; the work moved into one task is bounded
  * by one split or by one coalesced shuffle partition. `GraftExtensions`
  * installs the rule through `injectQueryStagePrepRule`, so it runs after
  * `EnsureRequirements` in adaptive planning, at the start and at every
  * re-optimisation; non-adaptive plans are not touched.
  */
case class ElideSingleSplitShuffles(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = elide(plan, onSpine = true)

  private def elide(p: SparkPlan, onSpine: Boolean): SparkPlan = {
    val childOnSpine = onSpine && p.children.size == 1 &&
      p.requiredChildDistribution.forall(SinglePartition.satisfies)
    p.mapChildren(elide(_, childOnSpine)) match {
      case s: ShuffleExchangeExec
          if onSpine && s.shuffleOrigin == ENSURE_REQUIREMENTS && oneSplit(s.child) =>
        CoalesceExec(1, s.child)
      case q => q
    }
  }

  private def oneSplit(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: TopKPerGroupExec =>
      oneSplit(p.children.head)
    case s: SortExec if !s.global => oneSplit(s.child)
    case CoalesceExec(1, child) => oneSplit(child)
    case j: BroadcastHashJoinExec => oneSplit(if (j.buildSide == BuildRight) j.left else j.right)
    case scan: FileSourceScanExec =>
      RowGroupBalancedSplits.singleFile(scan).exists { case (size, split) => size <= split }
    case stage: ShuffleQueryStageExec =>
      stage.isMaterialized &&
        CoalesceShufflePartitions(session)(stage).outputPartitioning.numPartitions == 1
    case _ => false
  }
}
