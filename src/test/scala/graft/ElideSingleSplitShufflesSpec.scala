package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec, ShuffleOrigin}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.plans.{CachedBroadcastExec, ElideSingleSplitShuffles}
import graft.queries.{Aggregates, Joins, Relational, Scalars, SqlGateway, Temporal, Windows}
import graft.sources.Tables

/** `ElideSingleSplitShuffles`: a read over one file split runs as one stage
  * (no shuffle, one job beyond its broadcasts), and every shuffle the rule
  * must not touch stays, answering as without the rule.
  *
  * `ext` is built with GraftExtensions (the deployment the benchmark
  * drives; its `` parquet.`<dir>` `` resolution runs no job, so job counts
  * are execution's); `eliding` has only the rule installed, so its plans
  * and answers are compared with the extension-free shared session and any
  * difference is the rule's.
  */
class ElideSingleSplitShufflesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val ext: SparkSession = siblingSession(new GraftExtensions)
  private lazy val eliding: SparkSession =
    siblingSession(_.injectQueryStagePrepRule(ElideSingleSplitShuffles(_)))

  private lazy val scratch: Path = Files.createTempDirectory("elide-single-split")

  /** `sql`'s rows written as parquet into a new directory, in `files` files. */
  private def writePlane(name: String, sql: String, files: Int): String = {
    val dir = scratch.resolve(name).toString
    spark.sql(sql).repartition(files).write.parquet(dir)
    dir
  }

  /** The benchmark's txn_churn planes, one file each. */
  private lazy val planes: (String, String) = (
    writePlane("bal", "SELECT id AS k, pmod(id * 7919, 1000003) AS v FROM range(1, 3001)", 1),
    writePlane("stock", "SELECT id AS k, pmod(id * 104729, 1000003) AS v FROM range(1, 2001)", 1))

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def shuffles(df: DataFrame): Seq[ShuffleOrigin] =
    collect(plan(df)) { case s: ShuffleExchangeExec => s.shuffleOrigin }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Run `query` in `eliding` and in the shared session; the rows agree.
    * Returns the executed eliding frame. */
  private def asShared(query: SparkSession => DataFrame): DataFrame = {
    val ours = query(eliding)
    assert(rows(ours) == rows(query(spark)), s"answer differs for: ${ours.queryExecution.logical}")
    ours
  }

  private def planeReads(bal: String, stock: String): Seq[(String, String)] = Seq(
    "mod" -> s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$bal` WHERE k % 7 = 3",
    "range" -> s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$stock` WHERE k BETWEEN 38 AND 537",
    "join" -> (s"SELECT count(*) AS n, sum(b.v + s.v) AS s FROM parquet.`$bal` b " +
      s"JOIN parquet.`$stock` s ON b.k = s.k WHERE b.k % 7 = 3"))

  /** The broadcast exchanges left in `df`'s executed plan: the broadcasts
    * that ran a job. */
  private def broadcasts(df: DataFrame): Int = collect(plan(df)) { case b: BroadcastExchangeExec => b }.size

  /** The broadcasts `df` took from `ReuseBroadcasts`' cache, without a job. */
  private def cachedBroadcasts(df: DataFrame): Int = collect(plan(df)) { case c: CachedBroadcastExec => c }.size

  /** `sql` run through the gateway in `ext` after one warm-up run: the
    * executed frame and the jobs it ran. In `ext` the warm-up run records
    * the broadcasts, which the measured run then takes from the cache. */
  private def measured(sql: String): (DataFrame, Int) = {
    SqlGateway.sql(ext, sfDir, sql).collect()
    var df: DataFrame = null
    val jobs = jobsDuring(ext) { df = SqlGateway.sql(ext, sfDir, sql); df.collect() }
    (df, jobs)
  }

  test("the plane mod, range and join reads run without a shuffle in 1, 1 and 2 jobs") {
    val (bal, stock) = planes
    val expected = Map("mod" -> 1, "range" -> 1, "join" -> 2)
    planeReads(bal, stock).foreach { case (kind, sql) =>
      val (df, jobs) = measured(sql)
      assert(shuffles(df).isEmpty, s"$kind read kept a shuffle:\n${plan(df)}")
      assert(collect(plan(df)) { case c: CoalesceExec => c }.nonEmpty, s"$kind read: no coalesce")
      assert(jobs == 1 + broadcasts(df), s"$kind read ran $jobs jobs for ${broadcasts(df)} broadcasts")
      assert(jobs + cachedBroadcasts(df) == expected(kind), s"$kind read ran $jobs jobs")
      assert(rows(df) == rows(spark.sql(sql)), s"$kind read answers differently")
    }
  }

  private val revenue = "SELECT n.n_name AS nation, count(*) AS n_orders, " +
    "sum(o.o_totalprice) AS revenue FROM orders o " +
    "JOIN customer c ON o.o_custkey = c.c_custkey " +
    "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
    "WHERE o.o_orderdate < TIMESTAMP '1996-06-15' GROUP BY n.n_name ORDER BY nation"

  test("a revenue-shaped star join with ORDER BY over single-file fixtures runs without a shuffle") {
    Tables.registerAll(spark, sfDir)
    val (df, jobs) = measured(revenue)
    assert(shuffles(df).isEmpty, s"revenue read kept a shuffle:\n${plan(df)}")
    assert(broadcasts(df) + cachedBroadcasts(df) == 2 && jobs == broadcasts(df) + 1,
      s"$jobs jobs for ${broadcasts(df)} broadcasts:\n${plan(df)}")
    assert(df.collect().map(_.toString).toSeq == spark.sql(revenue).collect().map(_.toString).toSeq)
  }

  // --- shuffles the rule keeps ---

  private def assertKept(df: DataFrame, origin: ShuffleOrigin): Unit =
    assert(shuffles(df).contains(origin), s"no $origin shuffle in:\n${plan(df)}")

  test("one file larger than the split size keeps its shuffle") {
    val (bal, _) = planes
    assert(new java.io.File(bal).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum > 4096)
    withConf(Seq(eliding, spark), "spark.sql.files.maxPartitionBytes" -> "4096",
        "spark.sql.files.openCostInBytes" -> "1024") {
      assertKept(asShared(_.sql(s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$bal` WHERE k % 7 = 3")),
        ENSURE_REQUIREMENTS)
    }
  }

  test("user repartition and DISTRIBUTE BY shuffles stay") {
    val (bal, _) = planes
    val byNum = asShared(_.read.parquet(bal).groupBy((org.apache.spark.sql.functions.col("k") % 5).as("g"))
      .count().repartition(3))
    assertKept(byNum, REPARTITION_BY_NUM)
    assert(byNum.rdd.getNumPartitions == 3)
    val under = asShared(_.read.parquet(bal).repartition(3).groupBy("v").count())
    assertKept(under, REPARTITION_BY_NUM)
    assertKept(under, ENSURE_REQUIREMENTS)
    Seq(eliding, spark).foreach(_.read.parquet(bal).createOrReplaceTempView("elide_bal"))
    assertKept(asShared(_.sql("SELECT k % 7 AS g, v FROM elide_bal DISTRIBUTE BY g")), REPARTITION_BY_COL)
  }

  private lazy val twoFiles: String =
    writePlane("two-files", "SELECT id AS k, id * 3 AS v FROM range(1, 3001)", 2)

  test("a read over two files keeps its shuffle") {
    assertKept(asShared(_.sql(s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$twoFiles` WHERE k % 7 = 3")),
      ENSURE_REQUIREMENTS)
  }

  // --- a range shuffle over a finished stage that coalescing reads as one partition ---

  /** Run `body` with a split size at which Spark cuts the one-file `bal` plane in two. */
  private def withTwoSplits[T](body: => T): T = {
    val size = new java.io.File(planes._1).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    withConf(Seq(eliding, spark), "spark.sql.files.maxPartitionBytes" -> (size * 2 / 3).toString)(body)
  }

  private def groupedOrdered(groups: Int): String =
    s"SELECT k % $groups AS g, count(*) AS n, sum(v) AS s FROM parquet.`${planes._1}` GROUP BY k % $groups ORDER BY g"

  private def rangeShuffles(df: DataFrame): Int =
    collect(plan(df)) { case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RangePartitioning] => s }.size

  /** `sql` run in `s`: the executed frame, its ordered rows and the jobs
    * its execution ran (analysis, which infers the plane's schema in a
    * job of its own here, comes first). */
  private def ordered(s: SparkSession, sql: String): (DataFrame, Seq[String], Int) = {
    val df = s.sql(sql)
    var rows: Seq[String] = Nil
    val jobs = jobsDuring(s) { rows = df.collect().map(_.toString).toSeq }
    (df, rows, jobs)
  }

  test("a GROUP BY ... ORDER BY over a two-split file runs 2 jobs instead of 4, with the same ordered rows") {
    withTwoSplits {
      val (ours, oursRows, oursJobs) = ordered(eliding, groupedOrdered(7))
      val (theirs, theirsRows, theirsJobs) = ordered(spark, groupedOrdered(7))
      assert(rangeShuffles(ours) == 0 && rangeShuffles(theirs) == 1, s"range shuffle kept:\n${plan(ours)}")
      assert(shuffles(ours) == Seq(ENSURE_REQUIREMENTS), s"the aggregate's shuffle is gone:\n${plan(ours)}")
      assert(oursJobs == 2 && theirsJobs == 4, s"$oursJobs jobs against Spark's $theirsJobs")
      assert(oursRows == theirsRows && oursRows.size == 7)
    }
  }

  test("with partition coalescing off, or a stage it reads as several partitions, the range shuffle stays") {
    withTwoSplits {
      Seq(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1").foreach { kv =>
        withConf(Seq(eliding, spark), kv) {
          val (ours, oursRows, _) = ordered(eliding, groupedOrdered(500))
          assert(rangeShuffles(ours) == 1, s"$kv: range shuffle elided:\n${plan(ours)}")
          assert(oursRows == ordered(spark, groupedOrdered(500))._2, s"$kv: answer differs")
        }
      }
    }
  }

  test("with adaptive execution off a GROUP BY ... ORDER BY over a two-split file plans as in the rule-free session") {
    withTwoSplits {
      withConf(Seq(eliding, spark), "spark.sql.adaptive.enabled" -> "false") {
        val ours = asShared(_.sql(groupedOrdered(7)))
        assert(rangeShuffles(ours) == 1)
        assert(normalized(ours) == normalized(spark.sql(groupedOrdered(7))))
      }
    }
  }

  test("a sort-merge join of aggregated single-file inputs keeps its co-partitioning shuffles, also beside a two-file input") {
    val (bal, stock) = planes
    // Right sides: a single file, then two files; with partition
    // coalescing off, a shuffle elided on one side only would leave the
    // join zipping one partition with several.
    Seq(stock, twoFiles).foreach { right =>
      Seq(eliding, spark).foreach { s =>
        s.read.parquet(bal).createOrReplaceTempView("elide_bal")
        s.read.parquet(right).createOrReplaceTempView("elide_right")
      }
      withConf(Seq(eliding, spark), "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val df = asShared(_.sql(
          "WITH a AS (SELECT k % 50 AS g, count(*) AS n, sum(v) AS s FROM elide_bal GROUP BY k % 50), " +
            "b AS (SELECT k % 50 AS g, count(*) AS n, sum(v) AS s FROM elide_right GROUP BY k % 50) " +
            "SELECT a.g, a.n + b.n AS n, a.s - b.s AS d FROM a JOIN b ON a.g = b.g"))
        assert(collect(plan(df)) { case j: SortMergeJoinExec => j }.nonEmpty, s"no sort-merge join:\n${plan(df)}")
        assert(shuffles(df).count(_ == ENSURE_REQUIREMENTS) == 2, s"co-partitioning lost:\n${plan(df)}")
      }
    }
  }

  private def normalized(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("with adaptive execution off the plans are as in the rule-free session") {
    val (bal, stock) = planes
    Tables.registerAll(eliding, sfDir)
    Tables.registerAll(spark, sfDir)
    withConf(Seq(eliding, spark), "spark.sql.adaptive.enabled" -> "false") {
      (revenue +: planeReads(bal, stock).map(_._2)).foreach { q =>
        val ours = asShared(_.sql(q))
        assert(shuffles(ours).nonEmpty, s"no shuffle without adaptive execution: $q")
        assert(normalized(ours) == normalized(spark.sql(q)), s"explain differs for: $q")
      }
    }
  }

  // --- the engine's query packs ---

  test("every Relational, Joins, Aggregates, Windows, Scalars, Temporal and SqlGateway query answers as without the rule") {
    val packs = Seq(Relational, Joins, Aggregates, Windows, Scalars, Temporal, SqlGateway)
    var elided = 0
    val diffs = packs.flatMap(_.all).flatMap { q =>
      // Each run completes before the next builds its frame: some queries
      // rewrite a scratch table the other session's frame would read.
      def run(s: SparkSession) = { val df = q.fn(s, sfDir); (rows(df), shuffles(df).size) }
      val (ours, theirs) = (run(eliding), run(spark))
      if (ours._2 < theirs._2) elided += 1
      if (ours._1 == theirs._1) None else Some(q.name)
    }
    info(s"the rule removed a shuffle in $elided queries")
    assert(diffs.isEmpty, s"queries whose rows differ with the rule: $diffs")
    assert(elided >= 40, s"the rule removed a shuffle in only $elided queries")
  }
}
