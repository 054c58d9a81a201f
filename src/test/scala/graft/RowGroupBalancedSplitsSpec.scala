package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

import graft.plans.{RowGroupBalancedScanExec, RowGroupBalancedSplits}
import graft.queries.SqlGateway
import graft.sources.ParquetFooters

/** `RowGroupBalancedSplits`: a scan of one parquet file that Spark cuts
  * into several splits keeps their number, but each task reads an equal
  * share of the rows, to within one row group; the answer is the one the
  * rule-free shared session gives, and every scan the rule must not touch
  * keeps Spark's cut.
  *
  * `balancing` has only the rule installed; `ext` is built with
  * GraftExtensions (the deployment the benchmark drives).
  */
class RowGroupBalancedSplitsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val balancing: SparkSession =
    siblingSession(_.injectQueryStagePrepRule(_ => RowGroupBalancedSplits))
  private lazy val ext: SparkSession = siblingSession(new GraftExtensions)

  private lazy val scratch: Path = Files.createTempDirectory("row-group-balanced-splits")

  private val rowsSql = "SELECT id AS k, pmod(id * 7919, 1000003) AS v, id % 10 AS g FROM range(0, 140000)"

  /** `rowsSql`'s rows written into a new directory by `write`, in `files` files. */
  private def writeDir(name: String, files: Int)(write: (DataFrameWriter[_], String) => Unit): String = {
    val dir = scratch.resolve(name).toString
    write(spark.sql(rowsSql).repartition(files).write.option("parquet.block.size", 256 * 1024), dir)
    dir
  }

  /** One parquet file of seven or more row groups. */
  private lazy val multiRowGroup: String = writeDir("one-file", 1)(_.parquet(_))

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")).toSeq

  private def rowGroupRows(dir: String): Seq[Long] =
    ParquetFooters.rowGroups(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(dataFiles(dir).head.toString)).map(_._2)

  /** A split size at which Spark cuts each of `dir`'s files into `k`
    * splits, the last half as long as the others. */
  private def splitBytes(dir: String, k: Int): String =
    (dataFiles(dir).map(_.length).max / (k - 0.5)).toLong.toString

  private def withSplits[T](dir: String, k: Int)(body: => T): T =
    withConf(Seq(balancing, spark, ext), "spark.sql.files.maxPartitionBytes" -> splitBytes(dir, k))(body)

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def balancedScans(df: DataFrame): Int =
    collect(plan(df)) { case b: RowGroupBalancedScanExec => b }.size

  /** The input partition count of each file scan of an executed frame. */
  private def scanPartitions(df: DataFrame): Seq[Int] =
    collect(plan(df)) { case s: FileSourceScanExec => s.inputRDD.getNumPartitions }

  /** A frame run in `s`: its rows and the rows each task that read input
    * read, in ascending order. */
  private def run(s: SparkSession, df: => DataFrame): (DataFrame, Seq[String], Seq[Long]) = {
    val key = "graft.test.scan"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val read = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == "on") e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.add(e.stageId -> e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    val (frame, rows) = try { val f = df; (f, f.collect().map(_.toString).toSeq.sorted) }
    finally {
      sc.setLocalProperty(key, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (frame, rows, read.asScala.collect { case (st, n) if stages.contains(st) && n > 0 => n }.toSeq.sorted)
  }

  private def grouped(s: SparkSession, dir: String): DataFrame =
    s.sql(s"SELECT g, count(*) AS n, sum(v) AS s FROM parquet.`$dir` GROUP BY g")

  test("the cut points leave each split an equal share of rows, to within one row group") {
    val lineitem = Seq.fill(6)(100000L) :+ 187L
    assert(RowGroupBalancedSplits.cuts(lineitem, 2) == Seq(0, 3, 7))
    assert(RowGroupBalancedSplits.cuts(Seq.fill(7)(10L), 3) == Seq(0, 2, 4, 7))
    assert(RowGroupBalancedSplits.cuts(Seq.fill(13)(10L), 3) == Seq(0, 4, 8, 13))
    assert(RowGroupBalancedSplits.cuts(Seq(1L, 1L, 1000L), 3) == Seq(0, 1, 2, 3))
    assert(RowGroupBalancedSplits.cuts(Seq(5L, 5L), 2) == Seq(0, 1, 2))
  }

  test("a two- and a three-split read of one file keep Spark's split count, read equal shares and answer as without the rule") {
    val groups = rowGroupRows(multiRowGroup)
    assert(dataFiles(multiRowGroup).size == 1 && groups.size >= 7, s"fixture: row groups $groups")
    Seq(2, 3).foreach { k =>
      withSplits(multiRowGroup, k) {
        val (ours, oursRows, oursRead) = run(balancing, grouped(balancing, multiRowGroup))
        val (theirs, theirsRows, theirsRead) = run(spark, grouped(spark, multiRowGroup))
        assert(balancedScans(ours) == 1, s"$k splits: no balanced scan in\n${plan(ours)}")
        assert(scanPartitions(ours) == Seq(k) && scanPartitions(theirs) == Seq(k),
          s"$k splits: partitions ${scanPartitions(ours)} against Spark's ${scanPartitions(theirs)}")
        assert(oursRead.size == k && oursRead.sum == groups.sum, s"$k splits: tasks read $oursRead")
        assert(oursRead.last - oursRead.head <= groups.max, s"$k splits: tasks read $oursRead")
        assert(theirsRead.last - theirsRead.head > groups.max,
          s"$k splits: Spark's own cut is already even ($theirsRead), so the fixture shows nothing")
        assert(oursRows == theirsRows, s"$k splits: answer differs")
      }
    }
  }

  test("through GraftExtensions a GROUP BY ... ORDER BY over a two-split file runs 2 jobs of 2 and 1 tasks, its scan tasks balanced") {
    val sql = s"SELECT g, count(*) AS n, sum(v) AS s FROM parquet.`$multiRowGroup` GROUP BY g ORDER BY g"
    withSplits(multiRowGroup, 2) {
      SqlGateway.sql(ext, sfDir, sql).collect()
      var df: DataFrame = null
      var read: Seq[Long] = Nil
      val jobs = jobsDuring(ext) { val r = run(ext, SqlGateway.sql(ext, sfDir, sql)); df = r._1; read = r._3 }
      assert(jobs == 2, s"$jobs jobs:\n${plan(df)}")
      assert(read.size == 2 && read.last - read.head <= rowGroupRows(multiRowGroup).max, s"tasks read $read")
      assert(df.collect().map(_.toString).toSeq == spark.sql(sql).collect().map(_.toString).toSeq)
    }
  }

  // --- scans the rule keeps as Spark cuts them ---

  /** `query` run in `balancing` and in the shared session: no balanced
    * scan, the same scan partition counts and the same rows. */
  private def assertUntouched(what: String)(query: SparkSession => DataFrame): Unit = {
    val (ours, oursRows, oursRead) = run(balancing, query(balancing))
    val (theirs, theirsRows, theirsRead) = run(spark, query(spark))
    assert(balancedScans(ours) == 0, s"$what: balanced scan in\n${plan(ours)}")
    assert(scanPartitions(ours) == scanPartitions(theirs), s"$what: partitions differ")
    assert(oursRead == theirsRead, s"$what: tasks read $oursRead against Spark's $theirsRead")
    assert(oursRows == theirsRows, s"$what: answer differs")
  }

  test("a file Spark reads as one split is left as it is") {
    assertUntouched("one split")(grouped(_, multiRowGroup))
  }

  test("a read over two files keeps Spark's cut") {
    val twoFiles = writeDir("two-files", 2)(_.parquet(_))
    assert(dataFiles(twoFiles).size == 2)
    withSplits(twoFiles, 2)(assertUntouched("two files")(grouped(_, twoFiles)))
  }

  test("a non-parquet file keeps Spark's cut") {
    val json = writeDir("json", 1)(_.json(_))
    withSplits(json, 2) {
      assertUntouched("json")(_.read.schema("k LONG, v LONG, g LONG").json(json)
        .groupBy("g").count())
    }
  }

  test("a scan reading _metadata file-block columns keeps Spark's cut") {
    withSplits(multiRowGroup, 2) {
      assertUntouched("_metadata")(_.read.parquet(multiRowGroup)
        .groupBy(col("_metadata.file_block_start"), col("_metadata.file_block_length")).count())
    }
  }

  test("a bucketed scan keeps Spark's cut") {
    // Sibling sessions keep their own catalogs: each declares the table
    // over the bucketed files the shared session writes.
    val table = "row_group_balanced_bucketed"
    val dir = scratch.resolve("bucketed").toString
    spark.sql(rowsSql).repartition(1).write.option("parquet.block.size", 256 * 1024)
      .bucketBy(1, "g").option("path", dir).saveAsTable(table)
    balancing.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, g BIGINT) USING parquet " +
      s"CLUSTERED BY (g) INTO 1 BUCKETS LOCATION '$dir'")
    try {
      withSplits(dir, 2) {
        val query = (s: SparkSession) => s.sql(s"SELECT g, count(*) AS n, sum(v) AS s FROM $table GROUP BY g")
        assert(collect(plan(query(balancing))) { case s: FileSourceScanExec => s.bucketedScan } == Seq(true))
        assertUntouched("bucketed")(query)
      }
    } finally Seq(balancing, spark).foreach(_.sql(s"DROP TABLE IF EXISTS $table"))
  }
}
