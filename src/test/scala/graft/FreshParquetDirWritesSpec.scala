package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, WriteTaskResult}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.SerializableConfiguration

import graft.plans.{FreshParquetDirWrite, StagedParquetDir}
import graft.queries.{Relational, SqlGateway}

object FreshParquetDirWritesSpec {
  /** Set by a task that saw `<dir>/_temporary` while it ran. */
  val sawTemporary = new AtomicBoolean
}

/** `FreshParquetDirWrites`: a parquet write into a new directory runs as
  * one job with no `_temporary` tree and leaves what Spark's own write
  * leaves, byte for byte; every other write runs Spark's command.
  *
  * `ext` is built with GraftExtensions; the shared session has no
  * extensions and is the reference for "as Spark writes it". A job took
  * the new path when its stages are named after the `runJob` call in
  * `FreshParquetDirWrites.scala` (Spark names a stage after the last Spark
  * method before the first non-Spark frame); Spark's own write, also when
  * the command falls back to it, is named after a Spark method.
  */
class FreshParquetDirWritesSpec extends SparkSpec {
  import FreshParquetDirWritesSpec.sawTemporary

  private lazy val ext: SparkSession = siblingSession(new GraftExtensions)

  private lazy val scratch: Path = Files.createTempDirectory("fresh-parquet-dir")
  private val dirs = new AtomicInteger
  private def newDir(tag: String): String = scratch.resolve(s"$tag-${dirs.incrementAndGet()}").toString

  /** What `body` did in `s`: the executed plans of its commands, its jobs,
    * and how many of those ran the new path. */
  private case class Observed(plans: Seq[SparkPlan], jobs: Int, staged: Int) {
    def commands: Seq[DataWritingCommandExec] =
      plans.flatMap(_.collect { case d: DataWritingCommandExec => d })
    def planned: Boolean = commands.exists(_.cmd.isInstanceOf[FreshParquetDirWrite])
  }

  private def observe(s: SparkSession)(body: => Unit): Observed = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    val key = "graft.test.fresh"
    val (jobs, staged) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == "on") {
          jobs.incrementAndGet()
          if (e.stageInfos.exists(_.name.startsWith("runJob at FreshParquetDirWrites.scala")))
            staged.incrementAndGet()
        }
    }
    val sc = s.sparkContext
    s.listenerManager.register(queries)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      s.listenerManager.unregister(queries)
    }
    Observed(plans.asScala.toSeq, jobs.get, staged.get)
  }

  private def entries(dir: String): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala.map(_.getFileName.toString).toSeq.sorted)

  private def visible(dir: String): Seq[String] =
    entries(dir).filterNot(n => n.startsWith("_") || n.startsWith("."))

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** `dir`'s entries with the job uuid blanked, each with its bytes. */
  private def contents(dir: String): Map[String, Seq[Byte]] =
    entries(dir).map(n => uuid.replaceAllIn(n, "<uuid>") ->
      Files.readAllBytes(Paths.get(dir, n)).toSeq).toMap

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `df`'s rows as JSON, so binary columns compare by value. */
  private def jsonRows(df: DataFrame): Seq[String] = rows(df.selectExpr("to_json(struct(*))"))

  /** A write made by `ext` into `ours` and by the shared session into `theirs`. */
  private case class Written(o: Observed, t: Observed, ours: String, theirs: String)

  /** `frame` written by `ext` and by the shared session into new
    * directories: `ext`'s write took the new path in one job, and both
    * directories hold the same entries and bytes, read back alike. */
  private def assertAsSpark(frame: SparkSession => DataFrame): Written = {
    val (ours, theirs) = (newDir("ours"), newDir("theirs"))
    val o = observe(ext)(frame(ext).write.parquet(ours))
    val t = observe(spark)(frame(spark).write.parquet(theirs))
    assert(o.planned && o.staged == 1 && o.jobs == 1, s"the write did not take the new path: $o")
    assert(!t.planned && t.staged == 0)
    val (a, b) = (contents(ours), contents(theirs))
    assert(a.keySet == b.keySet, s"listing differs: ${a.keySet} vs ${b.keySet}")
    a.keys.foreach(k => assert(a(k) == b(k), s"$k differs"))
    val (x, y) = (spark.read.parquet(ours), spark.read.parquet(theirs))
    assert(x.schema == y.schema && jsonRows(x) == jsonRows(y))
    Written(o, t, ours, theirs)
  }

  private val probe = udf { (dir: String) =>
    if (Files.exists(Paths.get(dir, "_temporary"))) sawTemporary.set(true)
    true
  }.asNondeterministic()

  test("the benchmark's mod-rewrite stage write takes the new path: one job, no _temporary") {
    val base = newDir("plane")
    spark.sql("SELECT id AS k, pmod(id * 7919, 1000003) AS v FROM range(1, 3001, 1, 1)").write.parquet(base)
    Seq(ext, spark).foreach(_.sql(
      "CREATE OR REPLACE TEMP VIEW fresh_wa_bal AS SELECT k, " +
        s"CASE WHEN k % 7 = 3 THEN (v * 5 + 11) % 1000003 ELSE v END AS v FROM parquet.`$base`"))
    assert(visible(assertAsSpark(_.table("fresh_wa_bal")).ours).size == 1)

    def sawTemporaryWriting(s: SparkSession): Boolean = {
      val dir = newDir("probe")
      sawTemporary.set(false)
      s.table("fresh_wa_bal").where(probe(lit(dir))).write.parquet(dir)
      assert(!entries(dir).contains("_temporary"))
      sawTemporary.get
    }
    assert(sawTemporaryWriting(spark), "the probe did not see Spark's _temporary")
    assert(!sawTemporaryWriting(ext), "a _temporary directory appeared on the new path")
  }

  private val typeMatrix =
    """SELECT id AS l, CAST(id AS INT) AS i, id * 1.5D AS d, CAST(id * 0.25 AS DECIMAL(12, 2)) AS dec,
      |  IF(id % 5 = 0, NULL, CONCAT('s', id)) AS s, CAST(CONCAT('b', id) AS BINARY) AS b,
      |  id % 2 = 0 AS bo, DATE_ADD(DATE '2020-01-01', CAST(id AS INT)) AS dt,
      |  TIMESTAMP_SECONDS(1600000000 + id * 3607) AS ts,
      |  CAST(TIMESTAMP_SECONDS(1600000000 + id * 3607) AS TIMESTAMP_NTZ) AS ntz,
      |  IF(id % 7 = 0, NULL, ARRAY(id, id + 1, NULL)) AS arr, MAP(CONCAT('k', id % 3), id) AS m,
      |  NAMED_STRUCT('a', id, 'b', IF(id % 4 = 0, NULL, CAST(id AS STRING))) AS st,
      |  IF(id % 3 = 0, NULL, id) AS n
      |FROM range(0, 700, 1, 1)""".stripMargin

  test("a type matrix writes Spark's bytes and listing, with AQE and planned writes on and off") {
    for (aqe <- Seq("true", "false"); planned <- Seq("true", "false"))
      withConf(Seq(ext, spark), "spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.optimizer.plannedWrite.enabled" -> planned) {
        assertAsSpark(_.sql(typeMatrix))
      }
  }

  test("a two-partition input writes two files, with Spark's write metrics") {
    val w = assertAsSpark(_.sql("SELECT id AS k, id * 3 AS v FROM range(0, 2000, 1, 2)"))
    assert(visible(w.ours).size == 2)
    def metrics(x: Observed) = x.commands.head.metrics.view.mapValues(_.value)
      .filter { case (k, _) => Set("numFiles", "numOutputBytes", "numOutputRows", "numParts")(k) }.toMap
    assert(metrics(w.o)("numFiles") == 2 && metrics(w.o)("numOutputRows") == 2000)
    assert(metrics(w.o) == metrics(w.t))
  }

  test("an empty result and a zero-partition plan each write one readable file with the schema") {
    val empty = (s: SparkSession) => s.sql("SELECT id AS k, CAST(id AS STRING) AS v FROM range(0, 10, 1, 3) WHERE id < 0")
    val zero = (s: SparkSession) => s.sql("SELECT 1L AS k, 'x' AS v WHERE false")
    assert(zero(spark).queryExecution.toRdd.partitions.isEmpty)
    for (frame <- Seq(empty, zero)) {
      val w = assertAsSpark(frame)
      assert(visible(w.ours).size == 1)
      val back = spark.read.parquet(w.ours)
      assert(back.count() == 0 && back.schema.fieldNames.toSeq == Seq("k", "v"))
    }
  }

  // --- writes Spark's own command runs ---

  /** `write` run in `ext` and in the shared session on copies of the same
    * existing directory: both fail alike, or both leave the same rows. */
  private def assertFallsBack(write: (DataFrame, String) => Unit): Unit = {
    val existing = newDir("existing")
    spark.sql("SELECT id AS k FROM range(0, 50, 1, 1)").write.parquet(existing)
    val (ours, theirs) = (newDir("ours"), newDir("theirs"))
    copyDir(Paths.get(existing), Paths.get(ours))
    copyDir(Paths.get(existing), Paths.get(theirs))
    def attempt(s: SparkSession, dir: String) = scala.util.Try(observe(s)(
      write(s.sql("SELECT id + 100 AS k FROM range(0, 30, 1, 1)"), dir)))
    (attempt(ext, ours), attempt(spark, theirs)) match {
      case (scala.util.Success(o), scala.util.Success(_)) =>
        assert(o.staged == 0, "a write into an existing directory took the new path")
        assert(rows(spark.read.parquet(ours)) == rows(spark.read.parquet(theirs)))
      case (scala.util.Failure(a: AnalysisException), scala.util.Failure(b: AnalysisException)) =>
        assert(a.getCondition == b.getCondition)
        assert(a.getMessage.replace(ours, "<dir>") == b.getMessage.replace(theirs, "<dir>"))
      case other => fail(s"the sessions disagree: $other")
    }
  }

  test("a write into an existing directory runs Spark's command in every save mode") {
    for (mode <- Seq(SaveMode.ErrorIfExists, SaveMode.Overwrite, SaveMode.Append, SaveMode.Ignore))
      assertFallsBack((df, dir) => df.write.mode(mode).parquet(dir))
  }

  test("partitionBy, bucketBy, maxRecordsPerFile, CSV and table appends run Spark's command; a new table's write does not") {
    val frame = (s: SparkSession) => s.sql("SELECT id AS k, id % 3 AS g FROM range(0, 300, 1, 1)")
    // (name, staged writes expected, unobserved set-up, observed write and
    // read-back). Each session reads back what it wrote: a sibling session
    // has its own catalog. A new table's CTAS writes its new location as a
    // path write without a catalog table.
    type Write = (DataFrame, String, String) => DataFrame
    val noSetUp: (SparkSession, String) => Unit = (_, _) => ()
    val cases: Seq[(String, Int, (SparkSession, String) => Unit, Write)] = Seq(
      ("partitionBy", 0, noSetUp, (df, dir, _) => { df.write.partitionBy("g").parquet(dir); spark.read.parquet(dir) }),
      ("maxRecordsPerFile", 0, noSetUp, (df, dir, _) => {
        df.write.option("maxRecordsPerFile", "100").parquet(dir); spark.read.parquet(dir) }),
      ("csv", 0, noSetUp, (df, dir, _) => { df.write.csv(dir); spark.read.schema("k LONG, g LONG").csv(dir) }),
      ("bucketBy", 0, noSetUp, (df, _, t) => { df.write.bucketBy(2, "k").saveAsTable(t); df.sparkSession.table(t) }),
      ("append", 0, (s, t) => frame(s).write.saveAsTable(t),
        (df, _, t) => { df.write.mode(SaveMode.Append).saveAsTable(t); df.sparkSession.table(t) }),
      ("newTable", 1, noSetUp, (df, _, t) => { df.write.saveAsTable(t); df.sparkSession.table(t) }))
    val run = scratch.getFileName.toString.replaceAll("[^A-Za-z0-9]", "")
    for ((name, staged, setUp, write) <- cases) {
      val tables = Seq("ours", "theirs").map(side => s"fresh_${name.toLowerCase}_${run}_$side")
      try {
        val (ours, theirs) = (newDir("ours"), newDir("theirs"))
        Seq(ext, spark).zip(tables).foreach { case (s, t) => setUp(s, t) }
        var back: Seq[String] = Nil
        val o = observe(ext) { back = rows(write(frame(ext), ours, tables.head)) }
        assert(o.planned == (staged > 0) && o.staged == staged, s"$name: $o")
        assert(back == rows(write(frame(spark), theirs, tables(1))), s"$name answers differently")
        if (Set("maxRecordsPerFile", "csv")(name))
          assert(visible(ours).size == visible(theirs).size, s"$name wrote another number of files")
      } finally Seq(ext, spark).zip(tables).foreach { case (s, t) => s.sql(s"DROP TABLE IF EXISTS $t") }
    }
  }

  // --- failures and retries ---

  test("a task that throws mid-write leaves no visible file, as Spark's own failed write does") {
    val boom = udf((k: Long) => if (k == 700) throw new IllegalStateException("boom") else k)
    def failing(s: SparkSession): String = {
      val dir = newDir("failed")
      val e = intercept[SparkException](
        s.range(0, 1000, 1, 1).select(boom(col("id")).as("k")).write.parquet(dir))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "boom"), e.toString)
      dir
    }
    val (ours, theirs) = (failing(ext), failing(spark))
    assert(visible(theirs).isEmpty)
    assert(entries(ours).isEmpty, s"the failed write left ${entries(ours)}")
  }

  /** Two attempts at partition 0 of a write into the new directory `dir`,
    * run in one task, the first one's file left behind as a lost executor
    * would leave it; `finish` then gets the write, its file system and
    * both attempts' results. */
  private def twoAttempts(dir: String)(finish: (StagedParquetDir, FileSystem, Seq[WriteTaskResult]) => Unit): Unit = {
    val schema = DataTypeUtils.toAttributes(ext.sql("SELECT 1L AS k").schema)
    val job = Job.getInstance(ext.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(ext, job, Map.empty, DataTypeUtils.fromAttributes(schema))
    val sc = ext.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(job.getConfiguration))
    val write = new StagedParquetDir(conf, factory, schema, dir, "0000000a-0000-0000-0000-00000000000b",
      "UTC", BasicWriteJobStatsTracker.metrics, "20261019000000")
    val fs = new HPath(dir).getFileSystem(job.getConfiguration)
    fs.mkdirs(new HPath(dir))
    try {
      val results = sc.parallelize(Seq(0), 1).mapPartitions { _ =>
        val first = write.attempt(0, 0, 1, Iterator.tabulate(5)(i => InternalRow(i.toLong)))
        val second = write.attempt(0, 0, 2, Iterator.tabulate(3)(i => InternalRow(100L + i)))
        Iterator(first, second)
      }.collect()
      assert(Seq(".1-part-00000-", ".2-part-00000-").forall(p => entries(dir).count(_.startsWith(p)) == 1),
        entries(dir))
      finish(write, fs, results.toSeq)
    } finally conf.destroy()
  }

  test("of two attempts at one partition, only the committed attempt's file becomes visible") {
    val dir = newDir("attempts")
    twoAttempts(dir)((write, fs, results) => write.commit(fs, Seq(results(1)), markSuccess = true))
    assert(visible(dir) == Seq("part-00000-0000000a-0000-0000-0000-00000000000b-c000.snappy.parquet"))
    assert(entries(dir).filter(_.startsWith(".")).forall(_.endsWith(".crc")))
    assert(rows(spark.read.parquet(dir)) == Seq("[100]", "[101]", "[102]"))
  }

  test("an abort after the job deletes every attempt's file") {
    val dir = newDir("aborted")
    twoAttempts(dir)((write, fs, _) => write.abort(fs))
    assert(entries(dir).isEmpty, entries(dir))
  }

  // --- the engine's own writes ---

  test("the SqlGateway pack and q120 answer as in the shared session, their fresh-directory writes on the new path") {
    val queries = SqlGateway.all ++ Relational.all.filter(_.name.startsWith("q120"))
    var staged = 0
    val diffs = queries.flatMap { q =>
      // Each run completes before the next builds its frame: some queries
      // rewrite a scratch table the other session's frame would read.
      var ours: Seq[String] = Nil
      staged += observe(ext) { ours = rows(q.fn(ext, sfDir)) }.staged
      if (ours == rows(q.fn(spark, sfDir))) None else Some(q.name)
    }
    info(s"$staged writes took the new path")
    assert(diffs.isEmpty, s"queries whose rows differ: $diffs")
    assert(staged >= 50, s"only $staged writes took the new path")
  }
}
