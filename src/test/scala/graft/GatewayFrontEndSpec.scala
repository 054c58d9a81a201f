package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.queries.SqlGateway
import graft.sources.Tables

/** The SQL front end's fixed per-command costs: fixture views registered
  * once per (session, dir), and `` parquet.`<dir>` `` resolved from one
  * driver-side footer (GraftExtensions) with no Spark job, answering
  * exactly as Spark's own resolution does.
  *
  * The shared session has no extensions, so a sibling session with
  * GraftExtensions is built on the shared SparkContext (the ExtensionsSpec
  * pattern); the shared session stays the reference for "as Spark
  * resolves it".
  */
class GatewayFrontEndSpec extends SparkSpec {

  private val fixtureViews = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  private lazy val ext: SparkSession = {
    val shared = spark
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne shared, "expected a fresh session honoring withExtensions")
      s
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def rawViews(s: SparkSession): Seq[AnyRef] =
    fixtureViews.map(v => s.sessionState.catalog.getRawTempView(v).orNull)

  private lazy val scratch: Path = Files.createTempDirectory("gateway-front-end")

  /** A fresh directory under the suite's scratch root. */
  private def newDir(name: String): String = scratch.resolve(name).toString

  /** Write `sql`'s rows as parquet into `dir`, one file. */
  private def writeDir(dir: String, sql: String, mode: String = "errorifexists"): Unit =
    spark.sql(sql).coalesce(1).write.mode(mode).parquet(dir)

  private def dataFiles(dir: String): Seq[Path] =
    scala.util.Using.resource(Files.list(java.nio.file.Paths.get(dir)))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The query against `` parquet.`<dir>` `` answers as Spark's own
    * resolution (the extension-free shared session) does. */
  private def assertAsSpark(sql: String): DataFrame = {
    val ours = ext.sql(sql)
    val theirs = spark.sql(sql)
    assert(ours.schema == theirs.schema, s"schema differs for: $sql")
    assert(rows(ours) == rows(theirs), s"answer differs for: $sql")
    ours
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    Seq(ext, spark).foreach(_.conf.set(key, value))
    try body finally Seq(ext, spark).foreach(_.conf.unset(key))
  }

  /** Spark jobs launched by `body` on this thread, counted once the
    * listener bus has drained. */
  private def jobsDuring(body: => Unit): Int = {
    val key = "graft.test.frontend"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == "on") jobs.incrementAndGet()
    }
    val sc = ext.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("fixture views are registered once: the raw view objects survive a second command") {
    SqlGateway.sql(ext, sfDir, "SELECT 1").collect()
    val first = rawViews(ext)
    assert(first.forall(_ != null))
    SqlGateway.sql(ext, sfDir, "SELECT count(*) FROM nation").collect()
    rawViews(ext).zip(first).zip(fixtureViews).foreach { case ((now, before), name) =>
      assert(now eq before, s"$name was re-registered by a second command")
    }
  }

  test("a fixture view a command replaced or dropped is restored on the next command") {
    SqlGateway.sql(ext, sfDir, "SELECT 1").collect()
    val before = rawViews(ext)
    ext.sql("CREATE OR REPLACE TEMP VIEW orders AS SELECT 1 AS x")
    ext.catalog.dropTempView("nation")
    val n = SqlGateway.sql(ext, sfDir,
      "SELECT (SELECT count(*) FROM orders), (SELECT count(*) FROM nation)").head
    assert(n.getLong(0) == Tables.orders(ext, sfDir).count())
    assert(n.getLong(1) == Tables.nation(ext, sfDir).count())
    rawViews(ext).zip(before).zip(fixtureViews).foreach { case ((now, was), name) =>
      if (name == "orders" || name == "nation") assert(now ne was, s"$name was not restored")
      else assert(now eq was, s"$name was re-registered though nothing touched it")
    }
  }

  test("Tables.invalidate forces re-registration of every fixture view") {
    SqlGateway.sql(ext, sfDir, "SELECT 1").collect()
    val before = rawViews(ext)
    Tables.invalidate(ext)
    SqlGateway.sql(ext, sfDir, "SELECT 1").collect()
    rawViews(ext).zip(before).zip(fixtureViews).foreach { case ((now, was), name) =>
      assert(now ne was, s"$name survived Tables.invalidate")
    }
  }

  test("analysing parquet.`<dir>` launches no Spark job") {
    val dir = newDir("nojob")
    writeDir(dir, "SELECT id AS k, id * 3 AS v FROM range(100)")
    val sql = s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$dir` WHERE k % 7 = 3"
    var analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = null
    val jobs = jobsDuring { analyzed = ext.sql(sql).queryExecution.analyzed }
    assert(jobs == 0, s"analysis launched $jobs Spark job(s)")
    assert(analyzed.collectFirst { case r: LogicalRelation => r }.isDefined)
    assertAsSpark(sql)
  }

  test("schema and answer equal Spark's resolution: plain directory") {
    val dir = newDir("plain")
    writeDir(dir, "SELECT id AS k, CAST(id AS STRING) AS s, id * 0.5D AS d FROM range(50)")
    assertAsSpark(s"SELECT * FROM parquet.`$dir`")
  }

  test("schema and answer equal Spark's resolution: several files, _SUCCESS and .crc files") {
    // Different schemas, so the footer choice shows: Spark reads the first
    // data file by path (a.parquet), not the newest or the widest.
    val a = newDir("multi-a")
    val b = newDir("multi-b")
    writeDir(a, "SELECT id AS k, id AS v FROM range(10)")
    writeDir(b, "SELECT id AS k, id AS v, id * 2 AS extra FROM range(10, 30)")
    val dir = Files.createDirectories(scratch.resolve("multi"))
    Files.copy(dataFiles(a).head, dir.resolve("a.parquet"))
    Files.copy(dataFiles(b).head, dir.resolve("b.parquet"))
    Files.createFile(dir.resolve("_SUCCESS"))
    val crc = dataFiles(a).head.resolveSibling(s".${dataFiles(a).head.getFileName}.crc")
    Files.copy(crc, dir.resolve(".a.parquet.crc"))
    val df = assertAsSpark(s"SELECT * FROM parquet.`$dir`")
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.count() == 30)
  }

  test("schema and answer equal Spark's resolution: directory with _common_metadata") {
    val data = newDir("summary-data")
    val wide = newDir("summary-wide")
    writeDir(data, "SELECT id AS k, id AS v FROM range(20)")
    writeDir(wide, "SELECT id AS k, id AS v, 'x' AS note FROM range(1)")
    val dir = Files.createDirectories(scratch.resolve("summary"))
    Files.copy(dataFiles(data).head, dir.resolve("part-0.parquet"))
    Files.copy(dataFiles(wide).head, dir.resolve("_common_metadata"))
    val df = assertAsSpark(s"SELECT * FROM parquet.`$dir`")
    assert(df.columns.toSeq == Seq("k", "v", "note"), "the summary file's schema must win")
  }

  test("a TIMESTAMP(NANOS) footer throws in the footer helper as Spark's inference does") {
    // Spark cannot write TIMESTAMP(NANOS); parquet's example writer can.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val dir = Files.createDirectories(scratch.resolve("nanos"))
    val file = dir.resolve("part-0.parquet")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema)
      .build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704067200000000000L))
    finally writer.close()
    Seq(file.toString, dir.toString).foreach { path =>
      intercept[AnalysisException](graft.sources.ParquetFooters.schemaOf(spark, path))
      intercept[Exception](spark.read.parquet(path).schema)
    }
  }

  test("a deleted directory fails with Spark's error, naming the path") {
    val dir = newDir("deleted")
    writeDir(dir, "SELECT id AS k FROM range(5)")
    assert(ext.sql(s"SELECT count(*) FROM parquet.`$dir`").head.getLong(0) == 5)
    graft.queries.LlmPipeline.deleteRecursively(java.nio.file.Paths.get(dir))
    val sql = s"SELECT count(*) FROM parquet.`$dir`"
    val ours = intercept[AnalysisException](ext.sql(sql))
    val theirs = intercept[AnalysisException](spark.sql(sql))
    assert(ours.getMessage.contains(dir), ours.getMessage)
    assert(ours.getCondition == theirs.getCondition)
  }

  test("a directory overwritten with a new schema is read with the new schema") {
    val dir = newDir("overwritten")
    writeDir(dir, "SELECT id AS k, id AS v FROM range(5)")
    assert(ext.sql(s"SELECT * FROM parquet.`$dir`").columns.toSeq == Seq("k", "v"))
    writeDir(dir, "SELECT id AS k, concat('w', id) AS w FROM range(3)", mode = "overwrite")
    val df = ext.sql(s"SELECT * FROM parquet.`$dir`")
    assert(df.columns.toSeq == Seq("k", "w"))
    assert(rows(df) == Seq("[0,w0]", "[1,w1]", "[2,w2]"))
  }

  test("step-aside cases resolve as Spark does: mergeSchema, runSQLOnFiles off, glob, file, partitions") {
    val a = newDir("aside-a")
    val b = newDir("aside-b")
    writeDir(a, "SELECT id AS k, id AS v FROM range(4)")
    writeDir(b, "SELECT id AS k, id AS extra FROM range(4, 6)")
    val dir = Files.createDirectories(scratch.resolve("aside"))
    Files.copy(dataFiles(a).head, dir.resolve("a.parquet"))
    Files.copy(dataFiles(b).head, dir.resolve("b.parquet"))

    withConf("spark.sql.parquet.mergeSchema", "true") {
      val df = assertAsSpark(s"SELECT * FROM parquet.`$dir`")
      assert(df.columns.toSet == Set("k", "v", "extra"), "mergeSchema must merge both files")
    }
    withConf("spark.sql.runSQLOnFiles", "false") {
      val sql = s"SELECT * FROM parquet.`$dir`"
      assert(intercept[AnalysisException](ext.sql(sql)).getCondition ==
        intercept[AnalysisException](spark.sql(sql)).getCondition)
    }
    assertAsSpark(s"SELECT * FROM parquet.`$dir/b*`")
    assertAsSpark(s"SELECT * FROM parquet.`$dir/b.parquet`")

    val parted = Files.createDirectories(scratch.resolve("parted"))
    Files.createDirectories(parted.resolve("p=1"))
    Files.createDirectories(parted.resolve("p=2"))
    Files.copy(dataFiles(a).head, parted.resolve("p=1/a.parquet"))
    Files.copy(dataFiles(a).head, parted.resolve("p=2/a.parquet"))
    val df = assertAsSpark(s"SELECT * FROM parquet.`$parted`")
    assert(df.columns.toSeq == Seq("k", "v", "p"))
  }

  test("a table parquet.t in the catalog still wins over a directory named t") {
    // SQL on files resolves a relative path against the working directory:
    // put a parquet directory there under the table's name, so resolving
    // the file instead of the table would change the answer.
    val name = "gateway_front_end_t"
    val rel = java.nio.file.Paths.get(name)
    try {
      writeDir(rel.toAbsolutePath.toString, "SELECT 'file' AS y")
      assert(spark.sql(s"SELECT * FROM parquet.`$name`").collect().toSeq == Seq(Row("file")))
      ext.sql("CREATE DATABASE IF NOT EXISTS parquet")
      ext.sql(s"CREATE TABLE parquet.$name (x INT) USING parquet")
      ext.sql(s"INSERT INTO parquet.$name VALUES (7)")
      assert(ext.sql(s"SELECT * FROM parquet.$name").collect().toSeq == Seq(Row(7)))
    } finally {
      ext.sql("DROP DATABASE IF EXISTS parquet CASCADE")
      graft.queries.LlmPipeline.deleteRecursively(rel.toAbsolutePath)
    }
  }
}
