package graft

import java.io.File
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

import graft.plans.{CachedBroadcastExec, RecordingBroadcastExchangeExec, ReuseBroadcasts, TopKPerGroupExec}
import graft.queries.{SourcesOps, SqlGateway}
import graft.sources.Tables

/** `ReuseBroadcasts`: a broadcast built by one command is taken by a later
  * command with the same plan, files and session settings, which then runs
  * no job for it; any change to one of the three builds it again, and
  * plans the rule must not touch keep Spark's exchange.
  *
  * `reusing` has only the rule installed, so its answers and plans are
  * compared with the extension-free shared session; `ext` is built with
  * GraftExtensions (the deployment the benchmark drives). Each sets a
  * setting of its own, so no other suite's session shares its cache keys
  * and its first run of a query is a cold one.
  */
class ReuseBroadcastsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def marked(s: SparkSession): SparkSession = {
    s.conf.set("spark.graft.test.session", java.util.UUID.randomUUID.toString)
    s
  }

  /** As the benchmark's session: GraftExtensions, and the optimizer rule
    * that turns a rank filter into `TopKPerGroup`. */
  private lazy val ext: SparkSession = {
    val s = marked(siblingSession(new GraftExtensions))
    s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ graft.plans.RankFilterToTopK
    s
  }
  private lazy val reusing: SparkSession =
    marked(siblingSession(_.injectQueryStagePrepRule(ReuseBroadcasts(_))))

  private lazy val scratch: Path = Files.createTempDirectory("reuse-broadcasts")

  private lazy val fact: String = {
    val dir = scratch.resolve("fact").toString
    spark.sql("SELECT id AS k, id % 25 AS dk, id * 3 AS v FROM range(1, 3001)").coalesce(1).write.parquet(dir)
    dir
  }

  /** 25 dimension rows (dk, name) with names `prefix` + two digits. */
  private def names(prefix: String): Seq[(Long, String)] = (0 until 25).map(i => (i.toLong, f"$prefix$i%02d"))

  /** `rows` as the only file of `dir`, named `file`, uncompressed (so rows
    * of equal widths give files of equal lengths); returns the file. */
  private def writeDim(dir: Path, file: String, rows: Seq[(Long, String)]): File = {
    import spark.implicits._
    val staging = Files.createTempDirectory(scratch, "staging").resolve("out")
    rows.toDF("dk", "name").coalesce(1).write.option("compression", "none").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(dir)
    Files.list(dir).iterator().asScala.toList.foreach(p => Files.delete(p))
    Files.copy(part, dir.resolve(file)).toFile
  }

  private def starJoin(dim: String, where: String = ""): String =
    s"SELECT d.name, count(*) AS n, sum(f.v) AS s FROM parquet.`$fact` f " +
      s"JOIN parquet.`$dim` d ON f.dk = d.dk $where GROUP BY d.name"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def cached(df: DataFrame): Int = collect(plan(df)) { case c: CachedBroadcastExec => c }.size

  private def exchanges(df: DataFrame): Seq[BroadcastExchangeExec] =
    collect(plan(df)) { case b: BroadcastExchangeExec => b }

  /** `df` collected in `s`: its sorted rows and the jobs the collect ran
    * (analysis, which may infer a schema in a job, comes first). */
  private def run(s: SparkSession, df: DataFrame): (Seq[String], Int) = {
    var rows: Seq[String] = Nil
    val jobs = jobsDuring(s) { rows = df.collect().map(_.toString).toSeq.sorted }
    (rows, jobs)
  }

  private def run(s: SparkSession, sql: String): (DataFrame, Seq[String], Int) = {
    val df = s.sql(sql)
    val (rows, jobs) = run(s, df)
    (df, rows, jobs)
  }

  private def shared(sql: String): Seq[String] = spark.sql(sql).collect().map(_.toString).toSeq.sorted

  test("a repeated star join answers the same in fewer jobs, its broadcasts taken from the cache") {
    val revenue = "SELECT n.n_name AS nation, count(*) AS n_orders, " +
      "sum(o.o_totalprice) AS revenue FROM orders o " +
      "JOIN customer c ON o.o_custkey = c.c_custkey " +
      "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "WHERE o.o_orderdate < TIMESTAMP '1996-06-15' GROUP BY n.n_name ORDER BY nation"
    Tables.registerAll(spark, sfDir)
    def measured(): (DataFrame, Seq[String], Int) = {
      val df = SqlGateway.sql(ext, sfDir, revenue)
      var rows: Seq[String] = Nil
      val jobs = jobsDuring(ext) { rows = df.collect().map(_.toString).toSeq }
      (df, rows, jobs)
    }
    val (cold, coldRows, coldJobs) = measured()
    val (warm, warmRows, warmJobs) = measured()
    assert(exchanges(cold).size == 2 && cached(cold) == 0, s"cold plan:\n${plan(cold)}")
    assert(exchanges(warm).isEmpty && cached(warm) == 2, s"warm plan:\n${plan(warm)}")
    assert(coldJobs == 3 && warmJobs == 1, s"cold run $coldJobs jobs, warm run $warmJobs")
    assert(plan(warm).toString.contains("CachedBroadcast"), s"no CachedBroadcast in:\n${plan(warm)}")
    val expected = spark.sql(revenue).collect().map(_.toString).toSeq
    assert(coldRows == expected && warmRows == expected)
  }

  test("a dimension file rewritten under the same path, or replaced by another, is read again") {
    val dir = scratch.resolve("dim-rewrite")
    val sql = starJoin(dir.toString)
    val first = writeDim(dir, "part-0.parquet", names("a"))
    val (len, mtime) = (first.length, first.lastModified)
    run(reusing, sql)
    val (warm, warmRows, _) = run(reusing, sql)
    assert(cached(warm) == 1 && warmRows == shared(sql), s"no warm hit:\n${plan(warm)}")

    /** Replace the dimension with names `prefix`.. in `file`, dated `at`;
      * the join answers from it. */
    def replaced(file: String, prefix: String, at: Long, sameLength: Boolean): Unit = {
      val f = writeDim(dir, file, names(prefix))
      assert(f.setLastModified(at) && (f.length == len) == sameLength, s"fixture: ${f.length} bytes against $len")
      val (df, ours, _) = run(reusing, sql)
      assert(ours == shared(sql) && ours.forall(_.startsWith("[" + prefix)),
        s"answered from an earlier file: $ours\n${plan(df)}")
      assert(cached(df) == 0, s"cache hit on changed files:\n${plan(df)}")
    }
    // The same path and length, a later modification time.
    replaced("part-0.parquet", "b", mtime + 10000, sameLength = true)
    // The same path and modification time, another length.
    replaced("part-0.parquet", "cc", mtime + 10000, sameLength = false)
    // Another path, with the length and modification time of the file it replaces.
    val before = dir.resolve("part-0.parquet").toFile.length
    replaced("part-1.parquet", "dd", mtime + 10000, sameLength = false)
    assert(dir.resolve("part-1.parquet").toFile.length == before)
  }

  test("a changed session setting builds the broadcast again") {
    val dim = writeDim(scratch.resolve("dim-conf"), "part-0.parquet", names("a")).getParent
    val sql = starJoin(dim)
    val (_, rows, coldJobs) = run(reusing, sql)
    val (warm, _, warmJobs) = run(reusing, sql)
    assert(cached(warm) == 1 && warmJobs == coldJobs - 1, s"$coldJobs cold jobs, $warmJobs warm")
    withConf(Seq(reusing), "spark.sql.parquet.columnarReaderBatchSize" -> "2048") {
      val (df, ours, jobs) = run(reusing, sql)
      assert(cached(df) == 0 && jobs == coldJobs && ours == rows, s"$jobs jobs under a new setting:\n${plan(df)}")
    }
    val (again, _, jobs) = run(reusing, sql)
    assert(cached(again) == 1 && jobs == warmJobs, "the entry for the first settings was lost")
  }

  test("a broadcast with a nondeterministic subtree keeps Spark's exchange") {
    val dim = writeDim(scratch.resolve("dim-rand"), "part-0.parquet", names("a")).getParent
    val sql = s"SELECT d.name, count(*) AS n FROM parquet.`$fact` f " +
      s"JOIN (SELECT * FROM parquet.`$dim` WHERE dk + rand() < 100) d ON f.dk = d.dk GROUP BY d.name"
    val (_, rows, coldJobs) = run(reusing, sql)
    val (df, again, jobs) = run(reusing, sql)
    val kept = exchanges(df)
    assert(kept.size == 1 && !kept.head.isInstanceOf[RecordingBroadcastExchangeExec] && cached(df) == 0,
      s"rand() subtree touched:\n${plan(df)}")
    assert(jobs == coldJobs && again == rows && rows == shared(sql))
  }

  test("a plan with dynamic partition pruning is left alone and still prunes") {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case f: FileSourceScanExec => f }
    (1 to 2).foreach { i =>
      val df = SourcesOps.dynamicPartitionPruning(reusing, sfDir)
      val (rows, _) = run(reusing, df)
      assert(plan(df).toString.contains("dynamicpruningexpression"), s"run $i: no dynamic pruning in\n${plan(df)}")
      assert(cached(df) == 0 && exchanges(df).forall(!_.isInstanceOf[RecordingBroadcastExchangeExec]),
        s"run $i: broadcast touched:\n${plan(df)}")
      val fact = scans(plan(df)).find(_.relation.partitionSchema.nonEmpty).get
      assert(fact.metrics("numPartitions").value == 5L, s"run $i: fact partitions read")
      assert(rows == SourcesOps.dynamicPartitionPruning(spark, sfDir).collect().map(_.toString).toSeq.sorted)
    }
  }

  private def normalized(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("with adaptive execution off the plans are as in the rule-free session") {
    val dim = writeDim(scratch.resolve("dim-noaqe"), "part-0.parquet", names("a")).getParent
    val sql = starJoin(dim)
    withConf(Seq(reusing, spark), "spark.sql.adaptive.enabled" -> "false") {
      (1 to 2).foreach { _ =>
        val (df, rows, _) = run(reusing, sql)
        assert(exchanges(df).size == 1 && cached(df) == 0, s"plan touched:\n${plan(df)}")
        assert(normalized(df) == normalized(spark.sql(sql)) && rows == shared(sql))
      }
    }
  }

  test("the cache keeps the most recently used broadcasts, up to its capacity") {
    val dim = writeDim(scratch.resolve("dim-lru"), "part-0.parquet", names("a")).getParent
    def sql(i: Int): String = starJoin(dim, s"WHERE d.dk <> $i")
    val coldJobs = (0 to ReuseBroadcasts.Capacity).map(i => run(reusing, sql(i))._3)
    assert(ReuseBroadcasts.size(spark.sparkContext) == ReuseBroadcasts.Capacity)
    val (newest, _, newestJobs) = run(reusing, sql(ReuseBroadcasts.Capacity))
    assert(cached(newest) == 1 && newestJobs == coldJobs.last - 1, "the newest entry was not kept")
    val (eldest, rows, eldestJobs) = run(reusing, sql(0))
    assert(cached(eldest) == 0 && eldestJobs == coldJobs.head, "the eldest entry was not evicted")
    assert(rows == shared(sql(0)))
  }

  test("a warm top-k read, whose operator ships the plan to its tasks, runs and answers as Spark") {
    val topK = "SELECT nation, c_custkey, c_acctbal FROM (" +
      "SELECT n.n_name AS nation, c.c_custkey, c.c_acctbal, row_number() OVER " +
      "(PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn " +
      "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "WHERE c.c_acctbal > 1000) t WHERE rn <= 3"
    Tables.registerAll(spark, sfDir)
    val expected = shared(topK)
    (1 to 2).foreach { i =>
      val df = SqlGateway.sql(ext, sfDir, topK)
      val (rows, _) = run(ext, df)
      assert(collect(plan(df)) { case t: TopKPerGroupExec => t }.nonEmpty, s"run $i: no top-k operator")
      assert(rows == expected, s"run $i: answer differs")
      if (i == 2) assert(cached(df) == 1, s"warm top-k read:\n${plan(df)}")
    }
  }

  test("a recording exchange stays one when adaptive planning rebuilds it, and serializes without its key") {
    val dim = writeDim(scratch.resolve("dim-rebuild"), "part-0.parquet", names("a")).getParent
    val (df, _, _) = run(reusing, starJoin(dim))
    val recording = exchanges(df).collect { case r: RecordingBroadcastExchangeExec => r }
    assert(recording.size == 1, s"the query stage lost the recording exchange:\n${plan(df)}")
    val r = recording.head
    val rebuilt = Seq(
      r.withNewChildren(Seq(ProjectExec(r.child.output, r.child))),
      r.makeCopy(Array(r.mode, r.child)))
    assert(rebuilt.forall(_.isInstanceOf[RecordingBroadcastExchangeExec]), s"rebuilt as $rebuilt")
    assert(r != BroadcastExchangeExec(r.mode, r.child) && r.canonicalized == BroadcastExchangeExec(r.mode, r.child).canonicalized)
    // Tasks that capture the plan ship the exchange; its key, a second
    // copy of the plan with the file listing and the session's settings,
    // stays on the driver: the session's marker setting is not shipped.
    val buf = SparkEnv.get.closureSerializer.newInstance().serialize(r)
    val bytes = new Array[Byte](buf.remaining)
    buf.get(bytes)
    assert(!new String(bytes, ISO_8859_1).contains(reusing.conf.get("spark.graft.test.session")),
      "the key was serialized")
    val (again, _, _) = run(reusing, starJoin(dim))
    assert(cached(again) == 1, s"the built relation was not recorded:\n${plan(again)}")
  }
}
