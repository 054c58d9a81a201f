package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BenchBridge
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.queries.SqlGateway

/** Closed-loop client of the benchmark: one thread, one op at a time, each
  * op a call into the engine's public entry points (`SqlGateway.sql`,
  * `SqlGateway.applyLog`, the `SqlGateway.occ*` commit log and
  * `vacuumManifestLog`). The op stream, the fixture data and every setting
  * come from the JSON config in args(0), written by sqlbench/run.py; the
  * result (per-op latencies and answers, commit order, counters, spans)
  * goes to the config's `result` path for run.py to verify and reduce.
  *
  * Between ops, at least `probe_every_s` apart, the same thread runs the
  * `Reference` job; its times go to the result, apart from the ops'.
  *
  * Untraced runs time ops with nothing but `System.nanoTime`. Traced runs
  * additionally record spans around each call and per-op counters from
  * Spark's own instrumentation, on every other op, so the untraced ops of
  * the same run give the tracing overhead.
  */
object ClosedLoop {
  private val mapper = new ObjectMapper()
  private val OpKey = "graft.bench.op"

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val ops = mapper.readTree(new java.io.File(cfg.get("ops").asText))
    val t0Jvm = ManagementFactory.getRuntimeMXBean.getStartTime
    val slots = cfg.get("task_slots").asInt
    val work = Paths.get(cfg.get("work").asText)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("sqlbench")
      .config("spark.sql.shuffle.partitions", cfg.get("shuffle_partitions").asInt.toLong)
      .config("spark.default.parallelism", slots.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RankFilterToTopK
    val sessionS = (System.currentTimeMillis() - t0Jvm) / 1e3
    val loop = new ClosedLoop(spark, cfg)
    val out = loop.run(ops, sessionS)
    mapper.writeValue(new java.io.File(cfg.get("result").asText), Json.toJava(out))
    spark.stop()
  }

  /** Spark's job/stage/task events, summed per op id (the `graft.bench.op`
    * local property set around traced ops). */
  final class OpListener extends SparkListener {
    val perOp = new ConcurrentHashMap[String, mutable.Map[String, Long]]()
    private val stageOp = new ConcurrentHashMap[Int, String]()
    private val stageSubmit = new ConcurrentHashMap[Int, Long]()

    private def add(op: String, k: String, v: Long): Unit = {
      val m = perOp.computeIfAbsent(op, _ => mutable.Map.empty[String, Long].withDefaultValue(0L))
      m(k) += v
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
      if (op != null) {
        add(op, "jobs", 1)
        e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = stageOp.get(e.stageInfo.stageId)
      if (op != null) {
        add(op, "stages", 1)
        stageSubmit.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.get(e.stageId)
      if (op != null) {
        add(op, "tasks", 1)
        if (e.reason != org.apache.spark.Success) add(op, "failed_tasks", 1)
        Option(stageSubmit.get(e.stageId)).foreach(s => add(op, "wait_ms", e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          add(op, "task_ms", m.executorRunTime)
          add(op, "gc_ms", m.jvmGCTime)
          add(op, "input_bytes", m.inputMetrics.bytesRead)
          add(op, "records_read", m.inputMetrics.recordsRead)
          add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(op, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  /** Exchange, scan and TopKPerGroup nodes of an executed plan, looking
    * through adaptive query stages. */
  object PlanCounts extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Map[String, Long] = {
      var exchanges, scans, topk = 0L
      foreach(plan) {
        case _: Exchange | _: ReusedExchangeExec => exchanges += 1
        case _: FileSourceScanExec | _: BatchScanExec => scans += 1
        case _: graft.plans.TopKPerGroupExec => topk += 1
        case _ =>
      }
      Map("exchanges" -> exchanges, "scans" -> scans, "topk_nodes" -> topk)
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def cpuLine(): String =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())

  def vmHwmKb(): Long =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { s =>
      s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    }
}

/** The reference job: fixed work that runs through Spark core only (an RDD
  * job, so no Catalyst rule or extension of the program touches it) on the
  * same task slots as the ops. Its time, probed between ops, measures how
  * fast the machine is running at that moment. */
object Reference {
  /** One task's share: sort a seeded array, then count it into a hash map
    * of boxed keys (sorting, hashing and allocation, like a SQL task). */
  def kernel(seed: Int): Iterator[(Long, Long)] = {
    val n = 1 << 16
    val a = new Array[Long](n)
    var x = 0x9E3779B97F4A7C15L * (seed + 1)
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      a(i) = x >>> 20
      i += 1
    }
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < n) {
      m.merge(a(i) % 8191, 1L, (u: java.lang.Long, v: java.lang.Long) => u + v)
      i += 1
    }
    m.asScala.iterator.map { case (k, v) => (k.longValue, v.longValue) }
  }

  /** Run the reference job once; returns its wall time in ms. */
  def probe(spark: SparkSession, slots: Int): Double = {
    val t0 = System.nanoTime()
    val keys = spark.sparkContext.parallelize(0 until slots, slots).flatMap(kernel)
      .reduceByKey(_ + _, slots).count()
    require(keys == 8191, s"reference job counted $keys keys")
    (System.nanoTime() - t0) / 1e6
  }
}

/** A fresh commit log and plane root: one per set-up repetition. */
final class Store(root: Path) {
  val log: Path = Files.createDirectories(root.resolve("log"))
  val planes: Path = Files.createDirectories(root.resolve("planes"))
  val commits = mutable.ArrayBuffer.empty[(Long, String)]
  var lastCommit = -1L

  def resolve(): (Long, Map[String, String]) = {
    val g = SqlGateway.occCurrentGen(log)
    (g, SqlGateway.occManifestAt(log, g))
  }

  def stageDir(plane: String, tag: String): Path = planes.resolve(plane).resolve(s"gen-$tag")
}

final class ClosedLoop(spark: SparkSession, cfg: JsonNode) {
  import ClosedLoop._

  private val dataDir = cfg.get("data").asText
  private val work = Paths.get(cfg.get("work").asText)
  private val traced = cfg.get("trace").asBoolean
  private val planes = cfg.get("planes").elements().asScala.map(_.asText).toSeq
  private val bootstrapSql = planes.map(p => p -> cfg.get("bootstrap").get(p).asText).toMap
  private val retain = cfg.get("retain").asInt
  private val listener = new OpListener
  private val slots = cfg.get("task_slots").asInt
  private val probeEveryNs = (cfg.get("probe_every_s").asDouble * 1e9).toLong

  private var store: Store = _
  private val vacuums = mutable.ArrayBuffer.empty[Map[String, Any]]

  // --- tracing: spans of the current op, kept in memory ---
  private var tracing = false
  private var opId = ""
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val open = mutable.Stack.empty[Int]

  private def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val idx = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Map("name" -> name, "op" -> opId, "parent" -> parent)
      open.push(idx)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.pop()
        spans(idx) = spans(idx) ++ Map("id" -> idx, "start_ns" -> start, "end_ns" -> end)
      }
    }

  private def counters(): Map[String, Long] = Map(
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "codegen_ns" -> CodeGenerator.compileTime)

  def run(ops: JsonNode, sessionS: Double): Map[String, Any] = {
    val warm = ops.get("warm").elements().asScala.toIndexedSeq
    val timed = ops.get("run").elements().asScala.toIndexedSeq
    val reps = cfg.get("setup_reps").asInt
    (0 until cfg.get("probe_warm").asInt).foreach(_ => Reference.probe(spark, slots))
    val repS = (0 until reps).map { r =>
      if (store != null) graft.queries.LlmPipeline.deleteRecursively(work.resolve(s"rep${r - 1}"))
      val t0 = System.nanoTime()
      store = new Store(work.resolve(s"rep$r"))
      val boot = planes.map { p =>
        val dir = store.stageDir(p, "boot")
        SqlGateway.sql(spark, dataDir, bootstrapSql(p)).write.parquet(dir.toString)
        p -> dir.toString
      }
      require(SqlGateway.occTryCommitManifest(store.log, -1L, boot), "bootstrap commit lost")
      store.lastCommit = 0L
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    warm.zipWithIndex.foreach { case (op, i) =>
      execute(op, s"warm-$i").foreach { rec =>
        require(rec("ok") == true, s"warm-up op failed: ${rec.getOrElse("err", "")}")
      }
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    if (traced) spark.sparkContext.addSparkListener(listener)
    vacuums.clear()

    val seconds = cfg.get("seconds").asDouble
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = os.getProcessCpuTime
    val stat0 = cpuLine()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    val tracePick = new scala.util.Random(17)
    val probes = mutable.ArrayBuffer.empty[Double]
    var nextProbe = start
    while (System.nanoTime() < deadline) {
      if (System.nanoTime() >= nextProbe) {
        probes += Reference.probe(spark, slots)
        nextProbe = System.nanoTime() + probeEveryNs
      }
      require(i < timed.length, "op stream exhausted before the deadline")
      val id = s"run-$i"
      // A fixed pseudo-random half of the ops is traced (a period would
      // alias with the write cadence); the rest are the untraced baseline
      // of the same run.
      tracing = traced && tracePick.nextBoolean()
      records ++= execute(timed(i), id)
      i += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val stat1 = cpuLine()
    val cpu1 = os.getProcessCpuTime
    val gc1 = gcBeans.map(_.getCollectionTime).sum
    val jit1 = jit.getTotalCompilationTime
    tracing = false
    if (traced) BenchBridge.drainListenerBus(spark.sparkContext)

    val (headGen, head) = store.resolve()
    val logLen = scala.util.Using.resource(Files.list(store.log))(
      _.iterator().asScala.count(_.getFileName.toString.startsWith("commit-")))
    Map(
      "session_s" -> sessionS,
      "setup_reps_s" -> repS,
      "warmup_s" -> warmS,
      "window_s" -> windowS,
      "probes" -> probes.toSeq,
      "records" -> records.toSeq,
      "commits" -> store.commits.map { case (g, t) => Seq(g, t) }.toSeq,
      "head_gen" -> headGen,
      "head" -> head,
      "log_len" -> logLen,
      "store" -> work.resolve(s"rep${reps - 1}").toString,
      "vacuums" -> vacuums.toSeq,
      "listener" -> listener.perOp.asScala.map { case (k, v) => k -> v.toMap }.toMap,
      "spans" -> spans.toSeq,
      "jvm" -> Map("gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0),
        "cpu_ms" -> (cpu1 - cpu0) / 1e6, "vmhwm_kb" -> vmHwmKb(),
        "gc" -> gcBeans.map(_.getName).toSeq,
        "input_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq),
      "proc_stat" -> Seq(stat0, stat1))
  }

  /** Run one stream op; a pair op yields one record per logical writer. */
  private def execute(op: JsonNode, id: String): Seq[Map[String, Any]] = {
    opId = id
    if (tracing) spark.sparkContext.setLocalProperty(OpKey, id)
    val c0 = if (tracing) counters() else Map.empty[String, Long]
    val recs = span("op") {
      op.get("k").asText match {
        case "q" | "pq" => Seq(read(op, id))
        case "w" => Seq(write(op, id))
        case "pair" => pair(op, id)
      }
    }
    if (!tracing) recs
    else {
      spark.sparkContext.setLocalProperty(OpKey, null)
      val c1 = counters()
      recs.map(_ ++ Map("traced" -> true, "c" -> c1.map { case (k, v) => k -> (v - c0(k)) }))
    }
  }

  private def fill(text: String, m: Map[String, String], slot: String): String =
    m.foldLeft(text.replace("{w}", slot)) { case (t, (p, path)) => t.replace(s"{$p}", path) }

  private def read(op: JsonNode, id: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val last = store.lastCommit
    try {
      val (gen, sql) =
        if (op.get("k").asText == "pq") {
          val (g, m) = span("occ.resolve")(store.resolve())
          (g, fill(op.get("sql").asText, m, ""))
        } else (-1L, op.get("sql").asText)
      val ts = System.nanoTime()
      val df = span("gateway.sql")(SqlGateway.sql(spark, dataDir, sql))
      val sqlMs = (System.nanoTime() - ts) / 1e6
      val rows = span("exec.collect")(df.collect())
      val lat = (System.nanoTime() - t0) / 1e6
      val base = Map[String, Any]("id" -> id, "cls" -> "read", "lat_ms" -> lat, "ok" -> true,
        "rows" -> rows.toSeq.map(r => r.toSeq), "gen" -> gen, "last_commit" -> last)
      if (!tracing) base
      else {
        val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        base ++ Map("sql_ms" -> sqlMs, "phases" -> phases,
          "plan" -> PlanCounts(df.queryExecution.executedPlan))
      }
    } catch {
      case e: Exception =>
        Map("id" -> id, "cls" -> "read", "lat_ms" -> (System.nanoTime() - t0) / 1e6,
          "ok" -> false, "err" -> e.toString)
    }
  }

  /** Post-commit vacuum, after every write op: keep the newest `retain`
    * manifests and delete every generation directory none of them binds,
    * including a CAS loser's orphans. Runs after the write latency is
    * taken, inside the op, so it costs the closed loop throughput. */
  private def vacuum(): Unit = {
    val t0 = System.nanoTime()
    val cur = SqlGateway.occCurrentGen(store.log)
    val (expired, orphans) = span("occ.vacuum")(
      SqlGateway.vacuumManifestLog(store.log, store.planes, cur - (retain - 1)))
    vacuums += Map("ms" -> (System.nanoTime() - t0) / 1e6, "deleted" -> (expired + orphans))
  }

  /** Apply the txn's command batch on base manifest `m` and stage every
    * plane into a writer-unique generation directory. */
  private def applyAndStage(txn: JsonNode, slot: String, m: Map[String, String],
      attempt: Int): (Seq[(String, String)], Long) = {
    val batch = txn.get("batch").elements().asScala.map(c => fill(c.asText, m, slot)).toSeq
    span("gateway.apply")(SqlGateway.applyLog(spark, batch))
    val tag = s"${txn.get("id").asText}-$attempt"
    val staged = span("occ.stage") {
      planes.map { p =>
        val dir = store.stageDir(p, tag)
        spark.table(s"${slot}_$p").write.parquet(dir.toString)
        p -> dir.toString
      }
    }
    (staged, if (tracing) staged.map { case (_, d) => dirBytes(Paths.get(d)) }.sum else 0L)
  }

  private def cas(base: Long, staged: Seq[(String, String)], txnId: String): Boolean = {
    val won = span("occ.cas")(SqlGateway.occTryCommitManifest(store.log, base, staged))
    if (won) {
      store.commits += ((base + 1, txnId))
      store.lastCommit = base + 1
    }
    won
  }

  /** Resolve, apply, stage and CAS until the commit lands; returns
    * (attempts, staged bytes). */
  private def commitLoop(txn: JsonNode, slot: String, firstAttempt: Int): (Int, Long) = {
    var attempt = firstAttempt
    var bytes = 0L
    var won = false
    while (!won) {
      require(attempt <= 8, s"txn ${txn.get("id").asText} lost its CAS ${attempt - 1} times")
      val (base, m) = span("occ.resolve")(store.resolve())
      val (staged, b) = applyAndStage(txn, slot, m, attempt)
      bytes += b
      won = cas(base, staged, txn.get("id").asText)
      attempt += 1
    }
    (attempt - 1, bytes)
  }

  private def writeRecord(id: String, txn: JsonNode, t0: Long, attempts: Int, bytes: Long) =
    Map[String, Any]("id" -> id, "cls" -> "write", "lat_ms" -> (System.nanoTime() - t0) / 1e6,
      "ok" -> true, "txn" -> txn.get("id").asText, "attempts" -> attempts,
      "staged_bytes" -> bytes)

  private def failed(id: String, txn: JsonNode, t0: Long, e: Exception) =
    Map[String, Any]("id" -> id, "cls" -> "write", "lat_ms" -> (System.nanoTime() - t0) / 1e6,
      "ok" -> false, "txn" -> txn.get("id").asText, "err" -> e.toString)

  private def write(op: JsonNode, id: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    try {
      val (attempts, bytes) = commitLoop(op, "wa", 1)
      val rec = writeRecord(id, op, t0, attempts, bytes)
      vacuum()
      rec
    } catch { case e: Exception => failed(id, op, t0, e) }
  }

  /** Two logical writers on the same base generation, interleaved by
    * script: both resolve, both stage, A's CAS wins, B's CAS loses on the
    * same atomic create a concurrent writer would, and B rebases, restages
    * and retries. B's first staged directories are orphans until the
    * vacuum after the pair. */
  private def pair(op: JsonNode, id: String): Seq[Map[String, Any]] = {
    val (a, b) = (op.get("a"), op.get("b"))
    val tA = System.nanoTime()
    var aRec: Map[String, Any] = null
    try {
      val (baseA, mA) = span("occ.resolve")(store.resolve())
      val tB = System.nanoTime()
      val (baseB, mB) = span("occ.resolve")(store.resolve())
      val (stagedA, bytesA) = applyAndStage(a, "wa", mA, 1)
      val (stagedB, bytesB) = applyAndStage(b, "wb", mB, 1)
      require(cas(baseA, stagedA, a.get("id").asText), "first writer of a pair lost its CAS")
      aRec = writeRecord(s"$id-a", a, tA, 1, bytesA)
      require(!cas(baseB, stagedB, b.get("id").asText), "second writer of a pair won a stale CAS")
      val (attempts, bytes) = commitLoop(b, "wb", 2)
      val bRec = writeRecord(s"$id-b", b, tB, attempts, bytesB + bytes)
      vacuum()
      Seq(aRec, bRec)
    } catch {
      case e: Exception =>
        Seq(Option(aRec).getOrElse(failed(s"$id-a", a, tA, e)), failed(s"$id-b", b, tA, e))
    }
  }
}

/** Scala values to Jackson-writable Java values. */
object Json {
  def toJava(x: Any): AnyRef = x match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => out.put(k.toString, toJava(v)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case null => null
    case v: AnyRef => v
    case v => v.asInstanceOf[AnyRef]
  }
}
