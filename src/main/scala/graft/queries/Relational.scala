package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryDef, QueryPack}
import graft.sources.Tables

/** Relational core: scan → filter → project → aggregate → sort pipelines
  * (SURVEY.md §2.2.1/2.2.2/2.2.6).
  *
  * Scale notes: all filters/projections are Column expressions (never UDFs)
  * so they push into the parquet scan; top-k is expressed as orderBy+limit
  * so Catalyst plans TakeOrderedAndProject (no global sort materialization);
  * top-k-per-group uses a single hash-partitioned window (one shuffle on the
  * group key, local sort only).
  */
object Relational extends QueryPack {

  /** TPC-H Q1-style pricing summary — the flagship scan→agg pipeline.
    * Partial aggregation (map-side combine) happens automatically in
    * HashAggregateExec; the shuffle carries only |groups| rows per task.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5-style star join: fact ⋈ orders ⋈ customer ⋈ nation ⋈ region.
    *
    * Join order matters at 100 TB: the region filter (1 of 5 regions) is
    * applied FIRST, by pre-joining nation⋈region(filtered) into one tiny
    * broadcast dim and joining customer to it before orders/lineitem are
    * touched. The two large shuffles (orders⋈customer, lineitem⋈orders)
    * therefore carry only ~1/5 of the customers' rows — Catalyst won't
    * reorder this on its own without CBO stats.
    */
  def starJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1999-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    // One pre-filtered broadcast dim: only ASIA nations survive. The
    // region side is explicitly broadcast too — the dim⋈dim pre-join must
    // never cost a shuffle, with or without CBO stats.
    val asiaNations = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  private val starJoinRevenueSql =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Predicate surface: IN / BETWEEN / LIKE / CASE WHEN / NULLIF / COALESCE
    * — all Column expressions, all pushdown-eligible.
    */
  def filterPredicates(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_totalprice").between(50000.0, 300000.0) &&
        col("o_orderstatus").like("F%"))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice"), 4).as("price"),
        when(col("o_totalprice") >= 200000.0, lit("big"))
          .when(col("o_totalprice") >= 100000.0, lit("mid"))
          .otherwise(lit("small")).as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("F")), lit("open")).as("status_or_open"))
      .orderBy("o_orderkey")

  private val filterPredicatesSql =
    """SELECT o_orderkey, o_custkey,
      |  round(o_totalprice, 4) AS price,
      |  CASE WHEN o_totalprice >= 200000.0 THEN 'big'
      |       WHEN o_totalprice >= 100000.0 THEN 'mid'
      |       ELSE 'small' END AS bucket,
      |  coalesce(nullif(o_orderstatus, 'F'), 'open') AS status_or_open
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_totalprice BETWEEN 50000.0 AND 300000.0
      |  AND o_orderstatus LIKE 'F%'
      |ORDER BY o_orderkey""".stripMargin

  /** Global top-k: orderBy+limit → TakeOrderedAndProject (per-partition
    * heap + driver merge of k rows, not a global sort — the only top-k that
    * scales to 100 TB).
    */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 4).as("price"))
      .orderBy(col("price").desc, col("o_orderkey").asc)
      .limit(10)

  private val topOrdersSql =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
      |FROM orders
      |ORDER BY price DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  /** Top-k per group: one shuffle on the group key, ranked window. */
  def topCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))
      .orderBy("c_nationkey", "rk")
  }

  private val topCustomersPerNationSql =
    """SELECT c_nationkey, rk, c_custkey, round(c_acctbal, 4) AS acctbal
      |FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      |  FROM customer) t
      |WHERE rk <= 3
      |ORDER BY c_nationkey, rk""".stripMargin

  /** Top-k per group through the engine's custom whole-operator plan
    * (graft.plans.TopKPerGroup: logical node → strategy → heap-based
    * physical exec). Same semantics as the q05 window composite — which
    * is what the oracle computes — but the plan never sorts partitions:
    * one bounded k-heap per group (see TopKPerGroup scaladoc).
    */
  def customTopKPerNation(spark: SparkSession, dir: String): DataFrame = {
    val top = graft.plans.TopKPerGroup.topKPerGroup(
      Tables.customer(spark, dir).select("c_nationkey", "c_custkey", "c_acctbal"),
      groupCols = Seq("c_nationkey"),
      orderSpec = Seq("c_acctbal" -> true, "c_custkey" -> false),
      k = 3)
    top.select(col("c_nationkey"), col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))
      .orderBy(col("c_nationkey"), col("acctbal").desc, col("c_custkey"))
  }

  private val customTopKPerNationSql =
    """SELECT c_nationkey, c_custkey, round(c_acctbal, 4) AS acctbal
      |FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
      |  FROM customer) t
      |WHERE rk <= 3
      |ORDER BY c_nationkey, acctbal DESC, c_custkey""".stripMargin

  /** Rule-rewritten top-k per group (q120): the USER writes the plain
    * window-rank-filter idiom; the `RankFilterToTopK` optimizer rule
    * (SURVEY §2.2.10's `Rule[LogicalPlan]` extension point) rewrites it
    * into the heap-based TopKPerGroup operator — q09's plan from q05's
    * source code. The rule and strategy are installed scoped around
    * this query's own execution (write-inside-scope, the q99 recipe)
    * so the harness-shared session keeps default plans elsewhere;
    * RuleRewriteSpec asserts the rewritten plan has no Window/Sort and
    * equals the un-rewritten idiom. The oracle is the idiom itself —
    * the rewrite must be semantically invisible (the order is total:
    * acctbal DESC, custkey breaks ties).
    */
  def ruleRewrittenTopK(spark: SparkSession, dir: String): DataFrame = {
    val out = SourcesOps.freshScratch("rel_ruletopk")
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.exists(_.isInstanceOf[graft.plans.TopKPerGroupStrategy]))
        exp.extraStrategies = exp.extraStrategies :+ new graft.plans.TopKPerGroupStrategy
      if (!exp.extraOptimizations.exists(_ eq graft.plans.RankFilterToTopK))
        exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.RankFilterToTopK
    }
    try {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(spark, dir)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .drop("rn")
        .write.parquet(out)
    } finally exp.synchronized {
      exp.extraOptimizations =
        exp.extraOptimizations.filterNot(_ eq graft.plans.RankFilterToTopK)
    }
    spark.read.parquet(out)
      .select(col("c_mktsegment"), col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  private val ruleRewrittenTopKSql =
    """SELECT c_mktsegment, c_custkey, round(c_acctbal, 4) AS acctbal
      |FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      |  FROM customer) t
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** SELECT DISTINCT — partial-dedup in the map stage, exchange on the
    * distinct keys only.
    */
  def distinctSegments(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select("c_mktsegment", "c_nationkey")
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  private val distinctSegmentsSql =
    """SELECT DISTINCT c_mktsegment, c_nationkey
      |FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** Systematic (key-modulo) sample: deterministic across engines, unlike
    * seed-based bernoulli sampling whose RNG is engine-specific. A separate
    * non-oracle query covers df.sample.
    */
  def sampleModulo(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), round(col("o_totalprice"), 4).as("price"))
      .orderBy("o_orderkey")

  private val sampleModuloSql =
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price
      |FROM orders
      |WHERE o_orderkey % 20 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Raw Bernoulli sample (Spark-side RNG, fraction 0.1, seed 42) —
    * spec-facing helper; the registered q08 is the oracle-checkable
    * contract form [[sampleBernoulliContract]] built on this.
    */
  def sampleBernoulli(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  /** RNG Bernoulli sampling, oracle-gated (q08 — VERDICT r9 item 1):
    * RNG sample MEMBERSHIP is engine-specific (no value-equality oracle
    * can exist), but the sampler's CONTRACT is checkable cross-engine —
    * the q143 recipe applied to sampling. Spark draws the sample and
    * emits BOOLEANS asserting each clause of the contract, alongside
    * exact columns both engines recompute:
    *
    *   - `count_in_bounds`: the sampled count lies within 6σ of n·p for
    *     the exact binomial (σ = √(n·p·(1−p)), recomputed from the SAME
    *     parquet count the oracle reads; the fixture + fixed seed make
    *     this a deterministic regression bound — P(6σ miss) < 1e-8 even
    *     under fixture relayout, and the current draw sits within 2σ).
    *   - `sample_subset`: sample ∖ source = ∅ via LEFT ANTI join on the
    *     full key (count must be 0).
    *   - `keys_unique`: without-replacement ⇒ no key is drawn twice
    *     (count == distinct-key count; source keys are unique).
    *
    * The DuckDB oracle recomputes n_source and emits literal TRUE for
    * the booleans: any contract breach flips a boolean and fails the
    * driver's hash compare loudly. All three probe sides are 1-row
    * aggregates — the contract costs one scan + one anti-join over the
    * sample, nothing that changes shape at 100 TB.
    */
  def sampleBernoulliContract(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    val sample = orders.sample(withReplacement = false, fraction = 0.1, seed = 42L)
    val p = 0.1
    val src = orders.agg(count(lit(1)).as("n_source"))
    val smp = sample.agg(
      count(lit(1)).as("n_sampled"),
      count_distinct(col("o_orderkey")).as("n_keys"))
    val orphans = sample.join(orders, Seq("o_orderkey", "o_orderstatus"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    src.crossJoin(smp).crossJoin(orphans)
      .select(
        col("n_source"),
        (abs(col("n_sampled") - col("n_source") * p)
          <= lit(6.0) * sqrt(col("n_source") * p * (1 - p))).as("count_in_bounds"),
        (col("n_orphans") === 0).as("sample_subset"),
        (col("n_keys") === col("n_sampled")).as("keys_unique"))
  }

  private val sampleBernoulliContractSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_source,
      |  TRUE AS count_in_bounds,
      |  TRUE AS sample_subset,
      |  TRUE AS keys_unique
      |FROM orders""".stripMargin

  /** Raw stratified sample (per-stratum Bernoulli via df.stat.sampleBy,
    * Spark-side RNG) — spec-facing helper; the registered q90 is the
    * contract form [[sampleStratifiedContract]]. RelationalSpec bounds
    * the per-stratum rates on this raw form.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .stat.sampleBy("o_orderstatus",
        Map("F" -> 0.05, "O" -> 0.20, "P" -> 0.50), 42L)
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  private val stratifiedFractions = Seq("F" -> 0.05, "O" -> 0.20, "P" -> 0.50)

  /** RNG stratified sampling, oracle-gated (q90 — VERDICT r9 item 1):
    * the q08 contract applied PER STRATUM. One row per o_orderstatus
    * with the exact stratum size plus booleans: the stratum's sampled
    * count within 6σ+1 of n_s·p_s (the +1 absorbs sub-1-row σ in tiny
    * strata — same slack the RelationalSpec bound uses), and the whole
    * sample set-contained in the source (anti-join count 0, checked on
    * the full key, broadcast onto every stratum row). A stratum absent
    * from the sample coalesces to 0 drawn — still subject to its bound,
    * so silent stratum loss fails the gate too.
    */
  def sampleStratifiedContract(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    val sample = orders.stat.sampleBy(
      "o_orderstatus", stratifiedFractions.toMap, 42L)
    val frac = stratifiedFractions.foldLeft(lit(0.0)) { case (acc, (s, f)) =>
      when(col("o_orderstatus") === s, f).otherwise(acc)
    }
    val src = orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n_stratum"))
    val smp = sample.groupBy("o_orderstatus").agg(count(lit(1)).as("n_sampled"))
    val orphans = sample.join(orders, Seq("o_orderkey", "o_orderstatus"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    src.join(smp, Seq("o_orderstatus"), "left")
      .crossJoin(broadcast(orphans))
      .withColumn("p", frac)
      .select(
        col("o_orderstatus"),
        col("n_stratum"),
        (abs(coalesce(col("n_sampled"), lit(0L)) - col("n_stratum") * col("p"))
          <= lit(6.0) * sqrt(col("n_stratum") * col("p") * (lit(1.0) - col("p"))) + 1)
          .as("count_in_bounds"),
        (col("n_orphans") === 0).as("sample_subset"))
      .orderBy("o_orderstatus")
  }

  private val sampleStratifiedContractSql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_stratum,
      |  TRUE AS count_in_bounds,
      |  TRUE AS sample_subset
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Deterministic hash-threshold Bernoulli sampling (q105): the
    * reproducible form a 100-TB pipeline uses instead of RNG sampling —
    * keep a row iff a hash of its key falls under the rate threshold,
    * so the sample is (a) stable across runs/engines/retries, (b)
    * consistent for the same key across derived tables, and (c) a pure
    * scan-side filter (no shuffle, no RNG state). The hash is a Lehmer
    * multiplicative permutation h = (key·48271) mod (2³¹−1) — a
    * full-period generator step, so h is uniform over [1, 2³¹−2] while
    * staying int64-exact in ANY engine (products < 2⁴⁶): unlike
    * xxhash64, the oracle can reproduce it in plain SQL. Rate 5% via
    * h % 10000 < 500. q07's plain modulo keeps every 20th key
    * (correlated with key locality); the multiplicative step
    * decorrelates sample membership from key order, which is why this
    * is the form stratified/repeatable pipelines standardize on
    * (q08/q90 remain the engine-RNG spec-only variants).
    */
  def sampleHashThreshold(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("h", expr("pmod(pmod(o_orderkey, 2147483647) * 48271, 2147483647)"))
      .filter(pmod(col("h"), lit(10000)) < 500)
      .select(col("o_orderkey"), col("o_orderstatus"), round(col("o_totalprice"), 4).as("price"))
      .orderBy("o_orderkey")

  private val sampleHashThresholdSql =
    """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price
      |FROM orders
      |WHERE ((o_orderkey % 2147483647) * 48271) % 2147483647 % 10000 < 500
      |ORDER BY o_orderkey""".stripMargin

  /** Stratified hash-threshold sampling (q106): per-stratum rates over
    * the same Lehmer hash — the oracle-checkable counterpart of q90's
    * RNG sampleBy. Per-stratum acceptance stays a scan-side CASE
    * filter; the output is the per-stratum sample summary (count +
    * exact key sum), so any membership difference — not just a count
    * difference — shifts the key sum and fails the hash compare.
    */
  def sampleStratifiedHash(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("h", expr("pmod(pmod(o_orderkey, 2147483647) * 48271, 2147483647)"))
      .withColumn("threshold", expr(
        "CASE o_orderstatus WHEN 'F' THEN 500 WHEN 'O' THEN 2000 ELSE 5000 END"))
      .filter(pmod(col("h"), lit(10000)) < col("threshold"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy("o_orderstatus")

  private val sampleStratifiedHashSql =
    """SELECT o_orderstatus, count(*) AS n_sampled,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |WHERE ((o_orderkey % 2147483647) * 48271) % 2147483647 % 10000
      |  < CASE o_orderstatus WHEN 'F' THEN 500 WHEN 'O' THEN 2000 ELSE 5000 END
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** 2-D skyline / Pareto frontier (q134): the customers no other
    * customer beats on BOTH account balance and order count — the
    * multi-objective "best tradeoffs" operator (maximize both axes).
    * Exact duplicate points collapse first (neither of two equal
    * points dominates the other), then one descending sweep: ordered
    * by (balance desc, orders desc), a point is dominated iff some
    * EARLIER point's order count ≥ its own — for distinct points that
    * earlier point is strictly better on at least one axis, which is
    * precisely 2-D dominance. The sweep is a running-max window over
    * the distinct POINT SET (|points| ≪ |rows|; the row data never
    * enters the window). The global order is the textbook 2-D skyline
    * algorithm; at 100 TB you pre-prune per partition with the same
    * sweep (a partition-local skyline is a superset of the global one)
    * before the final pass — same operator, applied twice.
    */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_acctbal")
      .agg(count(lit(1)).as("n_orders"))
      .groupBy("c_acctbal", "n_orders")
      .agg(count(lit(1)).as("n_customers"))
    val sweep = Window.orderBy(col("c_acctbal").desc, col("n_orders").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("best_prev", max(col("n_orders")).over(sweep))
      .filter(col("best_prev").isNull || col("best_prev") < col("n_orders"))
      .select("c_acctbal", "n_orders", "n_customers")
      .orderBy(col("c_acctbal").desc)
  }

  private val skylineSql =
    """WITH pts AS (
      |  SELECT c_acctbal, n_orders, count(*) AS n_customers
      |  FROM (
      |    SELECT c_custkey, c_acctbal, count(*) AS n_orders
      |    FROM customer JOIN orders ON c_custkey = o_custkey
      |    GROUP BY c_custkey, c_acctbal)
      |  GROUP BY c_acctbal, n_orders)
      |SELECT c_acctbal, n_orders, n_customers
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.c_acctbal >= p.c_acctbal AND q.n_orders >= p.n_orders
      |    AND (q.c_acctbal > p.c_acctbal OR q.n_orders > p.n_orders))
      |ORDER BY c_acctbal DESC""".stripMargin

  /** Scalable global row numbering (q137): assign a total-order rank
    * to every row WITHOUT `row_number() OVER (ORDER BY …)`'s
    * single-partition collapse — the technique that makes "number a
    * 100-TB table" feasible. Range-repartition on the sort key, rank
    * locally inside each (already sort-disjoint) partition, then add
    * per-partition offsets computed from a #partitions-sized count
    * table: the only global window runs over ~hundreds of partition
    * counts, not rows. The result is invariant to where the range
    * boundaries land because the sort key is a total order (orderkey
    * breaks price ties), which is also why the oracle — the plain
    * global row_number — matches exactly. Output is capped to the
    * head for result-size hygiene; the RANKING touched every row.
    */
  def scalableRowNumbers(spark: SparkSession, dir: String): DataFrame = {
    val sorted = Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(8, col("o_totalprice").desc, col("o_orderkey").asc)
      .withColumn("pid", spark_partition_id())
    val local = sorted.withColumn("local_rn", row_number().over(
      Window.partitionBy("pid")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
    val offsets = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(
        sum(col("cnt")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("local_rn") + col("offset")).as("global_rn"))
      .filter(col("global_rn") <= 1000)
      .orderBy("global_rn")
  }

  private val scalableRowNumbersSql =
    """SELECT o_orderkey, o_totalprice, global_rn
      |FROM (
      |  SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS global_rn
      |  FROM orders)
      |WHERE global_rn <= 1000
      |ORDER BY global_rn""".stripMargin

  /** Weighted Bernoulli sampling (q150): keep each row with probability
    * proportional to a PER-ROW weight — the importance-sampling
    * primitive behind quality-weighted corpus mixing (sample documents
    * ∝ quality score) and revenue-weighted order audits (here: weight
    * ∝ order value, capped). Extends the q105/q106 family from fixed
    * (global / per-stratum) rates to a continuous per-row rate while
    * keeping every property that made those oracle-checkable: the same
    * Lehmer hash supplies the uniform draw, the acceptance test
    * `h mod 10000 < w` is integer-exact in any engine, and membership
    * is a pure scan-side filter — deterministic across runs, engines,
    * and retries, with zero shuffle before the summary aggregate.
    * Output pins count, exact key checksum, and the accepted weight
    * mass per status, so a single membership flip fails the gate.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("w", least(floor(col("o_totalprice")).cast("long"), lit(9999L)))
      .withColumn("h", expr(
        "pmod(pmod(o_orderkey, 2147483647) * 48271, 2147483647) % 10000"))
      .filter(col("h") < col("w"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("w")).as("weight_mass"))
      .orderBy("o_orderstatus")

  private val sampleWeightedSql =
    """SELECT o_orderstatus, count(*) AS n_sampled,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(w) AS BIGINT) AS weight_mass
      |FROM (SELECT o_orderstatus, o_orderkey,
      |        least(CAST(floor(o_totalprice) AS BIGINT), 9999) AS w,
      |        ((o_orderkey % 2147483647) * 48271) % 2147483647 % 10000 AS h
      |      FROM orders)
      |WHERE h < w
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Priority sampling (q187 — Duffield, Lund, Thorup, "Priority
    * sampling for estimation of arbitrary subset sums", JACM 54(6),
    * 2007): the FIXED-SIZE weighted sample the rate-based family
    * (q150's Bernoulli ∝ weight, q105's hash threshold) cannot give.
    * Each row gets priority p = w / u with u uniform in (0, 1]; the
    * sample is the top-k priorities, and with τ = the (k+1)-th
    * priority, Σ max(w_i, τ) over the sample is an UNBIASED estimator
    * of the population total — one pass, bounded memory (a top-k heap
    * per partition + a k-row final merge: TakeOrdered, the same plan
    * shape as q04), no second scan. That combination — fixed output
    * size AND an unbiased subset-sum estimator — is the 100-TB
    * audit-sampling primitive: "pick 50 rows, estimate total revenue,
    * bounded error in 1/√k".
    *
    * Everything is integer-exact cross-engine (the q105/q148
    * discipline): u is the Lehmer hash of the row key scaled to
    * [1, 2^31−1], w = quantity cast to bigint (integer-valued in the
    * fixture), and p = (w · (2^31 − 2)) div u — the u → h/M
    * substitution makes p exactly w/u in fixed-point, so sample
    * membership, τ, and the estimator are all deterministic integers
    * the oracle reproduces literally. The realized estimate error at
    * the committed draw is emitted as `rel_err` (exact arithmetic, one
    * rounding at output) beside the generous `est_within_band` cell;
    * the 1/√k theory says ~14 % rse at k = 50, and the spec measures
    * the estimator across 8 independent Lehmer multipliers to show the
    * error is draw-noise, not bias.
    */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      expr("cast(l_quantity as bigint)").as("w"),
      // TWO Lehmer rounds, not one: a single round maps the small
      // dense row-key range of a low-SF fixture onto evenly spaced
      // multiples of the multiplier (id·a < M never wraps), which is
      // nowhere near uniform on [1, M] — the priority tail explodes
      // and the estimator over-shoots 2–8× (measured). The second
      // multiply wraps the modulus many times for every key and
      // restores uniformity (measured: |rel err| ≤ 0.29 across 8
      // multipliers × 3 SFs, mean ≈ 0 — the unbiasedness signature).
      expr("pmod(pmod(pmod(l_orderkey * 8 + l_linenumber, 2147483647) * 48271, " +
        "2147483647) * 48271, 2147483647) + 1").as("u"))
      .withColumn("priority", expr("w * 2147483646L div u"))
    val top51 = p
      .orderBy(col("priority").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(51)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("priority").desc, col("l_orderkey"), col("l_linenumber"))))
    val tau = top51.filter(col("rk") === 51).select(col("priority").as("tau"))
    val est = top51.filter(col("rk") <= 50).crossJoin(broadcast(tau))
      .agg(sum(greatest(col("w"), col("tau"))).cast("long").as("est_total"))
    val exact = p.agg(sum("w").cast("long").as("exact_total"))
    top51.filter(col("rk") <= 50)
      .crossJoin(broadcast(est))
      .crossJoin(broadcast(exact))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("w"), col("priority"),
        col("est_total"), col("exact_total"),
        (round(abs(col("est_total") - col("exact_total")) /
          col("exact_total").cast("double"), 4) + lit(0)).as("rel_err"),
        (abs(col("est_total") - col("exact_total")) <=
          expr("exact_total div 2")).as("est_within_band"))
      .orderBy(col("priority").desc, col("l_orderkey"), col("l_linenumber"))
  }

  private val prioritySampleSql =
    """WITH p AS (
      |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS w,
      |    ((l_orderkey * 8 + l_linenumber) % 2147483647) * 48271 % 2147483647
      |      * 48271 % 2147483647 + 1 AS u
      |  FROM lineitem),
      |pr AS (
      |  SELECT l_orderkey, l_linenumber, w, (w * 2147483646) // u AS priority FROM p),
      |top AS (
      |  SELECT *, row_number() OVER (
      |    ORDER BY priority DESC, l_orderkey, l_linenumber) AS rk
      |  FROM pr QUALIFY rk <= 51),
      |tau AS (SELECT priority AS tau FROM top WHERE rk = 51),
      |est AS (
      |  SELECT CAST(sum(CASE WHEN w > tau THEN w ELSE tau END) AS BIGINT) AS est_total
      |  FROM top, tau WHERE rk <= 50),
      |ex AS (SELECT CAST(sum(w) AS BIGINT) AS exact_total FROM pr)
      |SELECT l_orderkey, l_linenumber, w, priority, est_total, exact_total,
      |  round(abs(est_total - exact_total) / CAST(exact_total AS DOUBLE), 4) + 0 AS rel_err,
      |  abs(est_total - exact_total) <= exact_total // 2 AS est_within_band
      |FROM top, est, ex WHERE rk <= 50
      |ORDER BY priority DESC, l_orderkey, l_linenumber""".stripMargin

  override def all: Seq[QueryDef] = Seq(
    QueryDef("q187_priority_sample", prioritySample, Some(prioritySampleSql)),
    QueryDef("q01_pricing_summary", pricingSummary, Some(pricingSummarySql), headline = true),
    QueryDef("q02_star_join_revenue", starJoinRevenue, Some(starJoinRevenueSql), headline = true),
    QueryDef("q03_filter_predicates", filterPredicates, Some(filterPredicatesSql)),
    QueryDef("q04_top_orders", topOrders, Some(topOrdersSql)),
    QueryDef("q05_topk_per_nation", topCustomersPerNation, Some(topCustomersPerNationSql)),
    QueryDef("q06_distinct_segments", distinctSegments, Some(distinctSegmentsSql)),
    QueryDef("q07_sample_modulo", sampleModulo, Some(sampleModuloSql)),
    QueryDef("q08_sample_bernoulli", sampleBernoulliContract, Some(sampleBernoulliContractSql)),
    QueryDef("q09_custom_topk", customTopKPerNation, Some(customTopKPerNationSql)),
    QueryDef("q90_sample_stratified", sampleStratifiedContract, Some(sampleStratifiedContractSql)),
    QueryDef("q105_sample_hash_threshold", sampleHashThreshold, Some(sampleHashThresholdSql)),
    QueryDef("q106_sample_stratified_hash", sampleStratifiedHash, Some(sampleStratifiedHashSql)),
    QueryDef("q120_rule_rewritten_topk", ruleRewrittenTopK, Some(ruleRewrittenTopKSql)),
    QueryDef("q134_skyline", skyline, Some(skylineSql)),
    QueryDef("q137_scalable_rownum", scalableRowNumbers, Some(scalableRowNumbersSql)),
    QueryDef("q150_sample_weighted", sampleWeighted, Some(sampleWeightedSql)))
}
