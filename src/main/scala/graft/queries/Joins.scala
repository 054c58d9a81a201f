package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.sources.Tables

/** Join surface (SURVEY.md §2.2.3): inner/outer/semi/anti equi joins,
  * broadcast joins, theta (non-equi), cross, range joins.
  *
  * Scale notes:
  *   - Large⋈large (lineitem⋈orders, orders⋈customer) shuffle on the join
  *     key — the only strategy that survives 100 TB; AQE handles skew.
  *   - Small dims (nation/region/supplier, and literal band tables) are
  *     broadcast explicitly — no shuffle of the big side at all.
  *   - Semi/anti joins ship only the keys of the right side and never
  *     multiply rows — preferred over IN-subquery materialization.
  *   - The range join broadcasts the tiny band table; each probe row finds
  *     its bands without any shuffle of the fact table.
  */
object Joins extends QueryPack {

  /** Left semi: customers that placed at least one urgent order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  private val semiJoinSql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left anti: customers that never placed an urgent order (every
    * customer has *some* order in the fixtures, so the urgent filter keeps
    * the result non-empty and the NOT EXISTS semantics meaningful).
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy("c_custkey")
  }

  private val antiJoinSql =
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left outer join + aggregate: order count per customer including
    * zero-order customers. Orders are PRE-aggregated per custkey before
    * the join, so the join shuffle carries one row per customer instead
    * of every order — the standard pre-aggregation rewrite; at 100 TB it
    * shrinks the outer join's probe side by the orders-per-customer
    * factor. (count(key) over the null-padded row ≡ coalesce(n, 0).)
    */
  def outerJoinOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_mktsegment"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        round(coalesce(col("s"), lit(0.0)), 4).as("total_spent"))
      .orderBy("c_custkey")
  }

  private val outerJoinOrderCountsSql =
    """SELECT c_custkey, c_mktsegment,
      |  count(o_orderkey) AS n_orders,
      |  round(coalesce(sum(o_totalprice), 0.0), 4) AS total_spent
      |FROM customer
      |LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey""".stripMargin

  /** Full outer join over two aggregates keyed differently: per-nation
    * customer count vs supplier count; either side may be missing.
    */
  def fullOuterNationActivity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir).groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, col("c_nationkey") === col("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  private val fullOuterNationActivitySql =
    """SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
      |  coalesce(n_customers, 0) AS n_customers,
      |  coalesce(n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |  ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Right outer join: urgent orders right-joined to customer — every
    * customer appears, unmatched ones null-padded, aggregated per segment.
    */
  def rightOuterSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey", "o_orderkey")
    o.join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "right")
      .groupBy("c_mktsegment")
      .agg(
        count(col("o_orderkey")).as("n_urgent"),
        count(lit(1)).as("n_rows"))
      .orderBy("c_mktsegment")
  }

  private val rightOuterSegmentsSql =
    """SELECT c_mktsegment,
      |  count(o_orderkey) AS n_urgent,
      |  count(*) AS n_rows
      |FROM (SELECT o_custkey, o_orderkey FROM orders
      |      WHERE o_orderpriority = '1-URGENT') o
      |RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Theta join: equi key (nation) plus inequality (supplier outranks
    * customer balance). The equi key has only 25 distinct values, so a
    * shuffle join would collapse to 25 partitions (idle cores, unbounded
    * skew at scale). Instead the supplier side — dimension-sized at every
    * sf — is broadcast: the customer side never shuffles at all, and the
    * inequality is evaluated as a filter inside the broadcast join.
    */
  def thetaJoinBalance(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey", "s_acctbal")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey", "c_acctbal")
    broadcast(s).join(c, col("s_nationkey") === col("c_nationkey") && col("s_acctbal") > col("c_acctbal"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_outranked"))
      .orderBy("s_suppkey")
  }

  private val thetaJoinBalanceSql =
    """SELECT s_suppkey, count(*) AS n_outranked
      |FROM supplier JOIN customer
      |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** Cross join (tiny × tiny only — never sane on two large inputs). */
  def crossJoinRegions(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).select("r_name")
      .crossJoin(Tables.nation(spark, dir).select("n_name"))
      .orderBy("r_name", "n_name")

  private val crossJoinRegionsSql =
    """SELECT r_name, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** Range join: orders binned into literal price bands via
    * `lo <= price < hi`. The band table is broadcast — each fact row scans
    * a handful of bands; no shuffle of the fact side.
    */
  def rangeJoinPriceBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("band0_low", 0.0, 50000.0),
      ("band1_mid", 50000.0, 150000.0),
      ("band2_high", 150000.0, 1000000.0)).toDF("band", "lo", "hi")
    Tables.orders(spark, dir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"), round(avg("o_totalprice"), 4).as("avg_price"))
      .orderBy("band")
  }

  private val rangeJoinPriceBandsSql =
    """SELECT band, count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
      |FROM orders
      |JOIN (VALUES ('band0_low', 0.0, 50000.0),
      |             ('band1_mid', 50000.0, 150000.0),
      |             ('band2_high', 150000.0, 1000000.0)) AS bands(band, lo, hi)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  /** Multi-way star with two broadcast dimension chains:
    * lineitem ⋈ part (brand) and ⋈ supplier→nation (supplier nation).
    */
  def starJoinBrandNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("p_brand", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy("p_brand", "n_name")
  }

  private val starJoinBrandNationSql =
    """SELECT p_brand, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY p_brand, n_name
      |ORDER BY p_brand, n_name""".stripMargin

  /** Skew-safe top-k per LOW-cardinality group (3 order statuses): a
    * single window over o_orderstatus would collapse to 3 tasks at any
    * scale. Phase 1 salts the partition key (status × 16 salts from a
    * hash of the row key) and takes a local top-k per salted group;
    * phase 2 re-windows only the ≤ 16·k surviving rows per group. Same
    * result as the naive single window — which is what the oracle
    * computes — but every stage is parallel.
    */
  def saltedTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val salted = Window.partitionBy("o_orderstatus", "salt")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val global = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(16)))
      .withColumn("local_rk", row_number().over(salted))
      .filter(col("local_rk") <= k)
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= k)
      .select(col("o_orderstatus"), col("rk"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("price"))
      .orderBy("o_orderstatus", "rk")
  }

  private val saltedTopKSql =
    """SELECT o_orderstatus, rk, o_orderkey, round(o_totalprice, 4) AS price
      |FROM (
      |  SELECT o_orderstatus, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders)
      |WHERE rk <= 10
      |ORDER BY o_orderstatus, rk""".stripMargin


  /** Runtime Bloom-filter join (q99): the non-partition-key complement
    * to q98's DPP. A selective dim filter (urgent orders) cannot prune
    * file partitions when the fact table isn't laid out on the join key
    * — instead Spark's InjectRuntimeFilter builds a bloom_filter_agg
    * over the dim join keys and semi-filters the fact scan with
    * BloomFilterMightContain BEFORE the shuffle, cutting the shuffled
    * fact volume by the dim selectivity (~20% here; at 100 TB this is
    * the difference between shuffling the whole fact table and a
    * fifth of it). Injection happens at execution planning, so the
    * bloom-filtered join is executed inside this function with the
    * thresholds scoped (fixture scans are far below the 10 GiB default
    * application-side threshold) and the session conf restored after;
    * PlanSpec asserts bloom_filter_agg + the scan-side might_contain
    * on the same shape. Broadcast is disabled so the demonstrated plan
    * is the 100-TB shuffle-join shape; the sum aggregates integral
    * l_quantity, which is order-independent in doubles.
    */
  def bloomFilteredJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = SourcesOps.freshScratch("join_bloom")
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => conf.set(k, v) }
      val urgent = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      Tables.lineitem(spark, dir)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 4).as("sum_qty"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    spark.read.parquet(out).orderBy("l_returnflag")
  }

  private val bloomFilteredJoinSql =
    """SELECT l_returnflag, count(*) AS n_lines, round(sum(l_quantity), 4) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Manual skew-split two-path join (q119): the third skew strategy in
    * the repo's toolkit, alongside salting (q19) and AQE skew-split
    * (AqeSkewSpec) — used at 100 TB when AQE cannot see the skew (it
    * only fires post-shuffle on partition sizes, not on per-KEY
    * hotness) or the dim is too big to broadcast whole while its
    * hot-key slice is tiny. The hot set comes from the q117-style
    * frequency profile (top-10 keys, broadcast); the fact stream splits
    * into a broadcast-joined hot path and a shuffle-joined cold path,
    * unioned before the aggregate. Per-path totals stay integer-exact
    * (count + 2-decimal money sums) so the oracle — the PLAIN join, no
    * split — hash-matches: the rewrite must be semantically invisible.
    * Broadcast thresholds are disabled for the cold path inside a
    * scoped conf (q99 recipe: execute to scratch parquet inside the
    * scope) so the demonstrated plan genuinely contains BOTH join
    * strategies (SkewJoinSpec asserts it).
    */
  def skewSplitJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = SourcesOps.freshScratch("join_skewsplit")
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => conf.set(k, v) }
      skewSplitJoined(spark, dir)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    spark.read.parquet(out).orderBy("c_mktsegment")
  }

  /** The two-path join itself, conf-agnostic (the spec applies its own
    * scoped thresholds to audit the plan before any write).
    */
  private[graft] def skewSplitJoined(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.orders(spark, dir)
    val dim = Tables.customer(spark, dir)
    val hot = broadcast(
      fact.groupBy("o_custkey").count()
        .orderBy(col("count").desc, col("o_custkey")).limit(10)
        .select(col("o_custkey").as("hk")))
    val factHot = fact.join(hot, col("o_custkey") === col("hk"), "left_semi")
    val factCold = fact.join(hot, col("o_custkey") === col("hk"), "left_anti")
    val dimHot = broadcast(dim.join(hot, col("c_custkey") === col("hk"), "left_semi"))
    factHot.join(dimHot, col("o_custkey") === col("c_custkey"))
      .unionAll(factCold.join(dim, col("o_custkey") === col("c_custkey")))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  private val skewSplitJoinSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Blocked edit-distance similarity join (q125): fuzzy entity
    * matching over the part-name catalog — find distinct name pairs
    * within Levenshtein distance 3, joining only within a blocking key
    * (the name's noun) so the comparison count is Σ|block|², never
    * |names|². This is the classic blocking/entity-resolution shape:
    * at 100 TB the block key comes from a cheap canonicalizer (phonetic
    * code, sorted token prefix, LSH band — q75's machinery) and skewed
    * blocks get the same per-bucket cap the LSH pipeline applies; the
    * quadratic work only ever happens inside a block.
    *
    * Names are aggregated to distinct first (with their part counts),
    * so the join compares entities, not rows — dedup before the
    * expensive comparator is the first rule of fuzzy matching at scale.
    */
  def editDistanceJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", element_at(split(col("p_name"), " "), 2))
    val a = names.select(col("noun"), col("p_name").as("name_a"), col("n_parts").as("n_a"))
    val b = names.select(col("noun"), col("p_name").as("name_b"), col("n_parts").as("n_b"))
    a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select("name_a", "name_b", "dist", "n_a", "n_b")
      .orderBy("name_a", "name_b")
  }

  private val editDistanceJoinSql =
    """WITH names AS (
      |  SELECT p_name, count(*) AS n_parts, split_part(p_name, ' ', 2) AS noun
      |  FROM part GROUP BY p_name)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  levenshtein(a.p_name, b.p_name) AS dist,
      |  a.n_parts AS n_a, b.n_parts AS n_b
      |FROM names a JOIN names b
      |  ON a.noun = b.noun AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  override def all: Seq[QueryDef] = Seq(
    QueryDef("q10_semi_join", semiJoin, Some(semiJoinSql)),
    QueryDef("q11_anti_join", antiJoin, Some(antiJoinSql)),
    QueryDef("q12_outer_join_counts", outerJoinOrderCounts, Some(outerJoinOrderCountsSql)),
    QueryDef("q13_full_outer_nation", fullOuterNationActivity, Some(fullOuterNationActivitySql)),
    QueryDef("q14_theta_join_balance", thetaJoinBalance, Some(thetaJoinBalanceSql)),
    QueryDef("q15_cross_join_regions", crossJoinRegions, Some(crossJoinRegionsSql)),
    QueryDef("q16_range_join_bands", rangeJoinPriceBands, Some(rangeJoinPriceBandsSql)),
    QueryDef("q17_star_brand_nation", starJoinBrandNation, Some(starJoinBrandNationSql), headline = true),
    QueryDef("q18_right_outer_segments", rightOuterSegments, Some(rightOuterSegmentsSql)),
    QueryDef("q19_salted_topk", saltedTopK, Some(saltedTopKSql)),
    QueryDef("q99_bloom_filter_join", bloomFilteredJoin, Some(bloomFilteredJoinSql)),
    QueryDef("q119_skew_split_join", skewSplitJoin, Some(skewSplitJoinSql)),
    QueryDef("q125_editdist_join", editDistanceJoin, Some(editDistanceJoinSql)))
}
