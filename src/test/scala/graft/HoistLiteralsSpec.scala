package graft

import java.nio.file.{Files, Path}

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.plans.{HoistLiterals, HoistedLiteral}
import graft.queries.{Aggregates, Joins, Relational, Scalars, SqlGateway, Temporal, Windows}

/** `HoistLiterals`: SQL commands that differ only in the literals of their
  * comparisons and arithmetic reuse compiled classes, and answer, explain,
  * push down and reuse exchanges exactly as without the rule.
  *
  * `ext` is built with GraftExtensions (the deployment the benchmark
  * drives); `hoisting` has only the rule installed, so its answers are
  * compared with the extension-free shared session and any difference is
  * the rule's.
  */
class HoistLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val ext: SparkSession = siblingSession(new GraftExtensions)
  private lazy val hoisting: SparkSession = siblingSession(_.injectColumnar(_ => HoistLiterals))

  private lazy val scratch: Path = Files.createTempDirectory("hoist-literals")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Rows as a sorted multiset, or the error conditions of the failure's
    * cause chain. */
  private def outcome(s: SparkSession, sql: String): Either[List[String], Seq[String]] =
    try Right(s.sql(sql).collect().map(_.toString).toSeq.sorted)
    catch {
      case e: Exception =>
        val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case t: SparkThrowable if t.getCondition != null => t.getCondition }.toList
        if (conditions.isEmpty) throw e
        Left(conditions)
    }

  private def assertAsShared(sql: String): Either[List[String], Seq[String]] = {
    val ours = outcome(hoisting, sql)
    assert(ours == outcome(spark, sql), s"outcome differs for: $sql")
    ours
  }

  // --- plane fixtures: the shapes of the benchmark's txn_churn ---

  private lazy val planes: (String, String) = {
    val bal = scratch.resolve("bal").toString
    val stock = scratch.resolve("stock").toString
    spark.sql("SELECT id AS k, pmod(id * 7919, 1000003) AS v FROM range(1, 3001)")
      .coalesce(1).write.parquet(bal)
    spark.sql("SELECT id AS k, pmod(id * 104729, 1000003) AS v FROM range(1, 2001)")
      .coalesce(1).write.parquet(stock)
    (bal, stock)
  }

  /** One command per shape, with literals drawn from `j`; every command
    * returns rows, so adaptive execution keeps the same plan shape. */
  private def shapes(j: Int): Seq[(String, () => Unit)] = {
    val (bal, stock) = planes
    val m = 5 + j % 11
    val r = j % m
    def read(sql: String): () => Unit = () => SqlGateway.sql(ext, sfDir, sql).collect()
    Seq(
      "plane mod" -> read(s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$bal` WHERE k % $m = $r"),
      "plane range" -> read(s"SELECT count(*) AS n, sum(v) AS s FROM parquet.`$stock` " +
        s"WHERE k BETWEEN ${1 + 37 * j} AND ${500 + 37 * j}"),
      "plane join" -> read(s"SELECT count(*) AS n, sum(b.v + s.v) AS s FROM parquet.`$bal` b " +
        s"JOIN parquet.`$stock` s ON b.k = s.k WHERE b.k % $m = $r"),
      "plane rewrite" -> (() => {
        SqlGateway.applyLog(ext, Seq(s"CREATE OR REPLACE TEMP VIEW hoist_w_bal AS SELECT k, " +
          s"CASE WHEN k % $m = $r THEN (v * ${2 + j % 8} + ${1000 + 7919 * j}) % 1000003 ELSE v END AS v " +
          s"FROM parquet.`$bal`"))
        ext.table("hoist_w_bal").write.parquet(scratch.resolve(s"rewrite-$j").toString)
      }),
      "timestamp cut-off" -> read("SELECT n.n_name AS nation, count(*) AS n_orders, " +
        "sum(o.o_totalprice) AS revenue FROM orders o " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        s"WHERE o.o_orderdate < TIMESTAMP '1996-0${1 + j % 9}-${10 + j}' GROUP BY n.n_name"),
      "double threshold" -> read("SELECT count(*) AS n, sum(c_acctbal) AS s FROM customer " +
        s"WHERE c_acctbal > ${100 + 97 * j}"))
  }

  test("commands that differ only in literals compile nothing after one warm command per shape") {
    shapes(0).foreach(_._2())
    val added = shapes(0).indices.map { i =>
      val before = compiles
      (1 to 10).foreach(j => shapes(j)(i)._2())
      shapes(0)(i)._1 -> (compiles - before)
    }
    assert(added.forall(_._2 == 0L), s"compiles added by 10 fresh-literal commands: $added")
  }

  // --- answers over every hoisted type ---

  private val types = Seq("i" -> "INT", "l" -> "BIGINT", "s" -> "SMALLINT", "b" -> "TINYINT",
    "f" -> "FLOAT", "d" -> "DOUBLE", "dt" -> "DATE", "ts" -> "TIMESTAMP", "tn" -> "TIMESTAMP_NTZ")

  /** Column values, one row each; NULL rows only reach the nullable view. */
  private val values: Map[String, Seq[String]] = {
    val floats = Seq("NaN", "Infinity", "-Infinity", "0.0", "-0.0", "1.5", "-2.25", "7", "1e-30", "1e30")
    val stamps = Seq("0001-01-01 00:00:00", "9999-12-31 23:59:59.999999", "1970-01-01 00:00:00",
      "1969-12-31 23:59:59.999999", "2024-02-29 12:34:56.789012", "2000-01-01 00:00:00",
      "1996-06-15 08:00:00", "1582-10-10 00:00:00", "2038-01-19 03:14:08", "1900-03-01 00:00:00")
    Map(
      "i" -> Seq("-2147483648", "2147483647", "0", "-1", "7", "-7", "12345", "3", "100", "-100"),
      "l" -> Seq("-9223372036854775808", "9223372036854775807", "0", "-1", "7", "-7",
        "123456789012", "3", "100", "-100"),
      "s" -> Seq("-32768", "32767", "0", "-1", "7", "-7", "1234", "3", "100", "-100"),
      "b" -> Seq("-128", "127", "0", "-1", "7", "-7", "12", "3", "100", "-100"),
      "f" -> floats, "d" -> floats,
      "dt" -> stamps.map(_.take(10)), "ts" -> stamps, "tn" -> stamps)
  }

  /** Literals per type; every int-like set holds the type's minimum and a
    * zero divisor, every floating set -0.0, 0.0, NaN and both infinities. */
  private val literals: Map[String, Seq[String]] = {
    val floats = Seq("0.0", "-0.0", "NaN", "Infinity", "-Infinity", "1.5")
    Map(
      "i" -> Seq("-2147483648", "0", "-1", "7"),
      "l" -> Seq("-9223372036854775808", "0", "3"),
      "s" -> Seq("-32768", "0", "3"),
      "b" -> Seq("-128", "0", "3"),
      "f" -> floats, "d" -> floats,
      "dt" -> Seq("1970-01-01", "2024-02-29"),
      "ts" -> Seq("1970-01-01 00:00:00", "2024-02-29 12:34:56.789012"),
      "tn" -> Seq("1970-01-01 00:00:00", "2024-02-29 12:34:56.789012"))
  }

  private def sqlType(c: String): String = types.toMap.apply(c)
  private def typed(c: String, v: String): String = s"CAST('$v' AS ${sqlType(c)})"

  /** `hl_null`: every column nullable (parquet), one NULL row per column;
    * `hl_full`: the same values through a non-nullable projection. */
  private lazy val matrixDir: String = {
    val dir = scratch.resolve("matrix").toString
    val rows = (0 until 11).map { j =>
      (s"$j" +: types.map { case (c, _) =>
        if (j == 10) s"CAST(NULL AS ${sqlType(c)})" else typed(c, values(c)(j))
      }).mkString("(", ", ", ")")
    }
    spark.sql(s"SELECT * FROM VALUES ${rows.mkString(", ")} AS t(id, ${types.map(_._1).mkString(", ")})")
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def registerMatrix(s: SparkSession): Unit = {
    s.read.parquet(matrixDir).createOrReplaceTempView("hl_null")
    s.sql(s"SELECT id, ${types.map { case (c, _) =>
      s"coalesce($c, ${typed(c, values(c).head)}) AS $c" }.mkString(", ")} FROM hl_null")
      .createOrReplaceTempView("hl_full")
  }

  private def comparisons(c: String, lit: String): Seq[String] =
    Seq("=", "<>", "<", "<=", ">", ">=", "<=>").map(o => s"$c $o $lit") :+ s"$lit < $c"

  private def arithmetic(c: String, lit: String): Seq[String] = c match {
    case "dt" | "ts" | "tn" => Nil
    case "f" | "d" => Seq(s"$c + $lit", s"$c - $lit", s"$lit - $c", s"$c * $lit", s"$c / $lit",
      s"$c % $lit", s"pmod($c, $lit)")
    case _ => Seq(s"$c + $lit", s"$c - $lit", s"$lit - $c", s"$c * $lit", s"$c / $lit",
      s"$c % $lit", s"pmod($c, $lit)", s"$c div $lit", s"$c & $lit", s"$c | $lit", s"$c ^ $lit")
  }

  /** (query, run with ANSI on). Per view and type: every comparison with
    * every literal in one projection and as filters; each literal's
    * arithmetic in its own projection (ANSI on, where an overflow or a zero
    * divisor fails the whole query); all arithmetic in one projection and
    * as filters with ANSI off, where nothing fails. */
  private def matrixQueries: Seq[(String, Boolean)] =
    Seq("hl_null", "hl_full").flatMap { view =>
      types.flatMap { case (c, _) =>
        val lits = literals(c).map(typed(c, _))
        val arith = lits.map(arithmetic(c, _)).filter(_.nonEmpty)
        def union(where: Seq[String]) = where.zipWithIndex
          .map { case (w, n) => s"SELECT $n AS q, id FROM $view WHERE $w" }.mkString(" UNION ALL ")
        Seq(
          s"SELECT id, ${lits.flatMap(comparisons(c, _)).mkString(", ")} FROM $view" -> true,
          union(lits.map(l => s"$c <= $l OR $l = $c")) -> true) ++
          arith.map(a => s"SELECT id, ${a.mkString(", ")} FROM $view" -> true) ++
          (if (arith.isEmpty) Nil
           else Seq(s"SELECT id, ${arith.flatten.mkString(", ")} FROM $view" -> false,
             union(lits.zip(arith).map { case (l, a) => s"${a.head} > $l AND ${a(3)} <> $c" }) -> false))
      }
    }

  /** Every matrix query answers (or fails) as in the shared session;
    * returns the number of queries run. */
  private def assertMatrix(): Int = {
    Seq(spark, hoisting).foreach(registerMatrix)
    val qs = matrixQueries
    qs.collect { case (q, true) => q }.foreach(assertAsShared)
    withConf(Seq(spark, hoisting), "spark.sql.ansi.enabled" -> "false") {
      qs.collect { case (q, false) => q }.foreach(q =>
        assert(assertAsShared(q).isRight, s"ANSI off must not fail: $q"))
    }
    qs.size
  }

  test("answers equal the rule-free session over every hoisted type, ANSI on and off") {
    assert(assertMatrix() > 50)
  }

  test("matrix still equal with whole-stage codegen off and with interpreted evaluation") {
    withConf(Seq(spark, hoisting), "spark.sql.codegen.wholeStage" -> "false")(assertMatrix())
    withConf(Seq(spark, hoisting), "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertMatrix())
  }

  test("a literal zero divisor raises the same error with ANSI on and gives the same nulls with it off") {
    Seq(spark, hoisting).foreach(registerMatrix)
    Seq("i / 0", "i % 0", "i div 0", "pmod(i, 0)", "l div 0", "d / CAST(0 AS DOUBLE)").foreach { e =>
      val q = s"SELECT id, $e AS r FROM hl_full"
      assert(assertAsShared(q).left.map(_.exists(_.endsWith("_BY_ZERO"))) == Left(true), q)
      withConf(Seq(spark, hoisting), "spark.sql.ansi.enabled" -> "false") {
        assert(assertAsShared(q).map(_.forall(_.endsWith(",null]"))) == Right(true), q)
      }
    }
  }

  // --- plans ---

  private def normalized(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  /** Run `sql` in both sessions and check the rows agree; returns the
    * executed (ours, shared) frames. */
  private def executed(sql: String): (DataFrame, DataFrame) = {
    val ours = hoisting.sql(sql)
    val theirs = spark.sql(sql)
    assert(ours.collect().map(_.toString).sorted.sameElements(theirs.collect().map(_.toString).sorted))
    (ours, theirs)
  }

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def hoistedIn(p: SparkPlan): Int =
    collectWithSubqueries(p) { case n => n.expressions.map(_.collect { case h: HoistedLiteral => h }.size).sum }.sum

  test("explain text, pushed filters and output nullability are as in the rule-free session") {
    val (bal, _) = planes
    Seq(hoisting, spark).foreach(_.read.parquet(bal).createOrReplaceTempView("hl_bal"))
    Seq("true", "false").foreach { aqe =>
      withConf(Seq(spark, hoisting), "spark.sql.adaptive.enabled" -> aqe) {
        Seq(
          "SELECT count(*) AS n, sum(v) AS s FROM hl_bal WHERE k % 7 = 3 AND v > 12",
          "SELECT k, CASE WHEN k % 9 = 4 THEN (v * 3 + 11) % 1000003 ELSE v END AS v FROM hl_bal WHERE k BETWEEN 10 AND 900",
          "SELECT k + 1 AS k1, v / 3 AS third, v % 0 AS z FROM hl_bal WHERE k >= 2990").foreach { q =>
          val (oursDf, theirsDf) = withConf(Seq(spark, hoisting), "spark.sql.ansi.enabled" -> "false")(executed(q))
          val (ours, theirs) = (plan(oursDf), plan(theirsDf))
          assert(hoistedIn(ours) > 0, s"nothing hoisted in: $q")
          assert(normalized(oursDf) == normalized(theirsDf), s"explain differs for: $q")
          def scans(p: SparkPlan) = collect(p) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
          assert(scans(ours) == scans(theirs) && scans(ours).nonEmpty, s"pushed filters differ for: $q")
          def nodes(p: SparkPlan) = collect(p) { case n => n }
          assert(nodes(ours).map(_.nodeName) == nodes(theirs).map(_.nodeName))
          nodes(ours).zip(nodes(theirs)).foreach { case (a, b) =>
            a.output.zip(b.output).foreach { case (x, y) =>
              assert(x.nullable || !y.nullable, s"${a.nodeName} narrowed ${x.name} in: $q")
            }
          }
        }
      }
    }
  }

  test("a self-join over hoisted filters keeps its reused exchange") {
    val (bal, _) = planes
    Seq(hoisting, spark).foreach(_.read.parquet(bal).createOrReplaceTempView("hl_bal"))
    val q = "WITH g AS (SELECT k % 50 AS g, count(*) AS n, sum(v * 2 + 1) AS s FROM hl_bal " +
      "WHERE k % 7 = 3 GROUP BY k % 50) SELECT a.g, a.n + b.n AS n, a.s - b.s AS d FROM g a JOIN g b ON a.g = b.g"
    Seq("true", "false").foreach { aqe =>
      withConf(Seq(spark, hoisting), "spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val (ours, theirs) = executed(q) match { case (o, t) => (plan(o), plan(t)) }
        def reused(p: SparkPlan) = collect(p) { case r: ReusedExchangeExec => r }.size
        assert(hoistedIn(ours) > 0)
        assert(reused(theirs) > 0 && reused(ours) == reused(theirs), s"AQE $aqe: reuse lost")
      }
    }
  }

  // --- the engine's query packs ---

  test("every Relational, Joins, Aggregates, Windows, Scalars, Temporal and SqlGateway query answers as without the rule") {
    val packs = Seq(Relational, Joins, Aggregates, Windows, Scalars, Temporal, SqlGateway)
    val diffs = packs.flatMap(_.all).flatMap { q =>
      def rows(s: SparkSession) = q.fn(s, sfDir).collect().map(_.toString).toSeq.sorted
      if (rows(hoisting) == rows(spark)) None else Some(q.name)
    }
    assert(diffs.isEmpty, s"queries whose rows differ with the rule: $diffs")
  }
}
