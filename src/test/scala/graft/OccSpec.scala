package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import graft.queries.{LlmPipeline, SqlGateway}

/** Optimistic concurrency on the generation-pointer swap (q172 —
  * VERDICT r10 item 2): two REAL sessions' worth of work race
  * `applyLog`-style command batches against the same table, and the
  * compare-and-swap on the commit log must make the outcome
  * SERIALIZABLE — the final state equals one of the two serial orders,
  * never a merge, and the loser observably detects its lost race.
  *
  * The rewrites here are chosen NON-commuting (A: price + 10 on every
  * row; B: price * 2 on every row) so the two serial orders produce
  * DIFFERENT final states: (p+10)*2 vs p*2+10 differ on every row.
  * A merge (both rewrites applied to the same base and somehow
  * combined) matches neither and fails the equality check.
  */
class OccSpec extends SparkSpec {

  test("two racing writers serialize through the pointer CAS: one lost race, final state equals exactly one serial order") {
    val logDir = Files.createTempDirectory("graft-occ-spec-")
    val tables = Seq("occs_base", "occs_a_1", "occs_a_2", "occs_b_1", "occs_b_2")
    try {
      graft.sources.Tables.registerAll(spark, sfDir)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      SqlGateway.resetManagedLocations(spark, tables)
      spark.sql(
        """CREATE TABLE occs_base USING PARQUET AS
          |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
          |FROM part""".stripMargin)
      assert(SqlGateway.occTryCommit(logDir, -1L, "occs_base"))

      // Non-commuting rewrites: order changes every row's price.
      val rewriteA = (from: String) =>
        s"SELECT p_partkey, CAST(price + 10 AS DECIMAL(12,2)) AS price FROM $from"
      val rewriteB = (from: String) =>
        s"SELECT p_partkey, CAST(price * 2 AS DECIMAL(12,2)) AS price FROM $from"

      // Both writers build their candidate generation against the log
      // state they read, then meet at the barrier so both attempt the
      // SAME CAS — exactly one must win it.
      val barrier = new CyclicBarrier(2)
      def writer(name: String, rewrite: String => String): (Long, Int) = {
        var lost = 0
        var attempt = 0
        var committedGen = -1L
        while (committedGen < 0 && attempt < 5) {
          attempt += 1
          val cur = SqlGateway.occCurrentGen(logDir)
          val base = SqlGateway.occTableAt(logDir, cur)
          val mine = s"occs_${name}_$attempt"
          spark.sql(s"CREATE TABLE $mine USING PARQUET AS ${rewrite(base)}")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommit(logDir, cur, mine)) committedGen = cur + 1
          else { lost += 1; spark.sql(s"DROP TABLE $mine") }
        }
        assert(committedGen > 0, s"writer $name never committed")
        (committedGen, lost)
      }

      var resA: (Long, Int) = null
      var resB: (Long, Int) = null
      var errA: Throwable = null
      var errB: Throwable = null
      val tA = new Thread(() =>
        try resA = writer("a", rewriteA) catch { case t: Throwable => errA = t })
      val tB = new Thread(() =>
        try resB = writer("b", rewriteB) catch { case t: Throwable => errB = t })
      tA.start(); tB.start(); tA.join(120000); tB.join(120000)
      assert(errA == null, s"writer A failed: $errA")
      assert(errB == null, s"writer B failed: $errB")

      // Protocol facts: generations 1 and 2 both committed, by
      // different writers, and exactly one writer lost exactly one race
      // (both based attempt 1 on generation 0; the barrier guarantees
      // the conflict).
      assert(Set(resA._1, resB._1) == Set(1L, 2L),
        s"writers must land on generations 1 and 2, got $resA / $resB")
      assert(resA._2 + resB._2 == 1,
        s"exactly one lost race expected, got A=${resA._2} B=${resB._2}")

      // Serializability: the final committed state equals exactly ONE
      // of the two serial orders — and the orders genuinely differ, so
      // a merged/lost-update outcome matches neither.
      def rows(sql: String): Set[String] =
        spark.sql(sql).collect().map(_.toString).toSet
      val finalRows = rows(
        s"SELECT * FROM ${SqlGateway.occTableAt(logDir, 2L)}")
      val serialAB = rows(s"WITH s1 AS (${rewriteA("occs_base")}) ${rewriteB("s1")}")
      val serialBA = rows(s"WITH s1 AS (${rewriteB("occs_base")}) ${rewriteA("s1")}")
      assert(serialAB != serialBA,
        "the chosen rewrites must not commute, or the check is vacuous")
      val winnerFirst = if (resA._1 == 1L) serialAB else serialBA
      val loserFirst = if (resA._1 == 1L) serialBA else serialAB
      assert(finalRows == winnerFirst,
        "final state must equal the serial order the CAS selected")
      assert(finalRows != loserFirst, "final state matched the wrong serial order")

      // The loser's orphaned attempt-1 table was dropped on rebase.
      val loser = if (resA._2 == 1) "a" else "b"
      assert(!spark.catalog.tableExists(s"occs_${loser}_1"),
        "lost-race candidate table must be cleaned up")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      LlmPipeline.deleteRecursively(logDir)
    }
  }

  test("N racing writers with unscripted interleavings serialize to exactly the commit-log order") {
    // VERDICT r11 item 7: generalize the 2-writer race — four threads,
    // no barrier (interleavings fall where the scheduler drops them),
    // each retrying until it commits exactly once. The rewrites are
    // affine maps price -> m*price + 1, multipliers chosen so ALL 24
    // order compositions have distinct constants (searched; distinct
    // m alone is not enough — (2,3,5,7) collides on one order pair),
    // so the final state pins the exact serial order; the commit log
    // IS that order, and replaying the rewrites in commit order must
    // reproduce the final table bit-for-bit.
    val logDir = Files.createTempDirectory("graft-occ-n-")
    val ms = Seq(2, 3, 4, 8)
    val n = ms.size
    val allTables = "occn_base" +: (0 until n).flatMap(i =>
      (1 to n + 3).map(j => s"occn_w${i}_$j"))
    try {
      graft.sources.Tables.registerAll(spark, sfDir)
      allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      SqlGateway.resetManagedLocations(spark, allTables)
      spark.sql(
        """CREATE TABLE occn_base USING PARQUET AS
          |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
          |FROM part""".stripMargin)
      assert(SqlGateway.occTryCommit(logDir, -1L, "occn_base"))

      // Non-vacuity: all 24 orderings compose to pairwise-distinct
      // affine constants, so only the true commit order can match.
      def compose(order: Seq[Int]): (BigInt, BigInt) =
        order.foldLeft((BigInt(1), BigInt(0))) { case ((m, c), i) =>
          (m * ms(i), BigInt(ms(i)) * c + 1)
        }
      val consts = ms.indices.permutations.map(p => compose(p)._2).toSeq
      assert(consts.distinct.size == consts.size,
        "rewrite family must be pairwise non-commuting across all orders")

      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def writer(i: Int): Unit = {
        var committed = false
        var attempt = 0
        while (!committed && attempt < n + 3) {
          attempt += 1
          val cur = SqlGateway.occCurrentGen(logDir)
          val base = SqlGateway.occTableAt(logDir, cur)
          val mine = s"occn_w${i}_$attempt"
          spark.sql(s"CREATE TABLE $mine USING PARQUET AS " +
            s"SELECT p_partkey, CAST(price * ${ms(i)} + 1 AS DECIMAL(12,2)) AS price FROM $base")
          if (SqlGateway.occTryCommit(logDir, cur, mine)) committed = true
          else spark.sql(s"DROP TABLE $mine")
        }
        assert(committed, s"writer $i never committed in ${n + 3} attempts")
      }
      val threads = ms.indices.map(i => new Thread(() =>
        try writer(i) catch { case t: Throwable => errs.add(t) }))
      threads.foreach(_.start()); threads.foreach(_.join(180000))
      // A hung writer surviving the join timeout would race the state
      // assertions and the finally-block DROP TABLE cleanup below,
      // producing confusing secondary failures — fail with the direct
      // diagnosis first (ADVICE r12).
      assert(threads.forall(!_.isAlive),
        s"${threads.count(_.isAlive)} writer thread(s) still running after the " +
          "180s join timeout — writer hung")
      assert(errs.isEmpty, s"writer failures: ${errs.toArray.mkString("; ")}")

      // Every generation 1..n committed; the committed tables name
      // their writers — that sequence is THE serial order.
      assert(SqlGateway.occCurrentGen(logDir) == n.toLong)
      val commitOrder = (1 to n).map { g =>
        val t = SqlGateway.occTableAt(logDir, g.toLong)
        assert(t.startsWith("occn_w"), s"unexpected committed table $t")
        t.stripPrefix("occn_w").split("_")(0).toInt
      }
      assert(commitOrder.sorted == ms.indices.toSeq,
        s"each writer must commit exactly once, got order $commitOrder")

      // Final state == the commit-order composition applied to base.
      val (m, c) = compose(commitOrder)
      val finalRows = spark.sql(
        s"SELECT * FROM ${SqlGateway.occTableAt(logDir, n.toLong)}")
        .collect().map(_.toString).toSet
      val composed = spark.sql(
        s"SELECT p_partkey, CAST(price * $m + $c AS DECIMAL(12,2)) AS price FROM occn_base")
        .collect().map(_.toString).toSet
      assert(finalRows == composed,
        s"final state diverged from the commit-order composition $commitOrder")
      // Losers cleaned every orphan: no non-committed candidate remains.
      val committedTables = (1 to n).map(g => SqlGateway.occTableAt(logDir, g.toLong)).toSet
      val orphans = allTables.drop(1).filter(t =>
        !committedTables.contains(t) && spark.catalog.tableExists(t))
      assert(orphans.isEmpty, s"orphaned candidates survived: $orphans")
    } finally {
      allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      LlmPipeline.deleteRecursively(logDir)
    }
  }

  test("multi-table manifest commit: a live reader never sees a torn fact/dim pair; commit-order replay converges") {
    // q200's REAL race (VERDICT r15 item 7): two writer threads each
    // rewrite the FACT (non-commuting price maps) and rebuild its
    // summary DIM from their own candidate, committing both through
    // ONE manifest CAS; a concurrently polling reader resolves both
    // tables from whatever manifest is current and asserts the
    // cross-table invariant (dim row == recount of fact) at every
    // observation — the torn read a per-table pointer swap would
    // permit. Afterward: every committed generation is consistent, and
    // replaying the rewrites in COMMIT ORDER reproduces the final
    // fact — the serializability convergence law on the manifest log.
    val logDir = Files.createTempDirectory("graft-occ-mt-")
    val allTables = Seq("mts_fact_0", "mts_dim_0") ++
      (1 to 5).flatMap(i => Seq("a", "b").flatMap(n =>
        Seq(s"mts_${n}_${i}_fact", s"mts_${n}_${i}_dim")))
    try {
      graft.sources.Tables.registerAll(spark, sfDir)
      allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      SqlGateway.resetManagedLocations(spark, allTables)
      spark.sql(
        """CREATE TABLE mts_fact_0 USING PARQUET AS
          |SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price
          |FROM part""".stripMargin)
      spark.sql(
        """CREATE TABLE mts_dim_0 USING PARQUET AS
          |SELECT count(*) AS n_rows, CAST(sum(price) AS DECIMAL(18,2)) AS total
          |FROM mts_fact_0""".stripMargin)
      assert(SqlGateway.occTryCommitManifest(logDir, -1L,
        Seq("fact" -> "mts_fact_0", "dim" -> "mts_dim_0")))

      // Non-commuting fact rewrites, as in the single-table race.
      val rewrites = Map(
        "a" -> ((from: String) =>
          s"SELECT p_partkey, CAST(price + 10 AS DECIMAL(12,2)) AS price FROM $from"),
        "b" -> ((from: String) =>
          s"SELECT p_partkey, CAST(price * 2 AS DECIMAL(12,2)) AS price FROM $from"))
      def recount(fact: String): org.apache.spark.sql.Row =
        spark.sql(s"""SELECT count(*) AS n_rows,
          |CAST(sum(price) AS DECIMAL(18,2)) AS total FROM $fact""".stripMargin).head()

      val barrier = new CyclicBarrier(2)
      def writer(name: String): (Long, Int) = {
        val rw = rewrites(name)
        var lost = 0
        var attempt = 0
        var committedGen = -1L
        while (committedGen < 0 && attempt < 5) {
          attempt += 1
          val cur = SqlGateway.occCurrentGen(logDir)
          val baseFact = SqlGateway.occManifestAt(logDir, cur)("fact")
          val f = s"mts_${name}_${attempt}_fact"
          val d = s"mts_${name}_${attempt}_dim"
          spark.sql(s"CREATE TABLE $f USING PARQUET AS ${rw(baseFact)}")
          spark.sql(s"""CREATE TABLE $d USING PARQUET AS
            |SELECT count(*) AS n_rows, CAST(sum(price) AS DECIMAL(18,2)) AS total
            |FROM $f""".stripMargin)
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, cur,
              Seq("fact" -> f, "dim" -> d))) committedGen = cur + 1
          else { lost += 1; spark.sql(s"DROP TABLE $f"); spark.sql(s"DROP TABLE $d") }
        }
        assert(committedGen > 0, s"writer $name never committed")
        (committedGen, lost)
      }

      // The live reader: polls until both writers are done, resolving
      // BOTH tables from one manifest each time and checking the
      // invariant. Every observation must be consistent, whatever
      // generation it lands on.
      @volatile var writersDone = false
      var readerObs = 0
      var readerErr: Throwable = null
      val reader = new Thread(() =>
        try {
          while (!writersDone) {
            val g = SqlGateway.occCurrentGen(logDir)
            val m = SqlGateway.occManifestAt(logDir, g)
            val dim = spark.table(m("dim")).head()
            val rc = recount(m("fact"))
            assert(dim == rc,
              s"TORN READ at generation $g: dim=$dim recount=$rc")
            readerObs += 1
          }
        } catch { case t: Throwable => readerErr = t })
      var resA: (Long, Int) = null
      var resB: (Long, Int) = null
      var errA: Throwable = null
      var errB: Throwable = null
      val tA = new Thread(() =>
        try resA = writer("a") catch { case t: Throwable => errA = t })
      val tB = new Thread(() =>
        try resB = writer("b") catch { case t: Throwable => errB = t })
      reader.start(); tA.start(); tB.start()
      tA.join(120000); tB.join(120000)
      writersDone = true
      reader.join(120000)
      assert(errA == null, s"writer A failed: $errA")
      assert(errB == null, s"writer B failed: $errB")
      assert(readerErr == null, s"reader failed: $readerErr")
      assert(readerObs > 0, "reader made no observations — the law is vacuous")
      info(s"reader made $readerObs torn-free observations")

      // Protocol facts as in the single-table race.
      assert(Set(resA._1, resB._1) == Set(1L, 2L),
        s"writers must land on generations 1 and 2, got $resA / $resB")
      assert(resA._2 + resB._2 == 1,
        s"exactly one lost race expected, got A=${resA._2} B=${resB._2}")

      // Post-hoc: EVERY committed generation is internally consistent.
      (0L to 2L).foreach { g =>
        val m = SqlGateway.occManifestAt(logDir, g)
        assert(spark.table(m("dim")).head() == recount(m("fact")),
          s"generation $g committed a torn fact/dim pair")
      }

      // Replay convergence: applying the rewrites in COMMIT ORDER to
      // the genesis fact reproduces the final committed fact exactly.
      def rows(sql: String): Set[String] =
        spark.sql(sql).collect().map(_.toString).toSet
      val order = (1L to 2L).map { g =>
        val f = SqlGateway.occManifestAt(logDir, g)("fact")
        if (f.startsWith("mts_a_")) "a" else "b"
      }
      val replayed = rows(s"WITH s1 AS (${rewrites(order(0))("mts_fact_0")}) " +
        rewrites(order(1))("s1"))
      val finalFact = SqlGateway.occManifestAt(logDir, 2L)("fact")
      assert(rows(s"SELECT * FROM $finalFact") == replayed,
        "commit-order replay did not converge to the committed final fact")
    } finally {
      allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      LlmPipeline.deleteRecursively(logDir)
    }
  }

  test("multi-plane takedown commit: live reader never sees mixed plane generations; racing takedowns serialize to rebuild-without-union") {
    // q201's REAL race (VERDICT r16 item 1): two takedown transactions
    // with disjoint removal sets stage their fourteen-plane candidate
    // generations against the SAME base manifest, then attempt the
    // same CAS — one loses, rebases on the winner's committed planes,
    // re-folds, retries. A concurrently polling reader resolves every
    // plane it checks from ONE manifest and asserts the cross-plane
    // invariants a torn commit would break (anti-joined postings
    // beside un-subtracted stats; a labeling still naming removed docs
    // beside an already-swung band plane — the labeling read joined
    // the manifest in r18, VERDICT r17 item 2). Afterward: every
    // committed generation is consistent, and the final planes equal
    // rebuild-without(S_A ∪ S_B) — fold composition across
    // transactions is exact.
    import org.apache.spark.sql.functions._
    val logDir = Files.createTempDirectory("graft-tdrace-log-")
    val planesRoot = Files.createTempDirectory("graft-tdrace-pl-")
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      // Disjoint removal sets, both within the standing population
      // (the folds' ⊆-population contract holds for the second fold
      // precisely because the sets are disjoint).
      val standing = graft.sources.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 4 =!= 0)
      val remA = LlmPipeline.takedownDocSet(spark, sfDir).localCheckpoint()
      val remB = standing.filter(col("doc_id") % 23 === 5).select("doc_id")
        .join(remA, Seq("doc_id"), "left_anti").localCheckpoint()
      assert(remA.count() > 0 && remB.count() > 0, "a removal set is empty — race vacuous")

      val barrier = new CyclicBarrier(2)
      def writer(name: String, rem: org.apache.spark.sql.DataFrame): (Long, Int) = {
        var lost = 0
        var attempt = 0
        var committedGen = -1L
        while (committedGen < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageTakedownGeneration(
            spark, planesRoot.toString, logDir, rem, s"${name}_$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committedGen = baseGen + 1
          else lost += 1 // orphaned candidate dirs are never manifest-bound
        }
        assert(committedGen > 0, s"takedown writer $name never committed")
        (committedGen, lost)
      }

      // The shared invariant set — clustering planes included (labels
      // serve only docstats-served docs, edges imply membership, reps
      // are one member-naming row per cluster).
      def consistentAt(g: Long): Boolean =
        LlmPipeline.manifestPlanesConsistent(spark, logDir, g)

      @volatile var writersDone = false
      var readerObs = 0
      var readerErr: Throwable = null
      val reader = new Thread(() =>
        try {
          while (!writersDone) {
            val g = SqlGateway.occCurrentGen(logDir)
            assert(consistentAt(g), s"TORN READ at manifest generation $g")
            readerObs += 1
          }
        } catch { case t: Throwable => readerErr = t })
      var resA: (Long, Int) = null
      var resB: (Long, Int) = null
      var errA: Throwable = null
      var errB: Throwable = null
      val tA = new Thread(() =>
        try resA = writer("a", remA) catch { case t: Throwable => errA = t })
      val tB = new Thread(() =>
        try resB = writer("b", remB) catch { case t: Throwable => errB = t })
      reader.start(); tA.start(); tB.start()
      tA.join(180000); tB.join(180000)
      writersDone = true
      reader.join(120000)
      assert(errA == null, s"writer A failed: $errA")
      assert(errB == null, s"writer B failed: $errB")
      assert(readerErr == null, s"reader failed: $readerErr")
      assert(readerObs > 0, "reader made no observations — the law is vacuous")
      info(s"reader made $readerObs torn-free observations")
      assert(Set(resA._1, resB._1) == Set(1L, 2L),
        s"writers must land on generations 1 and 2, got $resA / $resB")
      assert(resA._2 + resB._2 == 1,
        s"exactly one lost race expected, got A=${resA._2} B=${resB._2}")

      // Post-hoc: every committed generation consistent.
      (0L to 2L).foreach(g => assert(consistentAt(g),
        s"generation $g committed torn planes"))

      // Convergence: the final committed planes equal the one-shot
      // rebuild without S_A ∪ S_B — fold composition is exact, in
      // either commit order.
      val mF = SqlGateway.occManifestAt(logDir, 2L)
      val removedAll = remA.union(remB)
      val kept = standing.join(removedAll, Seq("doc_id"), "left_anti")
        .select("doc_id", "text")
      val (rp, _, rs) = LlmPipeline.postingsFor(kept)
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(rowsEqual(spark.read.parquet(mF("postings")), rp),
        "final committed postings != rebuild-without(S_A ∪ S_B)")
      assert(spark.read.parquet(mF("stats")).head() == rs.head(),
        "final committed stats != recount of the survivor corpus")
      // And no committed plane serves a removed id.
      val remVecAll = removedAll.select(col("doc_id").as("vec_id"))
      Seq("postings", "positions", "docstats", "bands", "shingles").foreach { p =>
        assert(spark.read.parquet(mF(p))
          .join(broadcast(removedAll), Seq("doc_id"), "left_semi").count() == 0,
          s"final plane $p still serves removed docs")
      }
      Seq("ann_keys", "ann_vecs", "pq_cells", "pq_codes").foreach { p =>
        assert(spark.read.parquet(mF(p))
          .join(broadcast(remVecAll), Seq("vec_id"), "left_semi").count() == 0,
          s"final plane $p still serves removed vectors")
      }
      // Clustering planes: no removed id labeled, as an edge endpoint,
      // or elected representative.
      val remIdAll = removedAll.select(col("doc_id").as("id"))
      assert(spark.read.parquet(mF("labels"))
        .join(broadcast(remIdAll), Seq("id"), "left_semi").count() == 0,
        "final labels plane still labels removed docs")
      assert(spark.read.parquet(mF("pairs"))
        .join(broadcast(remIdAll.select(col("id").as("id1"))), Seq("id1"), "left_semi")
        .count() + spark.read.parquet(mF("pairs"))
        .join(broadcast(remIdAll.select(col("id").as("id2"))), Seq("id2"), "left_semi")
        .count() == 0, "final pairs plane still has removed endpoints")
      assert(spark.read.parquet(mF("reps"))
        .join(broadcast(remIdAll.select(col("id").as("rep_id"))), Seq("rep_id"), "left_semi")
        .count() == 0, "final reps plane still elects removed docs")

      // Replay convergence (at-least-once notices): re-committing the
      // FULL removal set as generation 3 folds the already-maintained
      // generation-2 planes — every fold keys on presence (anti-joins;
      // stats subtraction on the removed docs' PRESENT docstats rows),
      // so the replay is a no-op on every plane: generation 3's eleven
      // planes are row-identical to generation 2's, stats cells
      // included (a blind |notice| subtraction would corrupt nd here).
      val (wonR, _) = LlmPipeline.commitTakedownGeneration(
        spark, planesRoot.toString, logDir, removedAll, "replay")
      assert(wonR, "unopposed replay commit must win")
      val mR = SqlGateway.occManifestAt(logDir, 3L)
      LlmPipeline.TakedownPlanes.foreach { p =>
        assert(rowsEqual(spark.read.parquet(mR(p)), spark.read.parquet(mF(p))),
          s"replayed takedown changed plane $p — re-application is not a no-op")
      }
    } finally {
      LlmPipeline.deleteRecursively(logDir)
      LlmPipeline.deleteRecursively(planesRoot)
    }
  }

  test("admission races takedown whose notice names shard docs: non-commuting, final state equals exactly the commit-order serial composition") {
    // q207's REAL race (VERDICT r17 item 1 — "the race that matters"):
    // an ADMISSION transaction (fold a new shard into all fourteen
    // planes) races a TAKEDOWN transaction whose notice names docs IN
    // THAT SHARD (plus standing docs). Unlike q201's disjoint deletes
    // these do NOT commute: admit-then-takedown removes the noticed
    // shard docs (they were indexed when the notice folded), while
    // takedown-then-admit SERVES them (the takedown was a presence-
    // keyed no-op on docs not yet indexed, and the later admission
    // adds them back in full). So the serializability law has teeth:
    // the final planes must equal the commit-order serial composition
    // — enumerated here by replaying both folds serially in each
    // order — and must DIFFER from the other order on the noticed
    // shard docs. A live polling reader asserts the full fourteen-
    // plane invariant set at every observation throughout.
    import org.apache.spark.sql.functions._
    val logDir = Files.createTempDirectory("graft-admrace-log-")
    val planesRoot = Files.createTempDirectory("graft-admrace-pl-")
    val refDirs = Seq("at", "ta").map(o =>
      o -> (Files.createTempDirectory(s"graft-admref-$o-log-"),
        Files.createTempDirectory(s"graft-admref-$o-pl-"))).toMap
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      val pqRoot = LlmPipeline.ensurePqIndex(spark, sfDir)
      val shardDocs = graft.sources.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 4 === 0).select("doc_id", "text")
        .localCheckpoint()
      val shardEmb = graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 4 === 0).select("vec_id", "embedding")
        .localCheckpoint()
      // The notice: standing docs (the q201 set) PLUS shard docs — the
      // overlap that makes the transactions non-commuting.
      val noticedShard = shardDocs.select("doc_id")
        .filter(col("doc_id") % 3 === 0).localCheckpoint()
      assert(noticedShard.count() > 0, "no shard doc noticed — race commutes, law vacuous")
      val removed = LlmPipeline.takedownDocSet(spark, sfDir)
        .unionByName(noticedShard).localCheckpoint()

      val barrier = new CyclicBarrier(2)
      def admWriter(): (Long, Int) = {
        var lost = 0; var attempt = 0; var committedGen = -1L
        while (committedGen < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageAdmissionGeneration(
            spark, planesRoot.toString, logDir, shardDocs, shardEmb, sfDir,
            pqRoot, s"adm_$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committedGen = baseGen + 1
          else lost += 1
        }
        assert(committedGen > 0, "admission writer never committed")
        (committedGen, lost)
      }
      def tdWriter(): (Long, Int) = {
        var lost = 0; var attempt = 0; var committedGen = -1L
        while (committedGen < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageTakedownGeneration(
            spark, planesRoot.toString, logDir, removed, s"td_$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committedGen = baseGen + 1
          else lost += 1
        }
        assert(committedGen > 0, "takedown writer never committed")
        (committedGen, lost)
      }

      @volatile var writersDone = false
      var readerObs = 0
      var readerErr: Throwable = null
      val reader = new Thread(() =>
        try {
          while (!writersDone) {
            val g = SqlGateway.occCurrentGen(logDir)
            assert(LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
              s"TORN READ at manifest generation $g")
            readerObs += 1
          }
        } catch { case t: Throwable => readerErr = t })
      var resAdm: (Long, Int) = null
      var resTd: (Long, Int) = null
      var errAdm: Throwable = null
      var errTd: Throwable = null
      val tAdm = new Thread(() =>
        try resAdm = admWriter() catch { case t: Throwable => errAdm = t })
      val tTd = new Thread(() =>
        try resTd = tdWriter() catch { case t: Throwable => errTd = t })
      reader.start(); tAdm.start(); tTd.start()
      tAdm.join(300000); tTd.join(300000)
      writersDone = true
      reader.join(120000)
      assert(errAdm == null, s"admission writer failed: $errAdm")
      assert(errTd == null, s"takedown writer failed: $errTd")
      assert(readerErr == null, s"reader failed: $readerErr")
      assert(readerObs > 0, "reader made no observations — the law is vacuous")
      info(s"reader made $readerObs torn-free observations")
      assert(Set(resAdm._1, resTd._1) == Set(1L, 2L),
        s"writers must land on generations 1 and 2, got $resAdm / $resTd")
      assert(resAdm._2 + resTd._2 == 1,
        s"exactly one lost race expected, got adm=${resAdm._2} td=${resTd._2}")
      (0L to 2L).foreach(g =>
        assert(LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
          s"generation $g committed torn planes"))

      // Enumerate BOTH serial orders into reference manifests.
      def runRef(order: String): Map[String, String] = {
        val (rLog, rPl) = refDirs(order)
        LlmPipeline.bootstrapPlanesManifest(spark, sfDir, rLog)
        def adm(): Unit = {
          val (won, _) = LlmPipeline.commitAdmissionGeneration(
            spark, rPl.toString, rLog, shardDocs, shardEmb, sfDir, pqRoot, "r_adm")
          assert(won)
        }
        def td(): Unit = {
          val (won, _) = LlmPipeline.commitTakedownGeneration(
            spark, rPl.toString, rLog, removed, "r_td")
          assert(won)
        }
        if (order == "at") { adm(); td() } else { td(); adm() }
        SqlGateway.occManifestAt(rLog, 2L)
      }
      val refAT = runRef("at")
      val refTA = runRef("ta")
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      // The orders genuinely differ: noticed shard docs are served by
      // takedown-first and absent from admit-first.
      val servedAT = spark.read.parquet(refAT("postings"))
        .join(broadcast(noticedShard), Seq("doc_id"), "left_semi").count()
      val servedTA = spark.read.parquet(refTA("postings"))
        .join(broadcast(noticedShard), Seq("doc_id"), "left_semi").count()
      assert(servedAT == 0, "admit-then-takedown must not serve noticed shard docs")
      assert(servedTA > 0, "takedown-then-admit must serve noticed shard docs")
      // Final state == the commit-order composition, on EVERY plane;
      // != the other order where they differ.
      val admFirst = resAdm._1 == 1L
      val mF = SqlGateway.occManifestAt(logDir, 2L)
      val refMatch = if (admFirst) refAT else refTA
      LlmPipeline.TakedownPlanes.foreach { p =>
        assert(rowsEqual(spark.read.parquet(mF(p)), spark.read.parquet(refMatch(p))),
          s"final plane $p diverged from the commit-order serial composition")
      }
      val servedFinal = spark.read.parquet(mF("postings"))
        .join(broadcast(noticedShard), Seq("doc_id"), "left_semi").count()
      assert(servedFinal == (if (admFirst) 0L else servedTA),
        "final state matched the wrong serial order on the noticed shard docs")

      // Vacuum composition on the full fourteen-plane log (VERDICT r17
      // item 4): retain only the head manifest — the superseded gen-1
      // generation's 14 directories and the loser's 14 never-bound
      // attempt-1 orphans are deleted (28 total), commit files 0–1
      // expire, every retained binding survives on disk, the head read
      // is byte-identical (re-checked row-equal vs the serial
      // reference), and a below-retention resolve fails closed naming
      // the earliest retained generation.
      val (expired, orphans) =
        SqlGateway.vacuumManifestLog(logDir, planesRoot, 2L)
      assert(expired == 2L, s"expected 2 expired manifests, got $expired")
      assert(orphans == 28L, s"expected 28 orphan directories deleted, got $orphans")
      SqlGateway.occManifestAt(logDir, 2L).values.foreach(p =>
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
          s"vacuum deleted a retained binding: $p"))
      assert(rowsEqual(spark.read.parquet(mF("postings")),
        spark.read.parquet(refMatch("postings"))),
        "vacuum-then-read != read on the retained head manifest")
      val err = intercept[IllegalStateException](
        SqlGateway.occManifestAtRetained(logDir, 1L))
      assert(err.getMessage.contains("earliest retained generation is 2"),
        s"fail-closed error must name the retention point, got: ${err.getMessage}")
    } finally {
      LlmPipeline.deleteRecursively(logDir)
      LlmPipeline.deleteRecursively(planesRoot)
      refDirs.values.foreach { case (l, p) =>
        LlmPipeline.deleteRecursively(l)
        LlmPipeline.deleteRecursively(p)
      }
    }
  }

  test("delta admission races tombstone takedown: torn-free polling reader, final resolved state equals exactly the commit-order serial composition") {
    // The q207 non-commuting race re-run through the r19 DELTA path
    // (q210/q212 — VERDICT r18 items 1+3): an admission that stages
    // shard-sized `u:`/`a:`/`m:`/`o:` elements races a takedown that
    // stages notice-sized tombstones, the notice naming shard docs —
    // admit-then-takedown removes them, takedown-then-admit serves
    // them (the chain fold preserves element ORDER, PlaneChainsSpec's
    // ordering law). Both serial orders are enumerated in reference
    // logs via the same delta stagers; the final resolved postings
    // must equal the commit-order composition and differ from the
    // other order on the noticed shard docs.
    import org.apache.spark.sql.functions._
    import graft.queries.PlaneChains
    val logDir = Files.createTempDirectory("graft-dadrace-log-")
    val planesRoot = Files.createTempDirectory("graft-dadrace-pl-")
    val refDirs = Seq("at", "ta").map(o =>
      o -> (Files.createTempDirectory(s"graft-dadref-$o-log-"),
        Files.createTempDirectory(s"graft-dadref-$o-pl-"))).toMap
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      val pqRoot = LlmPipeline.ensurePqIndex(spark, sfDir)
      val shardDocs = graft.sources.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 4 === 0).select("doc_id", "text")
        .localCheckpoint()
      val shardEmb = graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 4 === 0).select("vec_id", "embedding")
        .localCheckpoint()
      val noticedShard = shardDocs.select("doc_id")
        .filter(col("doc_id") % 8 === 0)
      val removed = LlmPipeline.takedownDocSet(spark, sfDir)
        .unionByName(noticedShard).distinct().localCheckpoint()
      assert(noticedShard.count() > 0, "no shard docs noticed — race commutes")

      val barrier = new CyclicBarrier(2)
      def admWriter(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageAdmissionDeltas(
            spark, planesRoot.toString, logDir, shardDocs, shardEmb, sfDir,
            pqRoot, s"adm_$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
        }
        assert(committed > 0, "admission writer never committed"); committed
      }
      def tdWriter(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageTakedownTombstones(
            spark, planesRoot.toString, logDir, removed, s"td_$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
        }
        assert(committed > 0, "takedown writer never committed"); committed
      }
      @volatile var writersDone = false
      var readerObs = 0
      var readerErr: Throwable = null
      val reader = new Thread(() =>
        try {
          while (!writersDone) {
            val g = SqlGateway.occCurrentGen(logDir)
            assert(LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
              s"TORN READ at chain-manifest generation $g")
            readerObs += 1
          }
        } catch { case t: Throwable => readerErr = t })
      var gAdm = -1L; var gTd = -1L
      var errA: Throwable = null; var errT: Throwable = null
      val tA = new Thread(() => try gAdm = admWriter() catch { case t: Throwable => errA = t })
      val tT = new Thread(() => try gTd = tdWriter() catch { case t: Throwable => errT = t })
      reader.start(); tA.start(); tT.start()
      tA.join(240000); tT.join(240000)
      writersDone = true
      reader.join(120000)
      assert(errA == null, s"admission writer failed: $errA")
      assert(errT == null, s"takedown writer failed: $errT")
      assert(readerErr == null, s"reader failed: $readerErr")
      assert(readerObs > 0, "reader made no observations")
      info(s"reader made $readerObs torn-free observations")
      assert(Set(gAdm, gTd) == Set(1L, 2L), s"got adm=$gAdm td=$gTd")
      val admFirst = gAdm == 1L

      // Enumerate both serial orders through the SAME delta stagers.
      def serialResolved(order: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Row) = {
        val (l, p) = refDirs(order)
        LlmPipeline.bootstrapPlanesManifest(spark, sfDir, l)
        def adm(): Unit = {
          val (won, _) = LlmPipeline.commitAdmissionDeltas(
            spark, p.toString, l, shardDocs, shardEmb, sfDir, pqRoot, "a")
          assert(won)
        }
        def td(): Unit = {
          val (won, _) = LlmPipeline.commitTakedownTombstones(
            spark, p.toString, l, removed, "t")
          assert(won)
        }
        if (order == "at") { adm(); td() } else { td(); adm() }
        val m = SqlGateway.occManifestAt(l, 2L)
        (PlaneChains.resolve(spark, "postings", m("postings")).localCheckpoint(),
          PlaneChains.resolve(spark, "stats", m("stats")).head())
      }
      val (postAt, statsAt) = serialResolved("at")
      val (postTa, statsTa) = serialResolved("ta")
      // The orders genuinely differ: noticed shard docs served only
      // under takedown-then-admit.
      assert(postTa.join(broadcast(noticedShard), Seq("doc_id"), "left_semi")
        .count() > 0, "takedown-then-admit must serve the noticed shard docs")
      assert(postAt.join(broadcast(noticedShard), Seq("doc_id"), "left_semi")
        .count() == 0, "admit-then-takedown must not serve them")
      val mF = SqlGateway.occManifestAt(logDir, 2L)
      val finalPost = PlaneChains.resolve(spark, "postings", mF("postings"))
      val finalStats = PlaneChains.resolve(spark, "stats", mF("stats")).head()
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val (expPost, expStats) = if (admFirst) (postAt, statsAt) else (postTa, statsTa)
      val (othPost, _) = if (admFirst) (postTa, statsTa) else (postAt, statsAt)
      assert(rowsEqual(finalPost, expPost),
        "final resolved postings != commit-order serial composition")
      assert(finalStats == expStats,
        "final resolved stats != commit-order serial composition")
      assert(!rowsEqual(finalPost, othPost),
        "serial orders indistinguishable — the race law is vacuous")
    } finally {
      LlmPipeline.deleteRecursively(logDir)
      LlmPipeline.deleteRecursively(planesRoot)
      refDirs.values.foreach { case (l, p) =>
        LlmPipeline.deleteRecursively(l)
        LlmPipeline.deleteRecursively(p)
      }
    }
  }

  test("four concurrent delta-admission writers all commit through rebases; final resolved planes equal the full-corpus rebuild") {
    // VERDICT r18 item 4: multi-writer admission throughput. Under the
    // r18 rewrite convention a CAS loser re-staged ALL fourteen
    // corpus-sized planes per retry; with delta bindings a rebase
    // restages shard-sized deltas against the winner's chain. Four
    // real writers with disjoint shards race one manifest: all four
    // must commit, the polling reader stays torn-free, and the final
    // resolved planes equal the one-shot rebuild over the FULL corpus
    // (the four shards partition doc_id % 4 == 0, so base + all four
    // == every document) — fold composition across writers is exact in
    // every commit order.
    import org.apache.spark.sql.functions._
    import graft.queries.PlaneChains
    val logDir = Files.createTempDirectory("graft-4w-log-")
    val planesRoot = Files.createTempDirectory("graft-4w-pl-")
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      val pqRoot = LlmPipeline.ensurePqIndex(spark, sfDir)
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val embs = graft.sources.Tables.embeddings(spark, sfDir)
      val shards = (0 until 4).map { i =>
        (docs.filter(col("doc_id") % 4 === 0 && (col("doc_id") / 4) % 4 === i)
           .select("doc_id", "text").localCheckpoint(),
         embs.filter(col("vec_id") % 4 === 0 && (col("vec_id") / 4) % 4 === i)
           .select("vec_id", "embedding").localCheckpoint())
      }
      assert(shards.forall(_._1.count() > 0), "an empty shard — race vacuous")
      val barrier = new CyclicBarrier(4)
      val lostTotal = new java.util.concurrent.atomic.AtomicInteger(0)
      def writer(i: Int): Long = {
        val (sd, se) = shards(i)
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 12) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageAdmissionDeltas(
            spark, planesRoot.toString, logDir, sd, se, sfDir,
            pqRoot, s"w${i}_$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
          else lostTotal.incrementAndGet()
        }
        assert(committed > 0, s"writer $i never committed"); committed
      }
      @volatile var writersDone = false
      var readerObs = 0
      var readerErr: Throwable = null
      val reader = new Thread(() =>
        try {
          while (!writersDone) {
            val g = SqlGateway.occCurrentGen(logDir)
            assert(LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
              s"TORN READ at generation $g")
            readerObs += 1
          }
        } catch { case t: Throwable => readerErr = t })
      val results = new Array[Long](4)
      val errs = new Array[Throwable](4)
      val t0 = System.nanoTime()
      val threads = (0 until 4).map(i => new Thread(() =>
        try results(i) = writer(i) catch { case t: Throwable => errs(i) = t }))
      reader.start(); threads.foreach(_.start())
      threads.foreach(_.join(480000))
      val elapsed = (System.nanoTime() - t0) / 1e9
      writersDone = true
      reader.join(120000)
      (0 until 4).foreach(i => assert(errs(i) == null, s"writer $i failed: ${errs(i)}"))
      assert(readerErr == null, s"reader failed: $readerErr")
      assert(readerObs > 0, "reader made no observations")
      assert(results.toSet == Set(1L, 2L, 3L, 4L),
        s"writers must land on generations 1..4, got ${results.toSeq}")
      assert(lostTotal.get() >= 3,
        s"four contended writers must lose at least three races, got $lostTotal")
      info(f"4 writers committed in $elapsed%.1f s " +
        f"(${4 * 60.0 / elapsed}%.1f commits/min, ${lostTotal.get()} lost races, " +
        f"$readerObs torn-free observations)")
      (0L to 4L).foreach(g => assert(
        LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
        s"generation $g inconsistent"))
      // Final == one-shot rebuild over the full corpus.
      val mF = SqlGateway.occManifestAt(logDir, 4L)
      val (rp, rdl, rs) = LlmPipeline.postingsFor(
        docs.select("doc_id", "text"))
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(rowsEqual(PlaneChains.resolve(spark, "postings", mF("postings")), rp),
        "final resolved postings != full-corpus rebuild")
      assert(rowsEqual(PlaneChains.resolve(spark, "docstats", mF("docstats")), rdl),
        "final resolved docstats != full-corpus rebuild")
      assert(PlaneChains.resolve(spark, "stats", mF("stats")).head() == rs.head(),
        "final resolved stats != full-corpus recount")
    } finally {
      LlmPipeline.deleteRecursively(logDir)
      LlmPipeline.deleteRecursively(planesRoot)
    }
  }

  test("compaction transaction racing a delta admission serializes; compaction is content-neutral at its committed generation") {
    // VERDICT r18 item 2's race law: the fold that turns a delta chain
    // back into single-generation bases is itself a manifest CAS, so
    // an admission landing mid-fold costs the compactor its race, and
    // the retry folds the WINNER's chain. Whatever the order: both
    // commit, every generation is consistent, the compaction's
    // committed generation resolves row-identically to its
    // predecessor (compaction-then-read == read), and the final state
    // serves base + both shards.
    import org.apache.spark.sql.functions._
    import graft.queries.PlaneChains
    val logDir = Files.createTempDirectory("graft-cmprace-log-")
    val planesRoot = Files.createTempDirectory("graft-cmprace-pl-")
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      val pqRoot = LlmPipeline.ensurePqIndex(spark, sfDir)
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val embs = graft.sources.Tables.embeddings(spark, sfDir)
      def shard(i: Int) =
        (docs.filter(col("doc_id") % 4 === 0 && (col("doc_id") / 4) % 2 === i)
           .select("doc_id", "text").localCheckpoint(),
         embs.filter(col("vec_id") % 4 === 0 && (col("vec_id") / 4) % 2 === i)
           .select("vec_id", "embedding").localCheckpoint())
      val (sdA, seA) = shard(0)
      val (sdB, seB) = shard(1)
      // Unopposed first admission: every chain now has two elements.
      val (won0, _) = LlmPipeline.commitAdmissionDeltas(
        spark, planesRoot.toString, logDir, sdA, seA, sfDir, pqRoot, "a0")
      assert(won0)
      val barrier = new CyclicBarrier(2)
      def compactor(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 5) {
          attempt += 1
          // compactManifest stages its folds then CASes internally and
          // reports the generation it targeted; the barrier
          // synchronizes the FIRST attempt's stage with the admission's.
          if (attempt == 1) barrier.await()
          val (won, _, gen) = LlmPipeline.compactManifest(
            spark, planesRoot.toString, logDir, s"c$attempt")
          if (won) committed = gen
        }
        assert(committed > 0, "compactor never committed"); committed
      }
      def admitter(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageAdmissionDeltas(
            spark, planesRoot.toString, logDir, sdB, seB, sfDir, pqRoot,
            s"b$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
        }
        assert(committed > 0, "admitter never committed"); committed
      }
      var gC = -1L; var gA = -1L
      var errC: Throwable = null; var errA2: Throwable = null
      val tC = new Thread(() => try gC = compactor() catch { case t: Throwable => errC = t })
      val tA2 = new Thread(() => try gA = admitter() catch { case t: Throwable => errA2 = t })
      tC.start(); tA2.start()
      tC.join(240000); tA2.join(240000)
      assert(errC == null, s"compactor failed: $errC")
      assert(errA2 == null, s"admitter failed: $errA2")
      assert(Set(gC, gA) == Set(2L, 3L), s"got compactor=$gC admitter=$gA")
      (0L to 3L).foreach(g => assert(
        LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
        s"generation $g inconsistent"))
      def resolvedPostings(g: Long) = PlaneChains.resolve(spark, "postings",
        SqlGateway.occManifestAt(logDir, g)("postings"))
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      // Compaction is content-neutral at its own generation.
      assert(rowsEqual(resolvedPostings(gC), resolvedPostings(gC - 1)),
        "compaction changed the resolved postings")
      // Final state serves base + both shards == the full corpus.
      val (rp, _, rs) = LlmPipeline.postingsFor(docs.select("doc_id", "text"))
      assert(rowsEqual(resolvedPostings(3L), rp),
        "final resolved postings != full-corpus rebuild")
      assert(PlaneChains.resolve(spark, "stats",
        SqlGateway.occManifestAt(logDir, 3L)("stats")).head() == rs.head(),
        "final resolved stats != full-corpus recount")
    } finally {
      LlmPipeline.deleteRecursively(logDir)
      LlmPipeline.deleteRecursively(planesRoot)
    }
  }

  test("doc-only admission races embedding-only admission: disjoint partial commits commute — final state equals one full admission, untouched bindings carry verbatim") {
    // VERDICT r19 item 5's race law: crawls and embedding jobs run on
    // different cadences, so the common contention is a doc-only
    // writer against an embedding-only writer. Their plane sets are
    // DISJOINT, so unlike the admission-vs-takedown race the
    // composition commutes: whichever CAS order the race resolves to,
    // the final resolved state must equal the ONE full admission, and
    // each partial commit must carry the other side's bindings
    // byte-verbatim.
    import org.apache.spark.sql.functions._
    import graft.queries.PlaneChains
    val logDir = Files.createTempDirectory("graft-prace-log-")
    val planesRoot = Files.createTempDirectory("graft-prace-pl-")
    val refLog = Files.createTempDirectory("graft-pref-log-")
    val refPl = Files.createTempDirectory("graft-pref-pl-")
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, refLog)
      val pqRoot = LlmPipeline.ensurePqIndex(spark, sfDir)
      val shardDocs = graft.sources.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 4 === 0).select("doc_id", "text")
        .localCheckpoint()
      val shardEmb = graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 4 === 0).select("vec_id", "embedding")
        .localCheckpoint()
      val barrier = new CyclicBarrier(2)
      def writer(docSide: Boolean): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 5) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageAdmissionDeltasPartial(
            spark, planesRoot.toString, logDir,
            if (docSide) Some(shardDocs) else None,
            if (docSide) None else Some(shardEmb),
            sfDir, pqRoot, s"${if (docSide) "d" else "e"}$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
        }
        assert(committed > 0, "partial writer never committed"); committed
      }
      var gD = -1L; var gE = -1L
      var errD: Throwable = null; var errE: Throwable = null
      val tD = new Thread(() => try gD = writer(true) catch { case t: Throwable => errD = t })
      val tE = new Thread(() => try gE = writer(false) catch { case t: Throwable => errE = t })
      tD.start(); tE.start()
      tD.join(240000); tE.join(240000)
      assert(errD == null, s"doc-only writer failed: $errD")
      assert(errE == null, s"embedding-only writer failed: $errE")
      assert(Set(gD, gE) == Set(1L, 2L), s"got doc=$gD emb=$gE")
      (0L to 2L).foreach(g => assert(
        LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
        s"generation $g inconsistent"))
      // Each partial commit carried the OTHER side's bindings verbatim.
      val m0 = SqlGateway.occManifestAt(logDir, 0L)
      val m1 = SqlGateway.occManifestAt(logDir, 1L)
      val m2 = SqlGateway.occManifestAt(logDir, 2L)
      val (firstDocs, carriedAt1) =
        if (gD == 1L) (true, LlmPipeline.EmbeddingPlanes)
        else (false, LlmPipeline.TextPlanes)
      carriedAt1.foreach(p => assert(m1(p) == m0(p),
        s"generation 1 (${if (firstDocs) "doc" else "emb"}-only) rewrote untouched plane $p"))
      val carriedAt2 =
        if (firstDocs) LlmPipeline.TextPlanes else LlmPipeline.EmbeddingPlanes
      carriedAt2.foreach(p => assert(m2(p) == m1(p),
        s"generation 2 rewrote untouched plane $p"))
      // Final resolved state == ONE full admission (the commuting law).
      val (wonRef, _) = LlmPipeline.commitAdmissionDeltas(
        spark, refPl.toString, refLog, shardDocs, shardEmb, sfDir, pqRoot, "f")
      assert(wonRef)
      val mRef = SqlGateway.occManifestAt(refLog, 1L)
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      Seq("postings", "docstats", "ann_keys", "pq_codes", "labels").foreach { p =>
        assert(rowsEqual(PlaneChains.resolve(spark, p, m2(p)),
          PlaneChains.resolve(spark, p, mRef(p))),
          s"racing partial commits != one full admission on plane $p")
      }
      assert(PlaneChains.resolve(spark, "stats", m2("stats")).head() ==
        PlaneChains.resolve(spark, "stats", mRef("stats")).head(),
        "racing partial commits != one full admission on stats")
    } finally {
      Seq(logDir, planesRoot, refLog, refPl)
        .foreach(LlmPipeline.deleteRecursively)
    }
  }

  test("three-way mixed race: delta admission + tombstone takedown + compaction all commit; final resolved state equals the commit-log-order composition; reader torn-free throughout") {
    // VERDICT r19 item 6: the transaction kinds raced pairwise until
    // now run all at once. Setup gives the compactor a chain to fold
    // (one unopposed shard-A admission), then three REAL writers race:
    // an admitter (shard B), a takedowner (notice naming standing AND
    // shard-B docs — non-commuting with the admission), and a
    // compactor. All three must commit through rebases, the polling
    // reader must stay torn-free, and the final resolved state must
    // equal replaying the three transactions SERIALLY in the exact
    // commit-log order the race produced.
    import org.apache.spark.sql.functions._
    import graft.queries.PlaneChains
    val logDir = Files.createTempDirectory("graft-3way-log-")
    val planesRoot = Files.createTempDirectory("graft-3way-pl-")
    val refLog = Files.createTempDirectory("graft-3ref-log-")
    val refPl = Files.createTempDirectory("graft-3ref-pl-")
    try {
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, logDir)
      LlmPipeline.bootstrapPlanesManifest(spark, sfDir, refLog)
      val pqRoot = LlmPipeline.ensurePqIndex(spark, sfDir)
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val embs = graft.sources.Tables.embeddings(spark, sfDir)
      def shard(i: Int) =
        (docs.filter(col("doc_id") % 4 === 0 && (col("doc_id") / 4) % 2 === i)
           .select("doc_id", "text").localCheckpoint(),
         embs.filter(col("vec_id") % 4 === 0 && (col("vec_id") / 4) % 2 === i)
           .select("vec_id", "embedding").localCheckpoint())
      val (sdA, seA) = shard(0)
      val (sdB, seB) = shard(1)
      val removed = LlmPipeline.takedownDocSet(spark, sfDir)
        .unionByName(sdB.select("doc_id").filter(col("doc_id") % 8 === 4))
        .distinct().localCheckpoint()
      assert(removed.join(sdB, Seq("doc_id"), "left_semi").count() > 0,
        "notice names no shard-B docs — the admission/takedown pair commutes")
      val (won0, _) = LlmPipeline.commitAdmissionDeltas(
        spark, planesRoot.toString, logDir, sdA, seA, sfDir, pqRoot, "a0")
      assert(won0)
      val barrier = new CyclicBarrier(3)
      def admitter(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 6) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageAdmissionDeltas(
            spark, planesRoot.toString, logDir, sdB, seB, sfDir, pqRoot,
            s"adm$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
        }
        assert(committed > 0, "admitter never committed"); committed
      }
      def takedowner(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 6) {
          attempt += 1
          val (baseGen, bindings) = LlmPipeline.stageTakedownTombstones(
            spark, planesRoot.toString, logDir, removed, s"td$attempt")
          if (attempt == 1) barrier.await()
          if (SqlGateway.occTryCommitManifest(logDir, baseGen, bindings))
            committed = baseGen + 1
        }
        assert(committed > 0, "takedowner never committed"); committed
      }
      def compactor(): Long = {
        var committed = -1L; var attempt = 0
        while (committed < 0 && attempt < 6) {
          attempt += 1
          if (attempt == 1) barrier.await()
          val (won, _, gen) = LlmPipeline.compactManifest(
            spark, planesRoot.toString, logDir, s"c$attempt")
          if (won) committed = gen
        }
        assert(committed > 0, "compactor never committed"); committed
      }
      @volatile var writersDone = false
      var readerObs = 0
      var readerErr: Throwable = null
      val reader = new Thread(() =>
        try {
          while (!writersDone) {
            val g = SqlGateway.occCurrentGen(logDir)
            assert(LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
              s"TORN READ at generation $g")
            readerObs += 1
          }
        } catch { case t: Throwable => readerErr = t })
      var gAdm = -1L; var gTd = -1L; var gC = -1L
      val errs = new Array[Throwable](3)
      val tA = new Thread(() => try gAdm = admitter() catch { case t: Throwable => errs(0) = t })
      val tT = new Thread(() => try gTd = takedowner() catch { case t: Throwable => errs(1) = t })
      val tC = new Thread(() => try gC = compactor() catch { case t: Throwable => errs(2) = t })
      reader.start(); tA.start(); tT.start(); tC.start()
      tA.join(480000); tT.join(480000); tC.join(480000)
      writersDone = true
      reader.join(120000)
      errs.zip(Seq("admitter", "takedowner", "compactor")).foreach {
        case (e, who) => assert(e == null, s"$who failed: $e") }
      assert(readerErr == null, s"reader failed: $readerErr")
      assert(readerObs > 0, "reader made no observations")
      assert(Set(gAdm, gTd, gC) == Set(2L, 3L, 4L),
        s"got adm=$gAdm td=$gTd compact=$gC")
      info(s"commit order: adm=$gAdm td=$gTd compact=$gC, " +
        s"$readerObs torn-free observations")
      (0L to 4L).foreach(g => assert(
        LlmPipeline.manifestPlanesConsistent(spark, logDir, g),
        s"generation $g inconsistent"))
      // Compaction is content-neutral at its own generation.
      def resolvedAt(g: Long, p: String) = PlaneChains.resolve(spark, p,
        SqlGateway.occManifestAt(logDir, g)(p))
      def rowsEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(rowsEqual(resolvedAt(gC, "postings"), resolvedAt(gC - 1, "postings")),
        "compaction changed the resolved postings")
      // Replay the three transactions serially in the COMMIT-LOG order.
      LlmPipeline.commitAdmissionDeltas(
        spark, refPl.toString, refLog, sdA, seA, sfDir, pqRoot, "a0") match {
        case (won, _) => assert(won)
      }
      Seq(gAdm -> "adm", gTd -> "td", gC -> "c").sortBy(_._1).foreach {
        case (_, "adm") =>
          val (won, _) = LlmPipeline.commitAdmissionDeltas(
            spark, refPl.toString, refLog, sdB, seB, sfDir, pqRoot, "radm")
          assert(won)
        case (_, "td") =>
          val (won, _) = LlmPipeline.commitTakedownTombstones(
            spark, refPl.toString, refLog, removed, "rtd")
          assert(won)
        case (_, _) =>
          val (won, _, _) = LlmPipeline.compactManifest(
            spark, refPl.toString, refLog, "rc")
          assert(won)
      }
      val mF = SqlGateway.occManifestAt(logDir, 4L)
      val mR = SqlGateway.occManifestAt(refLog, 4L)
      Seq("postings", "docstats", "labels", "reps", "ann_keys").foreach { p =>
        assert(rowsEqual(PlaneChains.resolve(spark, p, mF(p)),
          PlaneChains.resolve(spark, p, mR(p))),
          s"three-way race != commit-log-order composition on plane $p")
      }
      assert(PlaneChains.resolve(spark, "stats", mF("stats")).head() ==
        PlaneChains.resolve(spark, "stats", mR("stats")).head(),
        "three-way race != commit-log-order composition on stats")
    } finally {
      Seq(logDir, planesRoot, refLog, refPl)
        .foreach(LlmPipeline.deleteRecursively)
    }
  }

  test("the commit CAS is first-writer-wins at the file level") {
    val logDir = Files.createTempDirectory("graft-occ-cas-")
    try {
      assert(SqlGateway.occTryCommit(logDir, -1L, "t0"))
      assert(SqlGateway.occTryCommit(logDir, 0L, "t1"))
      // Same expected generation again: the slot is taken.
      assert(!SqlGateway.occTryCommit(logDir, 0L, "t1b"))
      assert(SqlGateway.occCurrentGen(logDir) == 1L)
      assert(SqlGateway.occTableAt(logDir, 1L) == "t1")
    } finally LlmPipeline.deleteRecursively(logDir)
  }

  test("a vacuum below an earlier vacuum's retention point reads only the manifests still on the log") {
    val logDir = Files.createTempDirectory("graft-occ-vacuum-log-")
    val planesRoot = Files.createTempDirectory("graft-occ-vacuum-planes-")
    def gen(g: Long): String =
      Files.createDirectories(planesRoot.resolve("bal").resolve(s"gen-$g")).toString
    try {
      (0L to 3L).foreach(g => assert(SqlGateway.occTryCommitManifest(logDir, g - 1, Seq("bal" -> gen(g)))))
      assert(SqlGateway.vacuumManifestLog(logDir, planesRoot, 2L) == ((2L, 2L)))
      assert(SqlGateway.occTryCommitManifest(logDir, 3L, Seq("bal" -> gen(4L))))
      assert(SqlGateway.vacuumManifestLog(logDir, planesRoot, 0L) == ((0L, 0L)))
      assert(SqlGateway.occEarliestGen(logDir) == 2L && SqlGateway.occCurrentGen(logDir) == 4L)
      (2L to 4L).foreach(g => SqlGateway.occManifestAt(logDir, g).values.foreach(p =>
        assert(Files.exists(java.nio.file.Paths.get(p)), s"vacuum deleted a retained binding: $p")))
    } finally Seq(logDir, planesRoot).foreach(LlmPipeline.deleteRecursively)
  }

  test("a manifest line without '=' fails closed, naming the commit file and the line") {
    val logDir = Files.createTempDirectory("graft-occ-codec-read-")
    try {
      Files.write(logDir.resolve("commit-000000"),
        "bal=/planes/bal/gen-0\nstock /planes/stock/gen-0\n".getBytes("UTF-8"))
      val bad = intercept[IllegalStateException](SqlGateway.occManifestAt(logDir, 0L))
      assert(bad.getMessage.contains("commit-000000") && bad.getMessage.contains("stock /planes/stock/gen-0"),
        bad.getMessage)
    } finally LlmPipeline.deleteRecursively(logDir)
  }

  test("a binding that would not read back as written is refused before the CAS") {
    val logDir = Files.createTempDirectory("graft-occ-codec-write-")
    try {
      assert(SqlGateway.occTryCommitManifest(logDir, -1L, Seq("bal" -> "/planes/bal/gen-0")))
      Seq("a=b" -> "/p", "a\nb" -> "/p", "a" -> "/p\nc=/q").foreach { binding =>
        val refused = intercept[IllegalArgumentException](
          SqlGateway.occTryCommitManifest(logDir, 0L, Seq("bal" -> "/planes/bal/gen-1", binding)))
        assert(refused.getMessage.contains(binding._1.replace("\n", "\\n")), refused.getMessage)
        assert(SqlGateway.occCurrentGen(logDir) == 0L, s"$binding was committed")
      }
      val kept = Seq("bal" -> "/planes/bal/gen-1", "stock" -> "/p=q", "" -> "")
      assert(SqlGateway.occTryCommitManifest(logDir, 0L, kept))
      assert(SqlGateway.occManifestAt(logDir, 1L) == kept.toMap)
    } finally LlmPipeline.deleteRecursively(logDir)
  }
}
