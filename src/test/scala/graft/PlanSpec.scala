package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, count, lit}

import graft.queries.{Joins, LlmPipeline, Relational}

/** Plan-shape assertions (SURVEY.md §5.2.4, VERDICT r1 item 8): the 2×
  * perf gate depends on broadcasts, pushdown, and top-k staying in the
  * plan — these tests fail if a future change regresses the physical
  * plan, without needing big data in CI.
  *
  * Statistics-based auto-broadcast is disabled inside these tests: at
  * sf0.001 every table is broadcast-sized, which would hide the intended
  * 100-TB join shapes. Explicit broadcast() hints still apply — which is
  * exactly what the tests verify.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def simple(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withoutAutoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("q01: filter is pushed down to the parquet scan and scan is pruned") {
    val plan = formatted(Relational.pricingSummary(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$plan")
    // Column pruning: the scan must not read join keys the query ignores.
    assert(!plan.contains("l_partkey"), "scan reads pruned column l_partkey")
  }

  test("q01: aggregation pipeline runs inside WholeStageCodegen") {
    val df = Relational.pricingSummary(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    // AQE's finalized simple-mode rendering marks codegen stages "*(n)".
    assert(plan.contains("*(") || plan.contains("WholeStageCodegen"),
      s"no codegen spans in final plan:\n$plan")
  }

  test("q02: hinted dim broadcast survives; exactly two shuffle joins carry the facts") {
    withoutAutoBroadcast {
      val plan = simple(Relational.starJoinRevenue(spark, sfDir))
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj >= 1, s"no broadcast join:\n$plan")
      val shuffleJoins = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(plan).size
      assert(shuffleJoins == 2, s"expected 2 shuffle joins, got $shuffleJoins:\n$plan")
      // The region filter must sit under the broadcast side (pre-join
      // pruning), not after the big joins.
      assert(plan.contains("ASIA"), "region filter missing from plan")
    }
  }

  test("q04: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = simple(Relational.topOrders(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$plan")
  }

  test("q17: all three dims broadcast by hint, fact table never shuffles") {
    withoutAutoBroadcast {
      val plan = simple(Joins.starJoinBrandNation(spark, sfDir))
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj == 3, s"expected 3 broadcast joins, got $bhj:\n$plan")
      assert(!plan.contains("SortMergeJoin"), "fact table should never shuffle here")
    }
  }

  test("q14: theta join broadcasts the supplier side (no 25-key shuffle)") {
    withoutAutoBroadcast {
      val plan = simple(Joins.thetaJoinBalance(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin"), s"theta join must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), "theta join fell back to cartesian")
    }
  }

  test("q75: LSH candidate generation is an equi join, never quadratic") {
    withoutAutoBroadcast {
      // The registered q75 now returns the session-memoized,
      // checkpointed pair graph — a scan with no joins to audit. The
      // shape under audit is the graph BUILD (lshNearDupPairs), the
      // plan that executes once per (session, dir).
      graft.functions.NativeFunctions.register(spark)
      val sh = graft.sources.Tables.documents(spark, sfDir)
        .withColumn("sh", org.apache.spark.sql.functions.expr(
          "shingle_hash64(word_shingles(text, 3))"))
        .select("doc_id", "sh")
      val plan = simple(LlmPipeline.lshNearDupPairs(sh))
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
        "band join must be an equi join")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"LSH must never go quadratic:\n$plan")
    }
  }

  test("q92: bucketed near-dup joins on the bucket key, never quadratic") {
    withoutAutoBroadcast {
      val plan = simple(LlmPipeline.bucketedNearDup(spark, sfDir))
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
        "bucket join must be an equi join")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"bucketed near-dup must never go quadratic:\n$plan")
    }
  }

  test("q95: IVF search joins candidates on the cell key, never quadratic") {
    val plan = simple(LlmPipeline.ivfAnn(spark, sfDir))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
      "cell join must be an equi join")
    // The k=8 centroid broadcast cross join is the only nested-loop step
    // and is bounded by the codebook size, never by n.
    assert(!plan.contains("CartesianProduct"), s"IVF fell back to cartesian:\n$plan")
  }

  test("q87: ANN scale path joins candidates on the bucket key, never quadratic") {
    val plan = simple(LlmPipeline.lshBucketedAnn(spark, sfDir))
    assert(plan.contains("hyperplane_bucket"), s"native bucket expression missing:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
      "bucket join must be an equi join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed ANN must never go quadratic:\n$plan")
  }

  test("q144: incremental dedup probes the band index with equi joins, never quadratic") {
    withoutAutoBroadcast {
      val plan = simple(LlmPipeline.incrementalDedup(spark, sfDir))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"incremental dedup must never go quadratic:\n$plan")
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
        "band-index probe must be an equi join")
    }
  }

  test("q145: Bloom predicate sits scan-side, before the exact verify join") {
    val plan = simple(LlmPipeline.bloomDecontaminate(spark, sfDir))
    assert(plan.contains("might_contain"),
      s"explicit Bloom predicate missing from the plan:\n$plan")
    // The predicate must be a Filter feeding the join, not a join
    // condition: a quadratic fallback would show up as BNLJ/cartesian.
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"Bloom decontamination must never go quadratic:\n$plan")
  }

  test("q99: runtime Bloom filter is injected into the fact side of the join") {
    // Same shape q99 executes internally: selective dim filter, no
    // broadcast, application-side threshold scoped to fixture scale.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val urgent = graft.sources.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val df = graft.sources.Tables.lineitem(spark, sfDir)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_lines"))
      df.collect()
      val plan = simple(df)
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom filter built over the dim keys: $plan")
      assert(plan.toLowerCase.contains("might_contain"),
        s"fact scan not semi-filtered by the bloom filter: $plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "demonstrated shape must be the 100-TB shuffle join")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("window/json family (q40/q41/q42/q55) plans audit clean: one window exchange, no joins") {
    // These four rows were blank in round 4's PLANS.md — the Tables
    // relation memo threw ConcurrentHashMap "Recursive update" when the
    // events_shimmed build re-entered the memo for the raw events
    // relation (bin-sharing dependent, hence intermittent). Pin both
    // the fix (plans render) and the expected shapes.
    val qs = Map(
      "q40_lag_lead" -> 1, "q41_running_sum" -> 1,
      "q42_trailing_7d" -> 1, "q55_json_funcs" -> 0)
    qs.foreach { case (name, windowExchanges) =>
      val plan = simple(SparkEntry.queries(name)(spark, sfDir))
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashEx == windowExchanges,
        s"$name: expected $windowExchanges hash exchange(s), got $hashEx:\n$plan")
      assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1,
        s"$name: expected exactly the presentation sort's range exchange:\n$plan")
      assert(!plan.contains("Join"), s"$name: unexpected join:\n$plan")
    }
  }

  test("q181: read path scans stored postings under a pushed term In-filter; never the corpus") {
    // The r13 perf-weak grade was exactly this regression: retrieval
    // re-tokenizing the documents table per query batch. The r14 read
    // path must rank against the stored artifacts alone — term
    // selection from the head-index leaf, (tf, dl) from the postings
    // leaf with the query terms PUSHED into the scan (row-group
    // skipping locally; bucket pruning under bucketBy at cluster
    // scale), stats from the one-row leaf.
    val plan = formatted(LlmPipeline.bm25Retrieval(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q181 read path scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the postings scan:\n$plan")
  }

  test("q190: conjunctive WAND read path scans stored postings only; terms pushed") {
    // The q181 pin extended to the k-term conjunctive path: pruning,
    // seeding, θ and the final pivot all run downstream of the pushed
    // In-filter — never against the corpus.
    val plan = formatted(LlmPipeline.bm25Conjunctive(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q190 read path scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the postings scan:\n$plan")
  }

  test("q192: disjunctive read path scans stored postings only; terms pushed") {
    val plan = formatted(LlmPipeline.bm25Disjunctive(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q192 read path scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the postings scan:\n$plan")
  }

  test("q191: phrase probe scans the positional leaf under a pushed In-filter; adjacency is an equi join") {
    val plan = formatted(LlmPipeline.phraseRetrieval(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q191 phrase probe scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no positional-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"phrase terms not pushed into the positions scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"phrase adjacency must be the (query, doc, pos) equi join:\n$plan")
  }

  test("q193: takedown application + post-delete retrieval touch stored artifacts only") {
    // The closure DERIVATION (q165) reads the pair graph by design; the
    // APPLICATION must not — a takedown notice arrives as a doc list,
    // and applying it anti-joins stored artifacts without any corpus
    // scan. Pin with a literal notice set.
    import spark.implicits._
    val root = LlmPipeline.ensurePostingsArtifact(spark, sfDir)
    val removed = Seq(1L, 2L, 3L).toDF("doc_id")
    val (idx, postings, _, _, stats) = LlmPipeline.applyIndexTakedown(
      spark, root, LlmPipeline.ensureIndexArtifact(spark, sfDir), removed)
    val plan = formatted(LlmPipeline.bm25AgainstArtifacts(idx, postings, stats))
    assert(!plan.contains("documents.parquet"),
      s"takedown application scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the post-delete postings scan:\n$plan")
  }

  test("q201 surrogate: takedown-transaction folds + manifest read are corpus-scan-free; terms pushed") {
    // The transaction query's own physical plan is a localCheckpoint
    // read-back (its work happens in staged side-effecting writes), so
    // PLANS.md audits this SURROGATE: the identical applyIndexTakedown
    // folds composed with the bm25 read as one declarative plan
    // (VERDICT r17 item 7). The notice is a checkpointed leaf exactly
    // as in takedownCommit — the pin covers the fold+read, with the
    // q165 closure derivation (which reads the pair graph by design)
    // outside the audited plan.
    val plan = formatted(LlmPipeline.takedownCommitAudit(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q201 fold+read path scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the post-delete postings scan:\n$plan")
  }

  test("q207 surrogate: admission folds + read scan stored planes and the checkpointed shard only; terms pushed") {
    // The admission twin: the same admissionBm25Folds helper the staged
    // path runs (postings/stats row-union-plus-addition, head-index
    // min-k merge), composed with the bm25 read. The shard is a
    // checkpointed leaf exactly as in admissionCommit — it arrives as
    // input data, so a corpus scan in this plan would mean the FOLD
    // re-derives corpus state it must only read from the stored planes.
    val plan = formatted(LlmPipeline.admissionCommitAudit(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q207 fold+read path scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the post-admission postings scan:\n$plan")
  }

  test("q214/q215: pushed In(token) survives a single-element chain and degrades only to the chain union on multi-element chains") {
    // The manifest-read seam (VERDICT r19 item 1): a compacted (bare)
    // binding must resolve to the plain artifact scan — the q181 plan
    // pin verbatim — and an uncompacted chain must put the pushed term
    // filter on EVERY element's scan, with the tombstone applied as a
    // broadcast anti-join, never a corpus re-scan.
    import spark.implicits._
    import graft.queries.PlaneChains
    val root = LlmPipeline.ensurePostingsArtifact(spark, sfDir)
    val terms = Seq("the", "a")
    def matchedOver(chain: String): DataFrame =
      PlaneChains.resolve(spark, "postings", chain)
        .filter(col("token").isin(terms: _*))
    // Single-element (v1 / post-compaction) chain: one pushed scan.
    val single = formatted(matchedOver(s"$root/postings"))
    assert(single.contains("PushedFilters: [In(token"),
      s"single-element chain lost the pushed term filter:\n$single")
    assert(!single.contains("documents.parquet"), "chain read scans the corpus")
    // Multi-element chain (delta + tombstone): every element's scan
    // keeps the pushed filter; the tombstone is a broadcast anti-join.
    val extra = java.nio.file.Files.createTempDirectory("graft-ps-chain-")
    try {
      Seq((terms.head, 999999L, 1L, 3L))
        .toDF("token", "doc_id", "tf", "dl")
        .write.parquet(s"$extra/delta")
      Seq(Tuple1(999999L)).toDF("doc_id").write.parquet(s"$extra/tomb")
      val multi = formatted(matchedOver(
        s"$root/postings;u:$extra/delta;t:$extra/tomb"))
      val pushedScans = "PushedFilters: \\[In\\(token".r
        .findAllIn(multi).size
      assert(pushedScans >= 2,
        s"multi-element chain must push the term filter into every element's scan (saw $pushedScans):\n$multi")
      assert(multi.contains("Union"),
        s"multi-element chain must resolve as a union of element scans:\n$multi")
      assert(multi.contains("BroadcastHashJoin") && multi.contains("LeftAnti"),
        s"tombstone must apply as a broadcast anti-join:\n$multi")
      assert(!multi.contains("documents.parquet"), "chain read scans the corpus")
    } finally LlmPipeline.deleteRecursively(extra)
  }

  test("q203/q206: BPE encode chain collapses to ONE projection — no joins, no exchanges") {
    // The encode half's kernel (bpeApplyMerges) must stay a constant
    // replace chain over the words relation: a join or exchange here
    // would mean the merge table leaked into the distributed axis, and
    // BpeRounds stacked projections (instead of one Catalyst-collapsed
    // projection carrying the nested replace expression) would re-walk
    // each word per round (VERDICT r17 item 7 asked for this pin).
    val merges = spark.read.parquet(LlmPipeline.ensureBpeMerges(spark, sfDir))
      .orderBy("round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == LlmPipeline.BpeRounds)
    val words = graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val plan = simple(LlmPipeline.bpeApplyMerges(words, merges))
    assert(!plan.contains("Exchange"),
      s"BPE encode chain shuffles:\n$plan")
    assert(!plan.contains("Join"),
      s"BPE encode chain joins:\n$plan")
    assert("(?m)^\\S*\\s*\\*?\\(?\\d*\\)?\\s*Project".r.findAllIn(plan).size <= 2 &&
      plan.contains("replace(" * LlmPipeline.BpeRounds),
      s"BPE replace chain did not collapse to one nested projection:\n$plan")
  }

  test("q197: proximity probe scans the positional leaf under a pushed In-filter; the window is a band residual on an equi join") {
    val plan = formatted(LlmPipeline.proximityRetrieval(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q197 proximity probe scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no positional-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"proximity terms not pushed into the positions scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the window must ride the (query, doc) equi join as a residual:\n$plan")
  }

  test("q204: proximity-boosted ranking reads both index axes under pushed In-filters — no corpus scan") {
    val plan = formatted(LlmPipeline.proximityBoostedRank(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q204 fused ranking scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no stored-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the artifact scans:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"both axes must stay equi-join shaped:\n$plan")
  }

  test("q209: WAND-pruned fused ranking keeps q204's plan shape — pushed In-filters, no corpus scan") {
    val plan = formatted(LlmPipeline.proximityWandRank(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q209 pruned fused ranking scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no stored-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"query terms not pushed into the artifact scans:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"both axes must stay equi-join shaped:\n$plan")
  }

  test("q205: trigram phrase retrieval scans the positional leaf under a pushed In-filter; the chain is equi joins") {
    val plan = formatted(LlmPipeline.phrase3Retrieval(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"q205 phrase probe scans the corpus:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no positional-artifact scan in the plan:\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"phrase terms not pushed into the positions scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the trigram chain must be (query, doc, pos) equi joins:\n$plan")
  }

  test("q198: IVF-PQ candidate scoring reads stored codes, vectors only at re-rank") {
    val plan = formatted(LlmPipeline.ivfPqAnn(spark, sfDir))
    assert(plan.contains("graft_ivfpq_"),
      s"no compressed-index scan in the plan:\n$plan")
    // The codes and cells axes must both be scanned (ADC rides codes;
    // candidates ride cells); raw embeddings appear only for the
    // 10-probe side and the bounded re-rank joins.
    assert(plan.contains("codes") && plan.contains("cells"),
      s"ADC path does not read the codes/cells artifacts:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation must stay equi-join shaped:\n$plan")
  }

  test("q196: hybrid RRF reads both stored indexes — no corpus scan on either leg") {
    val plan = formatted(LlmPipeline.hybridRrf(spark, sfDir))
    assert(!plan.contains("documents.parquet"),
      s"lexical leg scans the corpus instead of the postings artifact:\n$plan")
    assert(plan.contains("graft_postings_"),
      s"no postings-artifact scan in the plan:\n$plan")
    assert(plan.contains("graft_mpann_"),
      s"no ANN-index scan in the plan (semantic leg brute-forcing?):\n$plan")
    assert(plan.contains("PushedFilters: [In(token"),
      s"lexical terms not pushed into the postings scan:\n$plan")
    // The BM25 leg's 1-row stats broadcast rides a BroadcastNestedLoopJoin
    // by design (q181's shape); what must NOT appear is an unbroadcast
    // cartesian — that would mean a leg went quadratic.
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation must stay equi-join shaped:\n$plan")
  }

  test("q97: multi-table near-dup joins on (table, bucket), never quadratic") {
    withoutAutoBroadcast {
      val plan = simple(LlmPipeline.multiTableNearDup(spark, sfDir))
      assert(plan.contains("hyperplane_bucket"), s"native bucket expression missing:\n$plan")
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).nonEmpty,
        "table-bucket join must be an equi join")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"multi-table near-dup must never go quadratic:\n$plan")
    }
  }

  test("q99 frames built in two sessions on one context both read their own output") {
    val q99 = graft.queries.Joins.all.find(_.name.startsWith("q99_")).get
    val first = q99.fn(spark, sfDir)
    val other = siblingSession(_ => ())
    val second = q99.fn(other, sfDir).collect().map(_.toString).toSeq
    assert(first.collect().map(_.toString).toSeq == second)
  }
}
