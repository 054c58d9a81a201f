package graft

import org.apache.spark.ShutdownDeleteDirs
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.queries.SourcesOps

class SourcesOpsSpec extends SparkSpec {

  test("local sort: every partition is internally sorted by o_orderkey") {
    import spark.implicits._
    val bad = SourcesOps.localSortRaw(spark, sfDir)
      .select("o_orderkey").as[Long]
      .mapPartitions { it =>
        val keys = it.toSeq
        Iterator.single(keys.zip(keys.drop(1)).count { case (a, b) => a > b })
      }.collect().sum
    assert(bad == 0, s"$bad out-of-order adjacent pairs inside partitions")
  }

  test("partitioned sink lays out one directory per mktsegment and prunes reads") {
    val sink = SourcesOps.partitionedSink(spark, sfDir)
    sink.collect()
    // The directory the frame reads: a new one per call.
    val out = new java.io.File(sink.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.head.toUri
    }.get)
    val segDirs = out.listFiles().filter(_.getName.startsWith("c_mktsegment="))
    assert(segDirs.length >= 2, s"expected partition dirs, got ${out.listFiles().map(_.getName).mkString(",")}")
    // Pruned read: the physical plan must select partitions, not filter rows.
    val plan = spark.read.parquet(out.toString)
      .filter(col("c_mktsegment") === "BUILDING")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "partition pruning not in plan")
  }

  test("q98: DPP prunes fact partitions at runtime via the reused dim broadcast") {
    val df = SourcesOps.dynamicPartitionPruning(spark, sfDir)
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruningexpression"),
      s"no DynamicPruningExpression in the fact scan:\n$planStr")
    // Hard evidence: the fact scan's partition-read metric must show
    // only the 5 region-1 nation directories were opened, not all 25.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE materializes earlier stages as leaf QueryStageExec nodes —
    // descend into them to reach the file scans.
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    val factScan = scans(finalPlan).find(_.relation.partitionSchema.nonEmpty)
    assert(factScan.isDefined, s"fact FileSourceScanExec not found:\n$finalPlan")
    val partsRead = factScan.get.metrics.get("numPartitions").map(_.value)
    assert(partsRead.contains(5L),
      s"expected 5 pruned partitions read, got $partsRead (metrics: ${factScan.get.metrics.keys.mkString(",")})")
    // And pruning must not change the answer.
    val dppOff = withSQLConf("spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
      SourcesOps.dynamicPartitionPruning(spark, sfDir).collect().map(_.toString).toSeq
    }
    assert(df.collect().map(_.toString).toSeq == dppOff)
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("csv and json round-trips preserve row counts") {
    val nCsv = SourcesOps.csvRoundtrip(spark, sfDir).agg(sum("n_orders")).head.getLong(0)
    val nOrders = graft.sources.Tables.orders(spark, sfDir).count()
    assert(nCsv == nOrders)
    val nJson = SourcesOps.jsonRoundtrip(spark, sfDir).agg(sum("n_docs")).head.getLong(0)
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(nJson == nDocs)
  }

  test("q136: merged read null-fills per generation exactly") {
    import graft.queries.SourcesOps
    val rows = SourcesOps.schemaEvolution(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("v1", "v2"))
    val v1 = rows(0); val v2 = rows(1)
    // v1 files have no price column -> all price nulls, no status nulls;
    // v2 inverted.
    assert(v1.getLong(4) == v1.getLong(1) && v1.getLong(3) == 0)
    assert(v2.getLong(3) == v2.getLong(1) && v2.getLong(4) == 0)
  }

  // Each of these queries writes its result and returns a frame that reads
  // it lazily: a second session's run must not replace what the first
  // session's frame still reads.
  Seq("q80", "q81", "q82", "q89", "q98", "q102").foreach { id =>
    test(s"$id frames built in two sessions on one context both read their own output") {
      val q = graft.queries.SourcesOps.all.find(_.name.startsWith(id + "_")).get
      val first = q.fn(spark, sfDir)
      val other = siblingSession(_ => ())
      val second = q.fn(other, sfDir).collect().map(_.toString).toSeq
      assert(first.collect().map(_.toString).toSeq == second)
    }
  }

  test("each directory from freshScratch is deleted at JVM exit, since its frames read it until then") {
    val fresh = new java.io.File(SourcesOps.freshScratch("srcops_exit")).getParentFile
    assert(fresh.isDirectory && ShutdownDeleteDirs.registered(fresh), s"$fresh is not registered")
    val other = java.nio.file.Files.createTempDirectory("graft_srcops_unregistered").toFile
    try assert(!ShutdownDeleteDirs.registered(other)) finally other.delete()
  }
}
