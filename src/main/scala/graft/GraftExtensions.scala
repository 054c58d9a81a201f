package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, HyperplaneBucket, JaccardSimilarity, MinHashSignature, NativeFunctions, RollingHashStats, ShingleHash64, SimHashSignature, WordShingles, ZOrder2}

/** SparkSessionExtensions installer for the engine's native expressions
  * (SURVEY.md §2.2.10): a deployment sets
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) and the similarity
  * kernels resolve in ANY SQL/DataFrame context of that session — the
  * production packaging of what `NativeFunctions.register` does
  * per-session for the harness-owned sessions (the driver builds the
  * SparkSession, so queries cannot rely on session-construction hooks).
  *
  * It also installs [[graft.sources.ParquetFooters.ResolveParquetDirs]],
  * which resolves `` parquet.`<dir>` `` from one driver-side footer instead
  * of a schema-inference Spark job. It is a hint-resolution rule because
  * Spark's own `ResolveSQLOnFile` runs before any custom resolution rule.
  *
  * And it installs [[graft.plans.HoistLiterals]], a columnar rule whose
  * post-transition hook is the last step before whole-stage codegen: a
  * command that differs from an earlier one only in the literals of its
  * comparisons and arithmetic reuses the earlier command's compiled
  * classes instead of compiling new ones.
  *
  * And it installs [[graft.plans.ElideSingleSplitShuffles]], a query-stage
  * preparation rule: in adaptive planning, a shuffle that would move the
  * rows of one file split, or of a finished shuffle stage that adaptive
  * coalescing reads as one partition, into one partition becomes a local
  * `CoalesceExec(1)`. A read over a single small file runs as one job
  * instead of a map stage, a re-plan and a result stage, and the
  * `ORDER BY` over a small `GROUP BY` result sorts in place instead of
  * sampling and shuffling it.
  *
  * And it installs [[graft.plans.RowGroupBalancedSplits]], another
  * query-stage preparation rule: a parquet scan of one file that Spark
  * cuts into several splits keeps their number, but the cuts move to
  * row-group starts (read from the file's footer on the driver), so each
  * task reads an equal share of the rows and the tasks finish together.
  *
  * And it installs [[graft.plans.ReuseBroadcasts]], a third query-stage
  * preparation rule: a broadcast over file scans that an earlier command
  * built from the same plan, the same files (path, length, modification
  * time) and the same session settings is taken from a small per-context
  * cache instead of being scanned, collected and broadcast again, so a
  * repeated star join runs only its probe side's job.
  *
  * And it installs [[graft.plans.FreshParquetDirWrites]], a planner
  * strategy: an unpartitioned, unbucketed parquet path write into a
  * directory that does not exist yet runs as one job that broadcasts the
  * Hadoop conf once (Spark's writer ships it twice in every task) and
  * commits on the driver by renaming hidden attempt files, without
  * Spark's `_temporary` tree. Every other write, and any write into an
  * existing path, runs Spark's own command.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerGroupStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.FreshParquetDirWrites)
    ext.injectHintResolutionRule(new graft.sources.ParquetFooters.ResolveParquetDirs(_))
    ext.injectColumnar(_ => graft.plans.HoistLiterals)
    ext.injectQueryStagePrepRule(graft.plans.ElideSingleSplitShuffles(_))
    ext.injectQueryStagePrepRule(_ => graft.plans.RowGroupBalancedSplits)
    ext.injectQueryStagePrepRule(graft.plans.ReuseBroadcasts(_))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", classOf[CosineSimilarity]),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", classOf[MinHashSignature]),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head,
        NativeFunctions.intLiteralArg("minhash_sig", exprs, 1))))
    ext.injectFunction((
      FunctionIdentifier("jaccard_sim"),
      info("jaccard_sim", classOf[JaccardSimilarity]),
      (exprs: Seq[Expression]) => JaccardSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      info("simhash_sig", classOf[SimHashSignature]),
      (exprs: Seq[Expression]) => SimHashSignature(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("rolling_stats"),
      info("rolling_stats", classOf[RollingHashStats]),
      (exprs: Seq[Expression]) => RollingHashStats(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      info("word_shingles", classOf[WordShingles]),
      (exprs: Seq[Expression]) => WordShingles(exprs.head,
        NativeFunctions.intLiteralArg("word_shingles", exprs, 1))))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash64"),
      info("shingle_hash64", classOf[ShingleHash64]),
      (exprs: Seq[Expression]) => ShingleHash64(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_bucket"),
      info("hyperplane_bucket", classOf[HyperplaneBucket]),
      (exprs: Seq[Expression]) => HyperplaneBucket(exprs.head,
        NativeFunctions.intLiteralArg("hyperplane_bucket", exprs, 1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", classOf[DotProduct]),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("zorder2"),
      info("zorder2", classOf[ZOrder2]),
      (exprs: Seq[Expression]) => ZOrder2(exprs.head, exprs(1))))
  }
}
