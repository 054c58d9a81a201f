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
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerGroupStrategy)
    ext.injectHintResolutionRule(new graft.sources.ParquetFooters.ResolveParquetDirs(_))
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
