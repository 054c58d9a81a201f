package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_RELATION
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema reads: the schema Spark's non-merging
  * inference (`ParquetUtils.inferSchema` with `mergeSchema` off) would
  * infer, read from the same single footer, but without the Spark job
  * `SchemaMergeUtils.mergeSchemasInParallel` launches for every inference,
  * even a one-file one.
  */
object ParquetFooters {

  /** The names Spark's file index skips (`HadoopFSUtils.shouldFilterOutPathName`):
    * `_`- and `.`-prefixed names (`_SUCCESS`, `.crc` sidecars, `_temporary`)
    * except the parquet summary files, and in-flight `._COPYING_` copies.
    */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
  }

  /** The visible entries of a directory listing, as Spark's file index
    * sees them. */
  private def visible(entries: Seq[FileStatus]): Seq[FileStatus] =
    entries.filterNot(e => hidden(e.getPath.getName))

  /** The file non-merging inference reads (`ParquetUtils.splitFiles` order):
    * `_common_metadata`, else `_metadata`, else the first data file by path.
    */
  private def footerFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(sorted.find(f => !summaries(f.getPath.getName)))
  }

  /** The schema in `file`'s footer, read and converted exactly as
    * `ParquetFileFormat.mergeSchemasInParallel` reads each footer: the
    * Spark schema stored in the footer when there is one, else Spark's
    * `ParquetToSparkSchemaConverter` under the session conf. Throws what
    * that conversion throws — an INT64 TIMESTAMP(NANOS) column without
    * `spark.sql.legacy.parquet.nanosAsLong` is an AnalysisException.
    */
  private def readSchema(spark: SparkSession, hadoopConf: Configuration, file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }

  /** The schema of the parquet data at `path`, a file or a directory of
    * files, read from the one footer non-merging inference would pick.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val status = fs.getFileStatus(p)
    val files = if (status.isDirectory) visible(fs.listStatus(p).toSeq) else Seq(status)
    readSchema(spark, hadoopConf, footerFile(files).getOrElse(
      throw new IllegalArgumentException(s"no parquet file under $path")))
  }

  /** Analyzer hook for SQL on a parquet directory, `` parquet.`<dir>` ``:
    * resolves it as Spark's `ResolveSQLOnFile` does — `DataSource.resolveRelation`
    * over a fresh listing of the directory — but with the schema read from
    * one footer on the driver and passed as the user schema, so analysis
    * runs no Spark job. Nothing is memoised: every command lists the
    * directory again, so a deleted directory fails with Spark's own
    * path-not-found error and a directory rewritten in place is read as it
    * is now.
    *
    * Installed as a hint-resolution rule (`GraftExtensions`), because
    * Spark's `FindDataSourceTable` and `ResolveSQLOnFile` run before any
    * custom resolution rule in the same batch. It leaves the relation to
    * Spark wherever it could not match Spark exactly: `mergeSchema` on,
    * `runSQLOnFiles` off, relation options, a streaming read, time travel,
    * a glob or single-file path, a directory with visible subdirectories
    * (partitions), a Hadoop input path filter, a catalog, database or
    * current catalog that could claim the name `parquet`, and any error on
    * the way (Spark then raises its own).
    */
  final class ResolveParquetDirs(spark: SparkSession) extends Rule[LogicalPlan] {
    private val Format = "parquet"

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val conf = spark.sessionState.conf
      if (!plan.containsPattern(UNRESOLVED_RELATION) || !conf.runSQLonFile ||
          conf.isParquetSchemaMergingEnabled ||
          AnalysisContext.get.getSinglePassResolverBridgeState.isDefined ||
          plan.exists(_.isInstanceOf[RelationTimeTravel])) plan
      else plan.resolveOperatorsUpWithPruning(_.containsPattern(UNRESOLVED_RELATION)) {
        case u @ UnresolvedRelation(Seq(fmt, dir), options, false)
            if fmt.equalsIgnoreCase(Format) && options.isEmpty && !nameClaimed(fmt) =>
          resolve(fmt, dir).getOrElse(u)
      }
    }

    private def nameClaimed(fmt: String): Boolean =
      spark.catalog.currentCatalog() != "spark_catalog" ||
        spark.conf.getOption(s"spark.sql.catalog.$fmt").isDefined ||
        spark.sessionState.catalog.databaseExists(fmt)

    private def resolve(fmt: String, dir: String): Option[LogicalPlan] =
      try {
        val hadoopConf = spark.sessionState.newHadoopConf()
        val p = new Path(dir)
        val fs = p.getFileSystem(hadoopConf)
        val plain = !dir.exists("{}[]*?\\".contains(_)) &&
          hadoopConf.get(FileInputFormat.PATHFILTER_CLASS) == null &&
          fs.getFileStatus(p).isDirectory
        val entries = if (plain) visible(fs.listStatus(p).toSeq) else Nil
        if (entries.exists(_.isDirectory)) None
        else footerFile(entries).map { footer =>
          val schema = readSchema(spark, hadoopConf, footer)
          LogicalRelation(DataSource(spark, className = fmt, paths = Seq(dir),
            userSpecifiedSchema = Some(schema)).resolveRelation())
        }
      } catch { case NonFatal(_) => None }
  }
}
