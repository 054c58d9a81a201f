package graft.plans

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter, FileOutputFormat}
import org.apache.parquet.hadoop.{ParquetOutputCommitter, ParquetOutputFormat}
import org.apache.parquet.hadoop.ParquetOutputFormat.JobSummaryLevel
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, FileSourceMetadataAttribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, DateTimeUtils}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, DataSourceUtils, FileFormat, InsertIntoHadoopFsRelationCommand, OutputWriterFactory, SQLHadoopMapReduceCommitProtocol, V1WriteCommand, WriteFilesExec, WriteJobDescription, WriteTaskResult}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.SerializableConfiguration

/** Planner strategy for parquet writes into a new directory. Spark's
  * `FileFormatWriter` ships the job's Hadoop configuration (≈ 1,100
  * entries) twice in every write task, once in the job description and
  * once in its stats tracker, and stages each file under a
  * `_temporary/0/_temporary/<attempt>` tree that the job commit renames
  * into place. A directory that did not exist before the write needs
  * neither: no reader lists it until the write returns, and the files
  * are new.
  *
  * The strategy plans an `InsertIntoHadoopFsRelationCommand` as
  * [[FreshParquetDirWrite]] when it is a parquet path write (no catalog
  * table) without partition columns, bucketing or static partitions,
  * with no `maxRecordsPerFile` option and none in the conf, under Spark's
  * default commit protocol. Its child is planned as Spark would plan it,
  * `WriteFiles` included, so the command's fallback hands Spark's own
  * command exactly the child Spark would have given it. `GraftExtensions`
  * installs it through `injectPlannerStrategy`.
  */
object FreshParquetDirWrites extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: InsertIntoHadoopFsRelationCommand if takes(c) =>
      DataWritingCommandExec(FreshParquetDirWrite(c), planLater(c.query)) :: Nil
    case _ => Nil
  }

  private def takes(c: InsertIntoHadoopFsRelationCommand): Boolean = {
    val conf = SQLConf.get
    c.fileFormat.getClass == classOf[ParquetFileFormat] &&
      c.partitionColumns.isEmpty && c.bucketSpec.isEmpty && c.staticPartitions.isEmpty &&
      c.catalogTable.isEmpty && c.fileIndex.isEmpty &&
      !CaseInsensitiveMap(c.options).contains("maxRecordsPerFile") && conf.maxRecordsPerFile == 0 &&
      conf.fileCommitProtocolClass == classOf[SQLHadoopMapReduceCommitProtocol].getName
  }
}

/** `cmd`, written in one job when its output path does not exist yet.
  *
  * When the path exists, or the output file system is not the local one,
  * or the job conf names another output committer than Spark's parquet
  * default or asks for parquet summary files, it runs `cmd` unchanged:
  * Spark's error, overwrite, append or ignore. Otherwise every save mode
  * means "write a new directory", and it
  *  1. builds the job conf and the writer factory as `FileFormatWriter`
  *     does (`newHadoopConfWithOptions`, then `prepareWrite`);
  *  2. broadcasts that conf once, destroyed after the job, so no task
  *     closure carries a Hadoop conf;
  *  3. runs one job over the child's RDD in which each task runs Spark's
  *     task writer (`FileFormatWriter.executeTask`: partition 0 always
  *     writes a file, other empty partitions none, and an RDD without
  *     partitions writes one empty file) on a per-task copy of the conf,
  *     writing a hidden attempt file straight into the new directory;
  *  4. commits on the driver: renames each partition's reported file to
  *     Spark's name, `part-%05d-<job uuid>-c000.<codec>.parquet`, deletes
  *     every other attempt file (a failed or speculative attempt's), and
  *     writes `_SUCCESS` unless `mapreduce.fileoutputcommitter.marksuccessfuljobs`
  *     is false. On failure it empties the directory, which is where
  *     Spark's job abort leaves it: no visible file;
  *  5. reports Spark's write metrics.
  * The data files' bytes are Spark's.
  */
case class FreshParquetDirWrite(cmd: InsertIntoHadoopFsRelationCommand) extends V1WriteCommand {

  override def query: LogicalPlan = cmd.query
  override def outputColumnNames: Seq[String] = cmd.outputColumnNames
  override def fileFormat: FileFormat = cmd.fileFormat
  override def partitionColumns: Seq[Attribute] = cmd.partitionColumns
  override def staticPartitions: Map[String, String] = cmd.staticPartitions
  override def bucketSpec: Option[BucketSpec] = cmd.bucketSpec
  override def options: Map[String, String] = cmd.options
  override def requiredOrdering: Seq[SortOrder] = cmd.requiredOrdering
  override lazy val metrics: Map[String, SQLMetric] = cmd.metrics

  override protected def withNewChildInternal(newChild: LogicalPlan): FreshParquetDirWrite =
    copy(cmd = cmd.copy(query = newChild))

  override def run(session: SparkSession, child: SparkPlan): Seq[Row] = {
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val fs = cmd.outputPath.getFileSystem(hadoopConf)
    val dir = cmd.outputPath.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.getScheme != "file" || fs.exists(dir)) return cmd.run(session, child)

    GraftBridge.checkColumnNameDuplication(outputColumnNames,
      session.sessionState.conf.caseSensitiveAnalysis)
    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, dir)
    val columns = outputColumns.map(FileSourceMetadataAttribute.cleanupFileSourceMetadataInformation)
    val dataSchema = DataTypeUtils.fromAttributes(columns)
    DataSourceUtils.verifySchema(fileFormat, dataSchema)
    DataSourceUtils.checkFieldNames(fileFormat, dataSchema)
    val caseInsensitive = CaseInsensitiveMap(options)
    val factory = fileFormat.prepareWrite(session, job, caseInsensitive, dataSchema)
    val jobConf = job.getConfiguration
    if (jobConf.get(SQLConf.OUTPUT_COMMITTER_CLASS.key) != classOf[ParquetOutputCommitter].getName ||
        ParquetOutputFormat.getJobSummaryLevel(jobConf) != JobSummaryLevel.NONE)
      return cmd.run(session, child)

    val uuid = UUID.randomUUID.toString
    jobConf.set("spark.sql.sources.writeJobUUID", uuid)
    val sc = session.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(jobConf))
    val write = new StagedParquetDir(conf, factory, columns, dir.toString, uuid,
      caseInsensitive.getOrElse(DateTimeUtils.TIMEZONE_OPTION, session.sessionState.conf.sessionLocalTimeZone),
      metrics, GraftBridge.newJobTrackerId())
    try {
      fs.mkdirs(dir)
      val rdd = (child match { case w: WriteFilesExec => w.child; case p => p }).execute()
      val input = if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
      val results = sc.runJob(input, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        write.attempt(ctx.stageId(), ctx.partitionId(), ctx.taskAttemptId().toInt & Int.MaxValue, rows))
      val t0 = System.nanoTime()
      write.commit(fs, results.toSeq,
        jobConf.getBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, true))
      new BasicWriteJobStatsTracker(new SerializableConfiguration(jobConf), metrics)
        .processStats(results.toSeq.flatMap(_.summary.stats), (System.nanoTime() - t0) / 1000000)
    } catch {
      case t: Throwable =>
        write.abort(fs)
        throw t
    } finally conf.destroy()
    session.sharedState.cacheManager.recacheByPath(session, cmd.outputPath, fs)
    Nil
  }
}

/** One write into the new directory `dir`: the task side (shipped in the
  * job's closure; the Hadoop conf travels only as the broadcast `conf`)
  * and the driver's commit and abort. */
private[graft] class StagedParquetDir(
    conf: Broadcast[SerializableConfiguration],
    factory: OutputWriterFactory,
    columns: Seq[Attribute],
    dir: String,
    uuid: String,
    timeZoneId: String,
    metrics: Map[String, SQLMetric],
    jobTrackerId: String) extends Serializable {

  /** Spark's task writer for one attempt at partition `partition`: it
    * writes `.<attempt>-part-<partition>-<uuid>-c000<ext>` into `dir` and
    * reports that name with the name the commit gives it. */
  def attempt(stageId: Int, partition: Int, attempt: Int, rows: Iterator[InternalRow]): WriteTaskResult = {
    val taskConf = new SerializableConfiguration(new Configuration(conf.value.value))
    val description = new WriteJobDescription(uuid, taskConf, factory, columns, columns, Nil, None,
      dir, Map.empty, 0L, timeZoneId, Seq(new BasicWriteJobStatsTracker(taskConf, metrics)))
    GraftBridge.executeWriteTask(description, jobTrackerId, stageId, partition, attempt,
      new AttemptFiles(dir, uuid), rows)
  }

  /** Make the files of `results` (one per partition) visible under
    * Spark's names, delete every other attempt's file, and mark success. */
  def commit(fs: FileSystem, results: Seq[WriteTaskResult], markSuccess: Boolean): Unit = {
    val target = new Path(dir)
    for (r <- results; (hidden, name) <- r.commitMsg.obj.asInstanceOf[Seq[(String, String)]])
      if (!fs.rename(new Path(target, hidden), new Path(target, name)))
        throw new IOException(s"could not rename $hidden to $name in $dir")
    fs.listStatus(target).filter(_.getPath.getName.startsWith("."))
      .foreach(s => fs.delete(s.getPath, false))
    if (markSuccess) fs.create(new Path(target, FileOutputCommitter.SUCCEEDED_FILE_NAME), true).close()
  }

  /** Delete everything the write put into its new directory. */
  def abort(fs: FileSystem): Unit = {
    val target = new Path(dir)
    if (fs.exists(target)) fs.listStatus(target).foreach(s => fs.delete(s.getPath, true))
  }
}

/** The commit protocol Spark's task writer sees in a [[StagedParquetDir]]
  * task: each new file is a hidden attempt file directly in `dir`, named
  * after the attempt, and the task's commit message lists the
  * (attempt file, final name) pairs. Job-level calls are no-ops: the
  * driver commits. */
private class AttemptFiles(dir: String, jobId: String) extends FileCommitProtocol with Serializable {
  private var files = List.empty[(String, String)]

  override def setupJob(job: JobContext): Unit = ()
  override def commitJob(job: JobContext, results: Seq[TaskCommitMessage]): Unit = ()
  override def abortJob(job: JobContext): Unit = ()
  override def setupTask(task: TaskAttemptContext): Unit = files = Nil

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String], ext: String): String =
    newTaskTempFile(task, subdir, FileNameSpec("", ext))

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String], spec: FileNameSpec): String = {
    require(subdir.isEmpty && spec.prefix.isEmpty, "a fresh-directory write has no partition directories")
    val id = task.getTaskAttemptID
    val name = f"part-${id.getTaskID.getId}%05d-$jobId${spec.suffix}"
    val hidden = s".${id.getId}-$name"
    files ::= hidden -> name
    new Path(dir, hidden).toString
  }

  override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String, ext: String): String =
    throw new UnsupportedOperationException("a fresh-directory write has no custom partition locations")

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = new TaskCommitMessage(files.reverse)

  override def abortTask(task: TaskAttemptContext): Unit = {
    val fs = new Path(dir).getFileSystem(task.getConfiguration)
    files.foreach { case (hidden, _) => fs.delete(new Path(dir, hidden), false) }
  }
}
