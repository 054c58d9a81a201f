package org.apache.spark.sql

import java.io.File
import java.util.Date

import org.apache.spark.internal.io.{FileCommitProtocol, SparkHadoopWriterUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BaseOrdering, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobDescription, WriteTaskResult}
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.ShutdownHookManager

/** Minimal bridge into the `private[sql]`/`private[spark]` surface graft's
  * custom operators need: constructing a DataFrame from a custom logical
  * plan and building a row ordering from SortOrder
  * (graft.plans.TopKPerGroup), Spark's one-task file writer with the
  * checks and ids around it (graft.plans.FreshParquetDirWrites), and
  * Spark's registry of directories deleted at JVM exit
  * (graft.queries.SourcesOps.freshScratch). This is
  * the standard extension-library pattern (same technique as Sedona /
  * Delta et al.) — forwarders only.
  */
object GraftBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def createOrdering(order: Seq[SortOrder], schema: Seq[Attribute]): BaseOrdering =
    RowOrdering.create(order, schema)

  def executeWriteTask(
      description: WriteJobDescription,
      jobTrackerId: String,
      stageId: Int,
      partitionId: Int,
      attemptNumber: Int,
      committer: FileCommitProtocol,
      rows: Iterator[InternalRow]): WriteTaskResult =
    FileFormatWriter.executeTask(description, jobTrackerId, stageId, partitionId, attemptNumber,
      committer, rows, None)

  def newJobTrackerId(): String = SparkHadoopWriterUtils.createJobTrackerID(new Date())

  def checkColumnNameDuplication(names: Seq[String], caseSensitive: Boolean): Unit =
    SchemaUtils.checkColumnNameDuplication(names, caseSensitive)

  def registerShutdownDeleteDir(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)
}
