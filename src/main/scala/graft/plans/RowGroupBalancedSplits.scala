package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.collection.BitSet

import graft.sources.ParquetFooters

/** Physical rule that runs a read over one multi-split parquet file as
  * evenly loaded tasks. Spark cuts a file into byte ranges of its split
  * size, and parquet gives each row group to the range holding its
  * midpoint, so the ranges' row counts follow where the midpoints fall:
  * a file of seven equal row groups cut in two reads four and three.
  * This rule keeps Spark's number of splits but moves the cuts to
  * row-group starts, so each split holds an equal share of the rows, to
  * within one row group.
  *
  * A `FileSourceScanExec` becomes a [[RowGroupBalancedScanExec]] when it
  * is a non-bucketed parquet scan of exactly one file of an unpartitioned
  * relation, larger than `FilePartition.maxSplitBytes` for its listing
  * (Spark cuts it into two or more splits), and reads no file-constant
  * `_metadata` column (`file_block_start` and `file_block_length` name
  * Spark's cut). A scan Spark plans as one split is left as it is, and
  * the rule itself reads no file. `GraftExtensions` installs the rule
  * through `injectQueryStagePrepRule`, so it runs in adaptive planning;
  * non-adaptive plans are not touched.
  */
object RowGroupBalancedSplits extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: FileSourceScanExec if !s.isInstanceOf[RowGroupBalancedScanExec] && multiSplitParquet(s) =>
      new RowGroupBalancedScanExec(s.relation, s.stream, s.output, s.requiredSchema,
        s.partitionFilters, s.optionalBucketSet, s.optionalNumCoalescedBuckets, s.dataFilters,
        s.tableIdentifier, s.disableBucketedScan)
  }

  /** For a non-bucketed scan of exactly one file of an unpartitioned
    * relation: the file's size and the split size Spark cuts it at. */
  private[plans] def singleFile(scan: FileSourceScanExec): Option[(Long, Long)] =
    if (scan.bucketedScan || scan.relation.partitionSchema.nonEmpty) None
    else {
      val listing = scan.selectedPartitions
      if (listing.totalNumberOfFiles != 1) None
      else Some((listing.totalFileSize, FilePartition.maxSplitBytes(scan.relation.sparkSession, listing)))
    }

  private def multiSplitParquet(scan: FileSourceScanExec): Boolean =
    scan.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
      scan.fileConstantMetadataColumns.isEmpty &&
      singleFile(scan).exists { case (size, split) => size > split }

  /** The first row-group index of each of `k` splits of row groups with
    * `rows` rows each, then `rows.size`. Each split in turn ends at the
    * row-group boundary nearest its fair share of the rows left (those
    * rows over the splits left), leaving at least one row group for each
    * later split; with equal row groups, the splits' sizes differ by at
    * most one row group. */
  private[graft] def cuts(rows: Seq[Long], k: Int): Seq[Int] = {
    val before = rows.scanLeft(0L)(_ + _)
    (1 until k).scanLeft(0) { (from, j) =>
      val left = k - j + 1
      (from + 1 to rows.size - (k - j)).minBy { to =>
        math.abs((before(to) - before(from)) * left - (before.last - before(from)))
      }
    } :+ rows.size
  }

  /** `scan`'s `FilePartition`s over one parquet file, re-cut at row-group
    * starts into as many splits of equal row counts; `scan` itself when
    * its partitions are not one file's splits, when the file has fewer
    * row groups than splits, or when its footer cannot be read (Spark's
    * reader then raises its own error or skips the file as configured).
    */
  private[plans] def recut(scan: FileScanRDD, relation: HadoopFsRelation): RDD[InternalRow] = {
    val files = scan.filePartitions.flatMap(_.files)
    val k = scan.filePartitions.size
    if (k < 2 || files.size != k || files.exists(_.filePath != files.head.filePath)) scan
    else {
      val file = files.head
      val rowGroups = try {
        ParquetFooters.rowGroups(
          relation.sparkSession.sessionState.newHadoopConfWithOptions(relation.options), file.toPath)
      } catch { case NonFatal(_) => Nil }
      if (rowGroups.size < k) scan
      else {
        val offsets = rowGroups.map(_._1).updated(0, 0L) :+ files.map(f => f.start + f.length).max
        val at = cuts(rowGroups.map(_._2), k)
        new RecutFileScanRDD(scan, at.sliding(2).zipWithIndex.map { case (Seq(from, to), i) =>
          FilePartition(i, Array(file.copy(start = offsets(from), length = offsets(to) - offsets(from))))
        }.toSeq)
      }
    }
  }
}

/** A `FileSourceScanExec` whose input RDD is Spark's own, for the same
  * scan, with its `FilePartition`s re-cut at row-group starts
  * ([[RowGroupBalancedSplits.recut]]). Everything else — schema,
  * pushed filters, vectorized or row reads, whole-stage codegen, explain
  * output and metrics — is the plain scan's. It equals only scans of its
  * own class, so a plan transform that compares nodes keeps it apart
  * from the plain scan it replaced; its canonical form is the plain
  * scan's, so exchange reuse still matches the two.
  */
final class RowGroupBalancedScanExec(
    relation0: HadoopFsRelation,
    stream0: Option[SparkDataStream],
    output0: Seq[Attribute],
    requiredSchema0: StructType,
    partitionFilters0: Seq[Expression],
    optionalBucketSet0: Option[BitSet],
    optionalNumCoalescedBuckets0: Option[Int],
    dataFilters0: Seq[Expression],
    tableIdentifier0: Option[TableIdentifier],
    disableBucketedScan0: Boolean)
  extends FileSourceScanExec(relation0, stream0, output0, requiredSchema0, partitionFilters0,
    optionalBucketSet0, optionalNumCoalescedBuckets0, dataFilters0, tableIdentifier0,
    disableBucketedScan0) {

  /** The same scan as Spark plans it: its input RDD is the one re-cut,
    * and its metrics, which that RDD's creation reports to, are this
    * node's. */
  @transient private lazy val plain: FileSourceScanExec = copy()

  override lazy val metrics: Map[String, SQLMetric] = plain.metrics

  override lazy val inputRDD: RDD[InternalRow] = plain.inputRDD match {
    case rdd: FileScanRDD => RowGroupBalancedSplits.recut(rdd, relation)
    case rdd => rdd
  }

  override def canEqual(other: Any): Boolean = other.isInstanceOf[RowGroupBalancedScanExec]

  override def equals(other: Any): Boolean = canEqual(other) && super.equals(other)
}

/** A file scan's RDD over other `FilePartition`s of its files: each task
  * runs the scan's own `compute`, which reads whatever `FilePartition` it
  * is given. */
private final class RecutFileScanRDD(scan: FileScanRDD, @transient parts: Seq[FilePartition])
  extends RDD[InternalRow](scan.sparkContext, Nil) {

  override protected def getPartitions: Array[Partition] = parts.toArray

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    scan.compute(split, context)

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    scan.preferredLocations(split)
}
