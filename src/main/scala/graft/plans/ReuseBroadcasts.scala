package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruning, PlanExpression}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Physical rule that builds a broadcast once per input instead of once
  * per command. A stream of SQL commands repeats the same star joins, and
  * each command would otherwise scan the same dimension files, run a job,
  * build the same hash relation and broadcast it again. This rule keeps
  * the broadcasts it has seen built, and a later command whose broadcast
  * has the same plan, reads the same files and runs under the same
  * session settings takes the built one: a [[CachedBroadcastExec]] leaf in
  * place of the exchange, so no scan, no job, no adaptive stage and no
  * re-plan.
  *
  * A `BroadcastExchangeExec` is taken when its subtree is deterministic,
  * holds no subquery and reads only non-streaming `FileSourceScanExec`
  * leaves, and the whole plan holds no dynamic pruning (whose subqueries
  * look for the exchange they reuse). Its key is
  *  - the exchange's canonical form (its broadcast mode and subtree);
  *  - the path, length and modification time of every file its scans list;
  *  - the session's SQL settings.
  * On a hit the exchange becomes a [[CachedBroadcastExec]]; on a miss a
  * [[RecordingBroadcastExchangeExec]], Spark's exchange that records its
  * relation once it is built, if the relation is within
  * `spark.sql.autoBroadcastJoinThreshold`.
  *
  * Built relations are kept per SparkContext in an LRU of
  * [[ReuseBroadcasts.Capacity]] entries. An evicted entry is dropped, not
  * destroyed: a command still using it finishes, and Spark's
  * `ContextCleaner` frees the broadcast once nothing refers to it.
  * `GraftExtensions` installs the rule through `injectQueryStagePrepRule`,
  * so it runs in adaptive planning; non-adaptive plans are not touched.
  */
case class ReuseBroadcasts(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[DynamicPruning])))) plan
    else plan.transformDown {
      case e: BroadcastExchangeExec if reusable(e.child) =>
        val key = ReuseBroadcasts.Key(e.canonicalized, files(e.child), session.sessionState.conf.getAllConfs)
        ReuseBroadcasts.get(session.sparkContext, key) match {
          case Some(built) => CachedBroadcastExec(e.mode, e.output, built)
          case None => new RecordingBroadcastExchangeExec(e.mode, e.child)(key)
        }
    }

  private def reusable(subtree: SparkPlan): Boolean =
    !subtree.exists(_.expressions.exists(e => !e.deterministic || e.exists(_.isInstanceOf[PlanExpression[_]]))) &&
      subtree.collectLeaves().forall {
        case s: FileSourceScanExec => s.stream.isEmpty
        case _ => false
      }

  private def files(subtree: SparkPlan): Seq[(String, Long, Long)] = subtree.collect {
    case s: FileSourceScanExec => s.selectedPartitions.filePartitionIterator.flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
  }.flatten
}

object ReuseBroadcasts {

  /** The number of built relations kept per SparkContext. */
  private[graft] val Capacity = 16

  private[plans] case class Key(plan: SparkPlan, files: Seq[(String, Long, Long)], confs: Map[String, String])

  private final class Lru(val context: SparkContext)
    extends java.util.LinkedHashMap[Key, Broadcast[Any]](Capacity, 0.75f, true) {
    override def removeEldestEntry(eldest: java.util.Map.Entry[Key, Broadcast[Any]]): Boolean =
      this.size > Capacity
  }

  private var lru: Lru = _

  /** The LRU of `sc`; a new context starts a new one and drops the old. */
  private def cache(sc: SparkContext): Lru = {
    if (lru == null || (lru.context ne sc)) lru = new Lru(sc)
    lru
  }

  private[plans] def get(sc: SparkContext, key: Key): Option[Broadcast[Any]] =
    synchronized(Option(cache(sc).get(key)))

  private[plans] def put(sc: SparkContext, key: Key, built: Broadcast[Any]): Unit =
    synchronized(cache(sc).put(key, built))

  /** The number of relations kept for `sc`. */
  private[graft] def size(sc: SparkContext): Int = synchronized(cache(sc).size)
}

/** Spark's broadcast exchange, which also records its relation under
  * `key` once it is built, if the relation's size is within
  * `spark.sql.autoBroadcastJoinThreshold`. Adaptive planning rebuilds the
  * exchange over its optimised child when it makes the exchange a query
  * stage; `withNewChildInternal` keeps this class there. The key, which
  * holds driver-side plan and file state, is not serialized with the plan.
  * The node equals only nodes of its own class, so a plan transform that
  * compares nodes keeps it apart from the exchange it replaced; its
  * canonical form is the plain exchange's, so exchange reuse still matches
  * the two.
  */
final class RecordingBroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan)(
    @transient private val key: ReuseBroadcasts.Key)
  extends BroadcastExchangeExec(mode, child) {

  override def doExecuteBroadcast[T](): Broadcast[T] = {
    val built = super.doExecuteBroadcast[T]()
    if (metrics("dataSize").value <= conf.autoBroadcastJoinThreshold) {
      ReuseBroadcasts.put(sparkContext, key, built.asInstanceOf[Broadcast[Any]])
    }
    built
  }

  override protected def otherCopyArgs: Seq[AnyRef] = key :: Nil

  override def withNewChildInternal(newChild: SparkPlan): BroadcastExchangeExec =
    new RecordingBroadcastExchangeExec(mode, newChild)(key)

  override def canEqual(other: Any): Boolean = other.isInstanceOf[RecordingBroadcastExchangeExec]

  override def equals(other: Any): Boolean = canEqual(other) && super.equals(other)
}

/** A broadcast an earlier command built, given to the join in place of an
  * exchange that would build it again. */
case class CachedBroadcastExec(mode: BroadcastMode, output: Seq[Attribute], relation: Broadcast[Any])
  extends LeafExecNode {

  override def nodeName: String = "CachedBroadcast"

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("CachedBroadcast only executes as a broadcast")

  override def doExecuteBroadcast[T](): Broadcast[T] = relation.asInstanceOf[Broadcast[T]]
}
