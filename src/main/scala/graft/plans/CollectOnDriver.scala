package graft.plans

import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.{NarrowDependency, TaskContext}
import org.apache.spark.graft.DriverTask
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, PlanExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CollectLimitExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, ProjectExec, SQLExecution, SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Physical rule: wraps a plan root in [[DriverCollectExec]] when every
  * node is a Project, Filter, ColumnarToRow, FileSourceScan,
  * TakeOrderedAndProject or CollectLimit and every expression is
  * deterministic and holds no subquery. Such a plan has no exchange and
  * runs no command. Its expressions are evaluated on the calling thread
  * in a local run, where a job would evaluate a deserialized copy per
  * task; a nondeterministic one keeps mutable state, so it stays on the
  * job path. */
object CollectOnDriver extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case _: DriverCollectExec => plan
    case p if !p.exists(!narrowNode(_)) => DriverCollectExec(p)
    case _ => plan
  }

  private def narrowNode(p: SparkPlan): Boolean = (p match {
    case _: ProjectExec | _: FilterExec | _: ColumnarToRowExec |
         _: FileSourceScanExec | _: TakeOrderedAndProjectExec |
         _: CollectLimitExec => true
    case _ => false
  }) && p.expressions.forall(e =>
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]]))
}

/** A plan root whose `executeCollect` (the path of `Dataset.collect`,
  * `head` and `take`) runs the child's one partition on the calling
  * driver thread instead of as a Spark job, which for a point read
  * costs more than the read itself: closure cleaning, task
  * serialization, the task-binary broadcast and the executor hand-off.
  *
  * It runs locally only when all of these hold, and otherwise returns
  * `child.executeCollect()`, the job path:
  *   - it is the root of the running SQL execution's plan, so a
  *     subquery's plan keeps its job;
  *   - the scans' input RDDs have one partition in total and read at
  *     most `spark.sql.autoBroadcastJoinThreshold` bytes (`-1` turns
  *     the local path off);
  *   - `child.execute()` has one partition and only narrow dependencies.
  *
  * A non-fatal exception from the local run also falls back to the job
  * path, so a failing read raises what it raises without this node. */
case class DriverCollectExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] = {
    val local = try localRun() catch { case NonFatal(_) => None }
    local.getOrElse(child.executeCollect())
  }

  private def localRun(): Option[Array[InternalRow]] = {
    val executionId = sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    val isRoot = TaskContext.get() == null && executionId != null &&
      Option(SQLExecution.getQueryExecution(executionId.toLong))
        .exists(_.executedPlan eq this)
    if (!isRoot || !smallInput) return None
    val rdd = child.execute()
    if (rdd.partitions.length != 1 || !narrow(rdd)) return None
    val rows = DriverTask.run(rdd, rdd.partitions(0))(_.map(_.copy()).toArray)
    // no task reports these: post them as the driver's own updates
    SQLMetrics.postDriverMetricUpdates(sparkContext, executionId,
      child.flatMap(_.metrics.values))
    DriverCollectExec.runs.incrementAndGet()
    Some(rows)
  }

  /** One input partition of at most the broadcast threshold's bytes. */
  private def smallInput: Boolean = {
    val limit = conf.autoBroadcastJoinThreshold
    lazy val parts = child.collect {
      case s: FileSourceScanExec => s.inputRDD.partitions
    }.flatten
    limit >= 0 && parts.length == 1 && (parts.head match {
      case p: FilePartition => p.files.map(_.length).sum <= limit
      case _ => false
    })
  }

  private def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall {
    case d: NarrowDependency[_] => narrow(d.rdd)
    case _ => false
  }

  override protected def withNewChildInternal(c: SparkPlan): DriverCollectExec =
    copy(child = c)
}

object DriverCollectExec {
  private val runs = new AtomicLong(0)

  /** Collects this JVM has run on the driver instead of as a job. */
  def localRuns: Long = runs.get()
}
