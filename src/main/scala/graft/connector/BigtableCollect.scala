package graft.connector

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Adds [[BigtableCollectStrategy]] to every session with graft on its
  * classpath: Spark loads `SparkSessionExtensionsProvider`s through
  * `ServiceLoader` (META-INF/services), so no `spark.sql.extensions`
  * setting is needed.
  */
final class BigtableSessionExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => BigtableCollectStrategy)
}

/** Plans the root of a query that is a plain Bigtable scan — projections
  * and deterministic, subquery-free filters over a [[BigtableScan]] — as
  * a [[BigtableCollectExec]] over the plan Spark would build anyway.
  * Joins, aggregates, limits, runtime-filtered (DPP) probe sides,
  * streaming and writes never match and keep Spark's own strategies.
  */
object BigtableCollectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child @ PhysicalOperation(project, filters, rel: DataSourceV2ScanRelation))
        if rel.scan.isInstanceOf[BigtableScan] && (project ++ filters).forall(plain) =>
      val condition = filters.reduceOption(And).map(BindReferences.bindReference(_, rel.output))
      val projection = BindReferences.bindReferences(project: Seq[Expression], rel.output)
      BigtableCollectExec(projection, condition, rel.scan.asInstanceOf[BigtableScan], planLater(child)) :: Nil
    case _ => Nil
  }

  private def plain(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)
}

/** `collect()` of a Bigtable scan without a Spark job, the way the
  * reference answers a scan with one `ReadRows` from `BigtableExec`
  * (execute_plan.rs:84-86, 169-183).
  *
  * When the scan has no sampled key inside any of its ranges (a key set
  * asks for no samples at all), [[executeCollect]] reads every range on
  * the driver through one reader from the scan's own factory — one
  * `ReadRows`, with the scan's filters, limit and shipped store — and
  * applies the bound `condition` and `project` interpreted, so nothing is
  * compiled per query. A read longer than one batch
  * (`MaxBatchRows`) is dropped and the job runs instead, so the driver
  * never holds more than one batch. The read happens at execution:
  * `explain()` reads nothing and every collect reads afresh.
  *
  * Any other use of the node (`toRdd`, a broadcast, a cache) runs the
  * child, and the node canonicalizes to its child, so exchange reuse —
  * a DPP build side is planned as a query root too — still matches it.
  */
final case class BigtableCollectExec(
    project: Seq[Expression],
    condition: Option[Expression],
    scan: BigtableScan,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override protected def doCanonicalize(): SparkPlan = child.canonicalized

  // the scan is shown by the child's BatchScan line
  override protected def stringArgs: Iterator[Any] = Iterator.empty

  override def executeCollect(): Array[InternalRow] =
    scan.driverPartition.flatMap(readOnDriver).getOrElse(child.executeCollect())

  /** The rows of `partition` after `condition` and `project`, or None
    * when the reader has more than one batch.
    */
  private def readOnDriver(partition: BigtableInputPartition): Option[Array[InternalRow]] = {
    val reader = scan.createReaderFactory().createColumnarReader(partition)
    try {
      if (!reader.next()) Some(Array.empty)
      else {
        val predicate = condition.map { c =>
          val p = InterpretedPredicate(c)
          p.initialize(0)
          p
        }
        val projection = InterpretedUnsafeProjection.createProjection(project)
        val out = Array.newBuilder[InternalRow]
        val rows = reader.get().rowIterator()
        while (rows.hasNext) {
          val row = rows.next()
          if (predicate.forall(_.eval(row))) out += projection(row).copy()
        }
        if (reader.next()) None else Some(out.result())
      }
    } finally reader.close()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BigtableCollectExec =
    copy(child = newChild)
}
