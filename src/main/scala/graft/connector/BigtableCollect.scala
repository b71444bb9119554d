package graft.connector

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalOperation}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftSemi, QueryPlan}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.graft.PreparedPlan
import org.apache.spark.sql.types.StringType

import scala.collection.mutable

/** Adds [[BigtableCollectStrategy]] to every session with graft on its
  * classpath: Spark loads `SparkSessionExtensionsProvider`s through
  * `ServiceLoader` (META-INF/services), so no `spark.sql.extensions`
  * setting is needed.
  */
final class BigtableSessionExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => BigtableCollectStrategy)
}

/** Plans two root shapes Spark would otherwise run as jobs, so that
  * their `collect()` can read on the driver, the way the reference
  * answers a query with one `ReadRows` per scan (execute_plan.rs:84-86):
  *   - a plain Bigtable scan — projections and deterministic,
  *     subquery-free filters over a [[BigtableScan]] — as a
  *     [[BigtableCollectExec]] over the plan Spark would build anyway;
  *   - an inner or left-semi equi-join of two plain Bigtable scans, where
  *     one side's join keys are the other side's leading row-key columns
  *     (the shape DPP serves), as a [[BigtableJoinCollectExec]] leaf.
  * A join side's runtime (DPP) filter is dropped from the driver-side
  * plan: the join narrows that side itself. Aggregates, limits, sorts,
  * other joins, streaming and writes never match and keep Spark's own
  * strategies.
  */
object BigtableCollectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child @ PhysicalOperation(project, filters, rel: DataSourceV2ScanRelation))
        if rel.scan.isInstanceOf[BigtableScan] && (project ++ filters).forall(plain) =>
      val condition = filters.reduceOption(And).map(BindReferences.bindReference(_, rel.output))
      val projection = BindReferences.bindReferences(project: Seq[Expression], rel.output)
      BigtableCollectExec(projection, condition, rel.scan.asInstanceOf[BigtableScan], planLater(child)) :: Nil
    case ReturnAnswer(root @ PhysicalOperation(project, filters,
          join @ ExtractEquiJoinKeys(joinType @ (Inner | LeftSemi), leftKeys, rightKeys, other, _, l, r, _)))
        if (project ++ filters ++ other).forall(plain) =>
      (joinSide(l, leftKeys), joinSide(r, rightKeys)) match {
        case (Some(left), Some(right)) if left.lead.nonEmpty || right.lead.nonEmpty =>
          val residual = other.map(BindReferences.bindReference(_, l.output ++ r.output))
          val condition = filters.reduceOption(And).map(BindReferences.bindReference(_, join.output))
          val projection = BindReferences.bindReferences(project: Seq[Expression], join.output)
          BigtableJoinCollectExec(joinType, left, right, residual, condition, projection, root) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }

  private def plain(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  /** One side of a row-key join, or None when it is not a plain Bigtable
    * scan once its runtime (DPP) filter is set aside.
    */
  private def joinSide(side: LogicalPlan, keys: Seq[Expression]): Option[JoinSide] = side match {
    case PhysicalOperation(project, filters, rel: DataSourceV2ScanRelation) =>
      val kept = filters.filterNot(_.isInstanceOf[DynamicPruning])
      rel.scan match {
        case scan: BigtableScan if (project ++ kept).forall(plain) =>
          // the scan column each join key reads, through the side's projection
          val columns: Seq[Option[String]] = keys.map {
            case k: Attribute =>
              project.collectFirst {
                case a: Attribute if a.exprId == k.exprId                   => a
                case alias @ Alias(a: Attribute, _) if alias.exprId == k.exprId => a
              }.filter(a => a.dataType == StringType && rel.output.exists(_.exprId == a.exprId)).map(_.name)
            case _ => None
          }
          val lead = scan.keyColumns.iterator.map(c => columns.indexOf(Some(c))).takeWhile(_ >= 0).toSeq
          Some(JoinSide(
            scan,
            kept.reduceOption(And).map(BindReferences.bindReference(_, rel.output)),
            BindReferences.bindReferences(project: Seq[Expression], rel.output),
            BindReferences.bindReferences(keys, side.output),
            lead))
        case _ => None
      }
    case _ => None
  }
}

/** `collect()` of a Bigtable scan without a Spark job, the way the
  * reference answers a scan with one `ReadRows` from `BigtableExec`
  * (execute_plan.rs:84-86, 169-183).
  *
  * When the scan's [[BigtableScan.driverPartition]] admits it — every
  * range a point, or an estimate of at most one batch —
  * [[executeCollect]] reads every range on the driver through one
  * reader from the scan's own factory — one `ReadRows`, with the scan's
  * filters, limit and shipped store — and applies the bound `condition`
  * and `project` interpreted, so nothing is compiled per query. A read
  * longer than one batch (`MaxBatchRows`) is dropped and the job runs
  * instead, so the driver never holds more than one batch. The read
  * happens at execution: `explain()` reads nothing and every collect
  * reads afresh.
  *
  * Any other use of the node (`toRdd`, a broadcast, a cache) runs the
  * child, and the node canonicalizes to its child, so exchange reuse —
  * a DPP build side is planned as a query root too — still matches it.
  */
final case class BigtableCollectExec(
    project: Seq[Expression],
    condition: Option[Expression],
    // a plan above a broadcast can be serialized into a task (a codegen'd
    // Sort references itself); only the driver reads the scan
    @transient scan: BigtableScan,
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
    scan.driverPartition
      .flatMap(BigtableCollectExec.read(scan, _, condition, project))
      .getOrElse(child.executeCollect())

  override protected def withNewChildInternal(newChild: SparkPlan): BigtableCollectExec =
    copy(child = newChild)
}

object BigtableCollectExec {
  /** The rows of `partition` of `scan` after `condition` and `project`
    * (bound to the scan's output), copied; None when the reader has more
    * than one batch. The reader is closed on every path.
    */
  private[connector] def read(
      scan: BigtableScan,
      partition: BigtableInputPartition,
      condition: Option[Expression],
      project: Seq[Expression]
  ): Option[Array[InternalRow]] = {
    val reader = scan.createReaderFactory().createColumnarReader(partition)
    try {
      if (!reader.next()) Some(Array.empty)
      else {
        val predicate = condition.map(predicateOf)
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

  private[connector] def predicateOf(condition: Expression): BasePredicate = {
    val p = InterpretedPredicate(condition)
    p.initialize(0)
    p
  }
}

/** One side of a [[BigtableJoinCollectExec]]: a Bigtable scan, with its
  * `condition` and `project` bound to the scan's output and its join
  * `keys` bound to the projection's output. `lead` gives, for each
  * leading row-key column of this scan in key order, the position of the
  * join-key pair that reads it: the other side's values at those
  * positions narrow this side. Empty when no join key reads this scan's
  * first row-key column.
  */
final case class JoinSide(
    @transient scan: BigtableScan,
    condition: Option[Expression],
    project: Seq[Expression],
    keys: Seq[Expression],
    lead: Seq[Int]
)

/** `collect()` of an inner or left-semi row-key join of two Bigtable
  * scans without a Spark job: the shape the reference runs in-process,
  * one `ReadRows` per scan feeding an in-memory join (README.md:53,
  * execute_plan.rs:84-86). [[executeCollect]]:
  *   1. reads one side on the driver with one `ReadRows` — a side whose
  *      [[BigtableScan.driverPartition]] admits it and whose join keys
  *      pin the other side's leading row-key columns; the smaller
  *      estimate when both qualify;
  *   2. turns its distinct non-null key values into point or prefix
  *      ranges of the other side ([[BigtableScan.keyRanges]], which
  *      leaves the shared scan untouched);
  *   3. reads the other side over those ranges with one more `ReadRows`;
  *   4. joins the two reads in a driver hash map, then applies the
  *      `residual` join condition, the `condition` above the join and
  *      the `project`, interpreted, as [[BigtableCollectExec]] does.
  * Spark's own plan runs instead when no side is admitted, a side reads
  * past one batch, the key set is larger than `maxComposedRanges` (or
  * holds a non-ASCII prefix, which bounds no exact range), or a store is
  * not reachable on the driver.
  *
  * The node is a leaf: as the parent of a broadcast it would be wrapped
  * by adaptive execution, which runs the broadcast's job before
  * `executeCollect` is called. Spark's plan for `root` is planned and
  * prepared only on first use (the fallback, `execute()`, explain),
  * rendered through `innerChildren` (except in the node's own running
  * query), and is what the node canonicalizes to.
  */
final case class BigtableJoinCollectExec(
    joinType: JoinType,
    left: JoinSide,
    right: JoinSide,
    residual: Option[Expression],
    condition: Option[Expression],
    project: Seq[Expression],
    @transient root: LogicalPlan
) extends LeafExecNode {

  override def output: Seq[Attribute] = root.output

  /** Spark's plan for `root`, planned past the `ReturnAnswer` entry
    * that leads to this node.
    */
  @transient private lazy val sparkPlan: SparkPlan = PreparedPlan(session, root)

  /** Spark's plan, except while this node's own query runs: the query's
    * execution-start event renders the formatted plan, which walks
    * `innerChildren`, and would otherwise prepare the fallback of every
    * collect answered on the driver.
    */
  override def innerChildren: Seq[QueryPlan[_]] = if (runningOwnQuery) Nil else Seq(sparkPlan)

  private def runningOwnQuery: Boolean =
    Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
      .flatMap(id => Option(SQLExecution.getQueryExecution(id.toLong)))
      .exists(_.executedPlan eq this)

  override protected def doCanonicalize(): SparkPlan = sparkPlan.canonicalized

  override protected def doExecute(): RDD[InternalRow] = sparkPlan.execute()

  // Spark's plan is shown under the node
  override protected def stringArgs: Iterator[Any] = Iterator(joinType)

  override def executeCollect(): Array[InternalRow] =
    joinOnDriver().getOrElse(sparkPlan.executeCollect())

  private def joinOnDriver(): Option[Array[InternalRow]] = {
    val admitted = Seq((true, left, right), (false, right, left)).flatMap { case (leftFirst, first, second) =>
      if (second.lead.isEmpty) None else first.scan.driverPartition.map(p => (leftFirst, first, p, second))
    }
    val chosen =
      if (admitted.size < 2) admitted.headOption
      else Some(admitted.minBy(_._2.scan.estimatedRows.getOrElse(Long.MaxValue)))
    for {
      (leftFirst, first, partition, second) <- chosen
      firstRows <- BigtableCollectExec.read(first.scan, partition, first.condition, first.project)
      ranges <- second.scan.keyRanges(keyValues(firstRows, second.lead.map(first.keys)))
      secondRows <-
        if (ranges.isEmpty) Some(Array.empty[InternalRow])
        else second.scan.partitionOver(ranges)
          .flatMap(BigtableCollectExec.read(second.scan, _, second.condition, second.project))
    } yield
      if (leftFirst) join(firstRows, secondRows) else join(secondRows, firstRows)
  }

  /** The distinct tuples of `keys` over `rows`, skipping any with a null
    * (an equi-join never matches a null key).
    */
  private def keyValues(rows: Array[InternalRow], keys: Seq[Expression]): Seq[Seq[String]] = {
    val tuples = mutable.LinkedHashSet.empty[Seq[String]]
    rows.foreach { row =>
      val values = keys.map(_.eval(row))
      if (!values.contains(null)) tuples += values.map(_.toString)
    }
    tuples.toSeq
  }

  private def join(leftRows: Array[InternalRow], rightRows: Array[InternalRow]): Array[InternalRow] = {
    val leftKey = InterpretedUnsafeProjection.createProjection(left.keys)
    val rightKey = InterpretedUnsafeProjection.createProjection(right.keys)
    val byKey = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    rightRows.foreach { r =>
      val k = rightKey(r)
      if (!k.anyNull) byKey.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += r
    }
    val matches = residual.map(BigtableCollectExec.predicateOf)
    val keep = condition.map(BigtableCollectExec.predicateOf)
    val projection = InterpretedUnsafeProjection.createProjection(project)
    val joined = new JoinedRow
    val out = Array.newBuilder[InternalRow]
    def emit(row: InternalRow): Unit =
      if (keep.forall(_.eval(row))) out += projection(row).copy()
    leftRows.foreach { l =>
      val k = leftKey(l)
      if (!k.anyNull) byKey.get(k).foreach { rs =>
        val pairs = rs.iterator.map(joined(l, _)).filter(p => matches.forall(_.eval(p)))
        if (joinType == LeftSemi) { if (pairs.hasNext) emit(l) }
        else pairs.foreach(emit)
      }
    }
    out.result()
  }
}
