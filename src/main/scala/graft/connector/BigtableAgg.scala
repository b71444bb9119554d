package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** A pushed partial aggregate the store-side reader can fold: global
  * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) / SUM(col). Beyond the reference
  * (whose roadmap stops at filter pushdown, README.md:44-51); the Spark
  * side re-aggregates the one-partial-row-per-partition output, so the
  * fold is the classic map-side combine pushed all the way into the
  * source.
  */
sealed trait BigtableAgg extends Serializable {
  /** Source column the fold reads, if any. */
  def reference: Option[String]
  def outputField: StructField
  def describe: String
}

object BigtableAgg {
  final case class CountStarAgg() extends BigtableAgg {
    def reference: Option[String] = None
    def outputField: StructField = StructField("count_star", LongType, nullable = false)
    def describe: String = "COUNT(*)"
  }
  final case class CountColAgg(col: String) extends BigtableAgg {
    def reference: Option[String] = Some(col)
    def outputField: StructField = StructField(s"count_$col", LongType, nullable = false)
    def describe: String = s"COUNT($col)"
  }
  final case class MinAgg(col: String, dt: DataType) extends BigtableAgg {
    def reference: Option[String] = Some(col)
    def outputField: StructField = StructField(s"min_$col", dt, nullable = true)
    def describe: String = s"MIN($col)"
  }
  final case class MaxAgg(col: String, dt: DataType) extends BigtableAgg {
    def reference: Option[String] = Some(col)
    def outputField: StructField = StructField(s"max_$col", dt, nullable = true)
    def describe: String = s"MAX($col)"
  }
  /** Partial SUM over a numeric qualifier. `ansi` is captured from the
    * session at plan time so the store-side fold overflows exactly like
    * Spark's own partial Sum would (throw under ANSI, wrap otherwise) —
    * pushed and unpushed plans must not diverge on pathological data.
    */
  final case class SumAgg(col: String, dt: DataType, ansi: Boolean) extends BigtableAgg {
    def reference: Option[String] = Some(col)
    def outputField: StructField = StructField(s"sum_$col", dt, nullable = true)
    def describe: String = s"SUM($col)"
  }

  private def singleRef(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _                                               => None
    }

  private def foldableType(dt: DataType): Boolean = dt match {
    case LongType | DoubleType | StringType | TimestampType => true
    case _                                                  => false
  }

  /** Translate one Catalyst v2 aggregate function, or None if the store
    * fold can't express it (the whole aggregation then stays in Spark).
    */
  def translate(cfg: BigtableConfig, f: AggregateFunc): Option[BigtableAgg] = {
    def typed(col: String): Option[DataType] =
      cfg.schema.fields.find(_.name == col).map(_.dataType).filter(foldableType)
    f match {
      case _: CountStar            => Some(CountStarAgg())
      case c: Count if !c.isDistinct() =>
        singleRef(c.column).flatMap(n => typed(n).map(_ => CountColAgg(n)))
      case m: Min => singleRef(m.column).flatMap(n => typed(n).map(dt => MinAgg(n, dt)))
      case m: Max => singleRef(m.column).flatMap(n => typed(n).map(dt => MaxAgg(n, dt)))
      case s: Sum if !s.isDistinct() =>
        // numeric only; sum(long) stays LongType and sum(double)
        // DoubleType in Spark, so the partial's type == the source's
        val ansi =
          try org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
          catch { case _: Throwable => true }
        singleRef(s.column).flatMap(n => typed(n).collect {
          case dt @ (LongType | DoubleType) => SumAgg(n, dt, ansi)
        })
      case _ => None
    }
  }
}

/** Reusable accumulator for one run of `aggs` over source rows — shared
  * by the global ([[BigtableAggregateReader]]) and grouped
  * ([[BigtableGroupedAggregateReader]]) folds so min/max/count semantics
  * (NaN ordering, null skipping) cannot drift between the two.
  */
private[connector] final class AggFold(srcSchema: StructType, aggs: Seq[BigtableAgg]) {
  import BigtableAgg._

  private def ordinal(col: String): Int = {
    val i = srcSchema.fieldIndex(col)
    require(i >= 0, s"agg column $col missing from source schema")
    i
  }

  /** (ordinal, datatype) per agg; -1 for COUNT(*). */
  private val plan: Array[(Int, DataType)] = aggs.map {
    case CountStarAgg()     => (-1, LongType)
    case CountColAgg(c)     => (ordinal(c), LongType)
    case MinAgg(c, dt)      => (ordinal(c), dt)
    case MaxAgg(c, dt)      => (ordinal(c), dt)
    case SumAgg(c, dt, _)   => (ordinal(c), dt)
  }.toArray

  private def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
    case LongType | TimestampType => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    // java.lang.Double.compare, not raw '<': Spark's Min/Max order NaN
    // greater than any double and -0.0 < 0.0, raw '<' is always-false
    // against NaN — pushed and unpushed plans must agree on NaN cells
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0
    case StringType               => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0
    case other                    => throw new IllegalStateException(s"unfoldable agg type $other")
  }

  // source rows are views into a reused columnar batch: a string kept
  // past its row is copied, or the next batch would overwrite it
  private def keep(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other         => other
  }

  private val acc = new Array[Any](aggs.size)
  private val counts = new Array[Long](aggs.size)

  def reset(): Unit = {
    java.util.Arrays.fill(acc.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(counts, 0L)
  }

  def update(row: InternalRow): Unit = {
    var i = 0
    while (i < plan.length) {
      val (ord, dt) = plan(i)
      aggs(i) match {
        case _: CountStarAgg => counts(i) += 1
        case _: CountColAgg  => if (!row.isNullAt(ord)) counts(i) += 1
        case _: MinAgg =>
          if (!row.isNullAt(ord)) {
            val v = row.get(ord, dt)
            if (acc(i) == null || lt(dt, v, acc(i))) acc(i) = keep(v)
          }
        case _: MaxAgg =>
          if (!row.isNullAt(ord)) {
            val v = row.get(ord, dt)
            if (acc(i) == null || lt(dt, acc(i), v)) acc(i) = keep(v)
          }
        case s: SumAgg =>
          if (!row.isNullAt(ord)) {
            val v = row.get(ord, dt)
            acc(i) =
              if (acc(i) == null) v
              else dt match {
                case LongType if s.ansi =>
                  Math.addExact(acc(i).asInstanceOf[Long], v.asInstanceOf[Long])
                case LongType   => acc(i).asInstanceOf[Long] + v.asInstanceOf[Long]
                case DoubleType => acc(i).asInstanceOf[Double] + v.asInstanceOf[Double]
                case other => throw new IllegalStateException(s"unfoldable sum type $other")
              }
          }
      }
      i += 1
    }
  }

  /** Current accumulator values in `aggs` order (fresh array). */
  def result(): Array[Any] = {
    val out = new Array[Any](aggs.size)
    var i = 0
    while (i < aggs.size) {
      out(i) = aggs(i) match {
        case _: CountStarAgg | _: CountColAgg => counts(i)
        case _                                => acc(i)
      }
      i += 1
    }
    out
  }
}

private[connector] object AggFold {
  /** The rows of a columnar reader's batches, in order. Each row is a
    * view into the current batch, valid until the next batch is read.
    */
  def rows(batches: PartitionReader[ColumnarBatch]): Iterator[InternalRow] =
    Iterator.continually(batches).takeWhile(_.next()).flatMap(_.get().rowIterator().asScala)
}

/** Folds the rows of the wrapped columnar reader's batches into ONE
  * partial row per partition in the order of `aggs` — no per-row
  * transfer out of the scan. `srcSchema` is the source projection the
  * batches carry; each agg's reference is resolved to an ordinal in it.
  */
final class BigtableAggregateReader(
    batches: PartitionReader[ColumnarBatch],
    srcSchema: StructType,
    aggs: Seq[BigtableAgg]
) extends PartitionReader[InternalRow] {

  private var emitted = false
  private var result: InternalRow = _

  override def next(): Boolean = {
    if (emitted) return false
    val fold = new AggFold(srcSchema, aggs)
    fold.reset()
    AggFold.rows(batches).foreach(fold.update)
    result = new GenericInternalRow(fold.result())
    emitted = true
    true
  }

  override def get(): InternalRow = result
  override def close(): Unit = batches.close()
}

/** Grouped partial fold: one partial row per distinct group per
  * partition, group columns first (pushed order) then aggregates —
  * the output shape Spark's V2ScanRelationPushDown expects for partial
  * grouped aggregate pushdown; Spark's final aggregation merges the
  * per-partition partials.
  *
  * Scale contract: accepted group columns are a LEADING PREFIX of the
  * row-key components (enforced at push time), so in the reader's
  * key-ordered stream every group's rows are CONTIGUOUS — the fold
  * streams with one live accumulator, O(1) state regardless of group
  * count, never a per-partition hash map of groups. That is what makes
  * a per-entity rollup safe at 100 TB: each partition emits one row per
  * entity in its key span and holds state for exactly one entity at a
  * time.
  */
final class BigtableGroupedAggregateReader(
    batches: PartitionReader[ColumnarBatch],
    srcSchema: StructType,
    groupCols: Seq[String],
    aggs: Seq[BigtableAgg]
) extends PartitionReader[InternalRow] {

  private val groupOrds: Array[Int] = groupCols.map(srcSchema.fieldIndex).toArray
  private val fold = new AggFold(srcSchema, aggs)
  private val rows = AggFold.rows(batches)

  private var currentGroup: Array[UTF8String] = _
  private var haveGroup = false
  private var result: InternalRow = _
  private var exhausted = false

  private def groupOf(row: InternalRow): Array[UTF8String] = {
    val g = new Array[UTF8String](groupOrds.length)
    var i = 0
    while (i < groupOrds.length) {
      g(i) = row.getUTF8String(groupOrds(i))
      i += 1
    }
    g
  }

  // the held group outlives its row, whose strings are views into a
  // reused columnar batch: copy them (row-key components are never null)
  private def kept(g: Array[UTF8String]): Array[UTF8String] = g.map(_.clone())

  private def sameGroup(a: Array[UTF8String], b: Array[UTF8String]): Boolean = {
    var i = 0
    while (i < a.length) {
      if (a(i) != b(i) && (a(i) == null || !a(i).equals(b(i)))) return false
      i += 1
    }
    true
  }

  private def emit(group: Array[UTF8String]): InternalRow = {
    val aggVals = fold.result()
    val out = new Array[Any](group.length + aggVals.length)
    System.arraycopy(group.asInstanceOf[Array[AnyRef]], 0, out.asInstanceOf[Array[AnyRef]], 0, group.length)
    System.arraycopy(aggVals.asInstanceOf[Array[AnyRef]], 0, out.asInstanceOf[Array[AnyRef]], group.length, aggVals.length)
    new GenericInternalRow(out)
  }

  override def next(): Boolean = {
    if (exhausted) return false
    while (rows.hasNext) {
      val row = rows.next()
      val g = groupOf(row)
      if (!haveGroup) {
        currentGroup = kept(g)
        haveGroup = true
        fold.reset()
        fold.update(row)
      } else if (sameGroup(g, currentGroup)) {
        fold.update(row)
      } else {
        // group boundary: emit the finished group, start the new one
        result = emit(currentGroup)
        currentGroup = kept(g)
        fold.reset()
        fold.update(row)
        return true
      }
    }
    exhausted = true
    if (haveGroup) {
      result = emit(currentGroup)
      haveGroup = false
      true
    } else false
  }

  override def get(): InternalRow = result
  override def close(): Unit = batches.close()
}
