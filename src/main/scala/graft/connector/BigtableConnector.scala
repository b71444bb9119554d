package graft.connector

import graft.model._
import graft.store.BigtableStores

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark DataSource V2 connector for the Bigtable-shaped store — the
  * Spark-native re-expression of the reference's TableProvider +
  * BigtableExec (reference: src/datasource.rs:119-166,
  * src/execute_plan.rs:45-313). Registered as format "bigtable".
  *
  * Architecture (SURVEY.md §1.5, §4.2): Catalyst's
  * `V2ScanRelationPushDown` drives column pruning and filter pushdown
  * into [[BigtableScanBuilder]]; the row-range composition is
  * [[RowRangeComposer]]; execution is a standard `BatchScanExec` over
  * [[BigtableInputPartition]]s sized by work (a key set reads in one
  * task, a range scan split at sampled keys fills a wave; a `collect()`
  * of a small scan, or of a row-key join of two scans, reads on the
  * driver with no job, [[BigtableCollectExec]] and
  * [[BigtableJoinCollectExec]]) — true
  * partition-aware parallelism the reference lacks
  * (`UnknownPartitioning(1)`, execute_plan.rs:84-86; unchecked roadmap
  * item README.md:50) — with readers that stream bounded columnar
  * batches instead of materializing one batch (execute_plan.rs:306-310).
  */
class BigtableTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bigtable"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BigtableConfig.fromOptions(options.asCaseSensitiveMap()).schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]
  ): Table =
    new BigtableTable(BigtableConfig.fromOptions(properties))
}

final class BigtableTable(cfg: BigtableConfig)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  /** With `shipStore=true`, capture the registered store handle now —
    * table creation happens on the driver, where the registry is
    * populated — so scans built from this table carry it to executors
    * that never saw `BigtableStores.register` (cluster deployment; the
    * reference instead opens a fresh connection executor-side,
    * datasource.rs:81-88).
    */
  private val shippedStore: Option[graft.store.BigtableStore] =
    if (cfg.shipStore && BigtableStores.contains(cfg.storeName))
      Some(BigtableStores.get(cfg.storeName))
    else None
  override def name(): String = s"bigtable.${cfg.table}"
  override def schema(): StructType = cfg.schema
  override def capabilities(): java.util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: a write needn't carry every declared qualifier
    // (absent column = no cells, reads back NULL) nor `_timestamp`
    // (pinned writeTimestampMicros then applies). Spark's by-name
    // output resolution would demand the full read schema; the
    // BatchWrite validates what IS provided driver-side instead.
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BigtableScanBuilder(cfg, shippedStore)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new BigtableWriteBuilder(cfg, info.schema())
}

/** Pushdown surface: equivalent of `TableProvider::scan` receiving
  * projection + filters (reference datasource.rs:140-159).
  *
  * Filter pushdown is *inexact* (A14, datasource.rs:163-165): we keep a
  * copy of every filter for range composition but return ALL of them as
  * residual, so Spark retains its `FilterExec` above the scan and
  * over-broad lexicographic ranges can never produce wrong answers.
  */
final class BigtableScanBuilder(cfg: BigtableConfig, shippedStore: Option[graft.store.BigtableStore] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var filters: Array[Filter] = Array.empty
  private var requiredSchema: StructType = cfg.schema
  private var limit: Option[Int] = None
  private var topNOrders: Option[Seq[String]] = None
  private var pushedAggs: Option[(Seq[String], Seq[BigtableAgg])] = None

  /** A15 improvement: the reference ignores the limit (datasource.rs:148);
    * we cap each partition reader at `limit` rows. Declared partially
    * pushed so Spark keeps its global limit above the scan.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  /** Top-k pushdown on the scan's REPORTED per-partition order: each
    * partition streams (key asc, _timestamp asc) — see
    * [[BigtableScan.outputOrdering]] — so `ORDER BY key [, _timestamp]
    * LIMIT k` can stop every partition reader at its first k surviving
    * rows (they ARE that partition's top-k). Declared partially pushed:
    * Spark's global top-k merges the per-partition prefixes, so the
    * full sort of scan output disappears and each reader transfers at
    * most k rows. Accepted only where the report itself is sound
    * (single-component keys) and only for an ASCENDING prefix of the
    * stream order — anything else keeps Spark's Sort.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int
  ): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (pushedAggs.nonEmpty || cfg.partitionCols.size != 1 || orders.isEmpty) return false
    val streamOrder = Seq(cfg.partitionCols.head, BigtableConfig.TimestampCol)
    val named = orders.toSeq.map { o =>
      o.expression() match {
        case r: NamedReference
            if r.fieldNames().length == 1 && o.direction() == SortDirection.ASCENDING =>
          Some(r.fieldNames()(0))
        case _ => None
      }
    }
    if (named.exists(_.isEmpty)) return false
    val cols = named.flatten
    if (cols == streamOrder.take(cols.size)) {
      limit = Some(n)
      topNOrders = Some(cols)
      true
    } else false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    this.filters = filters
    if (!cfg.exactFilterPushdown) filters // all residual = inexact pushdown (A14)
    else {
      // opt-in: provably-exact key filters (range set == predicate set)
      // and value predicates re-checked exactly post-pivot in the reader
      // ([[ValuePredicate]]) need no residual FilterExec — and a scan
      // with zero residual filters is what lets Catalyst push aggregates
      // and top-k down to the store
      val exact = (RowRangeComposer.exactlyPushable(cfg, filters.toSeq) ++
        RowRangeComposer.exactValueFilters(cfg, filters.toSeq)).toSet
      filters.filterNot(exact.contains)
    }
  }

  /** Partial aggregate pushdown (beyond the reference, the natural step
    * after its never-implemented roadmap pushdowns): global
    * COUNT/MIN/MAX fold at the store, one partial row per partition,
    * final (tiny) aggregation in Spark — per-partition aggregation at
    * the source instead of shipping every row, the shape that matters
    * at 100 TB scan volume. Catalyst only calls this when no residual
    * filters remain (so it composes with `exactFilterPushdown` for
    * range-restricted aggregates).
    */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false // partial: Spark re-aggregates the per-partition folds

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // GROUP BY pushes only on a LEADING PREFIX of the row-key
    // components: those groups are contiguous in the reader's
    // key-ordered stream, so the per-partition fold streams with one
    // live accumulator (O(1) state at any group cardinality — the shape
    // that survives a per-entity rollup over 100 TB). Anything else
    // (qualifiers, _timestamp, gaps in the key) stays in Spark.
    val groupCols: Option[Seq[String]] =
      agg.groupByExpressions().toSeq.foldLeft(Option(Vector.empty[String])) { (acc, e) =>
        acc.flatMap { cols =>
          e match {
            case r: org.apache.spark.sql.connector.expressions.NamedReference
                if r.fieldNames().length == 1 => Some(cols :+ r.fieldNames()(0))
            case _ => None
          }
        }
      }
    groupCols match {
      case None => false
      case Some(gcols) =>
        val leading = cfg.partitionCols.take(gcols.length)
        if (gcols.distinct.size != gcols.size || gcols.sorted != leading.sorted.toVector) false
        else {
          val specs = agg.aggregateExpressions().toSeq.map(BigtableAgg.translate(cfg, _))
          if (specs.exists(_.isEmpty)) false
          else { pushedAggs = Some((gcols, specs.flatten)); true }
        }
    }
  }

  /** What `explain` shows as PushedFilters — only the ones the composer
    * actually uses for pruning (display-only; mirrors the acceptance
    * conditions in [[RowRangeComposer.composeRanges]] so EXPLAIN never
    * overstates pruning: tail bounds count only when both sides are
    * present and the tail isn't equality-constrained; prefixes only when
    * ASCII and non-empty; nothing counts if the composition fell back to
    * a full scan). `_timestamp` bounds consumed by the cell-window
    * pushdown are reported too.
    */
  override def pushedFilters(): Array[Filter] = {
    import org.apache.spark.sql.sources._
    val tsPushed = filters.filter(f => RowRangeComposer.composeTsRange(Seq(f)).isDefined)
    // value predicates push independently of key-range pruning (they
    // narrow cells server-side even on a full scan); under
    // exactFilterPushdown the post-pivot-exact set is reported too
    val valuePushed = (RowRangeComposer.composeValueFilters(cfg, filters.toSeq)._2 ++
      (if (cfg.exactFilterPushdown) RowRangeComposer.exactValueFilters(cfg, filters.toSeq)
       else Nil)).distinct.toArray
    val prunes =
      try RowRangeComposer.composeRanges(cfg, filters.toSeq) != Vector(RowRange.full)
      catch { case _: RowRangeComposer.MissingKeyFilterException => false }
    if (!prunes) return tsPushed ++ valuePushed

    val tailCol = cfg.partitionCols.last
    def eqInCol(f: Filter): Option[String] = f match {
      case EqualTo(c, _: String) if cfg.isPartitionCol(c) => Some(c)
      case In(c, vs) if cfg.isPartitionCol(c) && vs.nonEmpty && vs.forall(_.isInstanceOf[String]) => Some(c)
      case _ => None
    }
    val eqInCols = filters.flatMap(eqInCol).toSet
    val tailEq = eqInCols.contains(tailCol)
    val hasLo = filters.exists { case GreaterThanOrEqual(c, _: String) => c == tailCol; case _ => false }
    val hasHi = filters.exists { case LessThanOrEqual(c, _: String) => c == tailCol; case _ => false }
    val useBounds = !tailEq && hasLo && hasHi
    // prefixes are used only when no two-sided bound took precedence; any
    // valid prefix is then implied by the composed (longest-prefix) range
    val usePrefix = !tailEq && !useBounds
    def validPrefix(f: Filter): Boolean = f match {
      case StringStartsWith(c, p) => c == tailCol && p.nonEmpty && p.forall(_ < 0x80)
      case _                      => false
    }
    val tailByRange = !tailEq && (useBounds || filters.exists(validPrefix))
    val fullyViaConjuncts =
      cfg.partitionCols.forall(eqInCols.contains) ||
        (cfg.partitionCols.init.forall(eqInCols.contains) && tailByRange)
    val keyPushed = filters.filter { f =>
      eqInCol(f).isDefined || (f match {
        case GreaterThanOrEqual(c, _: String) => useBounds && c == tailCol
        case LessThanOrEqual(c, _: String)    => useBounds && c == tailCol
        case s: StringStartsWith              => usePrefix && validPrefix(s)
        // pruning succeeded only through the OR-split channel: the Or
        // conjunct over key columns is what composed the range union
        case o: Or => !fullyViaConjuncts && o.references.forall(cfg.isPartitionCol)
        case _     => false
      })
    }
    keyPushed ++ tsPushed ++ valuePushed
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  override def build(): Scan = {
    // Planning-time composition — the mandatory-filter guard (A8,
    // composer.rs:72-77) fires here, failing the query before execution
    // exactly like the reference's TableProvider::scan.
    // With an aggregate pushed, the source columns are the aggregates'
    // references (requiredSchema still reflects the pre-agg projection).
    val sourceSchema = pushedAggs match {
      case None                => requiredSchema
      case Some((gcols, aggs)) =>
        val refs = (gcols ++ aggs.flatMap(_.reference)).toSet
        StructType(cfg.schema.fields.filter(f => refs.contains(f.name)))
    }
    // exactly-pushed value predicates: re-checked post-pivot in every
    // reader (the exactness layer); their qualifiers must survive the
    // server-side projection regex even when the SELECT list (or the
    // pushed aggregates) never touches them
    val postFilters: Seq[Filter] =
      if (cfg.exactFilterPushdown) RowRangeComposer.exactValueFilters(cfg, filters.toSeq) else Nil
    val requiredQualifiers =
      (sourceSchema.fieldNames.toSeq.filter(cfg.isQualifier) ++
        postFilters.flatMap(_.references).filter(cfg.isQualifier)).distinct
    val comp = RowRangeComposer.compose(cfg, filters.toSeq, requiredQualifiers)
    val tsRange = RowRangeComposer.composeTsRange(filters.toSeq)
    new BigtableScan(cfg, sourceSchema, comp, tsRange, limit, pushedFilters(), shippedStore,
      pushedAggs, postFilters, topNOrders)
  }
}

final class BigtableScan(
    cfg: BigtableConfig,
    requiredSchema: StructType,
    comp: RowRangeComposer.Composition,
    tsRange: Option[(Long, Long)] = None,
    limit: Option[Int] = None,
    pushed: Array[Filter] = Array.empty,
    shippedStore: Option[graft.store.BigtableStore] = None,
    /** Pushed partial aggregates (groupCols, aggs); when set,
      * `requiredSchema` is the SOURCE schema the fold reads and
      * [[readSchema]] is group columns ++ aggregate outputs (one
      * partial row per partition, or per contiguous group per
      * partition when grouped).
      */
    aggs: Option[(Seq[String], Seq[BigtableAgg])] = None,
    /** Exactly-pushed value predicates, re-evaluated on the decoded
      * post-pivot row by every reader (see [[ValuePredicate]]).
      */
    postFilters: Seq[Filter] = Nil,
    /** Pushed top-k sort columns (with `limit` as k) — display only;
      * the cap itself rides the `limit` channel.
      */
    topNOrders: Option[Seq[String]] = None
) extends Scan
    with Batch
    with SupportsReportStatistics
    with SupportsReportOrdering
    with SupportsRuntimeV2Filtering {

  /** Ranges after runtime (DPP-style) narrowing; starts at the
    * planning-time composition.
    */
  @volatile private var effectiveRanges: Vector[RowRange] = comp.ranges

  /** Runtime-prunable attributes: the row-key columns — restricted to
    * those the scan actually outputs (Spark resolves these against the
    * scan's output attributes, so a pruned-away component would fail
    * analysis; a join key is always in the output anyway).
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    cfg.partitionCols
      .filter(requiredSchema.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  /** Runtime filtering (SPARK-37206 DSv2 API): when this scan sits on
    * the probe side of a join keyed on the row key, Spark hands us the
    * build side's key values after it materializes — the dynamic
    * equivalent of partition pruning. We intersect the planned ranges
    * with the delivered IN-set. Over-inclusion is safe (the join still
    * filters), so anything untranslatable is ignored.
    *
    * Composite keys narrow from the LONGEST LEADING component prefix
    * that arrives with IN/=-sets — the same longest-prefix logic as the
    * static composer:
    *   - every component pinned → cartesian product of point keys;
    *   - a leading subset pinned (a join on the first k of n
    *     components) → one prefix range `[p#, successor(p#))` per
    *     prefix combination. A non-leading pinned component can't
    *     factor into lexicographic ranges and is ignored.
    * The ranges come from [[keyRanges]], clipped to the planned
    * composition so narrowing never reads beyond it; a combination count
    * over `maxComposedRanges` leaves the scan as planned.
    */
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // no key columns → nothing to narrow on; without this guard the fold
    // below would vacuously pin the scan to the point key ""
    if (cfg.partitionCols.isEmpty) return
    // longest leading run of components with per-component IN-sets
    // (intersected when a component appears in several predicates)
    val leading: Vector[Set[String]] = cfg.partitionCols.iterator
      .map { c =>
        val sets = predicates.flatMap(BigtableScan.inSetValues(_, c))
        if (sets.isEmpty) None else Some(sets.map(_.toSet).reduce(_ intersect _))
      }
      .takeWhile(_.isDefined)
      .flatten
      .toVector
    if (leading.isEmpty || leading.map(_.size.toLong).product > cfg.maxComposedRanges) return
    val tuples = leading
      .map(_.toVector.sorted)
      .foldLeft(Vector(Vector.empty[String])) { (acc, vs) => for (t <- acc; v <- vs) yield t :+ v }
    keyRanges(tuples).foreach(effectiveRanges = _)
  }

  /** The ranges that read exactly the rows whose leading row-key
    * components equal one of `keys` (tuples of the first k components,
    * the same k for every tuple), clipped to the planned composition:
    *   - every component pinned → one point key per tuple;
    *   - a leading subset pinned (a join on the first k of n components)
    *     → one prefix range `[p#, successor(p#))` per tuple.
    * None when there are more than `maxComposedRanges` tuples, or when a
    * prefix is not ASCII: its successor (last byte + 1) is exact only
    * for ASCII, and dropping that prefix would lose its rows. Pure: the
    * scan is not changed, so a driver-side join can narrow a scan that
    * Spark's plan shares.
    */
  private[connector] def keyRanges(keys: Iterable[Seq[String]]): Option[Vector[RowRange]] = {
    val tuples = keys.toVector
    if (tuples.size > cfg.maxComposedRanges) return None
    val prefixes = tuples.map(_.mkString(cfg.separator))
    val candidates: Vector[Option[RowRange]] =
      if (tuples.forall(_.size == cfg.partitionCols.size)) prefixes.map(p => Some(RowRange.point(p)))
      else
        prefixes.map { p =>
          val pre = p + cfg.separator
          if (pre.forall(_ < 0x80)) Some(RowRangeComposer.prefixRange(pre)) else None
        }
    if (candidates.exists(_.isEmpty)) None
    // an empty intersection legitimately yields no ranges
    else Some(RowRange.normalize(
      candidates.flatten.flatMap(c => comp.ranges.flatMap(r => RowRange.intersect(c, r)))))
  }

  /** The row-key columns, in key order. */
  private[connector] def keyColumns: Seq[String] = cfg.partitionCols

  /** Visible for tests/metrics: the ranges the scan will actually read. */
  private[connector] def currentRanges: Vector[RowRange] = effectiveRanges

  /** A16 improvement over the reference's `todo!()` statistics
    * (execute_plan.rs:152-157): range-scoped estimates from the store,
    * letting Catalyst auto-broadcast small connector tables in joins.
    */
  override def estimateStatistics(): Statistics = {
    val est = estimate
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        est.map(e => java.util.OptionalLong.of(e._2)).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        est.map(e => java.util.OptionalLong.of(e._1)).getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def readSchema(): StructType = aggs match {
    case None               => requiredSchema
    case Some((gcols, as))  =>
      // group columns first (pushed order), then aggregates — the
      // output contract of V2ScanRelationPushDown's partial pushdown
      val groupFields = gcols.map(c => cfg.schema.fields(cfg.schema.fieldIndex(c)))
      StructType(groupFields ++ as.map(_.outputField))
  }

  /** Each partition emits rows in (rowKey asc, cell-timestamp asc)
    * order: ranges are normalized (sorted, disjoint), grouped
    * contiguously, and the store streams each range from a key-ordered
    * seek; the pivot then emits versions ascending (see
    * [[BigtablePivot.groups]]). Report it so Catalyst's
    * RemoveRedundantSorts drops `ORDER BY key` sorts (single-partition
    * scans) and sort-based downstream operators skip their per-partition
    * sort — a whole sort stage saved at 100 TB scan volume.
    *
    * Only sound for single-component keys: Spark's string comparison is
    * UTF-8-byte order on the COMPONENT, while the store orders the
    * CONCATENATED key — a component containing bytes below the
    * separator would order differently (e.g. keys "a!#b" < "a#z" but
    * components ("a!","b") > ("a","z")), so composite tables report
    * nothing rather than an unsound order.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    if (aggs.nonEmpty) return Array.empty // partial-agg rows carry no key order
    if (cfg.partitionCols.size != 1) return Array.empty
    val keyCol = cfg.partitionCols.head
    val names = requiredSchema.fieldNames
    if (!names.contains(keyCol)) return Array.empty
    val asc = (c: String) =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)
    if (names.contains(BigtableConfig.TimestampCol)) Array(asc(keyCol), asc(BigtableConfig.TimestampCol))
    else Array(asc(keyCol))
  }

  override def toBatch: Batch = this

  override def description(): String = {
    val rangesDesc = comp.ranges
      .take(4)
      .map(r => s"[${r.startKey}, ${r.endKey.getOrElse("∞")}${if (r.endInclusive) "]" else ")"}")
      .mkString(", ")
    val tsDesc = tsRange.map { case (lo, hi) => s" tsWindow=($lo, $hi]µs" }.getOrElse("")
    val limitDesc = topNOrders match {
      case Some(cols) => s" topN=${limit.getOrElse(-1)} order=[${cols.mkString(", ")} ASC]"
      case None       => limit.map(l => s" limit=$l").getOrElse("")
    }
    val aggDesc = aggs.map { case (gcols, as) =>
      val g = if (gcols.isEmpty) "" else s" groupBy=[${gcols.mkString(", ")}]"
      s"$g agg=[${as.map(_.describe).mkString(", ")}]"
    }.getOrElse("")
    // DSv2 explain surfaces only Scan.description(): render the pushed
    // list here (it already mirrors the composer's true acceptance)
    val pushedDesc = s" PushedFilters: [${pushed.mkString(", ")}]"
    s"BigtableScan ${cfg.table} ranges=${comp.ranges.size} ($rangesDesc${if (comp.ranges.size > 4) ", …" else ""}) " +
      s"rowFilters=${comp.rowFilters.size} cols=${requiredSchema.fieldNames.mkString(",")}$tsDesc$limitDesc$aggDesc$pushedDesc"
  }

  /** Store metadata, asked at most once per scan. Spark re-derives a
    * `BatchScanExec`'s partitions on every copy of the plan node, and
    * all copies share this one `Scan`, so the answers are kept here:
    * one `estimateSize` for [[estimateStatistics]], [[driverPartition]]
    * and the partition plan's byte count, one `sampleRowKeys` shared by
    * every [[planInputPartitions]] call (before and after runtime
    * filtering).
    * Both are lazy, so a scan that never needs one never asks.
    * Planning on a driver without the store answers "unknown".
    */
  private lazy val estimate: Option[(Long, Long)] =
    try BigtableStores.resolve(cfg.storeName, shippedStore).estimateSize(cfg.table, comp.ranges)
    catch { case _: IllegalStateException => None }

  private lazy val samples: Seq[String] =
    try BigtableStores.resolve(cfg.storeName, shippedStore).sampleRowKeys(cfg.table)
    catch { case _: IllegalStateException => Nil }

  /** Partitions sized by work ([[BigtableScan.planPartitions]]): a key
    * set (every effective range a point, after any runtime filter) reads
    * as ONE partition — one task, one `ReadRows` — and asks the store
    * for neither samples nor an estimate. A range scan splits at the
    * store's sampled row keys (the emulator analogue of Bigtable's
    * `SampleRowKeys` RPC, used this way by the public HBase/Beam
    * connectors) and groups the pieces contiguously into one wave of
    * tasks, or into `spark.sql.files.maxPartitionBytes`-sized groups when
    * the scan's estimate is larger — the reference instead reads every
    * scan on one task (execute_plan.rs:84-86). Only a job asks for these
    * partitions: planning does not ([[columnarSupportMode]]), and a
    * `collect()` of the scan alone, or of a row-key join of two scans,
    * reads on the driver instead when [[driverPartition]] admits it
    * ([[BigtableCollectExec]], [[BigtableJoinCollectExec]]).
    */
  override def planInputPartitions(): Array[InputPartition] =
    BigtableScan
      .planPartitions(effectiveRanges, samples, estimate.map(_._2))
      .map(g => BigtableInputPartition(g, tsRange): InputPartition)
      .toArray

  /** Declared, so that Spark's planning never calls
    * [[planInputPartitions]] to find out (the default asks every
    * partition's reader factory, which makes a range scan sample the
    * store at planning time, and a runtime-filtered probe side plan its
    * partitions before the filter arrives): every scan reads columnar
    * batches, except in agg mode ([[BigtablePartitionReaderFactory]]).
    */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (aggs.isEmpty) Scan.ColumnarSupportMode.SUPPORTED else Scan.ColumnarSupportMode.UNSUPPORTED

  /** The one partition a driver-side read takes: every planned range,
    * when the scan is small enough to read on the driver — every range a
    * point (no estimate asked), or the memoized [[estimate]] (the one
    * [[estimateStatistics]] reports) at most one batch (`MaxBatchRows`)
    * of rows and at most `spark.sql.files.maxPartitionBytes` bytes. A
    * store with no estimate is tried, and the reader's one-batch cap
    * bounds that read. None for a larger scan, a pushed aggregate, or a
    * store the driver cannot reach (neither registered here nor
    * shipped); the query then runs Spark's plan, whose tasks resolve the
    * store themselves.
    *
    * The planned ranges, not [[currentRanges]]: a scan collected alone
    * has no runtime filter, and a join side must not read the keys a
    * previous run of Spark's plan narrowed it to.
    */
  private[connector] def driverPartition: Option[BigtableInputPartition] = {
    def small = comp.ranges.forall(_.isPoint) || estimate.forall { case (rows, bytes) =>
      rows <= BigtableColumnarPartitionReader.MaxBatchRows &&
        bytes <= org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    }
    partitionOver(comp.ranges).filter(_ => small)
  }

  /** A partition over `ranges` for a driver-side read; None for a
    * pushed aggregate or a store the driver cannot reach.
    */
  private[connector] def partitionOver(ranges: Vector[RowRange]): Option[BigtableInputPartition] = {
    val reachable = shippedStore.isDefined || BigtableStores.contains(cfg.storeName)
    if (aggs.isEmpty && reachable) Some(BigtableInputPartition(ranges, tsRange)) else None
  }

  /** The estimate's row count (asking the store at most once). */
  private[connector] def estimatedRows: Option[Long] = estimate.map(_._1)

  override def createReaderFactory(): PartitionReaderFactory =
    // agg mode ignores the pushed limit: Spark never pushes a limit
    // below an aggregate, and capping the fold's input would be wrong
    new BigtablePartitionReaderFactory(
      cfg, requiredSchema, comp.rowFilters,
      if (aggs.isDefined) None else limit, shippedStore, aggs, postFilters)

  /** Streaming read: cell versions become a change stream ordered by
    * cell timestamp (micro-batch offsets = timestamp high-watermark).
    * Requires `onlyReadLatest=false` — each cell version is one event.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(
      !cfg.onlyReadLatest,
      "streaming read requires onlyReadLatest=false (each cell version is one change event)"
    )
    new BigtableMicroBatchStream(cfg, requiredSchema, comp, shippedStore, postFilters)
  }
}

object BigtableScan {
  /** Translate a V2 runtime predicate to the string key values it pins
    * `keyCol` to: `IN(col, lits...)` or `=(col, lit)` with UTF-8 string
    * literals. None for anything else (ignored — over-inclusion safe).
    */
  private[connector] def inSetValues(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      keyCol: String
  ): Option[Seq[String]] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def colMatches(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
      case r: NamedReference => r.fieldNames().sameElements(Array(keyCol))
      case _                 => false
    }
    def litString(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case l: Literal[_] if l.dataType == StringType && l.value != null => Some(l.value.toString)
      case _                                                           => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && colMatches(p.children().head) =>
        val lits = p.children().tail.map(litString)
        if (lits.nonEmpty && lits.forall(_.isDefined)) Some(lits.map(_.get).toSeq) else None
      case "=" if p.children().length == 2 && colMatches(p.children().head) =>
        litString(p.children()(1)).map(Seq(_))
      case _ => None
    }
  }

  /** Split each range at the sample keys strictly inside it:
    * `[a, b]` with samples s1 < s2 inside → `[a,s1) [s1,s2) [s2,b]`.
    */
  def splitRanges(ranges: Vector[RowRange], samples: Seq[String]): Vector[RowRange] =
    if (samples.isEmpty) ranges
    else
      ranges.flatMap { r =>
        val inside = samples.filter { s =>
          RowRange.compareKeys(s, r.startKey) > 0 && (r.endKey match {
            case None    => true
            case Some(e) => RowRange.compareKeys(s, e) < 0
          })
        }
        if (inside.isEmpty) Vector(r)
        else {
          val bounds = r.startKey +: inside.toVector
          bounds.zip(inside).map { case (lo, hi) => RowRange.closedOpen(lo, hi) } :+
            RowRange(inside.last, r.endKey, r.endInclusive)
        }
      }

  /** Balanced contiguous grouping of ranges into at most `maxGroups`
    * partitions (contiguity preserves per-partition key ordering).
    */
  def chunkContiguous(ranges: Vector[RowRange], maxGroups: Int): Vector[Vector[RowRange]] = {
    if (ranges.isEmpty) return Vector.empty
    val n = ranges.size
    val groups = math.max(1, math.min(maxGroups, n))
    val base = n / groups
    val extra = n % groups
    val out = Vector.newBuilder[Vector[RowRange]]
    var idx = 0
    var g = 0
    while (g < groups) {
      val size = base + (if (g < extra) 1 else 0)
      out += ranges.slice(idx, idx + size)
      idx += size
      g += 1
    }
    out.result()
  }

  /** The scan's partition plan, sized by work rather than by range count.
    * Inputs are Spark's own file-source settings, read from the session
    * planning the scan: the parallelism `p` is
    * `spark.sql.files.minPartitionNum` when set, else `defaultParallelism`;
    * the split size is `spark.sql.files.maxPartitionBytes`.
    *   - Every range a point (a key set; the composer and the runtime
    *     filter cap it at `maxComposedRanges` keys): one partition, and
    *     neither `samples` nor `estimatedBytes` is evaluated.
    *   - Otherwise the ranges split at the sample keys; at most `p` pieces
    *     read one piece per partition (one wave, no estimate needed);
    *     more pieces group contiguously into
    *     `min(pieces, max(p, ⌈bytes / maxPartitionBytes⌉))` partitions
    *     (`p` when the store has no estimate).
    * Both by-name inputs are evaluated at most once.
    */
  def planPartitions(
      ranges: Vector[RowRange],
      samples: => Seq[String],
      estimatedBytes: => Option[Long]
  ): Vector[Vector[RowRange]] =
    if (ranges.isEmpty) Vector.empty
    else if (ranges.forall(_.isPoint)) Vector(ranges)
    else {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val p = conf.filesMinPartitionNum.getOrElse(
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
      val pieces = splitRanges(ranges, samples)
      val maxBytes = conf.filesMaxPartitionBytes
      val bySize =
        if (pieces.size <= p) 0L else estimatedBytes.fold(0L)(b => (b + maxBytes - 1) / maxBytes)
      chunkContiguous(pieces, math.min(pieces.size.toLong, math.max(p.toLong, bySize)).toInt)
    }
}

/** One scan task: a group of disjoint key ranges, plus (streaming only)
  * the micro-batch cell-timestamp window `tsLo < ts <= tsHi`.
  */
final case class BigtableInputPartition(
    ranges: Seq[RowRange],
    tsRange: Option[(Long, Long)] = None
) extends InputPartition

final class BigtablePartitionReaderFactory(
    cfg: BigtableConfig,
    readSchema: StructType,
    rowFilters: Seq[RowFilter],
    limit: Option[Int] = None,
    /** Store handle serialized with this factory when `shipStore=true`:
      * the executor-side fallback when the JVM registry misses (cluster
      * deployment without a shared driver JVM). One copy per scan — the
      * factory is serialized once into the task binary, not once per
      * InputPartition.
      */
    shippedStore: Option[graft.store.BigtableStore] = None,
    aggs: Option[(Seq[String], Seq[BigtableAgg])] = None,
    /** Exactly-pushed value predicates; serialized as plain source
      * Filters and compiled executor-side per reader (the compiled
      * closure holds UTF8String literals — cheap to rebuild, awkward to
      * ship).
      */
    postFilters: Seq[Filter] = Nil
) extends PartitionReaderFactory {
  /** Every scan reads columnar batches, except in agg mode, whose one
    * partial row per partition (or per group) is a row.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = aggs.isEmpty

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[BigtableInputPartition]
    new BigtableColumnarPartitionReader(
      cfg, readSchema, rowFilters, p.ranges, p.tsRange, limit, shippedStore,
      ValuePredicate.compile(cfg, postFilters))
  }

  /** Agg mode only: the folds run over the columnar reader's batches. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = aggs match {
    case Some((gcols, as)) if gcols.isEmpty =>
      new BigtableAggregateReader(createColumnarReader(partition), readSchema, as)
    case Some((gcols, as)) =>
      new BigtableGroupedAggregateReader(createColumnarReader(partition), readSchema, gcols, as)
    case None =>
      throw new UnsupportedOperationException("bigtable scans without a pushed aggregate read columnar")
  }
}
