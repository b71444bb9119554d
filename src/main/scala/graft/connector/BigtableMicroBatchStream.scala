package graft.connector

import graft.store.BigtableStores

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType

/** Cell-timestamp offset for the Bigtable change stream: everything
  * with `timestampMicros <= ts` has been delivered.
  */
final case class TsOffset(ts: Long) extends Offset {
  override def json(): String = s"""{"ts":$ts}"""
}

/** Micro-batch streaming read of the store: cell versions are treated
  * as a change stream ordered by cell timestamp. Batch N delivers all
  * cells with `start < timestampMicros <= end` within the composed key
  * ranges, pivoted by the batch scan's columnar reader (one row per
  * (row key, timestamp) group inside the window).
  *
  * The emulator derives offsets by scanning min/max cell timestamps (a
  * real deployment would track a change-stream position — the public
  * Bigtable Change Streams API has exactly this shape: partitioned,
  * timestamp-watermarked change records). Admission control:
  * `streamStepMicros` bounds how far one micro-batch advances, so a
  * backlog replays as several batches instead of one giant one.
  */
final class BigtableMicroBatchStream(
    cfg: BigtableConfig,
    readSchema: StructType,
    comp: RowRangeComposer.Composition,
    shippedStore: Option[graft.store.BigtableStore] = None,
    /** Exactly-pushed value predicates (see [[ValuePredicate]]): the
      * stream reader must enforce them like the batch reader, or an
      * exact-pushdown streaming scan would leak unfiltered rows.
      */
    postFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil
) extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Cell-timestamp bounds of the composed ranges, read from the store. */
  private def readBounds(): (Long, Long) = {
    val store = BigtableStores.resolve(cfg.storeName, shippedStore)
    store
      .readRows(cfg.table, comp.ranges, comp.rowFilters)
      .flatMap(_.cells.iterator.map(_.timestampMicros))
      .foldLeft((Long.MaxValue, Long.MinValue)) { case ((mn, mx), t) =>
        (math.min(mn, t), math.max(mx, t))
      }
  }

  /** AvailableNow target, read once when the run starts: a run stops at
    * the cells present then — batches step toward it under
    * `streamStepMicros` admission control until caught up; cells written
    * during the run wait for the next one.
    */
  @volatile private var pinned: Option[(Long, Long)] = None

  /** The bounds the last offset was planned from; `reportLatestOffset`
    * answers from them instead of reading the store again.
    */
  @volatile private var lastBounds: (Long, Long) = (Long.MaxValue, Long.MinValue)

  override def prepareForTriggerAvailableNow(): Unit = pinned = Some(readBounds())

  /** Any other trigger re-reads the high watermark on every offset
    * request, so cells written while the stream runs are admitted.
    */
  private def bounds(): (Long, Long) = {
    val b = pinned.getOrElse(readBounds())
    lastBounds = b
    b
  }

  override def initialOffset(): Offset = TsOffset(Long.MinValue)

  override def latestOffset(): Offset = TsOffset(bounds()._2)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Rate-limited high watermark: advance at most `streamStepMicros`
    * past the current position (first batch starts at the oldest cell).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[TsOffset].ts
    val (minTs, maxTs) = bounds()
    cfg.streamStepMicros match {
      case None => TsOffset(maxTs)
      case Some(step) =>
        if (maxTs == Long.MinValue) TsOffset(Long.MinValue) // empty table
        else {
          val base = if (lo == Long.MinValue) minTs - 1 else lo
          TsOffset(math.min(maxTs, base + step))
        }
    }
  }

  override def reportLatestOffset(): Offset = TsOffset(lastBounds._2)

  override def deserializeOffset(json: String): Offset =
    TsOffset("""-?\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(Long.MinValue))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[TsOffset].ts
    val hi = end.asInstanceOf[TsOffset].ts
    if (hi <= lo) return Array.empty
    lazy val store = BigtableStores.resolve(cfg.storeName, shippedStore)
    BigtableScan
      .planPartitions(
        comp.ranges,
        try store.sampleRowKeys(cfg.table) catch { case _: IllegalStateException => Nil },
        try store.estimateSize(cfg.table, comp.ranges).map(_._2) catch { case _: IllegalStateException => None })
      .map(g => BigtableInputPartition(g, Some((lo, hi))): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BigtablePartitionReaderFactory(cfg, readSchema, comp.rowFilters, None, shippedStore,
      aggs = None, postFilters = postFilters)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
