package graft.connector

import graft.model._

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** The connector's read path: the store read and cell→row pivot
  * ([[BigtablePivot.groups]]/[[BigtablePivot.extract]]) decode values
  * DIRECTLY into `OnHeapColumnVector`s (no per-row `InternalRow`
  * allocation) and Spark consumes whole `ColumnarBatch`es (the scan
  * feeds whole-stage codegen through a vectorized ColumnarToRow, the
  * same shape as the built-in parquet reader). Batch scans, micro-batch
  * scans and the pushed-aggregate folds all read through it. The
  * reference pivots to a columnar Arrow `RecordBatch` the same way, but
  * materializes the ENTIRE result as one batch (execute_plan.rs:186-307);
  * here batches are bounded at `batchSize` rows so memory stays flat at
  * any scan volume.
  *
  * Rows are emitted in (rowKey, timestamp) ascending order per
  * partition, which is what `SupportsReportOrdering` reports. The
  * vectors are reused: each `next()` overwrites the previous batch.
  * They start at `InitialBatchRows` and double as a batch fills, up to
  * `batchSize`, so a one-row lookup does not allocate 4096-row vectors.
  */
final class BigtableColumnarPartitionReader(
    cfg: BigtableConfig,
    readSchema: StructType,
    rowFilters: Seq[RowFilter],
    ranges: Seq[RowRange],
    tsRange: Option[(Long, Long)],
    limit: Option[Int] = None,
    shippedStore: Option[graft.store.BigtableStore] = None,
    postFilter: Option[BigtablePivot.Group => Boolean] = None,
    batchSize: Int = BigtableColumnarPartitionReader.MaxBatchRows
) extends PartitionReader[ColumnarBatch] {

  require(batchSize > 0, s"batchSize must be positive, got $batchSize")

  private val plan = BigtablePivot.fieldPlan(cfg, readSchema)

  private val groupIter: BigtablePivot.GroupIterator =
    BigtablePivot.groups(cfg, rowFilters, ranges, tsRange, limit, shippedStore, postFilter)

  private val initialRows = math.min(batchSize, BigtableColumnarPartitionReader.InitialBatchRows)
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(initialRows, readSchema)
  private val batch = new ColumnarBatch(vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))

  override def next(): Boolean = {
    if (!groupIter.hasNext) return false
    vectors.foreach(_.reset())
    // rows every vector holds at least: a reset may shrink a vector back
    // to its first allocation, and Spark's `reserve` may give more
    var capacity = initialRows
    var n = 0
    while (n < batchSize && groupIter.hasNext) {
      val g = groupIter.next()
      if (n == capacity) {
        capacity = math.min(batchSize, capacity * 2)
        vectors.foreach(_.reserve(capacity))
      }
      var i = 0
      while (i < plan.length) {
        // boxed extraction, then an unbox into the vector — no per-row
        // row object; LongType/DoubleType decode already boxes via Option
        BigtablePivot.extract(plan(i), g) match {
          case null          => vectors(i).putNull(n)
          case v: Long       => vectors(i).putLong(n, v)
          case v: Double     => vectors(i).putDouble(n, v)
          case s: UTF8String =>
            val b = s.getBytes
            vectors(i).putByteArray(n, b, 0, b.length)
          case other =>
            throw new IllegalStateException(s"unexpected decoded value type: ${other.getClass}")
        }
        i += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    groupIter.close() // release a partially-consumed store scan (wire connection)
    batch.close()
  }
}

object BigtableColumnarPartitionReader {
  /** Rows per emitted batch, at most. */
  val MaxBatchRows = 4096

  /** Rows the vectors are first allocated for. */
  val InitialBatchRows = 32
}
