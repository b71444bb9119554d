package graft.connector

import graft.model.{BtCell, CellCodec}
import graft.store.{BigtableStores, MutableBigtableStore}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** DSv2 batch write into a Bigtable store — the half of the connector
  * the reference never had (its insert path is an offline Python
  * script, /root/reference/script/insert_rows.py; the datasource itself
  * is read-only). `df.write.format("bigtable").mode("append")` upserts,
  * `mode("overwrite")` truncates the table first (SupportsTruncate).
  *
  * Encoding is the exact inverse of the read-side pivot
  * ([[BigtablePivot]]): partition columns join with the
  * separator into the row key, each remaining column becomes one cell
  * in its declared family/qualifier ([[CellCodec]] byte conventions),
  * and a NULL column writes no cell — so a written row reads back
  * identically, NULLs included. The cell timestamp comes from an
  * optional `_timestamp` input column, else the `writeTimestampMicros`
  * option (default 0): with pinned timestamps every mutation is an
  * idempotent SetCell at fixed coordinates, which is what makes Spark's
  * task-retry model safe here — MutateRows is not atomic across rows,
  * so a failed task may have flushed some batches, and the retry simply
  * re-sets the same cells.
  *
  * Scale shape: writers are per-partition and buffer `writeBatchRows`
  * rows per MutateRows call (the batching every Bigtable client does);
  * nothing funnels through the driver. The store must be registered and
  * [[MutableBigtableStore]]; a `shipStore` read handle is never used
  * for writes (mutating a serialized snapshot copy would drop the
  * writes silently).
  */
final class BigtableWriteBuilder(cfg: BigtableConfig, inputSchema: StructType)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BigtableBatchWrite(cfg, inputSchema, doTruncate)
    override def toStreaming: streaming.StreamingWrite =
      new BigtableStreamingWrite(cfg, inputSchema, doTruncate)
    override def description(): String =
      s"BigtableWrite ${cfg.table}${if (doTruncate) " (truncate)" else ""}"
  }
}

final class BigtableBatchWrite(cfg: BigtableConfig, inputSchema: StructType, doTruncate: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val store = BigtableWriteSupport.prepare(cfg, inputSchema)
    if (doTruncate) store.truncateTable(cfg.table)
    new BigtableDataWriterFactory(cfg, inputSchema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  /** Mutations already flushed by failed tasks stay — MutateRows is
    * non-transactional; correctness comes from SetCell idempotence on
    * the retry, not rollback.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** `df.writeStream.format("bigtable")`: each epoch's rows upsert
  * through the same per-partition writers as a batch write. There is
  * no per-epoch transaction — delivery is effectively-once because
  * cell coordinates are pinned (input `_timestamp` or
  * `writeTimestampMicros`), so a replayed epoch re-sets identical
  * cells; this is exactly how real Bigtable streaming ingest behaves,
  * and the store-level alternative for pipelines that need manifest
  * atomicity is `CommitLog.sink`. Truncate-on-start applies once,
  * driver-side, when the sink is created with outputMode that
  * requested it.
  */
final class BigtableStreamingWrite(cfg: BigtableConfig, inputSchema: StructType, doTruncate: Boolean)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    val store = BigtableWriteSupport.prepare(cfg, inputSchema)
    if (doTruncate) store.truncateTable(cfg.table)
    new BigtableStreamingDataWriterFactory(cfg, inputSchema)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[connector] object BigtableWriteSupport {

  /** Driver-side schema validation + store resolution: fail the job
    * before any task runs.
    */
  def prepare(cfg: BigtableConfig, inputSchema: StructType): MutableBigtableStore = {
    val nonKey = inputSchema.fields.filterNot(f => cfg.isPartitionCol(f.name))
    cfg.partitionCols.foreach { k =>
      val f = inputSchema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"bigtable write: input is missing row-key column '$k' " +
            s"(partitionCols = ${cfg.partitionCols.mkString(",")})"))
      require(f.dataType == StringType,
        s"bigtable write: row-key column '$k' must be string, got ${f.dataType.simpleString}")
    }
    nonKey.foreach { f =>
      if (f.name == BigtableConfig.TimestampCol)
        require(f.dataType == TimestampType,
          s"bigtable write: ${BigtableConfig.TimestampCol} must be timestamp, got ${f.dataType.simpleString}")
      else {
        val declared = cfg.qualifiers.find(_._1 == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"bigtable write: column '${f.name}' is not a declared qualifier " +
              s"(qualifiers = ${cfg.qualifiers.map(_._1).mkString(",")})"))
        require(f.dataType == declared._2,
          s"bigtable write: column '${f.name}' is ${f.dataType.simpleString}, " +
            s"declared ${declared._2.simpleString}")
      }
    }
    writableStore(cfg)
  }

  def writableStore(cfg: BigtableConfig): MutableBigtableStore =
    BigtableStores.get(cfg.storeName) match {
      case m: MutableBigtableStore => m
      case other => throw new IllegalStateException(
        s"bigtable store '${cfg.storeName}' (${other.getClass.getSimpleName}) is read-only; " +
          "register a MutableBigtableStore (e.g. ConcurrentBigtable) to write")
    }
}

final class BigtableDataWriterFactory(cfg: BigtableConfig, inputSchema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BigtableDataWriter(cfg, inputSchema)
}

/** Standalone (serializable) factory — epoch-agnostic because writer
  * idempotence comes from pinned cell coordinates, not epoch fencing.
  */
final class BigtableStreamingDataWriterFactory(cfg: BigtableConfig, inputSchema: StructType)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new BigtableDataWriter(cfg, inputSchema)
}

final class BigtableDataWriter(cfg: BigtableConfig, inputSchema: StructType)
    extends DataWriter[InternalRow] {

  private val store = BigtableWriteSupport.writableStore(cfg)

  private val keyOrdinals: Array[Int] =
    cfg.partitionCols.map(inputSchema.fieldIndex).toArray
  private val tsOrdinal: Option[Int] =
    if (inputSchema.fieldNames.contains(BigtableConfig.TimestampCol))
      Some(inputSchema.fieldIndex(BigtableConfig.TimestampCol))
    else None
  private case class QualField(ordinal: Int, family: String, name: String, dt: DataType)
  private val qualFields: Array[QualField] = inputSchema.fields.zipWithIndex.collect {
    case (f, i) if !cfg.isPartitionCol(f.name) && f.name != BigtableConfig.TimestampCol =>
      QualField(i, cfg.familyOf(f.name), f.name, f.dataType)
  }

  private val buffer = new ArrayBuffer[(String, Seq[BtCell])]()

  override def write(row: InternalRow): Unit = {
    val parts = keyOrdinals.zip(cfg.partitionCols).map { case (ord, name) =>
      if (row.isNullAt(ord))
        throw new IllegalArgumentException(s"bigtable write: row-key column '$name' is NULL")
      val v = row.getUTF8String(ord).toString
      if (cfg.partitionCols.size > 1 && v.contains(cfg.separator))
        throw new IllegalArgumentException(
          s"bigtable write: row-key component '$name' value '$v' contains the " +
            s"separator '${cfg.separator}' — the composite key would not split back")
      v
    }
    val key = parts.mkString(cfg.separator)
    val ts = tsOrdinal match {
      case Some(ord) if !row.isNullAt(ord) => row.getLong(ord) // micros since epoch
      case _                               => cfg.writeTimestampMicros
    }
    val cells = qualFields.flatMap { q =>
      if (row.isNullAt(q.ordinal)) None // NULL writes no cell: reads back as NULL
      else {
        val bytes = q.dt match {
          case LongType   => CellCodec.encodeLong(row.getLong(q.ordinal))
          case DoubleType =>
            // reference convention: floats stored as UTF-8 strings
            // (datasource.rs:188-189)
            CellCodec.encodeString(row.getDouble(q.ordinal).toString)
          case _ => CellCodec.encodeString(row.getUTF8String(q.ordinal).toString)
        }
        Some(BtCell(q.family, q.name, ts, bytes))
      }
    }
    buffer += ((key, cells.toSeq))
    if (buffer.size >= cfg.writeBatchRows) flush()
  }

  private def flush(): Unit =
    if (buffer.nonEmpty) {
      store.mutateRows(cfg.table, buffer.toSeq)
      buffer.clear()
    }

  override def commit(): WriterCommitMessage = {
    flush()
    BigtableWriteCommitted
  }

  override def abort(): Unit = buffer.clear()

  override def close(): Unit = ()
}

case object BigtableWriteCommitted extends WriterCommitMessage
