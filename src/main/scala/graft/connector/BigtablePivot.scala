package graft.connector

import graft.model._
import graft.store.BigtableStores

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

/** The cell→row pivot behind the connector's one read path
  * ([[BigtableColumnarPartitionReader]]): the group iterator and the
  * per-field extraction carry the key-split / ts-window /
  * version-explosion / decode semantics.
  *
  * Semantics (cited once, here): one Bigtable row → one output row per
  * distinct cell timestamp, ascending (the reference's pivot,
  * execute_plan.rs:223-271); first cell per (family, qualifier) wins
  * within a timestamp; missing cell → NULL (deliberate fix of the
  * reference's empty-bytes panic); floats stored as UTF-8 strings
  * (datasource.rs:188-189).
  */
private[connector] object BigtablePivot {

  sealed trait FieldSrc
  final case class KeyPart(i: Int) extends FieldSrc
  case object Ts extends FieldSrc
  final case class Qual(family: String, name: String, dt: DataType) extends FieldSrc

  /** One pivot group = the making of one output row. */
  final case class Group(
      keyParts: Array[String],
      ts: Long,
      byQual: Map[(String, String), Seq[BtCell]])

  /** Per-field extraction plan for a read schema. */
  def fieldPlan(cfg: BigtableConfig, readSchema: StructType): Array[FieldSrc] =
    readSchema.fields.map { f =>
      if (f.name == BigtableConfig.TimestampCol) Ts
      else {
        val ki = cfg.partitionCols.indexOf(f.name)
        if (ki >= 0) KeyPart(ki) else Qual(cfg.familyOf(f.name), f.name, f.dataType)
      }
    }

  /** Store read → pivot groups: key split, ts-window filter, group by
    * distinct cell timestamp ascending, exact post-pivot value predicate
    * (see [[ValuePredicate]] — applied BEFORE the limit, so a pushed
    * limit counts surviving rows), pushed per-partition limit.
    */
  /** Group iterator that can RELEASE the underlying store scan: a
    * pushed limit/topN consumes partially (`take(n)` never drains the
    * source), and a wire-transport store (ProtoSocketBigtableStore)
    * would otherwise leak its client socket — and pin the server's writer
    * thread — until JVM exit (ADVICE r13). PartitionReader.close()
    * calls this on every code path; in-memory stores return plain
    * iterators and close() is a no-op for them.
    */
  final class GroupIterator(underlying: Iterator[Group], source: Iterator[graft.model.BtRow])
      extends Iterator[Group] with AutoCloseable {
    override def hasNext: Boolean = underlying.hasNext
    override def next(): Group = underlying.next()
    override def close(): Unit = source match {
      case c: AutoCloseable => try c.close() catch { case _: Throwable => () }
      case _                => ()
    }
  }

  def groups(
      cfg: BigtableConfig,
      rowFilters: Seq[RowFilter],
      ranges: Seq[RowRange],
      tsRange: Option[(Long, Long)],
      limit: Option[Int],
      shippedStore: Option[graft.store.BigtableStore],
      postFilter: Option[Group => Boolean] = None
  ): GroupIterator = {
    val sepPattern = Pattern.quote(cfg.separator)
    val rows =
      if (ranges.isEmpty) Iterator.empty
      else
        BigtableStores
          .resolve(cfg.storeName, shippedStore)
          .readRows(cfg.table, ranges, rowFilters)
    val base = rows.flatMap { row =>
      val keyParts: Array[String] =
        if (cfg.partitionCols.size == 1) Array(row.rowKey)
        else {
          val parts = row.rowKey.split(sepPattern, -1)
          if (parts.length != cfg.partitionCols.size)
            throw new IllegalStateException(
              s"row key '${row.rowKey}' does not split into ${cfg.partitionCols.size} components " +
                s"with separator '${cfg.separator}'")
          parts
        }
      val cellsInWindow = tsRange match {
        case None           => row.cells
        case Some((lo, hi)) => row.cells.filter(c => c.timestampMicros > lo && c.timestampMicros <= hi)
      }
      cellsInWindow.groupBy(_.timestampMicros).toArray.sortBy(_._1).iterator.map {
        case (ts, cells) => Group(keyParts, ts, cells.groupBy(c => (c.family, c.qualifier)))
      }
    }
    val filtered = postFilter.fold(base)(base.filter)
    new GroupIterator(limit.fold(filtered)(filtered.take), rows)
  }

  /** Decode one cell's bytes to the boxed Catalyst value for `dt`
    * (null when absent/undecodable — never a panic).
    */
  def decode(dt: DataType, bytes: Array[Byte]): Any = dt match {
    case LongType   => CellCodec.decodeLong(bytes).map(java.lang.Long.valueOf).orNull
    case DoubleType =>
      CellCodec.decodeString(bytes).flatMap(_.toDoubleOption)
        .map(java.lang.Double.valueOf).orNull
    case _ => CellCodec.decodeString(bytes).map(UTF8String.fromString).orNull
  }

  /** Extract field `src` of pivot group `g` as a boxed Catalyst value. */
  def extract(src: FieldSrc, g: Group): Any = src match {
    case KeyPart(ki)         => UTF8String.fromString(g.keyParts(ki))
    case Ts                  => g.ts // TimestampType = micros since epoch
    case Qual(fam, name, dt) =>
      g.byQual.get((fam, name)).map(_.head.value) match {
        case None        => null
        case Some(bytes) => decode(dt, bytes)
      }
  }
}
