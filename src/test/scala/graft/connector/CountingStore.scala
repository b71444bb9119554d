package graft.connector

import graft.model._
import graft.store.BigtableStore

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Test decorator that counts store calls per (method, table):
  * `sampleRowKeys` as "sample", `estimateSize` as "estimate", `readRows`
  * as "readRows", and the closing of a `readRows` iterator as "close".
  * Reads pass through; each iterator is closeable so the count shows a
  * reader that never released its scan.
  */
final class CountingStore(underlying: BigtableStore) extends BigtableStore {
  private val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()
  private def bump(method: String, table: String): Unit =
    counts.computeIfAbsent((method, table), _ => new AtomicInteger()).incrementAndGet(): Unit
  def count(method: String, table: String): Int =
    Option(counts.get((method, table))).map(_.get).getOrElse(0)
  def reset(): Unit = counts.clear()

  override def readRows(table: String, ranges: Seq[RowRange], filters: Seq[RowFilter]): Iterator[BtRow] = {
    bump("readRows", table)
    val rows = underlying.readRows(table, ranges, filters)
    new Iterator[BtRow] with AutoCloseable {
      override def hasNext: Boolean = rows.hasNext
      override def next(): BtRow = rows.next()
      override def close(): Unit = bump("close", table)
    }
  }
  override def sampleRowKeys(table: String): Seq[String] = {
    bump("sample", table)
    underlying.sampleRowKeys(table)
  }
  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] = {
    bump("estimate", table)
    underlying.estimateSize(table, ranges)
  }
}
