package graft.store

import graft.model._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A [[BigtableStore]] that also accepts writes — the `MutateRows` RPC
  * surface of the Bigtable data API, which the read-only reference
  * never exposes (its insert path is an offline Python script,
  * /root/reference/script/insert_rows.py). Each cell is a SetCell
  * UPSERT addressed by `(rowKey, family, qualifier, timestampMicros)`:
  * writing the same coordinates twice replaces the value, which is what
  * makes Spark task retries safe — a re-executed writer task re-sets
  * identical cells instead of duplicating them (the idempotence real
  * Bigtable gives timestamp-pinned mutations).
  */
trait MutableBigtableStore extends BigtableStore {

  /** Apply one batch of row mutations: for each `(rowKey, cells)`,
    * upsert every cell at its own coordinates. A batch is NOT atomic
    * across rows (Bigtable MutateRows semantics) — only idempotent.
    */
  def mutateRows(table: String, mutations: Seq[(String, Seq[BtCell])]): Unit

  /** Drop every row of `table` (the admin API's DropRowRange over the
    * whole table) — the truncate behind `mode("overwrite")`.
    */
  def truncateTable(table: String): Unit
}

/** Thread-safe mutable Bigtable emulator: tables are concurrent
  * skip-list maps in UTF-8-byte key order (so range reads stream in
  * Bigtable key order without a sort), rows are concurrent maps from
  * cell coordinates to value (so concurrent writer tasks interleave
  * safely and SetCell idempotence is structural). Reads see a live,
  * weakly-consistent view — matching the non-transactional reality of
  * reading a table that is being written.
  */
final class ConcurrentBigtable extends MutableBigtableStore {

  private type Row = ConcurrentHashMap[(String, String, Long), Array[Byte]]

  /** One table: its rows plus a ledger the write path maintains, so
    * planning-time metadata calls need not walk the skip list on the
    * driver for every scan (a per-query cost that grows linearly with
    * table size — the r12 `stream_bt_write` scaling outlier).
    *   - `rowCount`/`cellBytes` answer a full-scan `estimateSize` in
    *     O(1). Byte accounting mirrors `estimateSize`'s formula exactly
    *     (key.length on row creation, 16 + qualifier + value per live
    *     cell, adjusted on overwrite).
    *   - `rowCount` is also the key-set epoch: no single row is ever
    *     deleted (a truncate drops the whole `Table`), so it moves exactly
    *     when a key is created, and only after the key is in the map.
    *     `samples` caches the last `sampleRowKeys` walk with the count
    *     read before it, so the keys are walked once per key-set change,
    *     not once per scan plan. Table and ledger live in one object: a
    *     truncate drops both at once, and no walk can cache one table's
    *     keys in another's ledger.
    */
  private final class Table {
    val data = new ConcurrentSkipListMap[String, Row](
      (a: String, b: String) => RowRange.compareKeys(a, b))
    val rowCount = new AtomicLong(0L)
    val cellBytes = new AtomicLong(0L)
    @volatile var samples: (Long, Vector[String]) = (-1L, Vector.empty)
  }
  private val tables = new ConcurrentHashMap[String, Table]()

  override def mutateRows(table: String, mutations: Seq[(String, Seq[BtCell])]): Unit = {
    val t = tables.computeIfAbsent(table, _ => new Table())
    mutations.foreach { case (key, cells) =>
      // putIfAbsent, not computeIfAbsent-with-flag: ConcurrentSkipListMap
      // does NOT guarantee the mapping function runs atomically/once, so
      // two writers racing on a new key could both observe created=true
      // and permanently over-count the ledger that feeds estimateSize /
      // sampleRowKeys (ADVICE r13).
      // putIfAbsent returning null is the single authoritative "I made
      // this row" signal.
      var row = t.data.get(key)
      if (row == null) {
        val fresh = new Row()
        val prev = t.data.putIfAbsent(key, fresh)
        if (prev == null) {
          row = fresh
          t.rowCount.incrementAndGet()
          t.cellBytes.addAndGet(key.length.toLong)
        } else row = prev
      }
      cells.foreach { c =>
        val prev = row.put((c.family, c.qualifier, c.timestampMicros), c.value)
        val delta =
          if (prev == null) 16L + c.qualifier.length + c.value.length
          else c.value.length.toLong - prev.length
        t.cellBytes.addAndGet(delta)
      }
    }
  }

  override def truncateTable(table: String): Unit =
    tables.remove(table): Unit

  private def cellsOf(row: Row): Vector[BtCell] =
    row.entrySet().iterator().asScala.map { e =>
      val (fam, qual, ts) = e.getKey
      BtCell(fam, qual, ts, e.getValue)
    }.toVector.sortBy(c => (c.family, c.qualifier, -c.timestampMicros))

  override def readRows(
      table: String,
      ranges: Seq[RowRange],
      filters: Seq[RowFilter]
  ): Iterator[BtRow] = {
    require(
      ranges.nonEmpty,
      "readRows requires at least one RowRange; use Seq(RowRange.full) for an explicit full scan"
    )
    val t = tables.get(table)
    if (t == null)
      throw new IllegalArgumentException(s"unknown bigtable table: $table")
    RowRange.normalize(ranges).iterator.flatMap { r =>
      t.data.tailMap(r.startKey, true).entrySet().iterator().asScala
        .takeWhile { e =>
          r.endKey match {
            case None    => true
            case Some(end) =>
              val c = RowRange.compareKeys(e.getKey, end)
              if (r.endInclusive) c <= 0 else c < 0
          }
        }
        .flatMap { e =>
          val kept = CellFilters(cellsOf(e.getValue), filters)
          if (kept.isEmpty) None else Some(BtRow(e.getKey, kept))
        }
    }
  }

  /** Served from the table's cache while its row count is unchanged; a
    * walk happens once per key-set change. Samples are split hints and
    * never decide correctness, so a walk that races a write is safe: a
    * key the walk missed was put after the walk read the count, so its
    * increment lands after that read too, and the next call walks again.
    */
  override def sampleRowKeys(table: String): Seq[String] = {
    val t = tables.get(table)
    if (t == null) return Nil
    val n = t.rowCount.get()
    val (cachedN, cached) = t.samples
    if (cachedN == n) return cached
    val walked = walkSamples(t, n)
    t.samples = (n, walked)
    walked
  }

  /** ~32 evenly spaced keys in one streaming pass (no full key-set
    * materialization); the ledger row count `n` sets the stride, since
    * skip-list size() is itself O(n).
    */
  private def walkSamples(t: Table, n: Long): Vector[String] = {
    val targetSamples = 32
    if (n <= 1) Vector.empty
    else {
      val step = math.max(1L, n / targetSamples)
      val out = Vector.newBuilder[String]
      var i = 0L
      val it = t.data.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (i > 0 && i % step == 0) out += k
        i += 1
      }
      out.result()
    }
  }

  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] = {
    val t = tables.get(table)
    if (t == null) return Some((0L, 0L))
    val normalized = RowRange.normalize(ranges)
    // full scan: answer from the O(1) ledger instead of walking the
    // table (planning-time driver cost must not grow with table size)
    if (normalized == Vector(RowRange.full))
      return Some((t.rowCount.get(), t.cellBytes.get()))
    var rows = 0L
    var bytes = 0L
    normalized.foreach { r =>
      t.data.tailMap(r.startKey, true).entrySet().iterator().asScala
        .takeWhile { e =>
          r.endKey match {
            case None    => true
            case Some(end) =>
              val c = RowRange.compareKeys(e.getKey, end)
              if (r.endInclusive) c <= 0 else c < 0
          }
        }
        .foreach { e =>
          rows += 1
          bytes += e.getKey.length +
            e.getValue.entrySet().iterator().asScala
              .map(c => 16L + c.getKey._2.length + c.getValue.length).sum
        }
    }
    Some((rows, bytes))
  }
}
