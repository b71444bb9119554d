package graft.store

import graft.model._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

/** A [[BigtableStore]] that also accepts writes — the `MutateRows` RPC
  * surface of the Bigtable data API, which the read-only reference
  * never exposes (its insert path is an offline Python script,
  * script/insert_rows.py). Each cell is a SetCell
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

/** The in-process Bigtable emulator: every fixture, spec, write path and
  * benchmark seeds one through `mutateRows`. Tables are concurrent
  * skip-list maps in UTF-8-byte key order, so range reads stream in
  * Bigtable key order without a sort. Each row is an immutable cell
  * vector already in Bigtable cell order (family, qualifier, timestamp
  * desc), replaced whole by compare-and-set: a reader sees some complete
  * version of every row, and concurrent writers to one row never lose
  * each other's cells. Across rows, reads see a live, weakly-consistent
  * view — the non-transactional reality of reading a table that is being
  * written. The store is serializable, so `shipStore=true` can carry it
  * inside a scan to executors that never saw it registered.
  */
final class ConcurrentBigtable extends MutableBigtableStore {
  import ConcurrentBigtable._

  private val tables = new ConcurrentHashMap[String, Table]()

  override def mutateRows(table: String, mutations: Seq[(String, Seq[BtCell])]): Unit = {
    val t = tables.computeIfAbsent(table, _ => new Table())
    mutations.foreach { case (key, cells) => t.upsert(key, cells) }
  }

  override def truncateTable(table: String): Unit =
    tables.remove(table): Unit

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
    rowsIn(t, RowRange.normalize(ranges)).flatMap { e =>
      val kept = filterCells(e.getValue, filters)
      if (kept.isEmpty) None else Some(BtRow(e.getKey, kept))
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
    * skip-list size() is itself O(n). A table under 64 rows has none,
    * as a tiny Bigtable table has no tablet boundaries to report; its
    * stride of one would split a range at every row.
    */
  private def walkSamples(t: Table, n: Long): Vector[String] = {
    val targetSamples = 32
    if (n < 2 * targetSamples) Vector.empty
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
    rowsIn(t, normalized).foreach { e =>
      rows += 1
      bytes += e.getKey.length + cellBytesOf(e.getValue)
    }
    Some((rows, bytes))
  }

  /** The rows of `t` inside `normalized` (disjoint, key-ordered ranges),
    * streamed back-to-back: O(log n) to seek each range plus O(rows
    * emitted), never O(table).
    */
  private def rowsIn(
      t: Table,
      normalized: Vector[RowRange]
  ): Iterator[java.util.Map.Entry[String, Vector[BtCell]]] =
    normalized.iterator.flatMap { r =>
      t.data.tailMap(r.startKey, true).entrySet().iterator().asScala.takeWhile { e =>
        r.endKey.forall { end =>
          val c = RowRange.compareKeys(e.getKey, end)
          if (r.endInclusive) c <= 0 else c < 0
        }
      }
    }
}

object ConcurrentBigtable {

  /** Bigtable key order (unsigned UTF-8 bytes), as a named serializable
    * comparator so the skip lists — and the store — serialize.
    */
  private object KeyOrder extends java.util.Comparator[String] with Serializable {
    def compare(a: String, b: String): Int = RowRange.compareKeys(a, b)
  }

  /** Bigtable cell order: family, qualifier, then newest timestamp first. */
  private object CellOrder extends java.util.Comparator[BtCell] {
    def compare(a: BtCell, b: BtCell): Int = {
      val f = a.family.compareTo(b.family)
      if (f != 0) f
      else {
        val q = a.qualifier.compareTo(b.qualifier)
        if (q != 0) q else java.lang.Long.compare(b.timestampMicros, a.timestampMicros)
      }
    }
  }

  /** `estimateSize`'s byte formula for a row's cells (the key adds its length). */
  private def cellBytesOf(cells: Vector[BtCell]): Long =
    cells.foldLeft(0L)((sum, c) => sum + 16L + c.qualifier.length + c.value.length)

  /** `row` with `cells` set at their coordinates, in cell order: a later
    * cell replaces an earlier one at the same (family, qualifier,
    * timestamp), as SetCell does.
    */
  private def setCells(row: Vector[BtCell], cells: Seq[BtCell]): Vector[BtCell] = {
    val merged = new java.util.TreeMap[BtCell, BtCell](CellOrder)
    row.foreach(c => merged.put(c, c))
    cells.foreach(c => merged.put(c, c))
    merged.values().asScala.toVector
  }

  /** One table: its rows plus a ledger the write path maintains, so
    * planning-time metadata calls need not walk the skip list on the
    * driver for every scan (a per-query cost that grows linearly with
    * table size).
    *   - `rowCount`/`cellBytes` answer a full-scan `estimateSize` in
    *     O(1), by `estimateSize`'s own byte formula.
    *   - `rowCount` is also the key-set epoch: no single row is ever
    *     deleted (a truncate drops the whole `Table`), so it moves exactly
    *     when a key is created, and only after the key is in the map.
    *     `samples` caches the last `sampleRowKeys` walk with the count
    *     read before it, so the keys are walked once per key-set change,
    *     not once per scan plan. Table and ledger live in one object: a
    *     truncate drops both at once, and no walk can cache one table's
    *     keys in another's ledger.
    */
  private final class Table extends Serializable {
    val data = new ConcurrentSkipListMap[String, Vector[BtCell]](KeyOrder)
    val rowCount = new AtomicLong(0L)
    val cellBytes = new AtomicLong(0L)
    @volatile var samples: (Long, Vector[String]) = (-1L, Vector.empty)

    /** Install `cells` into row `key` by compare-and-set: the merged
      * vector lands only if the row is still the one it was merged from
      * (`putIfAbsent` for a new key, `replace` otherwise), else the merge
      * retries against the winner. The ledger then moves by exactly the
      * delta of the row this call installed, so racing writers can
      * neither double-count a new key nor drop a rewrite.
      */
    @tailrec def upsert(key: String, cells: Seq[BtCell]): Unit = {
      val cur = data.get(key)
      if (cur == null) {
        val next = setCells(Vector.empty, cells)
        if (data.putIfAbsent(key, next) == null) {
          rowCount.incrementAndGet()
          cellBytes.addAndGet(key.length + cellBytesOf(next))
        } else upsert(key, cells)
      } else {
        val next = setCells(cur, cells)
        if (data.replace(key, cur, next)) cellBytes.addAndGet(cellBytesOf(next) - cellBytesOf(cur))
        else upsert(key, cells)
      }
    }
  }

  /** The server-side cell filter chain, applied in order as Bigtable does
    * (execute_plan.rs:175-180): each filter narrows the surviving cells.
    * Every filter keeps cell order, so a row leaves in the order it is
    * stored in.
    */
  private def filterCells(cells: Vector[BtCell], filters: Seq[RowFilter]): Vector[BtCell] =
    filters.foldLeft(cells) { (cs, f) =>
      f match {
        case RowFilter.FamilyNameRegex(re) =>
          val p = re.r.pattern
          cs.filter(c => p.matcher(c.family).matches())
        case RowFilter.ColumnQualifierRegex(re) =>
          val p = re.r.pattern
          cs.filter(c => p.matcher(c.qualifier).matches())
        case RowFilter.CellsPerColumnLimit(n) =>
          // each column's versions are one newest-first run: keep the
          // first n of every run
          val out = Vector.newBuilder[BtCell]
          var prev: BtCell = null
          var run = 0
          cs.foreach { c =>
            run = if (prev != null && prev.family == c.family && prev.qualifier == c.qualifier) run + 1 else 1
            if (run <= n) out += c
            prev = c
          }
          out.result()
        case RowFilter.QualifierValueRange(fam, q, lo, loInc, hi, hiInc) =>
          cs.filter { c =>
            c.family != fam || c.qualifier != q || {
              val loOk = lo.forall { b =>
                val cmp = java.util.Arrays.compareUnsigned(c.value, b)
                if (loInc) cmp >= 0 else cmp > 0
              }
              val hiOk = hi.forall { b =>
                val cmp = java.util.Arrays.compareUnsigned(c.value, b)
                if (hiInc) cmp <= 0 else cmp < 0
              }
              loOk && hiOk
            }
          }
        case RowFilter.QualifierValueRegex(fam, q, re) =>
          val p = re.r.pattern
          cs.filter { c =>
            c.family != fam || c.qualifier != q ||
              p.matcher(new String(c.value, java.nio.charset.StandardCharsets.UTF_8)).matches()
          }
      }
    }
}
