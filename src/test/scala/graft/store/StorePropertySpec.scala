package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized store semantics check: for random write sequences, range
  * sets, and filter chains, `ConcurrentBigtable.readRows` must agree with
  * a brute-force evaluation of the same Bigtable semantics (SetCell
  * upserts, range membership, in-order filter chain, cell ordering,
  * empty-row elision); and concurrent writers must leave the size ledger
  * equal to what a full read walks.
  */
class StorePropertySpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(987654321L)
  private val keys = Vector("a", "aa", "ab", "b", "bb", "c", "d", "dd", "e")
  private val quals = Vector("q1", "q2", "q3")
  private val fams = Vector("f", "g")

  /** A store written in several `mutateRows` batches per row, so cells
    * land both in new rows and merged into stored ones and coordinates
    * repeat; the truth keeps the last cell written at each (family,
    * qualifier, timestamp), as SetCell does.
    */
  private def randomStore(): (ConcurrentBigtable, Map[String, Vector[BtCell]]) = {
    val store = new ConcurrentBigtable
    val truth = scala.collection.mutable.Map.empty[String, Map[(String, String, Long), BtCell]]
    keys.foreach { k =>
      if (rnd.nextDouble() < 0.8) {
        (1 to 1 + rnd.nextInt(3)).foreach { _ =>
          val cells = Vector.fill(1 + rnd.nextInt(4))(
            BtCell(fams(rnd.nextInt(fams.size)), quals(rnd.nextInt(quals.size)),
              rnd.nextInt(5).toLong, CellCodec.encodeString(rnd.nextInt(100).toString)))
          store.mutateRows("t", Seq(k -> cells))
          truth(k) = cells.foldLeft(truth.getOrElse(k, Map.empty)) { (m, c) =>
            m.updated((c.family, c.qualifier, c.timestampMicros), c)
          }
        }
      }
    }
    (store, truth.map { case (k, m) => k -> m.values.toVector }.toMap)
  }

  private def randomRanges(): Seq[RowRange] =
    Seq.fill(1 + rnd.nextInt(3)) {
      val a = keys(rnd.nextInt(keys.size))
      val c = keys(rnd.nextInt(keys.size))
      val (lo, hi) = if (RowRange.compareKeys(a, c) <= 0) (a, c) else (c, a)
      rnd.nextInt(3) match {
        case 0          => RowRange.closed(lo, hi)
        case 1 if lo != hi => RowRange.closedOpen(lo, hi)
        case _          => RowRange.point(lo)
      }
    }

  private def randomFilters(): Seq[RowFilter] = {
    val fs = scala.collection.mutable.ArrayBuffer.empty[RowFilter]
    if (rnd.nextBoolean()) fs += RowFilter.FamilyNameRegex(java.util.regex.Pattern.quote(fams(rnd.nextInt(fams.size))))
    if (rnd.nextBoolean()) fs += RowFilter.CellsPerColumnLimit(1 + rnd.nextInt(2))
    if (rnd.nextBoolean()) fs += RowFilter.ColumnQualifierRegex(
      Seq.fill(1 + rnd.nextInt(2))(quals(rnd.nextInt(quals.size))).distinct
        .map(java.util.regex.Pattern.quote).mkString("|"))
    if (rnd.nextBoolean()) {
      // per-qualifier value range with random optional bounds
      val q = quals(rnd.nextInt(quals.size))
      val lo = if (rnd.nextBoolean()) Some(CellCodec.encodeString(rnd.nextInt(100).toString)) else None
      val hi = if (rnd.nextBoolean()) Some(CellCodec.encodeString(rnd.nextInt(100).toString)) else None
      if (lo.isDefined || hi.isDefined)
        fs += RowFilter.QualifierValueRange(fams(rnd.nextInt(fams.size)), q, lo, rnd.nextBoolean(), hi, rnd.nextBoolean())
    }
    if (rnd.nextBoolean()) {
      val q = quals(rnd.nextInt(quals.size))
      val vals = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(100).toString).distinct
      fs += RowFilter.QualifierValueRegex(fams(rnd.nextInt(fams.size)), q, vals.map(java.util.regex.Pattern.quote).mkString("|"))
    }
    fs.toSeq
  }

  /** Brute-force reference implementation of the store contract. */
  private def bruteForce(
      truth: Map[String, Vector[BtCell]],
      ranges: Seq[RowRange],
      filters: Seq[RowFilter]
  ): Seq[(String, Seq[(String, String, Long, String)])] =
    keys
      .filter(k => truth.contains(k) && ranges.exists(_.contains(k)))
      .sortWith(RowRange.compareKeys(_, _) < 0)
      .map { k =>
        val kept = filters.foldLeft(truth(k)) { (cs, f) =>
          f match {
            case RowFilter.FamilyNameRegex(re)     => cs.filter(_.family.matches(re))
            case RowFilter.ColumnQualifierRegex(re) => cs.filter(_.qualifier.matches(re))
            case RowFilter.CellsPerColumnLimit(n) =>
              cs.groupBy(c => (c.family, c.qualifier)).valuesIterator
                .flatMap(_.sortBy(-_.timestampMicros).take(n)).toVector
            case RowFilter.QualifierValueRange(fam, q, lo, loInc, hi, hiInc) =>
              cs.filter { c =>
                c.family != fam || c.qualifier != q || {
                  def cmp(b: Array[Byte]) = java.util.Arrays.compareUnsigned(c.value, b)
                  lo.forall(b => if (loInc) cmp(b) >= 0 else cmp(b) > 0) &&
                    hi.forall(b => if (hiInc) cmp(b) <= 0 else cmp(b) < 0)
                }
              }
            case RowFilter.QualifierValueRegex(fam, q, re) =>
              cs.filter(c => c.family != fam || c.qualifier != q || new String(c.value, "UTF-8").matches(re))
          }
        }
        k -> kept.sortBy(c => (c.family, c.qualifier, -c.timestampMicros))
          .map(c => (c.family, c.qualifier, c.timestampMicros, new String(c.value, "UTF-8")))
      }
      .filter(_._2.nonEmpty)

  test("readRows agrees with brute force over 500 random store/range/filter combinations") {
    (1 to 500).foreach { i =>
      val (store, truth) = randomStore()
      val ranges = randomRanges()
      val filters = randomFilters()
      val got = store.readRows("t", ranges, filters).toSeq
        .map(r => r.rowKey -> r.cells.map(c =>
          (c.family, c.qualifier, c.timestampMicros, new String(c.value, "UTF-8"))))
      val want = bruteForce(truth, ranges, filters)
      assert(got == want, s"case $i\nranges=$ranges\nfilters=$filters")
    }
  }

  test("concurrent upserts of overlapping rows leave the size ledger equal to a full read") {
    val store = new ConcurrentBigtable
    val threads = 4
    val rowKeys = (0 until 200).map(i => f"r$i%04d")
    // every thread rewrites a shared column (values of varying length, so
    // each rewrite moves the byte ledger) and adds columns of its own, so
    // a lost update would drop cells
    val workers = (0 until threads).map { w =>
      new Thread(() => {
        val r = new scala.util.Random(w.toLong)
        (0 until 3000).foreach { i =>
          val k = rowKeys(r.nextInt(rowKeys.size))
          store.mutateRows("t", Seq(k -> Seq(
            BtCell("f", "shared", (i % 3).toLong, CellCodec.encodeString("x" * r.nextInt(20))),
            BtCell("f", s"own$w", (i % 5).toLong, CellCodec.encodeString(i.toString)))))
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())

    val rows = store.readRows("t", Seq(RowRange.full), Nil).toVector
    val walkedBytes = rows.map(r => r.rowKey.length + r.cells.map(c => 16L + c.qualifier.length + c.value.length).sum).sum
    assert(store.estimateSize("t", Seq(RowRange.full)).contains((rows.size.toLong, walkedBytes)))
    val someRows = Seq(RowRange.closed("r0010", "r0099"))
    val someRead = store.readRows("t", someRows, Nil).toVector
    assert(store.estimateSize("t", someRows).contains((someRead.size.toLong,
      someRead.map(r => r.rowKey.length + r.cells.map(c => 16L + c.qualifier.length + c.value.length).sum).sum)))
    // no cell was lost to a racing rewrite of its row
    rows.foreach { r =>
      val cols = r.cells.map(c => (c.qualifier, c.timestampMicros)).toSet
      assert(cols.size == r.cells.size, s"${r.rowKey} holds a coordinate twice")
    }
    val columns = rows.flatMap(_.cells.map(_.qualifier)).toSet
    assert(columns == Set("shared") ++ (0 until threads).map(w => s"own$w"))
  }
}
