package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Emulator + codec unit coverage (ADVICE.md round 1): range
  * boundaries, overlapping-range dedup, filter-chain order,
  * multi-version limits, cell ordering, codec edge cases.
  */
class BigtableStoreSpec extends AnyFunSuite {
  private def cell(q: String, ts: Long, v: String, fam: String = "f") =
    BtCell(fam, q, ts, CellCodec.encodeString(v))

  private val store = {
    val b = new ConcurrentBigtable
    Seq("a", "b", "c", "d", "e").zipWithIndex.foreach { case (k, i) =>
      b.mutateRows("t", Seq(k -> Seq(cell("q1", 100L + i, s"v$k"), cell("q1", 50L, s"old$k"),
        cell("q2", 100L + i, s"w$k"), cell("q2", 100L + i, s"x$k", fam = "other"))))
    }
    b
  }

  test("closed-closed range includes both endpoints") {
    val keys = store.readRows("t", Seq(RowRange.closed("b", "d")), Nil).map(_.rowKey).toSeq
    assert(keys == Seq("b", "c", "d"))
  }

  test("closed-open range excludes the end key") {
    val keys = store.readRows("t", Seq(RowRange.closedOpen("b", "d")), Nil).map(_.rowKey).toSeq
    assert(keys == Seq("b", "c"))
  }

  test("unbounded range scans to the end") {
    val keys = store.readRows("t", Seq(RowRange("c", None, endInclusive = false)), Nil).map(_.rowKey).toSeq
    assert(keys == Seq("c", "d", "e"))
  }

  test("overlapping ranges dedup and stay key-ordered") {
    val keys = store
      .readRows("t", Seq(RowRange.closed("c", "e"), RowRange.closed("a", "d"), RowRange.point("b")), Nil)
      .map(_.rowKey)
      .toSeq
    assert(keys == Seq("a", "b", "c", "d", "e"))
  }

  test("empty ranges are rejected (full scan must be explicit)") {
    intercept[IllegalArgumentException] { store.readRows("t", Nil, Nil) }
  }

  test("full scan sentinel reads everything") {
    assert(store.readRows("t", Seq(RowRange.full), Nil).size == 5)
  }

  test("family filter then qualifier filter then version limit (chain order, execute_plan.rs:175-180)") {
    val filters = Seq(
      RowFilter.FamilyNameRegex("\\Qf\\E"),
      RowFilter.CellsPerColumnLimit(1),
      RowFilter.ColumnQualifierRegex("\\Qq1\\E"))
    val row = store.readRows("t", Seq(RowRange.point("a")), filters).next()
    assert(row.cells.map(c => (c.family, c.qualifier, new String(c.value))) == Seq(("f", "q1", "va")))
  }

  test("CellsPerColumnLimit keeps the newest N versions per (family, qualifier)") {
    val row = store
      .readRows("t", Seq(RowRange.point("a")), Seq(RowFilter.CellsPerColumnLimit(1)))
      .next()
    val q1 = row.cells.filter(c => c.family == "f" && c.qualifier == "q1")
    assert(q1.map(_.timestampMicros) == Seq(100L))
  }

  test("cells ordered by (family, qualifier, timestamp desc) — Bigtable cell order") {
    val row = store.readRows("t", Seq(RowRange.point("a")), Nil).next()
    val order = row.cells.map(c => (c.family, c.qualifier, c.timestampMicros))
    assert(order == order.sortBy(t => (t._1, t._2, -t._3)))
  }

  test("rows with no surviving cells are not emitted") {
    val rows = store
      .readRows("t", Seq(RowRange.point("a")), Seq(RowFilter.ColumnQualifierRegex("\\Qnope\\E")))
      .toSeq
    assert(rows.isEmpty)
  }

  test("sampleRowKeys returns interior keys in key order") {
    val samples = store.sampleRowKeys("t")
    assert(samples.forall(s => Seq("a", "b", "c", "d", "e").contains(s)))
    assert(samples == samples.sorted)
  }

  test("a table under 64 rows has no samples; one of 64 rows has 31 interior ones") {
    val b = new ConcurrentBigtable
    b.mutateRows("t", (0 until 63).map(i => f"k$i%03d" -> Seq(cell("q1", 1L, "v"))))
    assert(b.sampleRowKeys("t").isEmpty)
    b.mutateRows("t", Seq("k063" -> Seq(cell("q1", 1L, "v"))))
    val samples = b.sampleRowKeys("t")
    assert(samples == (2 until 64 by 2).map(i => f"k$i%03d"), samples)
  }

  test("codec: long round-trip is big-endian (execute_plan.rs:287-293)") {
    val bytes = CellCodec.encodeLong(94558L)
    assert(bytes.length == 8 && bytes(0) == 0 && CellCodec.decodeLong(bytes).contains(94558L))
    assert(CellCodec.decodeLong(Array.emptyByteArray).isEmpty)
    assert(CellCodec.decodeLong(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("RowRange.normalize merges overlap and keeps disjoint ranges") {
    val n = RowRange.normalize(Seq(
      RowRange.closed("k", "p"), RowRange.closed("a", "c"), RowRange.closed("b", "d"),
      RowRange.point("z")))
    assert(n == Vector(RowRange.closed("a", "d"), RowRange.closed("k", "p"), RowRange.point("z")))
  }

  test("RowRange.normalize merges adjacent closed-open + closed ranges") {
    val n = RowRange.normalize(Seq(RowRange.closedOpen("a", "c"), RowRange.closed("c", "e")))
    assert(n == Vector(RowRange.closed("a", "e")))
  }

  test("RowRange.normalize tolerates many duplicate unbounded ranges (strict-weak ordering)") {
    // 33+ equal (None, None) ranges exercise TimSort's contract check
    val dup = Vector.fill(40)(RowRange("k", None, endInclusive = false)) :+ RowRange.full
    val n = RowRange.normalize(dup)
    assert(n == Vector(RowRange("", None, endInclusive = false)))
  }

  test("QualifierValueRange drops only the target qualifier's failing cells") {
    val f = RowFilter.QualifierValueRange(
      "f", "q1", Some(CellCodec.encodeString("va")), loInclusive = true,
      hi = Some(CellCodec.encodeString("vb")), hiInclusive = true)
    val rows = store.readRows("t", Seq(RowRange.full), Seq(f)).toSeq
    // q1 survives only for rows a,b (values va, vb; "oldX" sorts below "va");
    // q2 cells keep every row alive
    val q1Rows = rows.filter(_.cells.exists(_.qualifier == "q1")).map(_.rowKey)
    assert(q1Rows == Seq("a", "b"))
    assert(rows.map(_.rowKey) == Seq("a", "b", "c", "d", "e"), "other qualifiers pass through")
  }

  test("QualifierValueRange bounds are unsigned-byte, optional on each side") {
    val loOnly = RowFilter.QualifierValueRange(
      "f", "q1", Some(CellCodec.encodeString("vc")), loInclusive = false, None, hiInclusive = false)
    val rows = store.readRows("t", Seq(RowRange.full), Seq(loOnly)).toSeq
    val q1 = rows.flatMap(_.cells.filter(_.qualifier == "q1")).map(c => new String(c.value))
    assert(q1.sorted == Seq("vd", "ve"))
  }

  test("QualifierValueRegex keeps other qualifiers, matches whole value") {
    val f = RowFilter.QualifierValueRegex("f", "q1", "\\Qva\\E|\\Qvd\\E")
    val rows = store.readRows("t", Seq(RowRange.full), Seq(f)).toSeq
    val q1Rows = rows.filter(_.cells.exists(_.qualifier == "q1")).map(_.rowKey)
    assert(q1Rows == Seq("a", "d"))
    assert(rows.size == 5)
  }

  test("value filter after CellsPerColumnLimit: failing latest does NOT resurface older version") {
    // q1 on row 'a' has versions: ts=100 'va' (latest), ts=50 'olda'.
    // Chain latest-then-value('olda'): latest 'va' picked first, fails the
    // value filter -> q1 gone entirely (correct SQL semantics: the row's
    // current value is 'va', predicate q1='olda' must not match).
    val chain = Seq(
      RowFilter.CellsPerColumnLimit(1),
      RowFilter.QualifierValueRange(
        "f", "q1", Some(CellCodec.encodeString("olda")), loInclusive = true,
        hi = Some(CellCodec.encodeString("olda")), hiInclusive = true))
    val rows = store.readRows("t", Seq(RowRange.point("a")), chain).toSeq
    assert(rows.flatMap(_.cells.filter(_.qualifier == "q1")).isEmpty)
    // reversed chain (value first) would wrongly surface 'olda' as latest
    val wrong = store.readRows("t", Seq(RowRange.point("a")), chain.reverse).toSeq
    assert(wrong.flatMap(_.cells.filter(_.qualifier == "q1")).map(c => new String(c.value)) == Seq("olda"))
  }

  /** The samples a fresh walk of `table` yields: every ~n/32-th key, or
    * none under 64 rows.
    */
  private def walkedSamples(store: BigtableStore, table: String): Seq[String] = {
    val keys =
      try store.readRows(table, Seq(RowRange.full), Nil).map(_.rowKey).toVector
      catch { case _: IllegalArgumentException => Vector.empty } // truncated: no table
    val step = math.max(1, keys.size / 32)
    if (keys.size < 64) Nil else keys.zipWithIndex.collect { case (k, i) if i > 0 && i % step == 0 => k }
  }

  test("ConcurrentBigtable.sampleRowKeys == an uncached walk after every step of random writes and truncates") {
    val rnd = new scala.util.Random(20261017L)
    val store = new ConcurrentBigtable
    var truncates = 0
    (1 to 400).foreach { step =>
      if (rnd.nextInt(40) == 0) {
        store.truncateTable("t")
        truncates += 1
      } else {
        // new keys, rewrites of existing keys, or both in one batch
        val batch = Seq.fill(1 + rnd.nextInt(4)) {
          val k = f"k${rnd.nextInt(300)}%03d"
          k -> Seq(cell("q1", rnd.nextInt(3).toLong, s"v$step"))
        }
        store.mutateRows("t", batch)
      }
      assert(store.sampleRowKeys("t") == walkedSamples(store, "t"), s"step $step")
      // a second call is served from the cache and must agree too
      assert(store.sampleRowKeys("t") == walkedSamples(store, "t"), s"step $step (cached)")
    }
    assert(truncates > 0)
  }

  test("ConcurrentBigtable.sampleRowKeys sees a key landing between two cached samples") {
    val store = new ConcurrentBigtable
    store.mutateRows("t", (0 until 64).map(i => f"k$i%03d0" -> Seq(cell("q1", 1L, "v"))))
    val before = store.sampleRowKeys("t")
    assert(before.size >= 2 && before == walkedSamples(store, "t"))
    // strictly between the first two samples: every later sample shifts
    val between = before.head + "5"
    assert(RowRange.compareKeys(before.head, between) < 0 && RowRange.compareKeys(between, before(1)) < 0)
    store.mutateRows("t", Seq(between -> Seq(cell("q1", 1L, "v"))))
    val after = store.sampleRowKeys("t")
    assert(after != before)
    assert(after == walkedSamples(store, "t"))
    // a rewrite of existing keys leaves the key set, and the samples, alone
    store.mutateRows("t", Seq(between -> Seq(cell("q1", 2L, "w"))))
    assert(store.sampleRowKeys("t") == after)
  }

  test("ConcurrentBigtable.sampleRowKeys under a concurrent writer: key order, live keys only") {
    val store = new ConcurrentBigtable
    store.mutateRows("t", (0 until 200).map(i => f"k$i%05d" -> Seq(cell("q1", 1L, "v"))))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      val rnd = new scala.util.Random(7L)
      try (0 until 400).foreach { b =>
        store.mutateRows("t", Seq.fill(8)(f"k${rnd.nextInt(100000)}%05d" -> Seq(cell("q1", b.toLong, "v"))))
      } finally done.set(true)
    })
    writer.start()
    val seen = Vector.newBuilder[Seq[String]]
    seen += store.sampleRowKeys("t")
    while (!done.get) seen += store.sampleRowKeys("t")
    writer.join()
    // keys are never removed here, so every key a sample ever named is live
    val live = store.readRows("t", Seq(RowRange.full), Nil).map(_.rowKey).toSet
    seen.result().foreach { samples =>
      assert(samples.sliding(2).forall(p => p.size < 2 || RowRange.compareKeys(p.head, p(1)) < 0),
        s"samples out of key order: $samples")
      assert(samples.forall(live.contains))
    }
    assert(store.sampleRowKeys("t") == walkedSamples(store, "t"))
  }
}
