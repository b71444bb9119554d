package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val small = Gen.Sizes(regions = 2, hosts = 3, minutes = 40, users = 300, vips = 30,
    levels = 4, cities = 5, countries = 3)

  private def rows(t: Gen.Tables) =
    t.all.flatMap { case (table, n, row) =>
      (0 until n).map { i =>
        val (k, cells) = row(i)
        (table, k, cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq)))
      }
    }

  test("the same seed generates identical tables, query streams and document batches") {
    val (a, b) = (new Gen.Tables(7, small), new Gen.Tables(7, small))
    assert(rows(a) == rows(b))
    assert((0 until 24).map(Gen.pointQuery(a, _)) == (0 until 24).map(Gen.pointQuery(b, _)))
    assert((0 until 8).map(Gen.scanQuery(a, _)) == (0 until 8).map(Gen.scanQuery(b, _)))
    assert((0 until 3).map(Gen.docBatch(7, _)) == (0 until 3).map(Gen.docBatch(7, _)))
  }

  test("another seed generates other inputs") {
    val (a, b) = (new Gen.Tables(7, small), new Gen.Tables(8, small))
    assert(rows(a) != rows(b))
    assert((0 until 6).map(Gen.pointQuery(a, _).sql) != (0 until 6).map(Gen.pointQuery(b, _).sql))
    assert(Gen.docBatch(7, 0) != Gen.docBatch(8, 0))
  }

  test("query kinds rotate in a fixed order whatever the seed") {
    val t = new Gen.Tables(3, small)
    assert((0 until 12).map(Gen.pointQuery(t, _).kind) == Gen.PointKinds ++ Gen.PointKinds)
    assert((0 until 8).map(Gen.scanQuery(t, _).kind) == Gen.ScanKinds ++ Gen.ScanKinds)
  }

  test("planted duplicates copy an earlier document and change only its last word") {
    val (docs, planted) = Gen.docBatch(5, 2)
    assert(planted.nonEmpty)
    val text = docs.toMap
    planted.foreach { p =>
      assert(p.source < p.copy)
      val src = Gen.text(5, p.source).split(' ')
      val cp = text(p.copy).split(' ')
      assert(src.init.sameElements(cp.init) && src.last != cp.last)
    }
  }
}
