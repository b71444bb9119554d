package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style fuzz of the protobuf wire codec: randomized requests
  * (tables, point keys, ranges with every bound shape, filter chains
  * over the full connector-emitted subset incl. Condition-wrapped value
  * predicates) and randomized response row batches (unicode keys,
  * binary values incl. empty and high bytes, multi-version cells,
  * cell-less rows) must round-trip decode(encode(x)) == x. This is the
  * seeded-Random discipline of [[graft.connector.ComposerPropertySpec]];
  * the golden-byte layout itself is pinned by [[ReadRowsProtoSpec]].
  */
class ReadRowsProtoPropertySpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(20260816L)

  private def randKey(): String = {
    val pool = Vector("a", "us-west2", "key#", "é中", "0", "zz|")
    (0 until (1 + rnd.nextInt(3))).map(_ => pool(rnd.nextInt(pool.size))).mkString +
      rnd.nextInt(1000).toString
  }

  private def randBytes(): Array[Byte] = {
    val b = new Array[Byte](rnd.nextInt(12))
    rnd.nextBytes(b); b
  }

  private def randRange(): RowRange = rnd.nextInt(4) match {
    case 0 => RowRange.point(randKey())
    case 1 => val a = randKey(); RowRange.closed(a, a + "~")
    case 2 => val a = randKey(); RowRange.closedOpen(a, a + "~")
    case _ => RowRange(randKey(), None, endInclusive = false)
  }

  private def randFilter(): RowFilter = rnd.nextInt(5) match {
    case 0 => RowFilter.FamilyNameRegex(randKey())
    case 1 => RowFilter.ColumnQualifierRegex("\\Q" + randKey() + "\\E")
    case 2 => RowFilter.CellsPerColumnLimit(1 + rnd.nextInt(7))
    case 3 =>
      RowFilter.QualifierValueRange("fam" + rnd.nextInt(3), "q" + rnd.nextInt(3),
        if (rnd.nextBoolean()) Some(randBytes()) else None, rnd.nextBoolean(),
        if (rnd.nextBoolean()) Some(randBytes()) else None, rnd.nextBoolean())
    case _ => RowFilter.QualifierValueRegex("fam" + rnd.nextInt(3), "q" + rnd.nextInt(3),
      "\\Qv" + rnd.nextInt(9) + "\\E")
  }

  private def comparable(f: RowFilter): Any = f match {
    case RowFilter.QualifierValueRange(fam, q, lo, li, hi, hiI) =>
      // an ABSENT bound's inclusive flag is semantically void (the store
      // skips the comparison entirely) and rightly has no wire encoding
      // — canonicalize it to false on both sides of the round trip
      ("vr", fam, q, lo.map(_.toSeq), lo.isDefined && li, hi.map(_.toSeq), hi.isDefined && hiI)
    case other => other.toString
  }

  test("400 random ReadRowsRequests round-trip exactly") {
    (1 to 400).foreach { i =>
      val table = s"projects/p/instances/i/tables/t$i"
      val ranges = Seq.fill(1 + rnd.nextInt(5))(randRange())
      val filters = Seq.fill(rnd.nextInt(4))(randFilter())
      val (t2, r2, f2) = ReadRowsProto.decodeReadRowsRequest(
        ReadRowsProto.encodeReadRowsRequest(table, ranges, filters))
      assert(t2 == table, s"case $i")
      // point keys are re-grouped into RowSet.row_keys ahead of ranges:
      // compare as multisets (the store normalizes ranges anyway)
      assert(r2.groupBy(identity).view.mapValues(_.size).toMap ==
        ranges.groupBy(identity).view.mapValues(_.size).toMap, s"case $i: $ranges vs $r2")
      assert(f2.map(comparable) == filters.map(comparable), s"case $i: $filters vs $f2")
    }
  }

  test("200 random ReadRowsResponse batches round-trip exactly") {
    (1 to 200).foreach { i =>
      val rows = Seq.fill(1 + rnd.nextInt(6)) {
        val key = randKey()
        val cells = Seq.fill(rnd.nextInt(5)) {
          BtCell("fam" + rnd.nextInt(2), "q" + rnd.nextInt(3),
            rnd.nextLong().abs % 2000000000000000L, randBytes())
        }
        BtRow(key, cells)
      }
      val back = ReadRowsProto.decodeReadRowsResponse(ReadRowsProto.encodeReadRowsResponse(rows))
      assert(back.map(_.rowKey) == rows.map(_.rowKey), s"case $i")
      assert(back.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) ==
        rows.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))), s"case $i")
    }
  }

  test("300 random MutateRowsRequests round-trip exactly") {
    (1 to 300).foreach { i =>
      val table = s"t$i"
      val muts = Seq.fill(1 + rnd.nextInt(4))(
        randKey() -> Seq.fill(rnd.nextInt(4))(
          BtCell("f", "q" + rnd.nextInt(3), rnd.nextLong().abs % 4000000000000000L, randBytes())))
      val (t2, m2) = ReadRowsProto.decodeMutateRowsRequest(
        ReadRowsProto.encodeMutateRowsRequest(table,
          muts.map { case (k, cs) => ReadRowsProto.encodeMutateRowsEntry(k, cs) }))
      assert(t2 == table)
      assert(m2.map { case (k, cs) =>
        (k, cs.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) } ==
        muts.map { case (k, cs) =>
          (k, cs.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) }, s"case $i")
    }
  }
}
