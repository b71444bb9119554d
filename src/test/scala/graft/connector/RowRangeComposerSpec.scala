package graft.connector

import graft.model._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage the reference lacks (SURVEY.md §5): range composition
  * for all 6 README shapes (reference README.md:36-41), the
  * mandatory-filter guard (composer.rs:72-77), and the
  * missing-middle-column hazard (composer.rs:109-137) which we reject.
  */
class RowRangeComposerSpec extends AnyFunSuite {
  private val simple = BigtableConfig(
    storeName = "s", table = "t", columnFamily = "f",
    partitionCols = Seq("_row_key"), separator = "#",
    qualifiers = Seq(("pressure", LongType), ("temperature", StringType)),
    onlyReadLatest = true, allowFullScan = false)

  private val composite = simple.copy(partitionCols = Seq("region", "balloon_id", "event_minute"))

  test("equality → point range (composer.rs:163-192)") {
    val r = RowRangeComposer.composeRanges(simple, Seq(EqualTo("_row_key", "k1")))
    assert(r == Vector(RowRange.point("k1")))
  }

  test("IN list → one point range per value, key-ordered (composer.rs:194-222)") {
    val r = RowRangeComposer.composeRanges(simple, Seq(In("_row_key", Array("kb", "ka"))))
    assert(r == Vector(RowRange.point("ka"), RowRange.point("kb")))
  }

  test("BETWEEN (re-fused >= + <=) → closed range (composer.rs:224-248)") {
    val r = RowRangeComposer.composeRanges(
      simple, Seq(GreaterThanOrEqual("_row_key", "a"), LessThanOrEqual("_row_key", "m")))
    assert(r == Vector(RowRange.closed("a", "m")))
  }

  test("composite: = + = + = → joined point range (composer.rs:101-162)") {
    val r = RowRangeComposer.composeRanges(
      composite,
      Seq(EqualTo("region", "us"), EqualTo("balloon_id", "3698"), EqualTo("event_minute", "m1")))
    assert(r == Vector(RowRange.point("us#3698#m1")))
  }

  test("composite: cartesian product of IN lists (partial_cartesian, composer.rs:287-300)") {
    val r = RowRangeComposer.composeRanges(
      composite,
      Seq(EqualTo("region", "us"), In("balloon_id", Array("1", "2")), In("event_minute", Array("a", "b"))))
    assert(r.toSet == Set(
      RowRange.point("us#1#a"), RowRange.point("us#1#b"),
      RowRange.point("us#2#a"), RowRange.point("us#2#b")))
  }

  test("composite: prefix = + tail BETWEEN → prefixed closed range (composer.rs:139-161)") {
    val r = RowRangeComposer.composeRanges(
      composite,
      Seq(EqualTo("region", "us"), EqualTo("balloon_id", "3698"),
        GreaterThanOrEqual("event_minute", "m1"), LessThanOrEqual("event_minute", "m3")))
    assert(r == Vector(RowRange.closed("us#3698#m1", "us#3698#m3")))
  }

  test("And-tree conjuncts are flattened") {
    val r = RowRangeComposer.composeRanges(
      composite,
      Seq(And(EqualTo("region", "us"), And(EqualTo("balloon_id", "1"), EqualTo("event_minute", "m")))))
    assert(r == Vector(RowRange.point("us#1#m")))
  }

  test("no usable filter → guard error (composer.rs:72-77)") {
    val e = intercept[RowRangeComposer.MissingKeyFilterException] {
      RowRangeComposer.composeRanges(simple, Seq(GreaterThan("pressure", 5L)))
    }
    assert(e.getMessage.contains("_row_key"))
  }

  test("missing middle column → rejected, not wrong keys (composer.rs:109-137 hazard)") {
    val e = intercept[RowRangeComposer.MissingKeyFilterException] {
      RowRangeComposer.composeRanges(
        composite, Seq(EqualTo("region", "us"), EqualTo("event_minute", "m1")))
    }
    assert(e.getMessage.contains("balloon_id"))
  }

  test("one-sided tail bound alone does not compose → guard error") {
    intercept[RowRangeComposer.MissingKeyFilterException] {
      RowRangeComposer.composeRanges(
        composite,
        Seq(EqualTo("region", "us"), EqualTo("balloon_id", "1"), GreaterThanOrEqual("event_minute", "m1")))
    }
  }

  test("allowFullScan=true: unconstrained scan → full range") {
    val cfg = simple.copy(allowFullScan = true)
    assert(RowRangeComposer.composeRanges(cfg, Nil) == Vector(RowRange.full))
  }

  test("non-string literals are ignored (composer.rs:175, 206, 236-237)") {
    intercept[RowRangeComposer.MissingKeyFilterException] {
      RowRangeComposer.composeRanges(simple, Seq(EqualTo("_row_key", 42L)))
    }
  }

  test("duplicate/overlapping ranges normalize away") {
    val r = RowRangeComposer.composeRanges(
      simple, Seq(In("_row_key", Array("k1", "k1", "k2"))))
    assert(r == Vector(RowRange.point("k1"), RowRange.point("k2")))
  }

  test("row filters: family first, latest limit, quoted qualifier regex (composer.rs:249-284)") {
    val fs = RowRangeComposer.composeRowFilters(simple, Seq("pressure"))
    assert(fs.head == RowFilter.FamilyNameRegex(java.util.regex.Pattern.quote("f")))
    assert(fs(1) == RowFilter.CellsPerColumnLimit(1))
    assert(fs(2) == RowFilter.ColumnQualifierRegex(java.util.regex.Pattern.quote("pressure")))
  }

  test("row filters: full projection or key-only projection pushes no qualifier regex") {
    assert(RowRangeComposer.composeRowFilters(simple, Seq("pressure", "temperature")).size == 2)
    assert(RowRangeComposer.composeRowFilters(simple, Nil).size == 2)
  }

  test("OR of key predicates composes as a range union") {
    val r = RowRangeComposer.composeRanges(
      simple, Seq(Or(EqualTo("_row_key", "ka"), EqualTo("_row_key", "kz"))))
    assert(r == Vector(RowRange.point("ka"), RowRange.point("kz")))
  }

  test("OR mixes shapes: equality OR (re-fused) range, under a shared conjunct") {
    val r = RowRangeComposer.composeRanges(
      composite,
      Seq(
        EqualTo("region", "us"), EqualTo("balloon_id", "1"),
        Or(EqualTo("event_minute", "m9"),
          And(GreaterThanOrEqual("event_minute", "m1"), LessThanOrEqual("event_minute", "m3")))))
    assert(r == Vector(RowRange.closed("us#1#m1", "us#1#m3"), RowRange.point("us#1#m9")))
  }

  test("OR with a non-composable branch still fails the guard") {
    intercept[RowRangeComposer.MissingKeyFilterException] {
      RowRangeComposer.composeRanges(
        simple, Seq(Or(EqualTo("_row_key", "ka"), GreaterThan("pressure", 5L))))
    }
  }

  test("prefix scan: LIKE 'p%' on the tail col → [prefix, successor) range") {
    val r = RowRangeComposer.composeRanges(simple, Seq(StringStartsWith("_row_key", "us-west")))
    assert(r == Vector(RowRange.closedOpen("us-west", "us-wesu")))
  }

  test("prefix scan: composite prefix joins ahead of the tail prefix") {
    val r = RowRangeComposer.composeRanges(
      composite,
      Seq(EqualTo("region", "us"), EqualTo("balloon_id", "3698"), StringStartsWith("event_minute", "2021-03")))
    assert(r == Vector(RowRange.closedOpen("us#3698#2021-03", "us#3698#2021-04")))
  }

  test("prefix scan: non-ASCII prefix is ignored (guard still fires)") {
    intercept[RowRangeComposer.MissingKeyFilterException] {
      RowRangeComposer.composeRanges(simple, Seq(StringStartsWith("_row_key", "日本")))
    }
  }

  test("timestamp-range pushdown: bounds on _timestamp become a (lo, hi] µs window") {
    val t1 = java.time.Instant.ofEpochSecond(1614945605L, 100000000L) // ...605.1
    val t2 = java.time.Instant.ofEpochSecond(1614945725L, 300000000L) // ...725.3
    val r = RowRangeComposer.composeTsRange(Seq(
      GreaterThanOrEqual("_timestamp", t1), LessThan("_timestamp", t2)))
    assert(r.contains((1614945605100000L - 1, 1614945725300000L - 1)))
  }

  test("timestamp-range pushdown: instants and no-op cases") {
    val i = java.time.Instant.ofEpochSecond(1614945605L, 100000000L)
    val r = RowRangeComposer.composeTsRange(Seq(EqualTo("_timestamp", i)))
    assert(r.contains((1614945605100000L - 1, 1614945605100000L)))
    assert(RowRangeComposer.composeTsRange(Seq(EqualTo("x", "y"))).isEmpty)
    assert(RowRangeComposer.composeTsRange(Seq(GreaterThan("_timestamp", "not-a-ts"))).isEmpty)
  }

  test("plan-size budget: wide cartesians collapse to one covering range") {
    val tight = composite.copy(maxComposedRanges = 8)
    val filters = Seq(
      In("region", Array("r1", "r2", "r3")),
      In("balloon_id", Array("b1", "b2", "b3")),
      In("event_minute", Array("m1", "m2", "m3"))) // 27 points > 8
    val r = RowRangeComposer.composeRanges(tight, filters)
    assert(r == Vector(RowRange.closed("r1#b1#m1", "r3#b3#m3")))
    // under the budget the full cartesian is kept
    val wide = composite.copy(maxComposedRanges = 64)
    assert(RowRangeComposer.composeRanges(wide, filters).size == 27)
  }

  // ---- value-predicate pushdown (reference roadmap README.md:46-47) ----

  test("value pushdown: string equality → closed point value range") {
    val (fs, acc) = RowRangeComposer.composeValueFilters(simple, Seq(EqualTo("temperature", "9.6")))
    val b = CellCodec.encodeString("9.6")
    assert(acc == Vector(EqualTo("temperature", "9.6")))
    fs match {
      case Vector(RowFilter.QualifierValueRange("f", "temperature", Some(lo), true, Some(hi), true)) =>
        assert(lo.sameElements(b) && hi.sameElements(b))
      case other => fail(s"unexpected: $other")
    }
  }

  test("value pushdown: long equality pushes for any sign; long BETWEEN needs lo >= 0") {
    val (eqF, eqAcc) = RowRangeComposer.composeValueFilters(simple, Seq(EqualTo("pressure", -3L)))
    assert(eqF.size == 1 && eqAcc.size == 1)
    val (rangeF, rangeAcc) = RowRangeComposer.composeValueFilters(
      simple, Seq(GreaterThanOrEqual("pressure", 100L), LessThanOrEqual("pressure", 900L)))
    rangeF match {
      case Vector(RowFilter.QualifierValueRange("f", "pressure", Some(lo), true, Some(hi), true)) =>
        assert(lo.sameElements(CellCodec.encodeLong(100L)))
        assert(hi.sameElements(CellCodec.encodeLong(900L)))
      case other => fail(s"unexpected: $other")
    }
    assert(rangeAcc.size == 2)
    // a negative lower bound can't be expressed in unsigned byte order
    val (negF, _) = RowRangeComposer.composeValueFilters(
      simple, Seq(GreaterThanOrEqual("pressure", -5L), LessThanOrEqual("pressure", 900L)))
    assert(negF.isEmpty)
    // an upper bound alone would wrongly drop negative values
    val (hiOnlyF, _) = RowRangeComposer.composeValueFilters(
      simple, Seq(LessThanOrEqual("pressure", 900L)))
    assert(hiOnlyF.isEmpty)
  }

  test("value pushdown: long lower bound alone pushes (negatives merely over-fetched)") {
    val (fs, acc) = RowRangeComposer.composeValueFilters(simple, Seq(GreaterThan("pressure", 100L)))
    fs match {
      case Vector(RowFilter.QualifierValueRange("f", "pressure", Some(lo), false, None, _)) =>
        assert(lo.sameElements(CellCodec.encodeLong(100L)))
      case other => fail(s"unexpected: $other")
    }
    assert(acc == Vector(GreaterThan("pressure", 100L)))
  }

  test("value pushdown: string IN → quoted regex alternation; doubles never push") {
    val (fs, _) = RowRangeComposer.composeValueFilters(simple, Seq(In("temperature", Array("a", "b"))))
    fs match {
      case Vector(RowFilter.QualifierValueRegex("f", "temperature", re)) =>
        assert(re == java.util.regex.Pattern.quote("a") + "|" + java.util.regex.Pattern.quote("b"))
      case other => fail(s"unexpected: $other")
    }
    val dblCfg = simple.copy(qualifiers = Seq(("value", DoubleType)))
    val (dblF, dblAcc) = RowRangeComposer.composeValueFilters(
      dblCfg, Seq(EqualTo("value", 9.6), GreaterThan("value", 1.0)))
    assert(dblF.isEmpty && dblAcc.isEmpty, "decimal-string encoding is not canonical — must stay residual")
  }

  test("value pushdown: filters chain AFTER CellsPerColumnLimit in compose()") {
    val cfg = simple // onlyReadLatest = true
    val comp = RowRangeComposer.compose(
      cfg, Seq(EqualTo("_row_key", "k"), EqualTo("temperature", "x")), Seq("temperature"))
    val latestIdx = comp.rowFilters.indexWhere(_.isInstanceOf[RowFilter.CellsPerColumnLimit])
    val valueIdx = comp.rowFilters.indexWhere(_.isInstanceOf[RowFilter.QualifierValueRange])
    assert(latestIdx >= 0 && valueIdx > latestIdx,
      s"value filter must follow CellsPerColumnLimit: ${comp.rowFilters}")
  }
}
