package graft.model

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Core data model for the Bigtable-shaped store.
  *
  * Mirrors the wire surface the reference connector consumes
  * (reference: src/execute_plan.rs:169-190 — `ReadRowsRequest { rows:
  * RowSet{row_ranges}, filter: Chain(row_filters) }` returning
  * `(row_key, Vec[RowCell])` pairs), re-expressed as plain Scala so a
  * real gRPC client or the in-memory emulator can sit behind the same
  * types.
  */

/** One Bigtable cell: (family, qualifier, timestampMicros) -> value bytes.
  * Reference: bigtable RowCell consumed at execute_plan.rs:186-212.
  */
final case class BtCell(
    family: String,
    qualifier: String,
    timestampMicros: Long,
    value: Array[Byte]
) extends Serializable

/** One Bigtable row: key plus its cells (any families/qualifiers/versions). */
final case class BtRow(rowKey: String, cells: Seq[BtCell]) extends Serializable

/** Lexicographic row-key range.
  *
  * `startKey` is always inclusive. `endKey = None` means unbounded
  * (scan to end of table); otherwise `endInclusive` selects
  * closed-closed vs closed-open. The reference only ever composes
  * closed-closed ranges — point ranges `[key, key]` and BETWEEN ranges
  * `[prefix#lo, prefix#hi]` (composer.rs:139-161, 88-91) — but the
  * Spark connector additionally needs closed-open sub-ranges for
  * partition-split planning (split a composed range at sampled row keys
  * the way Bigtable's public `SampleRowKeys` RPC is used by the HBase
  * and Beam connectors) and the unbounded form for explicitly-allowed
  * full scans. Comparison is on UTF-8 bytes, unsigned, matching
  * Bigtable's key order.
  */
final case class RowRange(
    startKey: String,
    endKey: Option[String],
    endInclusive: Boolean
) extends Serializable {
  def contains(key: String): Boolean =
    RowRange.compareKeys(key, startKey) >= 0 && (endKey match {
      case None => true
      case Some(e) =>
        val c = RowRange.compareKeys(key, e)
        if (endInclusive) c <= 0 else c < 0
    })

  /** A single-key range `[k, k]`: no key lies strictly inside it. */
  def isPoint: Boolean = endInclusive && endKey.contains(startKey)
}

object RowRange {
  /** Closed-closed `[start, end]` — the only shape the composer emits. */
  def closed(start: String, end: String): RowRange =
    RowRange(start, Some(end), endInclusive = true)

  /** Closed-open `[start, end)` — used by partition-split planning. */
  def closedOpen(start: String, end: String): RowRange =
    RowRange(start, Some(end), endInclusive = false)

  /** Point lookup `[key, key]`. */
  def point(key: String): RowRange = closed(key, key)

  /** The whole key space (explicit full scan — never produced by the
    * composer unless full scans are explicitly enabled).
    */
  val full: RowRange = RowRange("", None, endInclusive = false)

  /** Unsigned lexicographic compare over UTF-8 bytes (Bigtable key order). */
  def compareKeys(a: String, b: String): Int = {
    val ab = a.getBytes(StandardCharsets.UTF_8)
    val bb = b.getBytes(StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(ab, bb)
  }

  /** Intersection of two ranges, None when empty. Used by runtime
    * (DPP-style) narrowing to clip candidate key ranges to the
    * planning-time composition — narrowing must never read beyond it.
    */
  def intersect(a: RowRange, b: RowRange): Option[RowRange] = {
    val start = if (compareKeys(a.startKey, b.startKey) >= 0) a.startKey else b.startKey
    val (end, inc): (Option[String], Boolean) = (a.endKey, b.endKey) match {
      case (None, None)       => (None, false)
      case (Some(x), None)    => (Some(x), a.endInclusive)
      case (None, Some(y))    => (Some(y), b.endInclusive)
      case (Some(x), Some(y)) =>
        val c = compareKeys(x, y)
        if (c < 0) (Some(x), a.endInclusive)
        else if (c > 0) (Some(y), b.endInclusive)
        else (Some(x), a.endInclusive && b.endInclusive)
    }
    end match {
      case Some(e) =>
        val c = compareKeys(start, e)
        if (c > 0 || (c == 0 && !inc)) None else Some(RowRange(start, Some(e), inc))
      case None => Some(RowRange(start, None, endInclusive = false))
    }
  }

  /** Sort ranges by start key and coalesce overlapping/adjacent ones so a
    * reader can scan them back-to-back and see each row key exactly once,
    * in global key order. (The composer's cartesian merge can produce
    * duplicate point ranges or a point range inside a BETWEEN range.)
    */
  def normalize(ranges: Seq[RowRange]): Vector[RowRange] = {
    if (ranges.isEmpty) return Vector.empty
    val sorted = ranges.sortWith { (a, b) =>
      val c = compareKeys(a.startKey, b.startKey)
      if (c != 0) c < 0
      else {
        // wider range first so the fold below keeps it; (None, None) must
        // compare equal (not mutually "less") to keep the ordering strict-weak
        (a.endKey, b.endKey) match {
          case (None, None)       => false
          case (None, _)          => true
          case (_, None)          => false
          case (Some(x), Some(y)) => compareKeys(x, y) > 0
        }
      }
    }
    val out = Vector.newBuilder[RowRange]
    var cur = sorted.head
    sorted.tail.foreach { r =>
      if (covers(cur, r.startKey)) {
        // overlapping (or touching at an inclusive end): extend cur
        cur = merge(cur, r)
      } else {
        out += cur
        cur = r
      }
    }
    out += cur
    out.result()
  }

  /** Single range covering every input range: [min start, max end].
    * Over-broad by construction (safe under inexact pushdown) — the
    * collapse target when a composed range set exceeds the plan-size
    * budget.
    */
  def cover(ranges: Seq[RowRange]): RowRange = {
    require(ranges.nonEmpty, "cover of no ranges")
    val start = ranges.minBy(_.startKey)(Ordering.comparatorToOrdering(
      (a: String, b: String) => compareKeys(a, b))).startKey
    val end = ranges.foldLeft(Option(ranges.head)) { (acc, r) =>
      acc.flatMap { best =>
        (best.endKey, r.endKey) match {
          case (None, _) => Some(best)
          case (_, None) => Some(r)
          case (Some(x), Some(y)) =>
            val c = compareKeys(x, y)
            if (c > 0 || (c == 0 && best.endInclusive)) Some(best) else Some(r)
        }
      }
    }.get
    RowRange(start, end.endKey, end.endInclusive)
  }

  /** Does `r` cover (or immediately touch) key `k` so a range starting at
    * `k` can be merged into it? For a closed end, start == end is overlap;
    * for an open end, start == end is adjacency — also mergeable.
    */
  private def covers(r: RowRange, k: String): Boolean = r.endKey match {
    case None    => true
    case Some(e) => compareKeys(k, e) <= 0
  }

  private def merge(a: RowRange, b: RowRange): RowRange = {
    val (end, incl) = ((a.endKey, a.endInclusive), (b.endKey, b.endInclusive)) match {
      case ((None, _), _) | (_, (None, _)) => (None, false)
      case ((Some(x), xi), (Some(y), yi)) =>
        val c = compareKeys(x, y)
        if (c > 0) (Some(x), xi)
        else if (c < 0) (Some(y), yi)
        else (Some(x), xi || yi)
    }
    RowRange(a.startKey, end, incl)
  }
}

/** Server-side row filters — exactly the three variants the reference
  * emits (composer.rs:253-281), chained as logical AND
  * (execute_plan.rs:175-180).
  *
  * Regex note: real Bigtable evaluates these with RE2 over raw bytes;
  * the emulator uses java.util.regex. The composer only ever emits
  * `Pattern.quote`d literals joined by `|` (an RE2-compatible subset),
  * so the two engines cannot diverge on composed filters.
  */
sealed trait RowFilter extends Serializable
object RowFilter {
  /** Restrict to the table's single column family (composer.rs:253-256). */
  final case class FamilyNameRegex(regex: String) extends RowFilter
  /** Keep only the newest N cell versions per column (composer.rs:257-261;
    * the reference always uses N=1).
    */
  final case class CellsPerColumnLimit(n: Int) extends RowFilter
  /** Keep only cells whose qualifier matches `q1|q2|...`
    * (composer.rs:263-281, projection pushdown).
    */
  final case class ColumnQualifierRegex(regex: String) extends RowFilter

  /** Value-range restriction scoped to ONE qualifier: cells of other
    * qualifiers pass through untouched; cells of `qualifier` survive
    * only when their value lies within the bounds in unsigned byte
    * order. This is the reference's unimplemented "predicate pushdown
    * on values" roadmap item (reference README.md:46-47); in real
    * Bigtable it is expressed as
    * `Interleave(Chain(QualifierRegex(^(?!q$))), Chain(QualifierRegex(q), ValueRange))`.
    *
    * Dropping a failing cell can only turn the pivoted column value
    * into SQL NULL (or drop the row when no cell survives) — both of
    * which the residual FilterExec above the scan resolves identically
    * to the unpushed plan, so this is safe under inexact pushdown. The
    * composer must chain it AFTER CellsPerColumnLimit so latest-version
    * selection happens before value filtering (otherwise an older
    * passing version would surface as "latest").
    */
  final case class QualifierValueRange(
      family: String,
      qualifier: String,
      lo: Option[Array[Byte]],
      loInclusive: Boolean,
      hi: Option[Array[Byte]],
      hiInclusive: Boolean
  ) extends RowFilter

  /** Value-regex restriction scoped to one qualifier (reference roadmap
    * README.md:46; real Bigtable `ValueRegexFilter` inside the same
    * Interleave shape as [[QualifierValueRange]]). The composer only
    * emits `Pattern.quote`d literals joined by `|`.
    */
  final case class QualifierValueRegex(family: String, qualifier: String, regex: String) extends RowFilter
}

/** Big-endian Int64 codec for cell values.
  *
  * Reference stores 64-bit signed ints as 8-byte big-endian
  * (execute_plan.rs:287-293, script/insert_rows.py:29-30); everything
  * else is raw UTF-8 (execute_plan.rs:294-301). Improvement over the
  * reference: empty/short bytes decode to null (the reference would
  * panic, execute_plan.rs:264-267 + §1.3 of SURVEY.md).
  */
object CellCodec {
  def encodeLong(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array() // ByteBuffer defaults to BIG_ENDIAN

  /** None when the cell is missing/malformed (fewer than 8 bytes). */
  def decodeLong(bytes: Array[Byte]): Option[Long] =
    if (bytes == null || bytes.length < 8) None
    else Some(ByteBuffer.wrap(bytes).getLong)

  def encodeString(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  def decodeString(bytes: Array[Byte]): Option[String] =
    if (bytes == null) None else Some(new String(bytes, StandardCharsets.UTF_8))
}
