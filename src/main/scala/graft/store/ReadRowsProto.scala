package graft.store

import graft.model._

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Field-for-field protobuf wire codec for the public Bigtable v2 data
  * API messages the reference connector exchanges over its tonic gRPC
  * channel (reference: src/execute_plan.rs:169-183 builds a
  * `ReadRowsRequest { table_name, rows: RowSet { row_keys, row_ranges },
  * filter: RowFilter { chain } }`; src/datasource.rs:81-88 dials the
  * channel). No gRPC/protobuf jars exist in this environment (SURVEY.md
  * §7.0), so the messages are encoded by hand against the published
  * `google/bigtable/v2/{bigtable,data}.proto` layout — the part of the
  * wire contract that is pure bytes. What remains environment-blocked is
  * only the HTTP/2 + TLS + auth channel; a real client library drops in
  * behind [[BigtableStore]] without touching the composer or the pivot,
  * and [[ProtoSocketBigtableServer]] proves these exact bytes round-trip
  * a scan today.
  *
  * Message layouts implemented (field numbers from the public protos):
  *
  *  - `ReadRowsRequest`: table_name=1 (string), rows=2 (`RowSet`:
  *    row_keys=1 bytes repeated, row_ranges=2), filter=3, rows_limit=4.
  *  - `RowRange`: start_key_closed=1, start_key_open=2, end_key_open=3,
  *    end_key_closed=4 (this store's ranges are always start-closed).
  *  - `RowFilter` oneof: chain=1 (`Chain.filters`=1), condition=3
  *    (`Condition`: predicate_filter=1, true_filter=2, false_filter=3),
  *    family_name_regex_filter=5 (string),
  *    column_qualifier_regex_filter=6 (bytes), value_regex_filter=9
  *    (bytes), cells_per_column_limit_filter=12 (int32),
  *    value_range_filter=15 (`ValueRange`: start_value_closed=1,
  *    start_value_open=2, end_value_closed=3, end_value_open=4),
  *    pass_all_filter=17 (bool).
  *  - `ReadRowsResponse`: chunks=1 (`CellChunk`: row_key=1,
  *    family_name=2 `google.protobuf.StringValue{value=1}`, qualifier=3
  *    `BytesValue{value=1}`, timestamp_micros=4, value=6, reset_row=8,
  *    commit_row=9), last_scanned_row_key=2.
  *  - `SampleRowKeysRequest`: table_name=1;
  *    `SampleRowKeysResponse`: row_key=1, offset_bytes=2.
  *  - `MutateRowsRequest`: table_name=1, entries=2 (`Entry`: row_key=1,
  *    mutations=2 — `Mutation.set_cell`=1: family_name=1,
  *    column_qualifier=2, timestamp_micros=3, value=4);
  *    `MutateRowsResponse`: entries=1 (`Entry`: index=1, status=2).
  *  - `google.rpc.Status`: code=1, message=2 — carried on the error
  *    frame with the real canonical codes (INVALID_ARGUMENT=3,
  *    FAILED_PRECONDITION=9, UNIMPLEMENTED=12, UNAVAILABLE=14).
  *
  * The graft filter chain maps onto real filter shapes:
  * [[RowFilter.FamilyNameRegex]]/[[RowFilter.ColumnQualifierRegex]]/
  * [[RowFilter.CellsPerColumnLimit]] are 1:1 fields;
  * [[RowFilter.QualifierValueRange]] and [[RowFilter.QualifierValueRegex]]
  * (value predicates scoped to ONE qualifier, other columns untouched)
  * become `Condition { predicate: Chain(family_regex, qualifier_regex),
  * true: value_{range,regex}, false: pass_all }` — RE2 has no negative
  * lookahead, so the scoping must ride a Condition, not a regex. The
  * decoder recognizes exactly the shapes the encoder emits (the
  * connector-generated subset), keeping decode(encode(x)) == x.
  */
object ReadRowsProto {

  // ---- protobuf primitives -------------------------------------------

  /** Minimal protobuf writer: varints + tagged fields. Wire types:
    * 0 = varint, 2 = length-delimited.
    */
  final class Writer {
    private val out = new ByteArrayOutputStream()
    def varint(v: Long): Writer = {
      var x = v
      while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    private def tag(field: Int, wire: Int): Writer = varint((field.toLong << 3) | wire)
    def int(field: Int, v: Long): Writer = { tag(field, 0); varint(v) }
    def bool(field: Int, v: Boolean): Writer = int(field, if (v) 1L else 0L)
    def bytes(field: Int, v: Array[Byte]): Writer = {
      tag(field, 2); varint(v.length); out.write(v); this
    }
    def string(field: Int, v: String): Writer = bytes(field, v.getBytes(StandardCharsets.UTF_8))
    def message(field: Int, m: Writer => Unit): Writer = {
      val w = new Writer; m(w); bytes(field, w.result())
    }
    def result(): Array[Byte] = out.toByteArray
  }

  /** Minimal protobuf reader over a byte slice. [[fields]] walks the
    * top-level fields in order; unknown fields are skipped by wire type
    * (forward compatibility, exactly like a generated parser).
    */
  final class Reader(buf: Array[Byte], from: Int, until: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    private var pos = from
    def hasMore: Boolean = pos < until
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        require(pos < until, "truncated varint")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        require(shift < 64, "varint too long")
      }
      v
    }
    def lengthDelimited(): (Int, Int) = {
      val len = varint().toInt
      require(len >= 0 && pos + len <= until, s"truncated field (len $len)")
      val r = (pos, pos + len); pos += len; r
    }
    def bytesField(): Array[Byte] = {
      val (a, b) = lengthDelimited(); java.util.Arrays.copyOfRange(buf, a, b)
    }
    def stringField(): String = new String(bytesField(), StandardCharsets.UTF_8)
    def subReader(): Reader = { val (a, b) = lengthDelimited(); new Reader(buf, a, b) }
    /** Visit each (fieldNumber, wireType) in sequence; the callback must
      * consume the field's payload via the reader (or [[skip]]).
      */
    def fields(f: (Int, Int) => Unit): Unit =
      while (hasMore) {
        val t = varint()
        f((t >>> 3).toInt, (t & 7).toInt)
      }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(): Unit
      case 2 => lengthDelimited(): Unit
      case 1 => require(pos + 8 <= until, "truncated fixed64"); pos += 8
      case 5 => require(pos + 4 <= until, "truncated fixed32"); pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private def quote(s: String): String = java.util.regex.Pattern.quote(s)

  // ---- ReadRowsRequest ------------------------------------------------

  /** Encode exactly the reference's request shape: point ranges ride
    * `RowSet.row_keys` (execute_plan.rs:172 — equality/IN keys), others
    * `RowSet.row_ranges`; the filter list is one `RowFilter.Chain` in
    * graft's in-order-AND semantics (execute_plan.rs:176-181).
    */
  def encodeReadRowsRequest(
      table: String, ranges: Seq[RowRange], filters: Seq[RowFilter]): Array[Byte] = {
    val w = new Writer
    w.string(1, table)
    val (points, spans) = ranges.partition(r => r.endKey.contains(r.startKey) && r.endInclusive)
    w.message(2, rs => {
      points.foreach(p => rs.bytes(1, utf8(p.startKey)): Unit)
      spans.foreach(r => rs.message(2, rr => {
        rr.bytes(1, utf8(r.startKey))
        r.endKey.foreach(e => rr.bytes(if (r.endInclusive) 4 else 3, utf8(e)): Unit)
        ()
      }): Unit)
      ()
    })
    if (filters.nonEmpty)
      w.message(3, f =>
        if (filters.size == 1) writeFilter(f, filters.head)
        else { f.message(1, c => filters.foreach(x => c.message(1, writeFilter(_, x)): Unit)): Unit })
    w.result()
  }

  private def writeFilter(w: Writer, f: RowFilter): Unit = f match {
    case RowFilter.FamilyNameRegex(r)      => w.string(5, r): Unit
    case RowFilter.ColumnQualifierRegex(r) => w.bytes(6, utf8(r)): Unit
    case RowFilter.CellsPerColumnLimit(n)  => w.int(12, n.toLong): Unit
    case RowFilter.QualifierValueRange(fam, q, lo, loInc, hi, hiInc) =>
      writeCondition(w, fam, q, t => {
        t.message(15, vr => {
          lo.foreach(b => vr.bytes(if (loInc) 1 else 2, b): Unit)
          hi.foreach(b => vr.bytes(if (hiInc) 3 else 4, b): Unit)
          ()
        }): Unit
      })
    case RowFilter.QualifierValueRegex(fam, q, regex) =>
      writeCondition(w, fam, q, t => t.bytes(9, utf8(regex)): Unit)
  }

  /** `Condition { predicate: Chain(family, qualifier), true: <body>,
    * false: pass_all }` — the qualifier-scoped value predicate shape.
    */
  private def writeCondition(w: Writer, fam: String, q: String, body: Writer => Unit): Unit =
    w.message(3, cond => {
      cond.message(1, pred => pred.message(1, chain => {
        chain.message(1, _.string(5, quote(fam)): Unit)
        chain.message(1, _.bytes(6, utf8(quote(q))): Unit)
        ()
      }): Unit)
      cond.message(2, body)
      cond.message(3, _.bool(17, v = true): Unit)
      ()
    }): Unit

  /** Inverse of [[encodeReadRowsRequest]] over the connector-emitted
    * subset — what a server (here the socket host; in production a
    * drop-in emulator) needs to serve graft scans from real bytes.
    */
  def decodeReadRowsRequest(bytes: Array[Byte]): (String, Seq[RowRange], Seq[RowFilter]) = {
    var table = ""
    val ranges = Seq.newBuilder[RowRange]
    val filters = Seq.newBuilder[RowFilter]
    val r = new Reader(bytes)
    r.fields {
      case (1, _) => table = r.stringField()
      case (2, _) =>
        val rs = r.subReader()
        rs.fields {
          case (1, _) => ranges += RowRange.point(new String(rs.bytesField(), StandardCharsets.UTF_8))
          case (2, _) =>
            val rr = rs.subReader()
            var start = ""; var end: Option[String] = None; var inc = false
            rr.fields {
              case (1, _) => start = rr.stringField()
              case (2, _) => // start_key_open: unused by this store's composer
                throw new IllegalArgumentException("start_key_open is not produced by this connector")
              case (3, _) => end = Some(rr.stringField()); inc = false
              case (4, _) => end = Some(rr.stringField()); inc = true
              case (_, wt) => rr.skip(wt)
            }
            ranges += RowRange(start, end, inc)
          case (_, wt) => rs.skip(wt)
        }
      case (3, _) =>
        val fr = r.subReader()
        fr.fields {
          case (1, _) => // chain
            val cr = fr.subReader()
            cr.fields {
              case (1, _) => filters += readFilter(cr.subReader())
              case (_, wt) => cr.skip(wt)
            }
          case (fld, wt) =>
            // single unchained filter: re-dispatch through readFilter's
            // field handling by replaying just this field
            filters += readFilterField(fr, fld, wt)
        }
      case (_, wt) => r.skip(wt)
    }
    (table, ranges.result(), filters.result())
  }

  private def readFilter(fr: Reader): RowFilter = {
    var out: RowFilter = null
    fr.fields((fld, wt) => out = readFilterField(fr, fld, wt))
    require(out != null, "empty RowFilter message")
    out
  }

  private def readFilterField(fr: Reader, fld: Int, wt: Int): RowFilter = fld match {
    case 5  => RowFilter.FamilyNameRegex(fr.stringField())
    case 6  => RowFilter.ColumnQualifierRegex(new String(fr.bytesField(), StandardCharsets.UTF_8))
    case 12 => RowFilter.CellsPerColumnLimit(fr.varint().toInt)
    case 3  => readCondition(fr.subReader())
    case _  => throw new IllegalArgumentException(
      s"RowFilter field $fld (wire $wt) is outside the connector-emitted subset")
  }

  private def readCondition(cr: Reader): RowFilter = {
    var fam = ""; var q = ""
    var out: RowFilter = null
    cr.fields {
      case (1, _) => // predicate: Chain(family_regex, qualifier_regex)
        val pr = cr.subReader()
        pr.fields {
          case (1, _) =>
            val chain = pr.subReader()
            chain.fields {
              case (1, _) =>
                val el = chain.subReader()
                el.fields {
                  case (5, _) => fam = unquote(el.stringField())
                  case (6, _) => q = unquote(new String(el.bytesField(), StandardCharsets.UTF_8))
                  case (_, w) => el.skip(w)
                }
              case (_, w) => chain.skip(w)
            }
          case (_, w) => pr.skip(w)
        }
      case (2, _) => // true filter: value range or value regex
        val tr = cr.subReader()
        tr.fields {
          case (9, _) => out = RowFilter.QualifierValueRegex(fam, q,
            new String(tr.bytesField(), StandardCharsets.UTF_8))
          case (15, _) =>
            val vr = tr.subReader()
            var lo: Option[Array[Byte]] = None; var loInc = false
            var hi: Option[Array[Byte]] = None; var hiInc = false
            vr.fields {
              case (1, _) => lo = Some(vr.bytesField()); loInc = true
              case (2, _) => lo = Some(vr.bytesField()); loInc = false
              case (3, _) => hi = Some(vr.bytesField()); hiInc = true
              case (4, _) => hi = Some(vr.bytesField()); hiInc = false
              case (_, w) => vr.skip(w)
            }
            out = RowFilter.QualifierValueRange(fam, q, lo, loInc, hi, hiInc)
          case (_, w) => tr.skip(w)
        }
      case (3, _) => cr.skip(2) // false filter: pass_all, by construction
      case (_, w) => cr.skip(w)
    }
    require(out != null, "Condition without a recognized true filter")
    // Condition fields may arrive in any order, but the encoder writes
    // predicate first; re-scope in case the true filter landed earlier
    out match {
      case RowFilter.QualifierValueRegex(_, _, re) if fam.nonEmpty || q.nonEmpty =>
        RowFilter.QualifierValueRegex(fam, q, re)
      case RowFilter.QualifierValueRange(_, _, lo, li, hi, hiI) if fam.nonEmpty || q.nonEmpty =>
        RowFilter.QualifierValueRange(fam, q, lo, li, hi, hiI)
      case other => other
    }
  }

  /** Inverse of Pattern.quote's \Q...\E wrapping for the literal
    * family/qualifier names the encoder quoted.
    */
  private def unquote(s: String): String =
    if (s.startsWith("\\Q") && s.endsWith("\\E")) s.substring(2, s.length - 2) else s

  // ---- ReadRowsResponse -----------------------------------------------

  /** One `ReadRowsResponse` frame for a batch of rows: each cell is a
    * `CellChunk` (row_key on every chunk of the row is legal per the
    * published chunk contract — omission is an optimization, not a
    * requirement — and family/qualifier are always set the same way);
    * the row's last chunk carries commit_row=true.
    */
  def encodeReadRowsResponse(rows: Seq[BtRow]): Array[Byte] = {
    val w = new Writer
    rows.foreach { row =>
      val cells = row.cells
      cells.zipWithIndex.foreach { case (c, i) =>
        w.message(1, ch => {
          ch.bytes(1, utf8(row.rowKey))
          ch.message(2, _.string(1, c.family): Unit)
          ch.message(3, _.bytes(1, utf8(c.qualifier)): Unit)
          ch.int(4, c.timestampMicros)
          ch.bytes(6, if (c.value == null) Array.emptyByteArray else c.value)
          if (i == cells.length - 1) ch.bool(9, v = true): Unit
          ()
        }): Unit
      }
      // a cell-less row still needs its commit chunk
      if (cells.isEmpty)
        w.message(1, ch => { ch.bytes(1, utf8(row.rowKey)); ch.bool(9, v = true): Unit }): Unit
    }
    w.result()
  }

  /** Fold a `ReadRowsResponse` frame's chunks back into rows, honoring
    * commit_row/reset_row and carry-forward family/qualifier.
    */
  def decodeReadRowsResponse(bytes: Array[Byte]): Seq[BtRow] = {
    val out = Seq.newBuilder[BtRow]
    var key = ""; var fam = ""; var q = ""
    var cells = Vector.newBuilder[BtCell]
    val r = new Reader(bytes)
    r.fields {
      case (1, _) =>
        val ch = r.subReader()
        var ts = 0L; var value: Array[Byte] = Array.emptyByteArray
        var hasValue = false; var commit = false
        ch.fields {
          case (1, _) => key = new String(ch.bytesField(), StandardCharsets.UTF_8)
          case (2, _) =>
            val sv = ch.subReader()
            sv.fields { case (1, _) => fam = sv.stringField(); case (_, w) => sv.skip(w) }
          case (3, _) =>
            val bv = ch.subReader()
            bv.fields {
              case (1, _) => q = new String(bv.bytesField(), StandardCharsets.UTF_8)
              case (_, w) => bv.skip(w)
            }
          case (4, _) => ts = ch.varint()
          case (6, _) => value = ch.bytesField(); hasValue = true
          case (8, _) => // reset_row: discard the accumulated row
            ch.varint(); cells = Vector.newBuilder[BtCell]
          case (9, _) => commit = ch.varint() != 0L
          case (_, w) => ch.skip(w)
        }
        if (hasValue) cells += BtCell(fam, q, ts, value)
        if (commit) {
          out += BtRow(key, cells.result())
          cells = Vector.newBuilder[BtCell]
        }
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  // ---- SampleRowKeys / MutateRows / Status ------------------------------

  def encodeSampleRowKeysRequest(table: String): Array[Byte] =
    new Writer().string(1, table).result()

  def decodeSampleRowKeysRequest(bytes: Array[Byte]): String = {
    var table = ""
    val r = new Reader(bytes)
    r.fields { case (1, _) => table = r.stringField(); case (_, w) => r.skip(w) }
    table
  }

  /** One response message per sampled key, exactly the RPC's stream
    * element shape (row_key=1, offset_bytes=2).
    */
  def encodeSampleRowKey(key: String, offsetBytes: Long): Array[Byte] =
    new Writer().bytes(1, utf8(key)).int(2, offsetBytes).result()

  def decodeSampleRowKey(bytes: Array[Byte]): (String, Long) = {
    var key = ""; var off = 0L
    val r = new Reader(bytes)
    r.fields {
      case (1, _) => key = new String(r.bytesField(), StandardCharsets.UTF_8)
      case (2, _) => off = r.varint()
      case (_, w) => r.skip(w)
    }
    (key, off)
  }

  /** One `MutateRowsRequest.Entry` (row_key=1, mutations=2), so a
    * client can size each row before packing rows into requests.
    */
  def encodeMutateRowsEntry(key: String, cells: Seq[BtCell]): Array[Byte] = {
    val e = new Writer
    e.bytes(1, utf8(key))
    cells.foreach(c => e.message(2, m => m.message(1, sc => {
      sc.string(1, c.family)
      sc.bytes(2, utf8(c.qualifier))
      sc.int(3, c.timestampMicros)
      sc.bytes(4, if (c.value == null) Array.emptyByteArray else c.value)
      ()
    }): Unit): Unit)
    e.result()
  }

  /** A `MutateRowsRequest` from entries encoded by [[encodeMutateRowsEntry]]. */
  def encodeMutateRowsRequest(table: String, entries: Seq[Array[Byte]]): Array[Byte] = {
    val w = new Writer
    w.string(1, table)
    entries.foreach(w.bytes(2, _))
    w.result()
  }

  def decodeMutateRowsRequest(bytes: Array[Byte]): (String, Seq[(String, Seq[BtCell])]) = {
    var table = ""
    val entries = Seq.newBuilder[(String, Seq[BtCell])]
    val r = new Reader(bytes)
    r.fields {
      case (1, _) => table = r.stringField()
      case (2, _) =>
        val er = r.subReader()
        var key = ""
        val cells = Seq.newBuilder[BtCell]
        er.fields {
          case (1, _) => key = new String(er.bytesField(), StandardCharsets.UTF_8)
          case (2, _) =>
            val mr = er.subReader()
            mr.fields {
              case (1, _) =>
                val sc = mr.subReader()
                var fam = ""; var q = ""; var ts = 0L
                var v: Array[Byte] = Array.emptyByteArray
                sc.fields {
                  case (1, _) => fam = sc.stringField()
                  case (2, _) => q = new String(sc.bytesField(), StandardCharsets.UTF_8)
                  case (3, _) => ts = sc.varint()
                  case (4, _) => v = sc.bytesField()
                  case (_, w) => sc.skip(w)
                }
                cells += BtCell(fam, q, ts, v)
              case (_, w) => mr.skip(w)
            }
          case (_, w) => er.skip(w)
        }
        entries += ((key, cells.result()))
      case (_, wt) => r.skip(wt)
    }
    (table, entries.result())
  }

  /** `google.rpc.Status`: code=1, message=2. */
  def encodeStatus(code: Int, message: String): Array[Byte] =
    new Writer().int(1, code.toLong).string(2, message).result()

  def decodeStatus(bytes: Array[Byte]): (Int, String) = {
    var code = 0; var msg = ""
    val r = new Reader(bytes)
    r.fields {
      case (1, _) => code = r.varint().toInt
      case (2, _) => msg = r.stringField()
      case (_, w) => r.skip(w)
    }
    (code, msg)
  }

  // canonical gRPC status codes used on the error frame
  val InvalidArgument = 3
  val FailedPrecondition = 9
  val Unimplemented = 12
  val Unavailable = 14
  val Internal = 13

  def statusCodeOf(e: Throwable): Int = e match {
    case _: IllegalArgumentException      => InvalidArgument
    case _: IllegalStateException         => FailedPrecondition
    case _: UnsupportedOperationException => Unimplemented
    case _: TransientStoreException       => Unavailable
    case _                                => Internal
  }

  def exceptionOf(code: Int, message: String): Exception = code match {
    case InvalidArgument    => new IllegalArgumentException(message)
    case FailedPrecondition => new IllegalStateException(message)
    case Unimplemented      => new UnsupportedOperationException(message)
    case Unavailable        => new TransientStoreException(message)
    case _                  => new RuntimeException(message)
  }
}
