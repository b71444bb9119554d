package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** The protobuf wire codec must produce the PUBLISHED byte layout — not
  * just something its own decoder accepts — so golden-byte checks pin
  * the exact field/tag/varint encoding against hand-computed protobuf
  * (what `protoc` would emit for the same message), and round-trips
  * cover the full connector-emitted shape space. The transport tests
  * then prove the bytes drive a real scan across a TCP hop with the
  * semantics of the store it fronts: parity, streaming, error shapes,
  * frame limits, connection release, and fault recovery.
  */
class ReadRowsProtoSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("golden bytes: ReadRowsRequest matches the published proto layout") {
    // ReadRowsRequest { table_name: "t",
    //   rows { row_keys: "a", row_ranges { start_key_closed: "b", end_key_open: "c" } },
    //   filter { chain { filters { family_name_regex_filter: "f" }
    //                    filters { cells_per_column_limit_filter: 1 } } } }
    // computed by hand from google/bigtable/v2/{bigtable,data}.proto:
    //   table_name=1 → 0x0a; RowSet.row_keys=1 → 0x0a; row_ranges=2 → 0x12;
    //   RowRange.start_key_closed=1 → 0x0a; end_key_open=3 → 0x1a;
    //   RowFilter.chain=1 → 0x0a; Chain.filters=1 → 0x0a;
    //   family_name_regex_filter=5 → 0x2a; cells_per_column_limit=12 → 0x60
    val got = ReadRowsProto.encodeReadRowsRequest(
      "t",
      Seq(RowRange.point("a"), RowRange.closedOpen("b", "c")),
      Seq(RowFilter.FamilyNameRegex("f"), RowFilter.CellsPerColumnLimit(1)))
    assert(hex(got) == "0a0174120b0a016112060a01621a01631a0b0a090a032a01660a026001")
  }

  test("golden bytes: a single filter rides unchained, closed ranges use end_key_closed") {
    val got = ReadRowsProto.encodeReadRowsRequest(
      "t", Seq(RowRange.closed("a", "b")), Seq(RowFilter.CellsPerColumnLimit(1)))
    // rows { row_ranges { start_key_closed: "a", end_key_closed(4→0x22): "b" } }
    // filter { cells_per_column_limit_filter: 1 }
    assert(hex(got) == "0a0174120812060a01612201621a026001")
  }

  test("request round-trip: every connector-emitted range and filter shape") {
    val ranges = Seq(
      RowRange.point("k1"), RowRange.point("k2"),
      RowRange.closed("a#1", "a#9"), RowRange.closedOpen("b", "c"),
      RowRange("d", None, endInclusive = false))
    val filters = Seq(
      RowFilter.FamilyNameRegex("measurements"),
      RowFilter.CellsPerColumnLimit(1),
      RowFilter.ColumnQualifierRegex("\\Qpressure\\E|\\Qtemperature\\E"),
      RowFilter.QualifierValueRange("f", "q",
        Some(Array[Byte](1, 2)), true, Some(Array[Byte](3)), false),
      RowFilter.QualifierValueRegex("f", "q2", "\\Qx\\E|\\Qy\\E"))
    val (t2, r2, f2) = ReadRowsProto.decodeReadRowsRequest(
      ReadRowsProto.encodeReadRowsRequest("projects/p/tables/t", ranges, filters))
    assert(t2 == "projects/p/tables/t")
    // point keys come back first (row_keys before row_ranges), order inside each preserved
    assert(r2.toSet == ranges.toSet && r2.size == ranges.size)
    def comparable(f: RowFilter) = f match {
      case RowFilter.QualifierValueRange(fam, q, lo, li, hi, hiI) =>
        ("vr", fam, q, lo.map(_.toSeq), li, hi.map(_.toSeq), hiI)
      case other => ("f", other.toString, "", None, false, None, false)
    }
    assert(f2.map(comparable) == filters.map(comparable))
  }

  test("response round-trip: multi-cell rows, versions, empty rows, binary values") {
    val rows = Seq(
      BtRow("r1", Seq(
        BtCell("f", "q1", 100L, Array[Byte](1, 2, 3)),
        BtCell("f", "q1", 50L, Array[Byte]()),
        BtCell("g", "q2", 100L, CellCodec.encodeLong(42L)))),
      BtRow("r2", Nil),
      BtRow("r3", Seq(BtCell("f", "q", 7L, CellCodec.encodeString("v")))))
    val back = ReadRowsProto.decodeReadRowsResponse(ReadRowsProto.encodeReadRowsResponse(rows))
    assert(back.map(_.rowKey) == rows.map(_.rowKey))
    assert(back.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) ==
      rows.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))))
  }

  test("status codes map to the canonical exception classes, both ways") {
    val cases = Seq[(Throwable, Int)](
      (new IllegalArgumentException("x"), 3),
      (new IllegalStateException("x"), 9),
      (new UnsupportedOperationException("x"), 12),
      (new TransientStoreException("x"), 14),
      (new RuntimeException("x"), 13))
    cases.foreach { case (e, code) =>
      assert(ReadRowsProto.statusCodeOf(e) == code, e.getClass.getName)
      val (c2, m2) = ReadRowsProto.decodeStatus(ReadRowsProto.encodeStatus(code, "boom"))
      assert(c2 == code && m2 == "boom")
    }
    assert(ReadRowsProto.exceptionOf(14, "m").isInstanceOf[TransientStoreException])
    assert(ReadRowsProto.exceptionOf(3, "m").isInstanceOf[IllegalArgumentException])
  }

  // ---- transport over real TCP ----------------------------------------

  private def cell(q: String, ts: Long, v: String, fam: String = "f") =
    BtCell(fam, q, ts, CellCodec.encodeString(v))

  private lazy val backing = {
    val b = new ConcurrentBigtable
    Seq("a", "b", "c", "d", "e").zipWithIndex.foreach { case (k, i) =>
      b.mutateRows("t", Seq(k -> Seq(cell("q1", 100L + i, s"v$k"), cell("q1", 50L, s"old$k"),
        cell("q2", 100L + i, s"w$k"))))
    }
    b.mutateRows("wide", (0 until 1500).map(i => f"k$i%06d" -> Seq(cell("q", 1L, s"v$i"))))
    b
  }
  private lazy val server = new ProtoSocketBigtableServer(backing)
  private lazy val client = server.clientStore

  test("proto transport: readRows parity with the backing store (ranges + filters)") {
    val ranges = Seq(RowRange.closed("b", "d"))
    val filters = Seq(RowFilter.CellsPerColumnLimit(1))
    val direct = backing.readRows("t", ranges, filters).toSeq
    val remote = client.readRows("t", ranges, filters).toSeq
    assert(remote.map(_.rowKey) == direct.map(_.rowKey))
    assert(remote.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) ==
      direct.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))))
  }

  test("proto transport: multi-frame scan streams every row exactly once, in key order") {
    val remote = client.readRows("wide", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
    assert(remote.size == 1500 && remote == remote.sorted && remote.distinct.size == 1500)
  }

  test("proto transport: remote errors carry real status codes and keep their shape") {
    val e = intercept[IllegalArgumentException] {
      client.readRows("nope", Seq(RowRange.full), Nil).toSeq
    }
    assert(e.getMessage.contains("unknown bigtable table") && e.getMessage.contains("status 3"))
    intercept[IllegalArgumentException] { client.readRows("t", Nil, Nil) }
  }

  test("proto transport: sampleRowKeys, estimateSize, writes, truncate") {
    assert(client.sampleRowKeys("t") == backing.sampleRowKeys("t"))
    assert(client.estimateSize("t", Seq(RowRange.full)) ==
      backing.estimateSize("t", Seq(RowRange.full)))
    // writes through the wire land in a fresh store, not the shared backing
    val mutable = new ConcurrentBigtable
    val wServer = new ProtoSocketBigtableServer(mutable)
    val wClient = wServer.clientStore
    try {
      wClient.mutateRows("w", Seq(("zz", Seq(cell("q1", 1L, "new"))))) // proto MutateRowsRequest
      assert(wClient.readRows("w", Seq(RowRange.point("zz")), Nil).toSeq.size == 1)
      wClient.truncateTable("w")
      // truncate drops the table entirely: a scan now fails unknown-table
      intercept[IllegalArgumentException] {
        mutable.readRows("w", Seq(RowRange.full), Nil).toSeq
      }
    } finally wServer.close()
  }

  test("proto transport: a server fault mid-request surfaces as the mapped exception") {
    val e = intercept[UnsupportedOperationException] {
      // a RetryingStore is read-only: writes must 12/UNIMPLEMENTED
      new ProtoSocketBigtableServer(new RetryingStore(new ConcurrentBigtable))
        .clientStore.mutateRows("t", Seq(("k", Seq(cell("q", 1L, "v")))))
    }
    assert(e.getMessage.contains("status 12"))
  }

  test("proto transport: client state is only (host, port): a serialized clone still reads") {
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(client)
      oos.close()
      bos.toByteArray
    }
    assert(bytes.length < 4096, s"proto store handle should be tiny, was ${bytes.length}B")
    val clone = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[ProtoSocketBigtableStore]
    assert(clone.readRows("t", Seq(RowRange.point("a")), Nil).map(_.rowKey).toSeq == Seq("a"))
  }

  test("proto transport: partially-consumed scan releases the connection via close()") {
    val it = client.readRows("wide", Seq(RowRange.full), Nil)
    assert(it.next().rowKey == "k000000") // pull one row, leave the rest
    it match {
      case c: AutoCloseable => c.close()
      case other            => fail(s"proto scan iterator must be AutoCloseable, got ${other.getClass}")
    }
    // the socket is gone: further pulls see a closed stream, not a hang
    assert(!it.hasNext)
  }

  test("proto transport: mid-scan connection drop is a transient fault and RetryingStore resumes exactly") {
    // A rogue server that speaks the REAL protocol but hard-drops the
    // first two scans' connections after 2 frames — no end-of-stream, no
    // Status, just a closed socket (a crashed server / reset network).
    // The client must surface the truncation as TransientStoreException
    // (NOT a clean end — that would be silent data loss), and
    // RetryingStore must resume past the last delivered key over a fresh
    // connection with no dupes or gaps.
    import ProtoSocket._
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[Seq[RowRange]]()
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new java.net.ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    val accept = new Thread(() => {
      try while (true) {
        val sock = srv.accept()
        val n = served.getAndIncrement()
        val t = new Thread(() => {
          try {
            val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
            val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
            in.readByte() // method: ReadRows
            val (table, ranges, filters) = ReadRowsProto.decodeReadRowsRequest(readFrame(in)._2)
            requests.add(ranges)
            val frames = backing.readRows(table, ranges, filters).grouped(100).zipWithIndex
            var dropped = false
            while (frames.hasNext && !dropped) {
              val (batch, i) = frames.next()
              writeFrame(out, FlagMessage, ReadRowsProto.encodeReadRowsResponse(batch))
              out.flush()
              // drop the first TWO scans (the raw-client probe below and
              // the retried run's first attempt); later connections serve
              if (n <= 1 && i == 1) { sock.close(); dropped = true } // hard drop
            }
            if (!dropped) {
              writeFrame(out, FlagEndOk, Array.emptyByteArray); out.flush()
              sock.close()
            }
          } catch { case _: Throwable => () }
        })
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => () }
    })
    accept.setDaemon(true); accept.start()
    try {
      val flaky = new ProtoSocketBigtableStore("127.0.0.1", srv.getLocalPort)
      val e = intercept[TransientStoreException] {
        flaky.readRows("wide", Seq(RowRange.full), Nil).size
      }
      assert(e.getMessage.contains("mid-stream"))
      val retried = new RetryingStore(flaky, sleep = _ => ())
      val keys = retried.readRows("wide", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
      assert(keys.size == 1500)
      assert(keys == keys.sorted && keys.distinct.size == 1500)
      val reqs = requests.toArray(Array.empty[Seq[RowRange]])
      assert(reqs.length >= 3) // probe scan, dropped scan, resumed scan
      val resumed = reqs.last
      assert(RowRange.compareKeys(resumed.head.startKey, "k000199") > 0,
        s"resumed scan must start past the last delivered key, got ${resumed.head.startKey}")
    } finally srv.close()
  }

  test("proto transport: concurrent scans from many threads interleave safely") {
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        try counts.add(client.readRows("wide", Seq(RowRange.full), Nil).size)
        catch { case _: Throwable => counts.add(-1) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toSeq == Seq.fill(8)(1500))
  }

  test("proto transport: a bad request frame gets a Status reply, not a dropped connection") {
    import java.io.{DataInputStream, DataOutputStream}
    val sock = new java.net.Socket(server.host, server.port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      out.writeByte(ProtoSocket.MethodReadRows.toInt)
      out.writeByte(ProtoSocket.FlagMessage.toInt)
      out.writeInt(-1) // corrupt length prefix
      out.flush()
      val (flag, payload) = ProtoSocket.readFrame(new DataInputStream(sock.getInputStream))
      assert(flag == ProtoSocket.FlagError)
      val (code, msg) = ReadRowsProto.decodeStatus(payload)
      assert(code == 3 && msg.contains("bad frame length"), s"$code: $msg")
    } finally sock.close()
  }

  // ---- frame limits: rows the size of documents -------------------------

  private val BigRows = 512
  private val BigCellBytes = 200 * 1024

  /** 512 rows of one 200 KB cell each (~100 MB): far past one frame. */
  private def bigRows: Seq[(String, Seq[BtCell])] = (0 until BigRows).map { i =>
    f"r$i%04d" -> Seq(BtCell("f", "doc", 1L, Array.fill(BigCellBytes)((i % 127).toByte)))
  }

  private def assertBigRows(rows: Iterator[BtRow]): Unit = {
    var n = 0
    rows.foreach { r =>
      assert(r.rowKey == f"r$n%04d")
      val v = r.cells.head.value
      assert(v.length == BigCellBytes && v.forall(_ == (n % 127).toByte), s"row ${r.rowKey}")
      n += 1
    }
    assert(n == BigRows)
  }

  test("proto transport: a 512-row scan of 200 KB cells streams within the frame limit") {
    val b = new ConcurrentBigtable
    b.mutateRows("docs", bigRows)
    val srv = new ProtoSocketBigtableServer(b)
    try assertBigRows(srv.clientStore.readRows("docs", Seq(RowRange.full), Nil))
    finally srv.close()
  }

  test("proto transport: a 512-row mutateRows of 200 KB cells splits into requests under the limit") {
    val mutable = new ConcurrentBigtable
    val srv = new ProtoSocketBigtableServer(mutable)
    try {
      srv.clientStore.mutateRows("docs", bigRows)
      assertBigRows(mutable.readRows("docs", Seq(RowRange.full), Nil))
    } finally srv.close()
  }

  test("proto transport: a single row over MaxFrameBytes fails with a typed error naming the limit") {
    val huge = Seq("big" -> Seq(BtCell("f", "doc", 1L, new Array[Byte](ProtoSocket.MaxFrameBytes + 1))))
    val mutable = new ConcurrentBigtable
    mutable.mutateRows("docs", huge)
    val srv = new ProtoSocketBigtableServer(mutable)
    try {
      // write: refused client-side, before a byte is sent
      val w = intercept[IllegalArgumentException](srv.clientStore.mutateRows("docs", huge))
      assert(w.getMessage.contains("MaxFrameBytes"), w.getMessage)
      // read: refused server-side, answered as INVALID_ARGUMENT
      val r = intercept[IllegalArgumentException] {
        srv.clientStore.readRows("docs", Seq(RowRange.full), Nil).size
      }
      assert(r.getMessage.contains("MaxFrameBytes") && r.getMessage.contains("status 3"), r.getMessage)
    } finally srv.close()
  }
}
