package graft.store

import graft.model._

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicBoolean

/** [[BigtableStore]] transport whose every byte on the wire is a REAL
  * Bigtable v2 protobuf message ([[ReadRowsProto]] — the published
  * `ReadRowsRequest`/`ReadRowsResponse`/`SampleRowKeys`/`MutateRows`
  * layouts the reference exchanges over gRPC, execute_plan.rs:169-183),
  * framed exactly like gRPC frames them inside HTTP/2 DATA:
  * `[1-byte flag][4-byte big-endian length][message]`. Only the HTTP/2 +
  * TLS + auth channel itself is environment-blocked (no gRPC jars,
  * SURVEY.md §7.0); swapping this TCP listener for a tonic/grpc-java
  * channel changes NOTHING about the bytes each side produces and
  * consumes, so a real client drops in behind [[BigtableStore]] without
  * touching the composer or the pivot.
  *
  * Connection protocol (one RPC per connection): the client sends one
  * method byte, then its request as one frame; the server answers with
  * zero or more `flag=0` message frames (each a `ReadRowsResponse` batch
  * / `SampleRowKeysResponse` element / `MutateRowsResponse`), then
  * exactly one terminal frame: `flag=1` empty (OK end-of-stream, gRPC's
  * trailers-only success) or `flag=2` carrying a `google.rpc.Status`
  * with the canonical code — re-thrown client-side as the matching
  * exception class, so the mandatory-filter guard, unknown-table, and
  * transient-fault semantics keep their shape across the hop.
  *
  * Frame sizes: no frame exceeds [[ProtoSocket.MaxFrameBytes]]. Both
  * sides pack rows with [[ProtoSocket.packRows]] — a `ReadRowsResponse`
  * (server) or `MutateRowsRequest` (client) closes at
  * [[ProtoSocket.BatchRows]] rows or before the row that would carry it
  * past [[ProtoSocket.FrameBudgetBytes]], so a large scan or write
  * becomes several frames or requests (`MutateRows` is atomic per row
  * only, so splitting a write keeps its semantics). A single row that
  * encodes past `MaxFrameBytes` cannot travel: [[ProtoSocket.writeFrame]]
  * refuses it with an `IllegalArgumentException` naming the limit.
  *
  * Two emulator-extension methods sit OUTSIDE the Bigtable data API
  * (their real-world counterparts live elsewhere): EstimateSize (the
  * connector's stats hook; production derives it from SampleRowKeys
  * offsets) reuses the ReadRowsRequest shape and answers one
  * SampleRowKeysResponse-shaped frame (offset_bytes = byte estimate,
  * row_key = the row-count estimate as a decimal string), and
  * TruncateTable (admin API `DropRowRange` in production) reuses the
  * SampleRowKeysRequest shape.
  */
object ProtoSocket {
  val MethodReadRows: Byte = 1
  val MethodSampleRowKeys: Byte = 2
  val MethodMutateRows: Byte = 3
  val MethodEstimateSize: Byte = 4 // emulator extension (stats hook)
  val MethodTruncateTable: Byte = 5 // emulator extension (admin DropRowRange)

  val FlagMessage: Byte = 0
  val FlagEndOk: Byte = 1
  val FlagError: Byte = 2

  /** Rows per `ReadRowsResponse` frame / `MutateRowsRequest`: bounds
    * both sides' memory while amortizing per-frame overhead.
    */
  val BatchRows = 512

  /** Bytes after which a frame of several rows closes: gRPC's default
    * inbound message limit (4 MiB), well below [[MaxFrameBytes]].
    */
  val FrameBudgetBytes: Int = 4 * 1024 * 1024

  /** Hard frame limit on both sides: a corrupt length prefix must not
    * become a multi-GB allocation, and a row that encodes past it is
    * refused rather than sent.
    */
  val MaxFrameBytes: Int = 64 * 1024 * 1024

  def writeFrame(out: DataOutputStream, flag: Byte, payload: Array[Byte]): Unit = {
    require(payload.length <= MaxFrameBytes,
      s"proto frame of ${payload.length} bytes exceeds MaxFrameBytes ($MaxFrameBytes bytes): " +
        "a single row must encode below this limit to cross the wire")
    out.writeByte(flag.toInt)
    out.writeInt(payload.length)
    out.write(payload)
  }

  /** Groups encoded rows into frames: a frame takes rows until it holds
    * [[BatchRows]] of them or the next row would carry it past
    * [[FrameBudgetBytes]]; a row larger than the budget travels alone.
    */
  def packRows(rows: Iterator[Array[Byte]]): Iterator[Vector[Array[Byte]]] = {
    val in = rows.buffered
    Iterator.continually {
      val frame = Vector.newBuilder[Array[Byte]]
      var n = 0
      var bytes = 0L
      while (in.hasNext && n < BatchRows && (n == 0 || bytes + in.head.length <= FrameBudgetBytes)) {
        val row = in.next()
        frame += row
        n += 1
        bytes += row.length
      }
      frame.result()
    }.takeWhile(_.nonEmpty)
  }

  def readFrame(in: DataInputStream): (Byte, Array[Byte]) = {
    val flag = in.readByte()
    val len = in.readInt()
    require(len >= 0 && len <= MaxFrameBytes, s"bad frame length $len")
    val buf = new Array[Byte](len)
    in.readFully(buf)
    (flag, buf)
  }
}

/** Serves a backing [[BigtableStore]] with the protobuf wire protocol. */
final class ProtoSocketBigtableServer(backing: BigtableStore, bindAddress: String = "127.0.0.1") {
  import ProtoSocket._

  private val addr = InetAddress.getByName(bindAddress)
  require(addr.isLoopbackAddress,
    s"ProtoSocketBigtableServer binds loopback only, got $bindAddress — production swaps " +
      "this listener for an authenticated gRPC channel, not an open TCP port")

  private val server = new ServerSocket(0, 64, addr)
  private val running = new AtomicBoolean(true)

  val port: Int = server.getLocalPort
  val host: String = bindAddress

  private val acceptThread = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), s"proto-bigtable-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running.get() => ()
        case _: Throwable                   => ()
      }
    }
  }, s"proto-bigtable-accept-$port")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def clientStore: ProtoSocketBigtableStore = new ProtoSocketBigtableStore(host, port)

  private def handle(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      try {
        // inside the try: a bad request frame gets a Status reply, not a
        // dropped connection
        val method = in.readByte()
        val (_, req) = readFrame(in)
        method match {
          case MethodReadRows =>
            val (table, ranges, filters) = ReadRowsProto.decodeReadRowsRequest(req)
            // responses concatenate: one row's chunks per part, one part per row
            val rows = backing.readRows(table, ranges, filters)
              .map(r => ReadRowsProto.encodeReadRowsResponse(Seq(r)))
            packRows(rows).foreach(frame => writeFrame(out, FlagMessage, Array.concat(frame: _*)))
            writeFrame(out, FlagEndOk, Array.emptyByteArray)
          case MethodSampleRowKeys =>
            val table = ReadRowsProto.decodeSampleRowKeysRequest(req)
            backing.sampleRowKeys(table).foreach(k =>
              writeFrame(out, FlagMessage, ReadRowsProto.encodeSampleRowKey(k, 0L)))
            writeFrame(out, FlagEndOk, Array.emptyByteArray)
          case MethodMutateRows =>
            val (table, mutations) = ReadRowsProto.decodeMutateRowsRequest(req)
            backing match {
              case m: MutableBigtableStore =>
                m.mutateRows(table, mutations)
                writeFrame(out, FlagEndOk, Array.emptyByteArray)
              case _ => throw new UnsupportedOperationException(
                s"store behind proto server does not accept writes (table $table)")
            }
          case MethodEstimateSize =>
            val (table, ranges, _) = ReadRowsProto.decodeReadRowsRequest(req)
            backing.estimateSize(table, ranges).foreach { case (rows, bytes) =>
              writeFrame(out, FlagMessage, ReadRowsProto.encodeSampleRowKey(rows.toString, bytes))
            }
            writeFrame(out, FlagEndOk, Array.emptyByteArray)
          case MethodTruncateTable =>
            val table = ReadRowsProto.decodeSampleRowKeysRequest(req)
            backing match {
              case m: MutableBigtableStore =>
                m.truncateTable(table)
                writeFrame(out, FlagEndOk, Array.emptyByteArray)
              case _ => throw new UnsupportedOperationException(
                s"store behind proto server does not accept writes (table $table)")
            }
          case other => throw new IllegalArgumentException(s"unknown method $other")
        }
        out.flush()
      } catch {
        case e: Throwable =>
          try {
            writeFrame(out, FlagError, ReadRowsProto.encodeStatus(
              ReadRowsProto.statusCodeOf(e), Option(e.getMessage).getOrElse("")))
            out.flush()
          } catch { case _: Throwable => () }
      }
    } catch {
      case _: Throwable => () // client went away; drop the connection
    } finally {
      try sock.close() catch { case _: Throwable => () }
    }
  }

  def close(): Unit = {
    running.set(false)
    try server.close() catch { case _: Throwable => () }
  }
}

/** Client-side [[BigtableStore]] over the protobuf wire protocol: state
  * is exactly (host, port) — the executor-task shape. Mid-stream
  * connection loss surfaces as [[TransientStoreException]] so
  * [[RetryingStore]] resumes past the last delivered key, exactly like
  * the real client restarts a broken ReadRows stream.
  */
final class ProtoSocketBigtableStore(host: String, port: Int) extends MutableBigtableStore {
  import ProtoSocket._

  private def connect(method: Byte, request: Array[Byte]): (Socket, DataInputStream) = {
    val sock = new Socket(host, port)
    try {
      sock.setTcpNoDelay(true)
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      out.writeByte(method.toInt)
      writeFrame(out, FlagMessage, request)
      out.flush()
      (sock, new DataInputStream(new BufferedInputStream(sock.getInputStream)))
    } catch { case e: Throwable => sock.close(); throw e }
  }

  private def rethrow(status: Array[Byte]): Nothing = {
    val (code, msg) = ReadRowsProto.decodeStatus(status)
    throw ReadRowsProto.exceptionOf(code, s"$msg (status $code via proto store $host:$port)")
  }

  /** Drain a unary/stream RPC: message frames fold through `f`, the
    * terminal frame resolves (OK) or rethrows (Status).
    */
  private def drain(method: Byte, request: Array[Byte])(f: Array[Byte] => Unit): Unit = {
    val (sock, in) = connect(method, request)
    try {
      var done = false
      while (!done) {
        val (flag, payload) = readFrame(in)
        flag match {
          case FlagMessage => f(payload)
          case FlagEndOk   => done = true
          case FlagError   => rethrow(payload)
          case other       => throw new IllegalStateException(s"unknown frame flag $other")
        }
      }
    } finally sock.close()
  }

  override def readRows(
      table: String, ranges: Seq[RowRange], filters: Seq[RowFilter]): Iterator[BtRow] = {
    require(ranges.nonEmpty,
      "readRows requires at least one RowRange; use Seq(RowRange.full) for an explicit full scan")
    val (sock, in) = connect(MethodReadRows,
      ReadRowsProto.encodeReadRowsRequest(table, ranges, filters))
    new Iterator[BtRow] with AutoCloseable {
      private var buf: Iterator[BtRow] = Iterator.empty
      private var closed = false
      private def closeAll(): Unit =
        if (!closed) { closed = true; try sock.close() catch { case _: Throwable => () } }
      override def close(): Unit = closeAll()

      @annotation.tailrec
      private def refill(): Boolean = {
        if (closed) false
        else if (buf.hasNext) true
        else {
          val (flag, payload) =
            try readFrame(in)
            catch {
              case _: EOFException =>
                closeAll()
                throw new TransientStoreException(
                  s"proto scan connection closed mid-stream before end-of-stream ($host:$port)")
              case e: java.io.IOException =>
                closeAll()
                throw new TransientStoreException(
                  s"proto scan connection failed mid-stream: ${e.getMessage} ($host:$port)")
            }
          flag match {
            case FlagMessage =>
              buf = ReadRowsProto.decodeReadRowsResponse(payload).iterator
              refill()
            case FlagEndOk => closeAll(); false
            case FlagError => closeAll(); rethrow(payload)
            case other     => closeAll(); throw new IllegalStateException(s"unknown frame flag $other")
          }
        }
      }
      override def hasNext: Boolean = refill()
      override def next(): BtRow = {
        if (!hasNext) throw new NoSuchElementException("exhausted proto scan")
        buf.next()
      }
    }
  }

  override def sampleRowKeys(table: String): Seq[String] = {
    val keys = Seq.newBuilder[String]
    drain(MethodSampleRowKeys, ReadRowsProto.encodeSampleRowKeysRequest(table)) { payload =>
      keys += ReadRowsProto.decodeSampleRowKey(payload)._1
    }
    keys.result()
  }

  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] = {
    var result: Option[(Long, Long)] = None
    drain(MethodEstimateSize, ReadRowsProto.encodeReadRowsRequest(table, ranges, Nil)) { payload =>
      val (rows, bytes) = ReadRowsProto.decodeSampleRowKey(payload)
      result = Some((rows.toLong, bytes))
    }
    result
  }

  /** One `MutateRows` RPC per packed request ([[ProtoSocket.packRows]]):
    * a large write splits at row boundaries, which keeps its per-row
    * atomicity.
    */
  override def mutateRows(table: String, mutations: Seq[(String, Seq[BtCell])]): Unit =
    packRows(mutations.iterator.map { case (key, cells) => ReadRowsProto.encodeMutateRowsEntry(key, cells) })
      .foreach(entries =>
        drain(MethodMutateRows, ReadRowsProto.encodeMutateRowsRequest(table, entries))(_ => ()))

  override def truncateTable(table: String): Unit =
    drain(MethodTruncateTable, ReadRowsProto.encodeSampleRowKeysRequest(table))(_ => ())
}
