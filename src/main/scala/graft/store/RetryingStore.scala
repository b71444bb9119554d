package graft.store

import graft.model.{BtRow, RowFilter, RowRange}

/** Signals a transient transport failure (the emulator-world analogue of
  * gRPC UNAVAILABLE / DEADLINE_EXCEEDED): safe to retry.
  */
final class TransientStoreException(msg: String) extends RuntimeException(msg)

/** Transport-fault tolerance decorator over any [[BigtableStore]] — the
  * behavior a real gRPC-backed implementation needs and the reference
  * leaves to its client library (`BigTableConnection::new`,
  * /root/reference/src/datasource.rs:81-88): bounded exponential-backoff
  * retries of transient failures.
  *
  * The essential subtlety is that [[BigtableStore.readRows]] returns a
  * STREAMING iterator, so a fault can surface mid-stream after rows were
  * already delivered. The decorator retries mid-stream failures by
  * re-issuing the read over only the REMAINING key space — every range
  * clamped past the last delivered key — which is exactly how the real
  * Bigtable client resumes a broken ReadRows stream (restart with the
  * not-yet-returned row set). Rows are never duplicated and never
  * skipped, so a Spark task that hits transient transport errors
  * completes with correct results instead of failing the stage.
  *
  * Backoff doubles from `baseBackoffMs` up to `maxBackoffMs` per attempt
  * (deterministic — jitter belongs in the transport client); `sleep` is
  * injectable so tests run without wall-clock delays.
  */
final class RetryingStore(
    underlying: BigtableStore,
    maxAttempts: Int = 5,
    baseBackoffMs: Long = 10L,
    maxBackoffMs: Long = 2000L,
    isTransient: Throwable => Boolean = RetryingStore.defaultTransient,
    sleep: Long => Unit = Thread.sleep
) extends BigtableStore {
  require(maxAttempts >= 1)

  private def backoff(attempt: Int): Unit =
    sleep(math.min(maxBackoffMs, baseBackoffMs << math.min(attempt, 20)))

  private def withRetries[A](op: () => A): A = {
    var attempt = 0
    while (true) {
      try return op()
      catch {
        case e: Throwable if isTransient(e) && attempt < maxAttempts - 1 =>
          backoff(attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Ranges still to read once every key <= `lastKey` has been
    * delivered: `lastKey + "\u0000"` is the immediate successor in
    * UTF-8-byte order (one extra 0x00 byte), so clamping each range's
    * start to it resumes exactly after the last delivered row.
    */
  private def remaining(ranges: Seq[RowRange], lastKey: String): Seq[RowRange] = {
    val succ = lastKey + "\u0000"
    ranges.flatMap { r =>
      if (RowRange.compareKeys(succ, r.startKey) <= 0) Some(r) // untouched range
      else r.endKey match {
        case None => Some(RowRange(succ, None, r.endInclusive))
        case Some(e) =>
          val c = RowRange.compareKeys(succ, e)
          if (c < 0 || (c == 0 && r.endInclusive)) Some(RowRange(succ, r.endKey, r.endInclusive))
          else None // range fully delivered
      }
    }
  }

  // AutoCloseable (ADVICE r14): the connector's partition reader closes
  // its row source on early termination (pushed limit/topN), and a plain
  // Iterator wrapper here would swallow that close — leaking the
  // ProtoSocketBigtableStore connection and pinning the server writer
  // thread on exactly the retry-wrapped configuration a real deployment
  // runs.
  override def readRows(
      table: String,
      ranges: Seq[RowRange],
      filters: Seq[RowFilter]
  ): Iterator[BtRow] = new Iterator[BtRow] with AutoCloseable {
    private var attempt = 0
    private var lastKey: Option[String] = None
    private var current: Iterator[BtRow] = withRetries(() => underlying.readRows(table, ranges, filters))

    override def close(): Unit = current match {
      case c: AutoCloseable => try c.close() catch { case _: Throwable => () }
      case _ => ()
    }

    private def reconnectFrom(): Iterator[BtRow] = {
      val rs = lastKey.map(remaining(ranges, _)).getOrElse(ranges)
      if (rs.isEmpty) Iterator.empty
      else underlying.readRows(table, rs, filters)
    }

    /** Run `f` on the live stream, resuming past `lastKey` on transient
      * mid-stream faults. The RE-OPEN runs inside the try (via the
      * `current == null` arm), not inside the catch handler: a server
      * still coming back up throws again on the resumed readRows, and a
      * throw from a catch block would escape the loop with retry
      * attempts unused — exactly the outage pattern the decorator
      * exists to survive.
      */
    private def guarded[A](f: Iterator[BtRow] => A): A = {
      while (true) {
        try {
          if (current == null) current = reconnectFrom()
          return f(current)
        } catch {
          case e: Throwable if isTransient(e) && attempt < maxAttempts - 1 =>
            backoff(attempt)
            attempt += 1
            // the broken stream may still hold transport resources —
            // release them before the next iteration's re-open
            close()
            current = null
        }
      }
      throw new IllegalStateException("unreachable")
    }

    override def hasNext: Boolean = guarded(_.hasNext)
    override def next(): BtRow = {
      val row = guarded(_.next())
      lastKey = Some(row.rowKey)
      row
    }
  }

  override def sampleRowKeys(table: String): Seq[String] =
    withRetries(() => underlying.sampleRowKeys(table))

  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] =
    withRetries(() => underlying.estimateSize(table, ranges))
}

object RetryingStore {
  /** Transient by default: our emulator-world marker plus I/O-level
    * failures (a gRPC client maps UNAVAILABLE/DEADLINE_EXCEEDED/ABORTED
    * here via `isTransient`).
    */
  def defaultTransient(e: Throwable): Boolean = e match {
    case _: TransientStoreException => true
    case _: java.io.IOException     => true
    case _                          => false
  }
}

/** Deterministic fault injector for retry testing: the first `maxFaults`
  * streams opened through readRows each break with a
  * [[TransientStoreException]] after `failAfterRows` rows have been
  * delivered (0 = fail before the first row); subsequent streams —
  * including the resumed reads the retry layer issues — are healthy.
  * `callFaults` additionally fails the first invocation of
  * sampleRowKeys/estimateSize per table.
  */
final class FaultInjectingStore(
    underlying: BigtableStore,
    failAfterRows: Int = 2,
    callFaults: Boolean = true,
    maxFaults: Int = 1
) extends BigtableStore {
  private val injected = new java.util.concurrent.atomic.AtomicInteger(0)
  private val seenCalls = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def readRows(
      table: String,
      ranges: Seq[RowRange],
      filters: Seq[RowFilter]
  ): Iterator[BtRow] = {
    val inner = underlying.readRows(table, ranges, filters)
    if (injected.getAndIncrement() >= maxFaults) inner // healthy stream
    else new Iterator[BtRow] with AutoCloseable {
      override def close(): Unit = inner match {
        case c: AutoCloseable => try c.close() catch { case _: Throwable => () }
        case _ => ()
      }
      private var delivered = 0
      override def hasNext: Boolean = {
        if (delivered >= failAfterRows)
          throw new TransientStoreException(s"injected stream fault after $delivered rows ($table)")
        inner.hasNext
      }
      override def next(): BtRow = {
        if (delivered >= failAfterRows)
          throw new TransientStoreException(s"injected stream fault after $delivered rows ($table)")
        val r = inner.next(); delivered += 1; r
      }
    }
  }

  override def sampleRowKeys(table: String): Seq[String] = {
    if (callFaults && seenCalls.add(s"sample|$table"))
      throw new TransientStoreException(s"injected call fault: sampleRowKeys($table)")
    underlying.sampleRowKeys(table)
  }

  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] = {
    if (callFaults && seenCalls.add(s"estimate|$table"))
      throw new TransientStoreException(s"injected call fault: estimateSize($table)")
    underlying.estimateSize(table, ranges)
  }
}
