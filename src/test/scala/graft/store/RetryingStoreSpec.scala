package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

class RetryingStoreSpec extends AnyFunSuite {
  private def cell(q: String, ts: Long, v: String) = BtCell("f", q, ts, CellCodec.encodeString(v))

  private def freshStore = {
    val store = new ConcurrentBigtable
    store.mutateRows("t", Seq("a", "ab", "a\u0001", "b", "c", "d", "e").map(k => k -> Seq(cell("q1", 100L, s"v$k"))))
    store
  }
  // "a\u0001" sits between "a" and its +NUL successor's neighbours — a
  // resume right after "a" must not skip it
  private val allKeys = Seq("a", "a\u0001", "ab", "b", "c", "d", "e") // UTF-8 byte order

  private def retrying(inner: BigtableStore, maxAttempts: Int = 5) = {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    (new RetryingStore(inner, maxAttempts = maxAttempts, sleep = slept += _), slept)
  }

  test("mid-stream fault resumes exactly after the last delivered key (no dup, no skip)") {
    for (failAfter <- 0 to 6) {
      val (store, _) = retrying(new FaultInjectingStore(freshStore, failAfterRows = failAfter, callFaults = false))
      val keys = store.readRows("t", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
      assert(keys == allKeys, s"failAfter=$failAfter")
    }
  }

  test("retry and fault-injection iterators forward close() to the live stream") {
    // ADVICE r14: a plain Iterator wrapper made the pivot's close() a
    // no-op under retry wrapping — early termination (pushed limit/topN)
    // then leaked the client socket on the real-deployment path
    val closed = new java.util.concurrent.atomic.AtomicInteger(0)
    val closable = new BigtableStore {
      val inner = freshStore
      override def readRows(t: String, r: Seq[RowRange], f: Seq[RowFilter]): Iterator[BtRow] =
        new Iterator[BtRow] with AutoCloseable {
          private val it = inner.readRows(t, r, f)
          override def hasNext: Boolean = it.hasNext
          override def next(): BtRow = it.next()
          override def close(): Unit = closed.incrementAndGet(): Unit
        }
      override def sampleRowKeys(t: String): Seq[String] = inner.sampleRowKeys(t)
      override def estimateSize(t: String, r: Seq[RowRange]): Option[(Long, Long)] =
        inner.estimateSize(t, r)
    }
    // retry wrapper alone
    val (store, _) = retrying(closable)
    store.readRows("t", Seq(RowRange.full), Nil) match {
      case c: AutoCloseable => c.close()
      case _ => fail("RetryingStore.readRows iterator must be AutoCloseable")
    }
    assert(closed.get() == 1, "close must reach the underlying stream")
    // fault-injection wrapper (the faulty window) must forward too
    val faulty = new FaultInjectingStore(closable, failAfterRows = 99, callFaults = false)
    faulty.readRows("t", Seq(RowRange.full), Nil) match {
      case c: AutoCloseable => c.close()
      case _ => fail("FaultInjectingStore.readRows iterator must be AutoCloseable")
    }
    assert(closed.get() == 2)
    // a mid-stream fault closes the broken stream before resuming
    closed.set(0)
    val (store2, _) = retrying(new FaultInjectingStore(closable, failAfterRows = 2, callFaults = false))
    val keys = store2.readRows("t", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
    assert(keys == allKeys)
    assert(closed.get() >= 1, "the faulted stream must be closed on resume")
  }

  test("resume clamps multi-range reads correctly") {
    val ranges = Seq(RowRange.closed("a", "ab"), RowRange.closed("c", "e"))
    val (store, _) = retrying(new FaultInjectingStore(freshStore, failAfterRows = 2, callFaults = false))
    val keys = store.readRows("t", ranges, Nil).map(_.rowKey).toSeq
    assert(keys == Seq("a", "a\u0001", "ab", "c", "d", "e"))
  }

  test("call-level faults on sampleRowKeys/estimateSize are retried with backoff") {
    val (store, slept) = retrying(new FaultInjectingStore(freshStore, callFaults = true))
    assert(store.sampleRowKeys("t") == freshStore.sampleRowKeys("t"))
    assert(store.estimateSize("t", Seq(RowRange.full)) == freshStore.estimateSize("t", Seq(RowRange.full)))
    assert(slept.nonEmpty && slept.forall(_ >= 10L))
  }

  test("permanent faults surface after maxAttempts, with exponential backoff between tries") {
    val broken = new BigtableStore {
      override def readRows(t: String, r: Seq[RowRange], f: Seq[RowFilter]): Iterator[BtRow] =
        throw new TransientStoreException("always down")
    }
    val (store, slept) = retrying(broken, maxAttempts = 4)
    intercept[TransientStoreException] {
      store.readRows("t", Seq(RowRange.full), Nil)
    }
    assert(slept.toSeq == Seq(10L, 20L, 40L))
  }

  test("non-transient faults are NOT retried") {
    val broken = new BigtableStore {
      override def readRows(t: String, r: Seq[RowRange], f: Seq[RowFilter]): Iterator[BtRow] =
        throw new IllegalArgumentException("bad request")
    }
    val (store, slept) = retrying(broken)
    intercept[IllegalArgumentException] {
      store.readRows("t", Seq(RowRange.full), Nil)
    }
    assert(slept.isEmpty)
  }

  test("a transient fault at RECONNECT time consumes the retry budget instead of failing") {
    // a server still coming back up throws on the resumed readRows call
    // itself — that throw must re-enter the retry loop (backoff + next
    // attempt), not escape from the catch handler with attempts unused
    val inner = freshStore
    val opens = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new BigtableStore {
      override def readRows(t: String, r: Seq[RowRange], f: Seq[RowFilter]): Iterator[BtRow] = {
        val n = opens.getAndIncrement()
        if (n == 0) new Iterator[BtRow] { // first stream breaks mid-read
          private val it = inner.readRows(t, r, f)
          private var d = 0
          override def hasNext: Boolean = {
            if (d >= 2) throw new TransientStoreException("mid-stream"); it.hasNext
          }
          override def next(): BtRow = {
            if (d >= 2) throw new TransientStoreException("mid-stream"); d += 1; it.next()
          }
        }
        else if (n <= 2) throw new TransientStoreException("server still restarting")
        else inner.readRows(t, r, f)
      }
      override def sampleRowKeys(t: String): Seq[String] = inner.sampleRowKeys(t)
      override def estimateSize(t: String, r: Seq[RowRange]): Option[(Long, Long)] =
        inner.estimateSize(t, r)
    }
    val (store, slept) = retrying(flaky)
    val keys = store.readRows("t", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
    assert(keys == allKeys)
    // one mid-stream fault + two failed re-opens = three backoffs
    assert(slept.toSeq == Seq(10L, 20L, 40L))
  }

  test("a connector query through a flaky store returns correct results") {
    val spark = graft.SparkTestSession.spark
    val name = "retrying-spec-store"
    BigtableStores.register(name,
      new RetryingStore(new FaultInjectingStore(freshStore, failAfterRows = 1, maxFaults = 3), sleep = _ => ()))
    val df = spark.read.format("bigtable")
      .option("store", name)
      .option("table", "t")
      .option("columnFamily", "f")
      .option("partitionCols", "k")
      .option("qualifiers", "q1:string")
      .option("allowFullScan", "true")
      .load()
    assert(df.count() == 7)
    assert(df.where(org.apache.spark.sql.functions.col("k") === "c").count() == 1)
  }
}
