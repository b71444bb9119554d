package graft.perfbench

import graft.model.{BtCell, BtRow, RowFilter, RowRange}
import graft.store.MutableBigtableStore

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** One timed interval at a layer boundary. `op` is the operation it
  * belongs to (-1 outside any), `replay` marks the after-op reader
  * replay, which is not part of the op's time. Times are epoch
  * nanoseconds so listener events (epoch milliseconds) share the clock.
  */
final case class Span(id: Long, parent: Long, op: Int, replay: Boolean, name: String,
    layer: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span and counter store for the traced mode. The loop has a
  * single client, so whatever runs while `op` is set belongs to that op.
  */
final class Tracer {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  @volatile var op: Int = -1
  @volatile var replay: Boolean = false

  /** Open driver-side spans, innermost first (driver code is one thread). */
  @volatile private var stack: List[Long] = Nil
  def currentParent: Long = stack.headOption.getOrElse(0L)

  /** Spark local property carrying the innermost open span, so the
    * listener can parent the jobs a span launches.
    */
  var onParentChange: Long => Unit = _ => ()

  def span[A](name: String, layer: String)(body: => A): A = {
    val id = nextId()
    val parent = currentParent
    stack = id :: stack
    onParentChange(id)
    val start = now()
    try body
    finally {
      val end = now()
      stack = stack.tail
      onParentChange(currentParent)
      record(Span(id, parent, op, replay, name, layer, start, end))
    }
  }

  def record(s: Span): Unit = if (s.op >= 0) spans.add(s): Unit

  private val counters = new ConcurrentHashMap[(Int, String), LongAdder]()

  /** Add to a counter of the current op; replay counters carry a
    * `replay.` prefix so they never mix with the op's own.
    */
  def add(key: String, v: Long): Unit = addTo(op, key, v)
  def addTo(o: Int, key: String, v: Long): Unit =
    if (o >= 0) {
      val k = if (replay) s"replay.$key" else key
      counters.computeIfAbsent((o, k), _ => new LongAdder).add(v)
    }
  def counter(o: Int, key: String): Long =
    Option(counters.get((o, key))).map(_.sum()).getOrElse(0L)
}

object Tracer {
  /** Span ids of listener-derived spans live in their own ranges. */
  def jobSpanId(jobId: Int): Long = (1L << 40) + jobId
  def taskSpanId(taskId: Long): Long = (1L << 41) + taskId

  /** Self time of each span: its duration minus the union of its
    * children's intervals clipped to it. Children may overlap (store
    * reads of parallel tasks); the union counts each instant once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.dur - Stats.unionLength(kids))
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** `store` layer probe: wraps the wire client, times every call and the
  * returned iterator's `hasNext`/`next`, counts rows, cells and bytes.
  * A `hasNext` that blocks (a frame refill from the wire) is recorded as
  * a span; the cheap in-buffer calls only add to the busy time.
  */
final class TracingStore(underlying: MutableBigtableStore, tracer: Tracer)
    extends MutableBigtableStore {

  private def parent: Long = {
    val tc = TaskContext.get()
    if (tc != null) Tracer.taskSpanId(tc.taskAttemptId()) else tracer.currentParent
  }

  private def timed[A](name: String, calls: String, ms: String)(body: => A): A = {
    val p = parent
    val o = tracer.op
    val t0 = tracer.now()
    try body
    finally {
      val t1 = tracer.now()
      tracer.addTo(o, calls, 1)
      tracer.addTo(o, ms, t1 - t0)
      tracer.record(Span(tracer.nextId(), p, o, tracer.replay, name, "store", t0, t1))
    }
  }

  override def readRows(table: String, ranges: Seq[RowRange], filters: Seq[RowFilter]): Iterator[BtRow] = {
    val p = parent
    val o = tracer.op
    val replay = tracer.replay
    val t0 = tracer.now()
    val it = underlying.readRows(table, ranges, filters)
    val t1 = tracer.now()
    tracer.addTo(o, "store.read_calls", 1)
    tracer.addTo(o, "store.read_ns", t1 - t0)
    tracer.record(Span(tracer.nextId(), p, o, replay, "store.read", "store", t0, t1))
    new Iterator[BtRow] with AutoCloseable {
      private val MinSpanNs = 20000L
      private def timedStep[A](body: => A): A = {
        val s = tracer.now()
        try body
        finally {
          val e = tracer.now()
          tracer.addTo(o, "store.read_ns", e - s)
          if (e - s >= MinSpanNs)
            tracer.record(Span(tracer.nextId(), p, o, replay, "store.read", "store", s, e))
        }
      }
      override def hasNext: Boolean = timedStep(it.hasNext)
      override def next(): BtRow = {
        val r = timedStep(it.next())
        tracer.addTo(o, "store.rows_read", 1)
        tracer.addTo(o, "store.cells_read", r.cells.size)
        tracer.addTo(o, "store.bytes_read", TracingStore.bytes(r.rowKey, r.cells))
        r
      }
      override def close(): Unit = it match {
        case c: AutoCloseable => c.close()
        case _                => ()
      }
    }
  }

  override def sampleRowKeys(table: String): Seq[String] =
    timed("store.sample", "store.sample_calls", "store.sample_ns")(underlying.sampleRowKeys(table))

  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] =
    timed("store.estimate", "store.estimate_calls", "store.estimate_ns")(
      underlying.estimateSize(table, ranges))

  override def mutateRows(table: String, mutations: Seq[(String, Seq[BtCell])]): Unit = {
    timed("store.mutate", "store.mutate_calls", "store.mutate_ns")(
      underlying.mutateRows(table, mutations))
    tracer.add("store.cells_written", mutations.map(_._2.size.toLong).sum)
  }

  override def truncateTable(table: String): Unit = underlying.truncateTable(table)
}

object TracingStore {
  /** Payload bytes of a row as the wire carries it: key, qualifiers, values, timestamps. */
  def bytes(key: String, cells: Seq[BtCell]): Long =
    key.length + cells.iterator.map(c => 8L + c.family.length + c.qualifier.length + c.value.length).sum
}

/** Spark layer probe: jobs, stages and tasks as spans and counters. Jobs
  * are attributed through the local properties the bench sets on the
  * driver thread (inherited by threads the program starts).
  */
final class BenchListener(tracer: Tracer) extends SparkListener {
  import BenchListener._

  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val openJobs = new AtomicLong(0)

  private def prop(e: java.util.Properties, k: String): Option[Long] =
    Option(e).flatMap(p => Option(p.getProperty(k))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, OpProp).map(_.toInt).getOrElse(tracer.op)
    if (op >= 0) {
      openJobs.incrementAndGet()
      jobs.put(e.jobId, JobInfo(op, prop(e.properties, ParentProp).getOrElse(0L), e.time * 1000000L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      tracer.addTo(op, "spark.jobs", 1)
    }
  }

  private val ended = ConcurrentHashMap.newKeySet[Int]()

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null && ended.add(e.jobId)) {
      tracer.record(Span(Tracer.jobSpanId(e.jobId), j.parent, j.op, false, "spark.job", "spark",
        j.start, e.time * 1000000L))
      openJobs.decrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    opOfStage(e.stageInfo.stageId).foreach(o => tracer.addTo(o._1, "spark.stages", 1))

  private def opOfStage(stageId: Int): Option[(Int, Int)] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)).map(i => (i.op, j: Int)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    opOfStage(e.stageId).foreach { case (op, jobId) =>
      val info = e.taskInfo
      tracer.record(Span(Tracer.taskSpanId(info.taskId), Tracer.jobSpanId(jobId), op, false,
        "spark.task", "spark", info.launchTime * 1000000L, info.finishTime * 1000000L))
      tracer.addTo(op, "spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        tracer.addTo(op, "spark.task_run_ns", m.executorRunTime * 1000000L)
        tracer.addTo(op, "spark.task_cpu_ns", m.executorCpuTime)
        tracer.addTo(op, "spark.gc_ns", m.jvmGCTime * 1000000L)
        tracer.addTo(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        tracer.addTo(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        tracer.addTo(op, "spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

object BenchListener {
  private final case class JobInfo(op: Int, parent: Long, start: Long)
  val OpProp = "graft.perfbench.op"
  val ParentProp = "graft.perfbench.parent"
}
