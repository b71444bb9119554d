package graft.perfbench

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

import java.io.{File, PrintWriter}
import scala.jdk.CollectionConverters._

/** The traced run's per-layer report: every counter as a total over the
  * traced ops and as a per-op median, the self-time table per layer and
  * the tracing overhead.
  */
object Layers {

  /** A per-layer metric: per-op numerator over an optional per-op
    * denominator. The total is the ratio of the sums, the per-op value
    * the median of the per-op ratios.
    */
  final case class Metric(name: String, unit: String, num: Int => Double, den: Option[Int => Double] = None)

  /** Self-time layers, in table order. */
  val SelfLayers: Seq[String] = Seq("driver", "spark", "connector", "store", "streaming")

  /** Replay the partitions of one scan on this thread through the
    * public reader API; returns the rows read.
    */
  def drainPartition(f: PartitionReaderFactory, p: InputPartition, columnar: Boolean): Long = {
    var n = 0L
    if (columnar) {
      val r = f.createColumnarReader(p)
      try while (r.next()) n += r.get().numRows()
      finally r.close()
    } else {
      val r = f.createReader(p)
      try while (r.next()) { r.get(); n += 1 }
      finally r.close()
    }
    n
  }

  private def spansOf(tracer: Tracer): Map[Int, Seq[Span]] = {
    tracer.spans.asScala.toSeq.filter(!_.replay).groupBy(_.op)
  }

  private def metrics(tracer: Tracer, ops: Seq[OpSample], gauges: Map[String, (Double, Double)]): Seq[Metric] = {
    val byOp = spansOf(tracer)
    val rows = ops.map(o => o.id -> o.resultRows.toDouble).toMap
    def c(key: String, scale: Double = 1.0): Int => Double = o => tracer.counter(o, key) * scale
    def spanMs(name: String): Int => Double =
      o => byOp.getOrElse(o, Nil).filter(_.name == name).map(_.dur).sum / 1e6
    // job time inside the op's own root spans (the batch, a compaction)
    def covered(o: Int): Double = {
      val ss = byOp.getOrElse(o, Nil)
      val jobs = ss.filter(_.name == "spark.job")
      ss.filter(s => s.parent == 0 && s.name != "spark.job").map { r =>
        Stats.unionLength(jobs.map(j => (math.max(j.start, r.start), math.min(j.end, r.end))))
      }.sum / 1e6
    }
    def rootMs(o: Int): Double =
      byOp.getOrElse(o, Nil).filter(s => s.parent == 0 && s.name != "spark.job").map(_.dur).sum / 1e6
    def jobsUnder(name: String)(o: Int): Double = {
      val ss = byOp.getOrElse(o, Nil)
      val parent = ss.map(s => s.id -> s.parent).toMap
      val roots = ss.filter(_.name == name).map(_.id).toSet
      def under(id: Long): Boolean =
        roots.contains(id) || parent.get(id).exists(p => p != 0 && under(p))
      ss.count(s => s.name == "spark.job" && under(s.parent)).toDouble
    }
    def pivotNs(o: Int): Double = tracer.counter(o, "replay.connector.reader_ns") - tracer.counter(o, "replay.store.read_ns")
    def gauge(name: String, unit: String): Metric = Metric(name, unit, _ => 0.0)
    Seq(
      Metric("store.read_calls", "count", c("store.read_calls")),
      Metric("store.read_ms", "ms", c("store.read_ns", 1e-6)),
      Metric("store.rows_read", "rows", c("store.rows_read")),
      Metric("store.cells_read", "cells", c("store.cells_read")),
      Metric("store.bytes_read", "bytes", c("store.bytes_read")),
      Metric("store.sample_calls", "count", c("store.sample_calls")),
      Metric("store.sample_ms", "ms", c("store.sample_ns", 1e-6)),
      Metric("store.estimate_calls", "count", c("store.estimate_calls")),
      Metric("store.estimate_ms", "ms", c("store.estimate_ns", 1e-6)),
      Metric("store.mutate_calls", "count", c("store.mutate_calls")),
      Metric("store.mutate_ms", "ms", c("store.mutate_ns", 1e-6)),
      Metric("store.cells_written", "cells", c("store.cells_written")),
      Metric("store.rows_read_per_result_row", "ratio", c("store.rows_read"), Some(o => rows.getOrElse(o, 0.0))),
      Metric("connector.ranges", "count", c("replay.connector.ranges")),
      Metric("connector.partitions", "count", c("replay.connector.partitions")),
      Metric("connector.columnar_scans", "count", c("replay.connector.columnar_scans")),
      Metric("connector.reader_ms", "ms", c("replay.connector.reader_ns", 1e-6)),
      Metric("connector.pivot_ms", "ms", o => pivotNs(o) / 1e6),
      Metric("connector.pivot_ns_per_cell", "ns/cell", pivotNs, Some(c("replay.store.cells_read"))),
      Metric("connector.write_ms", "ms", spanMs("connector.write")),
      Metric("connector.readback_ms", "ms", spanMs("connector.readback")),
      Metric("spark.plan_ms", "ms", spanMs("spark.plan")),
      Metric("spark.jobs", "count", c("spark.jobs")),
      Metric("spark.stages", "count", c("spark.stages")),
      Metric("spark.tasks", "count", c("spark.tasks")),
      Metric("spark.job_covered_ms", "ms", covered),
      Metric("spark.driver_gap_ms", "ms", o => rootMs(o) - covered(o)),
      Metric("spark.task_run_ms", "ms", c("spark.task_run_ns", 1e-6)),
      Metric("spark.task_cpu_ms", "ms", c("spark.task_cpu_ns", 1e-6)),
      Metric("spark.gc_ms", "ms", c("spark.gc_ns", 1e-6)),
      Metric("spark.shuffle_write_bytes", "bytes", c("spark.shuffle_write_bytes")),
      Metric("spark.shuffle_read_bytes", "bytes", c("spark.shuffle_read_bytes")),
      Metric("spark.spill_bytes", "bytes", c("spark.spill_bytes")),
      Metric("streaming.process_batch_ms", "ms", spanMs("streaming.process_batch")),
      Metric("streaming.jobs_per_batch", "count", jobsUnder("streaming.process_batch")),
      Metric("streaming.band_bytes_selected_frac", "ratio", c("streaming.band_bytes_selected"),
        Some(c("streaming.band_bytes_total"))),
      Metric("streaming.sh_bytes_selected_frac", "ratio", c("streaming.sh_bytes_selected"),
        Some(c("streaming.sh_bytes_total"))),
      gauge("streaming.pairs", "count"),
      gauge("streaming.compact_ms", "ms"),
      gauge("streaming.compact_bytes_rewritten", "bytes"),
      gauge("streaming.compact_major", "count"),
      gauge("streaming.compact_minor", "count"),
      gauge("streaming.commits", "count"),
      gauge("streaming.index_bytes", "bytes"),
      gauge("streaming.index_bytes_per_doc_byte", "ratio"))
  }

  /** The traced run's metrics (name, value, unit) and its table lines. */
  def report(tracer: Tracer, ops: Seq[OpSample], gauges: Map[String, (Double, Double)])
      : (Seq[(String, Double, String)], Seq[String]) = {
    val traced = ops.filter(_.traced)
    val ids = traced.map(_.id)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val counters = metrics(tracer, ops, gauges).flatMap { m =>
      val (total, p50) = gauges.getOrElse(m.name, m.den match {
        case None => (ids.map(m.num).sum, med(ids.map(m.num)))
        case Some(d) =>
          val den = ids.map(d).sum
          (if (den == 0) 0.0 else ids.map(m.num).sum / den,
            med(ids.filter(d(_) != 0).map(o => m.num(o) / d(o))))
      })
      Seq((m.name, total, m.unit), (s"${m.name}.op_p50", p50, m.unit))
    }
    val byOp = spansOf(tracer)
    val selfPerOp = ids.map(o => Tracer.selfByLayer(byOp.getOrElse(o, Nil)))
    val self = SelfLayers.flatMap { l =>
      val xs = selfPerOp.map(_.getOrElse(l, 0L) / 1e6)
      Seq((s"self_ms.$l", xs.sum, "ms"), (s"self_ms.$l.op_p50", med(xs), "ms"))
    }
    val untracedP50 = med(ops.filterNot(_.traced).map(_.ms))
    val tracedP50 = med(traced.map(_.ms))
    val overhead = Seq(
      ("trace.op_p50_ms_untraced", untracedP50, "ms"),
      ("trace.op_p50_ms_traced", tracedP50, "ms"),
      ("trace.overhead_frac", if (untracedP50 == 0) 0.0 else tracedP50 / untracedP50 - 1, "ratio"))
    val all = counters ++ self ++ overhead
    def get(name: String) = all.find(_._1 == name).get._2
    val selfTotal = self.filterNot(_._1.endsWith(".op_p50")).map(_._2).sum
    val lines = Seq(s"traced ops ${traced.size} of ${ops.size}; self time per layer " +
        "(span minus the union of its children; parallel task spans add up):",
      f"  ${"layer"}%-10s ${"total_ms"}%12s ${"op_p50_ms"}%12s ${"share"}%7s") ++
      SelfLayers.map { l =>
        val t = self.find(_._1 == s"self_ms.$l").get._2
        val p = self.find(_._1 == s"self_ms.$l.op_p50").get._2
        f"  $l%-10s $t%12.3f $p%12.3f ${if (selfTotal == 0) 0.0 else 100 * t / selfTotal}%6.1f%%"
      } ++
      Seq(f"  replay (outside the ops): connector.reader ${get("connector.reader_ms")}%.3f ms = " +
        f"store ${get("connector.reader_ms") - get("connector.pivot_ms")}%.3f + pivot ${get("connector.pivot_ms")}%.3f") ++
      Seq(f"tracing overhead: op_p50_ms traced $tracedP50%.3f vs untraced $untracedP50%.3f " +
        f"(${100 * overhead(2)._2}%+.1f%%)") ++
      all.filterNot(m => m._1.endsWith(".op_p50") || m._1.startsWith("self_ms") || m._1.startsWith("trace."))
        .map { case (n, v, u) =>
          f"  $n%-40s $v%16.3f $u%-8s op_p50 ${get(s"$n.op_p50")}%.3f"
        }
    (all, lines)
  }

  /** Write every span as one JSON line. */
  def dumpSpans(tracer: Tracer, f: File): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try tracer.spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "replay": ${s.replay}, """ +
        s""""name": "${s.name}", "layer": "${s.layer}", "start_ns": ${s.start}, "end_ns": ${s.end}}""")
    }
    finally w.close()
  }
}
