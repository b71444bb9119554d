package graft.perfbench

import graft.connector.BigtableScan
import graft.store.BigtableStores
import graft.streaming.StreamingDedup

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import java.io.File

/** What a run prints: human-readable lines, then the JSON result line. */
final case class Result(lines: Seq[String], json: String)

/** One measured operation. `cells` is the work it moved, fixed by the
  * seed: cells under the key ranges a query covers, or the cells an
  * ingest batch writes and reads back.
  */
final case class OpSample(id: Int, kind: String, ms: Double, ok: Boolean, cells: Long,
    resultRows: Long, traced: Boolean)

object Workloads {
  val names: Seq[String] = Seq("point_lookup", "scan_agg", "ingest_dedup")

  def apply(name: String, spark: SparkSession, args: Main.Args, cores: Int): Workload = name match {
    case "point_lookup" => new QueryWorkload(spark, args, cores, Gen.PointKinds.size, Gen.pointQuery, 10)
    case "scan_agg"     => new QueryWorkload(spark, args, cores, Gen.ScanKinds.size, Gen.scanQuery, 2)
    case "ingest_dedup" => new IngestWorkload(spark, args, cores)
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetUpReps = 3

  val StoreName = "perfbench"

  /** Every BatchScanExec over a BigtableScan, through AQE stages. */
  def bigtableScans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => bigtableScans(a.executedPlan)
    case q: QueryStageExec        => bigtableScans(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[BigtableScan] =>
      Seq(b)
    case other => other.children.flatMap(bigtableScans) ++ other.subqueries.flatMap(bigtableScans)
  }

  val RangesRe = """ranges=(\d+)""".r
}

/** The shared closed loop: set up several times, warm up, run units of
  * work until the time is up, check outputs, report.
  */
abstract class Workload(val spark: SparkSession, val args: Main.Args, val cores: Int) {
  import Workloads._

  /** Inputs generated from the seed before anything is timed. */
  def prepare(): Unit
  /** One set-up: a fresh deployment, seeded through MutateRows, and one
    * warm-up unit, which pays every first-use cost (class loading,
    * codegen, the first shuffle).
    */
  def setUp(rep: Int): Unit
  /** Untimed unit `k` of work the measured stream never repeats. */
  def warmUnit(k: Int): Unit
  /** Warm-up units after the set-ups, about 5 s of work. Op latency
    * keeps falling for some 30 s of work as the JIT compiles Spark; a
    * fixed amount of warm-up work starts every run's measurement at the
    * same point of that curve.
    */
  def settleUnits: Int
  /** One unit of work: a round of the query mix, or one ingest batch. */
  def unit(u: Int, traced: Boolean): Seq[OpSample]
  /** Output checks run after the loop; returns op ids found wrong. */
  def finalCheck(ops: Seq[OpSample]): Set[Int] = Set.empty
  /** Workload-specific human lines and per-layer gauges. */
  def extraLines(ops: Seq[OpSample], busyS: Double): Seq[String] = Nil
  def streamingGauges(ops: Seq[OpSample]): Map[String, (Double, Double)] = Map.empty

  var deployment: Deployment = _
  val tracer = new Tracer
  val listener = new BenchListener(tracer)
  private var nextOp = 0

  /** Run `body` as op `kind`, timed; it returns its output, its result
    * row count and the frames whose scans it ran. In a traced unit the
    * op is a root span and those scans are replayed afterwards for the
    * connector numbers. The caller checks the output and sets `ok`.
    */
  protected def op[A](kind: String, traced: Boolean, cells: Long)(
      body: => (A, Long, Seq[DataFrame])): (OpSample, A) = {
    val id = nextOp
    nextOp += 1
    val t0 = System.nanoTime()
    val (out, rows, frames) =
      if (traced) traceAs(id)(tracer.span("op." + kind, "driver")(body)) else body
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) traceAs(id)(replay(frames))
    (OpSample(id, kind, ms, ok = true, cells, rows, traced), out)
  }

  /** Time the system spent on maintenance inside the measured loop
    * (ingest compactions), counted with the ops' own time.
    */
  protected var maintenanceMs = 0.0

  /** Attribute everything `body` starts, on any thread, to op `id`. */
  protected def traceAs[A](id: Int)(body: => A): A = {
    tracer.op = id
    tracer.onParentChange = p => setProps(id, p)
    setProps(id, tracer.currentParent)
    try body
    finally {
      waitForJobs()
      setProps(-1, 0L)
      tracer.onParentChange = _ => ()
      tracer.op = -1
    }
  }

  /** A timed step of an op, a span of `layer` when traced. */
  protected def step[A](traced: Boolean, name: String, layer: String)(body: => A): A =
    if (traced) tracer.span(name, layer)(body) else body

  /** Plan a query, the way every op does, so planning is its own step. */
  protected def plan(df: DataFrame, traced: Boolean): Unit =
    step(traced, "spark.plan", "spark")(df.queryExecution.executedPlan): Unit

  private def setProps(op: Int, parent: Long): Unit = {
    spark.sparkContext.setLocalProperty(BenchListener.OpProp, if (op >= 0) op.toString else null)
    spark.sparkContext.setLocalProperty(BenchListener.ParentProp, if (op >= 0) parent.toString else null)
  }

  protected def waitForJobs(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    ListenerDrain.drain(spark.sparkContext)
    while (listener.openJobs.get() > 0 && System.nanoTime() < deadline) {
      Thread.sleep(1)
      ListenerDrain.drain(spark.sparkContext)
    }
  }

  /** Replay each connector scan of the op's plans on this thread
    * through the public reader API, so that reader time and the store
    * time inside it separate. Replay work is kept out of the op's own
    * counters and spans.
    */
  private def replay(frames: Seq[DataFrame]): Unit = {
    tracer.replay = true
    try frames.foreach { df =>
      bigtableScans(df.queryExecution.executedPlan).foreach { bse =>
        tracer.add("connector.ranges",
          RangesRe.findFirstMatchIn(bse.scan.description()).map(_.group(1).toLong).getOrElse(0L))
        val parts = bse.partitions.flatten
        tracer.add("connector.partitions", parts.size.toLong)
        val columnar = bse.supportsColumnar
        if (columnar) tracer.add("connector.columnar_scans", 1)
        tracer.span("connector.reader", "connector") {
          val t0 = System.nanoTime()
          parts.foreach(p => Layers.drainPartition(bse.readerFactory, p, columnar))
          tracer.add("connector.reader_ns", System.nanoTime() - t0)
        }
      }
    } finally tracer.replay = false
  }

  /** Install or remove the store decorator and the listener. */
  private def tracing(on: Boolean): Unit =
    if (on) {
      BigtableStores.register(StoreName, new TracingStore(deployment.client, tracer))
      spark.sparkContext.addSparkListener(listener)
    } else {
      waitForJobs()
      spark.sparkContext.removeSparkListener(listener)
      BigtableStores.register(StoreName, deployment.client)
    }

  def run(sparkStartS: Double): Result = {
    val lines = Seq.newBuilder[String]
    prepare()
    val setups = (0 until SetUpReps).map { rep =>
      if (deployment != null) deployment.close()
      val t0 = System.nanoTime()
      setUp(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val settleStart = System.nanoTime()
    (SetUpReps until SetUpReps + settleUnits).foreach(warmUnit)
    val settleS = (System.nanoTime() - settleStart) / 1e9
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[OpSample]
    var u = 0
    val unitMs = Seq.newBuilder[Double]
    while (System.nanoTime() < deadline) {
      val traced = args.trace && u % 2 == 1
      if (traced) tracing(on = true)
      try {
        val os = unit(u, traced)
        ops ++= os
        unitMs += os.map(_.ms).sum
      } finally if (traced) tracing(on = false)
      u += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val heapMb = Workload.retainedHeapMb()
    val all = ops.result()
    val checkStart = System.nanoTime()
    val wrong = finalCheck(all)
    val checkS = (System.nanoTime() - checkStart) / 1e9
    val failed = all.count(o => !o.ok || wrong.contains(o.id))
    deployment.close()

    val ms = all.map(_.ms)
    val (tailP, tailMs) = Stats.tail(ms)
    lines += f"workload ${args.workload} seed ${args.seed} cores $cores heap_max_mb ${Runtime.getRuntime.maxMemory / 1048576}"
    lines += f"spark_start_s $sparkStartS%.3f  setup_s ${setups.map(s => f"$s%.3f").mkString(" ")} (median reported)" +
      f"  settle_s $settleS%.3f  final_check_s $checkS%.3f"
    // the system's time: op latencies plus maintenance, without the
    // benchmark's own input generation and output checks
    val busyS = (ms.sum + maintenanceMs) / 1e3
    lines += f"ops ${all.size} in $wallS%.3f s (busy $busyS%.3f s), failed $failed, op_p50_ms ${Stats.median(ms)}%.3f, " +
      f"op_tail_ms p$tailP%s = $tailMs%.3f (n=${all.size})"
    all.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      lines += f"  kind $k%-12s n=${os.size}%4d p50_ms ${Stats.median(os.map(_.ms))}%.3f"
    }
    lines += s"unit_ms ${unitMs.result().map(m => f"$m%.0f").mkString(" ")}"
    lines ++= extraLines(all, busyS)
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("op_p50_ms", Stats.median(ms), "ms"),
        ("ops_per_s", all.size / busyS, "1/s"),
        ("cells_per_s", all.map(_.cells).sum / busyS, "cells/s"),
        ("setup_s", Stats.median(setups), "s"),
        ("heap_retained_mb", heapMb, "MB"))
      else {
        val (m, l) = Layers.report(tracer, all, streamingGauges(all))
        lines ++= l
        args.spans.foreach { f =>
          Layers.dumpSpans(tracer, f)
          lines += s"spans written to ${f.getPath}"
        }
        m
      }
    Result(lines.result(), Workload.json(all.size, failed, metrics))
  }
}

object Workload {
  /** Used heap after forced collections. Spark's cleaner drops what
    * the program no longer references only after a collection has
    * enqueued it, so collect, let the cleaner run, and collect again.
    */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def json(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Render a collected row the way [[Gen.Query.expected]] spells it. */
  def render(r: Row): String = r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")
}

/** `point_lookup` and `scan_agg`: a unit is one round of the query mix
  * (every kind once), so each run sees the mix in the same proportions.
  */
final class QueryWorkload(spark: SparkSession, args: Main.Args, cores: Int, kinds: Int,
    gen: (Gen.Tables, Int) => Gen.Query, val settleUnits: Int) extends Workload(spark, args, cores) {
  import QueryWorkload._

  private var tables: Gen.Tables = _
  private var batches: Seq[(String, Seq[(String, Seq[graft.model.BtCell])])] = Nil

  override def prepare(): Unit = {
    tables = new Gen.Tables(args.seed, Gen.DefaultSizes)
    batches = tables.all.flatMap { case (table, n, row) =>
      (0 until n).grouped(500).map(is => table -> is.map(row)).toSeq
    }
  }

  override def setUp(rep: Int): Unit = {
    deployment = new Deployment(Workloads.StoreName)
    deployment.seed(batches, cores)
    QueryWorkload.registerViews(spark)
    warmUnit(rep)
  }

  override def warmUnit(k: Int): Unit =
    (0 until kinds).foreach(j => spark.sql(gen(tables, WarmQuery + k * kinds + j).sql).collect())

  override def unit(u: Int, traced: Boolean): Seq[OpSample] =
    (0 until kinds).map { k =>
      val q = gen(tables, u * kinds + k)
      val (s, rows) = op(q.kind, traced, q.cells) {
        val df = spark.sql(q.sql)
        plan(df, traced)
        val rows = df.collect()
        (rows, rows.length.toLong, Seq(df))
      }
      s.copy(ok = rows.toSeq.map(Workload.render).sorted == q.expected)
    }
}

object QueryWorkload {
  /** Index of the first warm-up query, far past any measured stream. */
  val WarmQuery = 10000000

  /** The SQL views the query streams name, all over the benchmark store. */
  def registerViews(spark: SparkSession): Unit = {
    val base = Map("store" -> Workloads.StoreName, "columnFamily" -> Gen.Family)
    def view(name: String, opts: (String, String)*): Unit =
      spark.read.format("bigtable").options(base ++ opts).load().createOrReplaceTempView(name)
    val metrics = Seq("table" -> "metrics", "partitionCols" -> "region,host,minute",
      "qualifiers" -> "cpu:long,mem:long")
    val users = Seq("table" -> "users", "qualifiers" -> "name:string,age:long,city:string")
    view("metrics", metrics: _*)
    view("metrics_fs", metrics :+ ("allowFullScan" -> "true"): _*)
    view("metrics_av", metrics ++ Seq("allowFullScan" -> "true", "onlyReadLatest" -> "false"): _*)
    view("users", users: _*)
    view("users_fs", users :+ ("allowFullScan" -> "true"): _*)
    view("vip", "table" -> "vip", "qualifiers" -> "level:string", "allowFullScan" -> "true")
    view("cities", "table" -> "cities", "qualifiers" -> "country:string", "allowFullScan" -> "true")
  }

  /** Run one query and render its rows, sorted, as [[Gen.Query.expected]] spells them. */
  def answer(spark: SparkSession, sql: String): Seq[String] =
    spark.sql(sql).collect().toSeq.map(Workload.render).sorted
}

/** `ingest_dedup`: a unit is one batch of documents written through the
  * connector, read back through it and deduplicated against the index;
  * after every [[CompactEvery]]-th batch the index is compacted, inside
  * the loop's wall time but outside the batch's latency. Set-up and
  * warm-up batches go into the same index the measured batches extend,
  * as a pipeline's would, so the index grows across the whole run and
  * its first compaction (a major one) happens in the warm-up.
  */
final class IngestWorkload(spark: SparkSession, args: Main.Args, cores: Int)
    extends Workload(spark, args, cores) {
  import IngestWorkload._
  import spark.implicits._

  private var workDir: String = _
  private val docsOpts = Map("store" -> Workloads.StoreName, "columnFamily" -> Gen.Family,
    "table" -> "docs", "qualifiers" -> "text:string")
  /** Batches in the current index; the next batch's number. */
  private var batches = 0
  /** Batches whose read-back was wrong outside the measured ops. */
  private var unmeasuredWrong = Set.empty[Int]
  private val opOfBatch = scala.collection.mutable.Map.empty[Int, Int]
  /** (wall ms, result) of each compaction in the measured loop */
  private val compactions = Seq.newBuilder[(Double, Map[String, StreamingDedup.DatasetCompaction])]
  private val gauges = scala.collection.mutable.Map.empty[Int, (Long, Long)]

  override def prepare(): Unit = ()
  override def settleUnits: Int = 3

  private def key(id: Long) = f"d$id%09d"

  /** Batch `b` of `docs`: write, read back, dedup. Returns (read-back
    * rows, their count, frames to replay).
    */
  private def ingest(b: Int, docs: Seq[(Long, String)], traced: Boolean)
      : (Seq[(Long, String)], Long, Seq[DataFrame]) = {
    step(traced, "connector.write", "connector") {
      docs.map { case (id, t) => (key(id), t) }.toDF("_row_key", "text")
        .write.format("bigtable").options(docsOpts).mode("append").save()
    }
    val rb = spark.read.format("bigtable").options(docsOpts).load()
      .where(col("_row_key").between(key(docs.head._1), key(docs.last._1)))
      .select("_row_key", "text")
    val back = step(traced, "connector.readback", "connector") {
      plan(rb, traced)
      rb.collect().map(r => (r.getString(0).drop(1).toLong, r.getString(1))).toSeq
    }
    val stats = step(traced, "streaming.process_batch", "streaming") {
      StreamingDedup.processBatch(back.toDF("id", "text"), workDir, Threshold, ShingleK, NumHashes, Bands,
        Some(b.toLong))
    }
    if (traced) {
      tracer.add("streaming.band_bytes_selected", stats.bandBytesSelected)
      tracer.add("streaming.band_bytes_total", stats.bandBytesTotal)
      tracer.add("streaming.sh_bytes_selected", stats.shBytesSelected)
      tracer.add("streaming.sh_bytes_total", stats.shBytesTotal)
    }
    (back, back.size.toLong, Seq(rb))
  }

  private def compactDue(b: Int): Boolean = (b + 1) % CompactEvery == 0

  private def compact(): Map[String, StreamingDedup.DatasetCompaction] =
    StreamingDedup.compactIndexDetailed(spark, workDir)

  override def setUp(rep: Int): Unit = {
    deployment = new Deployment(Workloads.StoreName)
    workDir = new File(args.work, s"dedup-$rep").getPath
    StreamingDedup.incrementalNearDuplicatesInit(spark, workDir)
    batches = 0
    unmeasuredWrong = Set.empty
    warmUnit(0)
  }

  override def warmUnit(k: Int): Unit = {
    val b = batches
    val docs = Gen.docBatch(args.seed, b)._1
    if (ingest(b, docs, traced = false)._1.sortBy(_._1) != docs) unmeasuredWrong += b
    batches += 1
    if (compactDue(b)) compact()
  }

  override def unit(u: Int, traced: Boolean): Seq[OpSample] = {
    val b = batches
    val docs = Gen.docBatch(args.seed, b)._1
    val (s0, back) = op("batch", traced, 2L * Gen.DocsPerBatch)(ingest(b, docs, traced))
    val s = s0.copy(ok = back.sortBy(_._1) == docs)
    opOfBatch(b) = s.id
    batches += 1
    if (compactDue(b)) {
      val t0 = System.nanoTime()
      val c =
        if (traced) traceAs(s.id)(tracer.span("streaming.compact", "streaming")(compact()))
        else compact()
      val ms = (System.nanoTime() - t0) / 1e6
      maintenanceMs += ms
      compactions += ((ms, c))
    }
    if (traced) gauges(s.id) = indexFootprint(workDir)
    Seq(s)
  }

  private var pairsFound = 0
  private var plantedCount = 0
  private var pairsPerBatch: Map[Int, Int] = Map.empty
  private var corpusBytes = 0L

  /** Incremental == batch over the whole ingested corpus, and every
    * planted duplicate found. A wrong pair fails the batch of its later
    * document; wrong batches outside the measured ops fail the run too.
    */
  override def finalCheck(ops: Seq[OpSample]): Set[Int] = {
    val all = (0 until batches).map(Gen.docBatch(args.seed, _))
    val corpus = all.flatMap(_._1)
    corpusBytes = corpus.map(_._2.getBytes("UTF-8").length.toLong).sum
    def pairSet(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = pairSet(StreamingDedup.pairs(spark, workDir))
    val batch = pairSet(graft.operators.Dedup.nearDuplicates(corpus.toDF("doc_id", "text"), "doc_id",
      "text", threshold = Threshold, shingleK = ShingleK, numHashes = NumHashes, bands = Bands))
    val found = streamed.map(p => (p._1, p._2))
    val planted = all.flatMap(_._2)
    val missed = planted.filterNot(p => found.contains((p.source, p.copy))).map(_.copy)
    pairsFound = streamed.size
    plantedCount = planted.size
    def batchOf(id: Long) = (id / Gen.DocsPerBatch).toInt
    pairsPerBatch = streamed.toSeq.groupBy(p => batchOf(p._2)).map { case (b, ps) => b -> ps.size }
    val wrongBatches = ((streamed diff batch) ++ (batch diff streamed)).map(p => batchOf(p._2)) ++
      missed.map(batchOf) ++ unmeasuredWrong
    val (measured, unmeasured) = wrongBatches.partition(opOfBatch.contains)
    // a wrong unmeasured batch fails the run: charge it to measured ops
    measured.map(opOfBatch) ++ ops.map(_.id).filterNot(measured.map(opOfBatch)).take(unmeasured.size)
  }

  override def extraLines(ops: Seq[OpSample], busyS: Double): Seq[String] = {
    val (idxBytes, commits) = indexFootprint(workDir)
    val cs = compactions.result()
    Seq(
      f"docs_per_s ${ops.size * Gen.DocsPerBatch / busyS}%.1f (measured batches ${ops.size} of $batches, " +
        f"compactions ${cs.size}: ${cs.map(c => f"${c._1}%.0f ms").mkString(" ")})",
      f"index_bytes_per_doc_byte ${idxBytes.toDouble / corpusBytes}%.4f " +
        s"(index $idxBytes B, commit files $commits, text $corpusBytes B)",
      s"pairs $pairsFound, planted $plantedCount, checked against Dedup.nearDuplicates over the whole corpus")
  }

  /** Streaming gauges: pair and index figures over the traced ops;
    * compaction figures over every compaction of the measured loop
    * (traced or not), their median taken per compaction.
    */
  override def streamingGauges(ops: Seq[OpSample]): Map[String, (Double, Double)] = {
    val traced = ops.filter(_.traced)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val cs = compactions.result()
    def rewritten(m: Map[String, StreamingDedup.DatasetCompaction]) =
      m.values.filter(_.mode != "noop").map(_.deltaBytes).sum.toDouble +
        m.values.filter(_.mode == "major").map(_.baseBytes).sum
    def modes(mode: String)(m: Map[String, StreamingDedup.DatasetCompaction]) =
      m.values.count(_.mode == mode).toDouble
    def perCompaction(f: Map[String, StreamingDedup.DatasetCompaction] => Double) = {
      val xs = cs.map(c => f(c._2))
      (xs.sum, med(xs))
    }
    val batchOfOp = opOfBatch.map(_.swap)
    val pairs = traced.map(o => pairsPerBatch.getOrElse(batchOfOp(o.id), 0).toDouble)
    val (idxBytes, commits) = indexFootprint(workDir)
    val perDocByte = idxBytes.toDouble / math.max(1L, corpusBytes)
    Map(
      "streaming.compact_ms" -> (cs.map(_._1).sum, med(cs.map(_._1))),
      "streaming.compact_bytes_rewritten" -> perCompaction(rewritten),
      "streaming.compact_major" -> perCompaction(modes("major")),
      "streaming.compact_minor" -> perCompaction(modes("minor")),
      "streaming.pairs" -> (pairs.sum, med(pairs)),
      "streaming.index_bytes" -> (idxBytes.toDouble, med(traced.map(o => gauges(o.id)._1.toDouble))),
      "streaming.commits" -> (commits.toDouble, med(traced.map(o => gauges(o.id)._2.toDouble))),
      "streaming.index_bytes_per_doc_byte" -> (perDocByte, perDocByte))
  }
}

object IngestWorkload {
  val Threshold = 0.9
  val ShingleK = 5
  val NumHashes = 120
  val Bands = 20
  val CompactEvery = 3

  /** (bytes on disk, commit files) of the bands, shingles and pairs logs. */
  def indexFootprint(workDir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Seq("bands", "shingles", "pairs").flatMap(d => walk(new File(workDir, d)))
    (files.map(_.length).sum, files.count(_.getParentFile.getName == "_commits").toLong)
  }
}
