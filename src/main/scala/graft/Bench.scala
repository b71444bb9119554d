package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Benchmark main (driver contract): run every registered query against
  * SPARK_GRAFT_SF_DIR, print ONE JSON line
  * {"metric","value","unit","queries","sf"(, "runs","errors")}.
  *
  * Measurement discipline (VERDICT.md round-3 item 1): a single cold run
  * under a contended driver can read 10-21x slower than the same query on
  * the same code (rel_q5 1.15s -> 24.2s with zero diff).  Each query is
  * therefore run SPARK_GRAFT_REPEATS times (default 3) and the MIN is
  * reported as its timing; the full per-run array is kept under "runs" so
  * variance is visible evidence, not archaeology.
  *
  * Plan-regression tripwire (round-3 item 9): every query's
  * EXPLAIN FORMATTED is persisted to SPARK_GRAFT_PLANS_DIR (default
  * ./PLANS), and so is each streaming gate's query plan
  * (`<gate>.stream.txt`), so a plan flap between rounds shows up as a
  * text diff, not a bench-number mystery. Only Bench writes there.
  *
  * A failing query contributes an entry in "errors" (and -1 in
  * "queries"), never a bogus timing in "value" — so the bench number
  * can't silently absorb failures (VERDICT.md round-1 item 9).
  * Store seeding (test-fixture setup, done out-of-band by scripts in
  * the reference, insert_rows.py) runs before timing starts.
  */
object Bench {

  /** Execute the gate's OWN plan, evaluating every output column.
    * `df.count()` builds a separate count query in which Catalyst prunes
    * the projection expressions and eliminates sorts — a projection-only
    * gate (classifier scoring, quality stats) then times the parquet
    * scan, not the operator (doc_classifier at sf10: 0.17s counted vs
    * the actual model evaluation). `toRdd` runs the dataframe's own
    * optimized physical plan, whose output carries all columns, so the
    * timed work is what a consumer writing the result would pay (minus
    * the write). BENCH_ATTRIBUTION.md carries the per-gate old/new
    * bridge measured on one host and commit.
    */
  private[graft] def evaluateAll(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.count(): Unit
  }

  /** One gate's timed runs (seconds), or its first failure's message. */
  private[graft] final case class GateResult(runs: Seq[Double], error: Option[String]) {
    /** The reported timing: the fastest run, or -1 for a failed gate. */
    def timing: Double = if (error.isDefined || runs.isEmpty) -1.0 else runs.min
  }

  /** Run one gate: one UNTIMED warm-up execution when `warmup` is set,
    * then up to `repeats` timed ones. The warm-up takes JIT compilation,
    * codegen class loading and first-shuffle file creation out of the
    * first timed window (r11: min total 89.9s vs median 160s — repeat-1
    * contamination made min-of-N a lottery).
    *
    * The first failure, warm-up or timed, is the gate's error and ends
    * the gate: a later run can pass only because the failure changed
    * some state (a fault injector that has spent its faults), so its
    * timing would hide the failure. `snapshot` saves the plan of the
    * first successful execution, after it ran so AQE's final plan is
    * available; a snapshot failure is not the gate's. `cleanup` follows
    * every execution, told whether it was the warm-up.
    */
  private[graft] def runGate[A](
      repeats: Int,
      warmup: Boolean,
      execute: () => A,
      snapshot: A => Unit,
      cleanup: Boolean => Unit
  ): GateResult = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var snapshotted = false
    def run(isWarmup: Boolean): Option[String] = {
      val t0 = System.nanoTime()
      try {
        val out = execute()
        if (!isWarmup) runs += (System.nanoTime() - t0) / 1e9
        if (!snapshotted) {
          try snapshot(out)
          catch { case _: Throwable => () }
          snapshotted = true
        }
        None
      } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption()
            .getOrElse(e.getClass.getName).take(200))
      } finally cleanup(isWarmup)
    }
    var error = if (warmup) run(isWarmup = true) else None
    var rep = 0
    while (rep < repeats && error.isEmpty) {
      error = run(isWarmup = false)
      rep += 1
    }
    GateResult(runs.toSeq, error)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt.max(1)
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "PLANS")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Fixture seeding + once-per-JVM index/stream/ground-truth builds,
    // UNTIMED and identical at every scale factor: timings below measure
    // the probe, never probe-plus-build (the r13 sf10 repeats=1 run
    // charged fixture builds to the first query that needed them and
    // manufactured a 785× stream_bt_write "ratio"). Build cost is still
    // visible evidence: reported as fixtures_sec in BENCH_DETAIL.json.
    val fixturesSec = SparkEntry.warmFixtures(spark, sfDir)

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val runs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    try Files.createDirectories(Paths.get(plansDir))
    catch { case _: Throwable => () }
    SparkEntry.streamPlansDir = Some(Paths.get(plansDir))
    // dev aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run (unset for the driver)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val result = runGate(
          repeats,
          // SPARK_GRAFT_WARMUP=0 skips the warm-up (scale-proof runs at
          // sf10, where each execution is minutes and the question is
          // "does it blow up", not a ±10% timing)
          warmup = sys.env.get("SPARK_GRAFT_WARMUP").forall(_ != "0"),
          execute = () => {
            val df = fn(spark, sfDir)
            Bench.evaluateAll(df)
            df
          },
          // normalized (PlanSnapshot): snapshots are committed, so
          // regeneration must only diff on structural plan changes
          snapshot = (df: org.apache.spark.sql.DataFrame) => {
            val txt = graft.tools.PlanSnapshot.normalize(df.queryExecution.explainString(FormattedMode))
            Files.write(Paths.get(plansDir, s"$name.txt"), txt.getBytes(StandardCharsets.UTF_8)): Unit
          },
          cleanup = afterWarmup => {
            // drop per-query persisted intermediates (LSH signature frames
            // etc.) so runs don't interfere through cache pressure
            spark.catalog.clearCache()
            if (afterWarmup)
              try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
              catch { case _: Throwable => () }
          })
        result.error.foreach(errors(name) = _)
        timings(name) = result.timing
        runs(name) = result.runs
        // Session hygiene BETWEEN queries (round-6 item 1): broadcast
        // blocks and shuffle files are reclaimed only when a GC enqueues
        // their references for the ContextCleaner — in a 98x3-execution
        // session that cleanup otherwise lands as blocking work INSIDE a
        // later query's timed window (the round-6 driver session showed
        // unrelated queries inflating 2-15x on byte-identical plans;
        // unreproducible in isolation). Forcing the GC here moves the
        // reclamation into the untimed gap. Likewise the streaming
        // queries' state-store providers keep a maintenance thread and
        // in-memory version maps alive after their query stops —
        // unload them so they can't tax whoever runs next.
        try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        catch { case _: Throwable => () }
        System.gc()
      }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    // Driver-contract line: the driver keeps only ~2000 trailing chars of the
    // sbt output and parses the JSON line out of them, so this line must stay
    // SHORT (3-decimal timings, no per-run arrays) and must be the LAST thing
    // on stdout.  Full-precision per-run detail goes to BENCH_DETAIL.json.
    def qsAt(prec: Int) =
      timings.map { case (k, v) => s"${q(k)}:${s"%.${prec}f".format(v)}" }.mkString("{", ",", "}")
    val runsJson = runs.map { case (k, vs) =>
      s"${q(k)}:${vs.map(v => "%.4f".format(v)).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    // errors share the line's budget: cap each message AND the entry count
    // so a run with many failures can't push the JSON past the driver's
    // tail window either (full messages live in BENCH_DETAIL/BENCH_LINE)
    val errJson =
      if (errors.isEmpty) ""
      else {
        val shown = errors.take(6).map { case (k, v) => s"${q(k)}:${q(v.take(80))}" }
        val more = if (errors.size > 6) s""","n_errors":${errors.size}""" else ""
        "," + "\"errors\":" + shown.mkString("{", ",", "}") + more
      }
    // the line must fit the harness's ~2000-char tail window with room for
    // preceding noise: degrade timing precision, and when even 1-decimal
    // timings for every query cannot fit (≥~90 queries), drop the per-query
    // map from STDOUT entirely and point at a queries file — a truncated
    // line parses as null and loses everything; a pointer loses nothing.
    // The pointer names a RUN-SCOPED file (cpus + sf in the name,
    // VERDICT r18 #1): the driver benches the same tree at 32 cores AND
    // a low core count, and a single shared filename meant the second
    // run overwrote the first's per-query data — PERF rounds 17/18 had
    // n_common=0 and an empty scaling block for exactly that reason.
    // BENCH_LINE.json (unscoped) is still written for compatibility and
    // is what the repo commits from the 32-core refresh.
    val sfLabel = Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val scopedLineFile = s"BENCH_LINE_c${cpus}_$sfLabel.json"
    val qsBudget = (1700 - errJson.length).max(600)
    val total = timings.values.filter(_ >= 0).sum
    val line = Seq(3, 2, 1).map(qsAt).find(_.length <= qsBudget) match {
      case Some(qs) =>
        s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","queries":$qs,"sf":${q(sfDir)}$errJson}"""
      case None =>
        s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","n_queries":${timings.size},"queries_file":${q(scopedLineFile)},"sf":${q(sfDir)}$errJson}"""
    }
    // detail file keeps full-length error messages (no tail-window budget)
    val errJsonFull =
      if (errors.isEmpty) ""
      else "," + "\"errors\":" + errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    try Files.write(
      Paths.get("BENCH_DETAIL.json"),
      s"""{"repeats":$repeats,"fixtures_sec":${"%.3f".format(fixturesSec)},"queries":${qsAt(3)},"runs":$runsJson$errJsonFull}\n"""
        .getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // full-precision contract line as files: immune to the stdout
    // tail-window budget, so precision degradation never loses data.
    // Written twice — the run-scoped name the stdout pointer references
    // (per-(cpus, sf) so concurrent/back-to-back driver runs never
    // clobber each other) and the legacy unscoped name.
    val lineJson =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","cpus":$cpus,"queries":${qsAt(3)},"sf":${q(sfDir)}$errJsonFull}\n"""
    Seq(scopedLineFile, "BENCH_LINE.json").foreach { f =>
      try Files.write(Paths.get(f), lineJson.getBytes(StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    }
    spark.stop()
    // after spark.stop() so no executor/log noise can print after it
    println(line)
    System.out.flush()
  }
}
