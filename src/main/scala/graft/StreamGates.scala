package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming replay gates: each one replays a fixture table as a
  * change stream (or a file stream, or periodic ingest batches) to
  * completion and returns the final result, so the streaming path sits
  * inside the same DuckDB oracle compare as the batch gates. Each gate
  * is declared next to its oracle SQL; [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSql]] include both maps.
  *
  * Every gate runs under [[withFastStreams]]; a change stream over a
  * fixture table opens through [[GraftTables.changeStream]], and a
  * stateful query drains into a memory sink through [[replay]].
  */
object StreamGates {

  private case class Gate(run: (SparkSession, String) => DataFrame, oracle: String)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, g) => name -> ((s: SparkSession, dir: String) => withFastStreams(s, dir)(g.run(s, dir))) }

  def oracleSql: Map[String, String] = gates.map { case (name, g) => name -> g.oracle }

  /** Where [[snapshotStreamingPlan]] writes: set by [[Bench]] to its plans
    * dir for the run, unset everywhere else, so only a Bench run writes
    * snapshot files (a Verify run or a test never rewrites the committed
    * ones).
    */
  @volatile private[graft] var streamPlansDir: Option[java.nio.file.Path] = None

  /** Persist a completed streaming query's physical plan next to the
    * batch plan snapshots (Bench snapshots only the post-replay batch
    * plan of the returned DataFrame — the streaming plan, watermarks and
    * state operators included, lives in the StreamingQuery itself).
    */
  private def snapshotStreamingPlan(q: StreamingQuery, name: String): Unit =
    try streamPlansDir.foreach { dir =>
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { q.explain() }
      java.nio.file.Files.write(
        dir.resolve(s"$name.stream.txt"),
        // normalized (PlanSnapshot): streaming plans embed runIds,
        // temp checkpoint paths and batch timestamps — strip them so
        // committed snapshots only diff on structure (ADVICE r12)
        graft.tools.PlanSnapshot.normalize(new String(buf.toByteArray, "UTF-8"))
          .getBytes("UTF-8"))
    } catch { case _: Throwable => () }

  /** Documents-table on-disk bytes under which the stream gates run at
    * 4 shuffle partitions (micro-batch frames: task-scheduling overhead
    * beats parallelism at fixture scale — measured on the readStream
    * gates). PAST the floor the session default stands: at sf10 a
    * catch-up batch is 10M band rows, and 4-partition shuffled-hash
    * builds blow the per-task memory budget ("Can't acquire 8589934592
    * bytes to build hash relation" — found by the r17 sf10 run).
    * 64 MB ≈ sf1; the scale-proof runs (sf10+) keep their
    * SPARK_GRAFT_SHUFFLE_PARTITIONS sizing.
    */
  private val FastStreamMaxDocBytes = 64L * 1024 * 1024

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new java.io.File(path))
  }

  /** Run a streaming replay gate with a small shuffle-partition count.
    * Streaming state stores are per shuffle partition PER stateful
    * operator PER micro-batch (checkpoint delta files, commit fsyncs):
    * at the session default of 32 partitions a 5-batch replay of a
    * 2-operator query touches hundreds of state files for kilobytes of
    * fixture state. 4 partitions cut that fixed overhead ~8× without
    * changing any result (gates order their output; state semantics are
    * partition-count-independent). A production deployment sizes
    * `spark.sql.shuffle.partitions` to its real state volume instead —
    * this helper only scopes the REPLAY-GATE setting; the conf is
    * captured by the query at `start()` and restored after the body.
    */
  private def withFastStreams[T](s: SparkSession, dir: String)(body: => T): T =
    if (dirBytes(s"$dir/documents.parquet") <= FastStreamMaxDocBytes)
      SessionConf.withConf(s, "spark.sql.shuffle.partitions" -> "4")(body)
    else body

  /** Prefix of the checkpoint dirs [[replay]] creates under
    * `java.io.tmpdir`.
    */
  private[graft] val ReplayCheckpointPrefix = "graft-replay-cp"

  /** Drain `ds` to completion (AvailableNow) into a memory sink and
    * return the sink's table. The checkpoint is an explicit temp dir,
    * deleted once the query has stopped without failing (what Spark does
    * with the temp checkpoint it would otherwise create). Adaptive
    * execution is off for `start()` only: Spark turns it off for a
    * stateful micro-batch plan anyway, and the returned table read still
    * plans with the session's setting. `snapshotAs` names the streaming
    * plan snapshot ([[snapshotStreamingPlan]]) written after the drain.
    */
  private def replay(ds: Dataset[_], outputMode: String, snapshotAs: Option[String] = None): DataFrame = {
    val s = ds.sparkSession
    val qname = s"replay_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val checkpoint = java.nio.file.Files.createTempDirectory(ReplayCheckpointPrefix).toFile
    val q = SessionConf.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      ds.writeStream.format("memory").queryName(qname)
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint.getPath)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    snapshotAs.foreach(snapshotStreamingPlan(q, _))
    org.apache.spark.network.util.JavaUtils.deleteRecursively(checkpoint)
    s.table(qname)
  }

  /** Events per micro-batch: ~3 months of event time, the fixture's
    * replay step (GraftTables places the second flush sentinel exactly
    * one step after the first).
    */
  private val EventStepMicros = GraftTables.FlushStepMicros

  /** Documents per micro-batch: 4 of the 8 one-second arrival slots. The
    * near-dup pair set and the index contents are batching-invariant, so
    * two batches keep the probe/append/replay-skip paths exercised while
    * halving the per-batch fixed cost; the span-dedup keep-first oracle's
    * arrival rank `(doc_id % 8) // 4` coarsens with this step.
    */
  private val DocStepMicros = 4000000L

  /** Events replayed as a file stream INTO a mutable store through
    * `writeStream.format("bigtable")` — once per JVM per scale factor;
    * the gate then batch-reads the store back through the connector.
    */
  private val btStreamWriteStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def btStreamWriteStore(s: SparkSession, sfDir: String): String =
    btStreamWriteStores.computeIfAbsent(sfDir, { _ =>
      val name = s"${GraftTables.storeName(sfDir)}-streamwrite"
      graft.store.BigtableStores.register(name, new graft.store.ConcurrentBigtable)
      val work = java.nio.file.Files.createTempDirectory("graft-btsw").toString
      // explicit schema omitting ts: this stream keys on event_id and
      // pins cell timestamps to writeTimestampMicros, so the ts column
      // (whose physical type has drifted across fixture regenerations)
      // is never read at all
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      s.read.schema(schema).parquet(s"$sfDir/events.parquet")
        .repartition(4).write.parquet(s"$work/src") // 4 files -> several epochs
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/src")
        .select(
          lpad(col("event_id").cast("string"), 8, "0").as("e_key"),
          col("event_type"), col("user_id"), col("value"))
        .writeStream.format("bigtable")
        .option("store", name).option("table", "events_w").option("columnFamily", "f")
        .option("partitionCols", "e_key")
        .option("qualifiers", "event_type:string,user_id:long,value:double")
        .option("checkpointLocation", s"$work/cp")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      name
    })

  private def gates: Map[String, Gate] = Map(
    // --- STREAMING write: events replayed as a multi-epoch file stream
    //     through writeStream.format("bigtable") (effectively-once via
    //     pinned cell coordinates), then batch-read back ---
    "stream_bt_write" -> Gate((s, dir) => {
      val store = btStreamWriteStore(s, dir)
      s.read.format("bigtable")
        .option("store", store).option("table", "events_w").option("columnFamily", "f")
        .option("partitionCols", "e_key")
        .option("qualifiers", "event_type:string,user_id:long,value:double")
        .option("allowFullScan", "true")
        .load()
        .select(col("e_key"), col("event_type"), col("user_id"), col("value"))
        .orderBy(col("e_key"))
    }, oracle =
      """SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS e_key, event_type,
         user_id, value
         FROM events ORDER BY e_key"""),

    // --- Structured Streaming: connector change-stream → windowed agg ---
    // Runs the micro-batch stream to completion (AvailableNow, stepped
    // offsets) into a memory sink, then returns the final result — so
    // the streaming path sits inside the same oracle gate.
    "stream_windowed_counts" -> Gate((s, dir) => {
      val counts = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .groupBy(window(col("_timestamp"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"), col("n_events"))
      replay(counts, "complete").orderBy(col("ws_us"), col("event_type"))
    }, oracle =
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us, event_type, count(*) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type"""),

    // --- streaming distinct-count SKETCH over the change stream: per
    //     event_type distinct users via the KMV aggregator inside a
    //     streaming aggregation. The state per group is ONE <=k-long
    //     buffer (k=4096 → 32 KB) instead of the full user set — the
    //     bounded-state way to run COUNT(DISTINCT) on an unbounded
    //     stream. Gated in the exact-below-k regime (<=1500 distinct
    //     users per type at every fixture SF), where the final sketch
    //     answer equals DuckDB's exact count(DISTINCT). ---
    "stream_distinct_sketch" -> Gate((s, dir) => {
      val kmv = udaf(new graft.functions.KmvDistinct(4096))
      val counts = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .groupBy(col("event_type"))
        .agg(kmv(xxhash64(col("u_key"))).as("n_users"))
      replay(counts, "complete").orderBy(col("event_type"))
    }, oracle =
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1"""),

    // --- streaming quantiles: the KLL-style sketch as streaming state —
    //     per event type, mergeable level buffers in the state store
    //     across micro-batches; k=4096 >= any group's count pins the
    //     EXACT nearest-rank regime, hash-matching DuckDB quantile_disc ---
    "stream_quantiles" -> Gate((s, dir) => {
      val kll = udaf(new graft.functions.KllQuantiles.Sketch(4096, Seq(0.5, 0.9)))
      val agg = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .groupBy(col("event_type")).agg(kll(col("value")).as("qv"))
      replay(agg, "complete")
        .select(col("event_type"),
          col("qv").getItem(0).as("p50"),
          col("qv").getItem(1).as("p90"))
        .orderBy(col("event_type"))
    }, oracle =
      """SELECT event_type,
                quantile_disc(value, 0.5) AS p50,
                quantile_disc(value, 0.9) AS p90
         FROM events GROUP BY 1 ORDER BY 1"""),

    // --- streaming heavy hitters: the Misra-Gries sketch as streaming
    //     state — Spark maintains the <=k-counter buffer in the state
    //     store across micro-batches (same mergeable-summary property as
    //     the batch gate; k=4096 >= distinct users pins the EXACT
    //     regime, so the final counts hash-match the true GROUP BY) ---
    "stream_heavy_hitters" -> Gate((s, dir) => {
      val mg = udaf(new graft.functions.FrequentItems.MisraGries(4096))
      val agg = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .agg(mg(col("u_key")).as("hh"))
      replay(agg, "complete")
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("u_key"), col("h.count_lb").as("n"))
        .orderBy(desc("n"), col("u_key"))
        .limit(20)
    }, oracle =
      """SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, count(*) AS n
         FROM events GROUP BY 1 ORDER BY n DESC, u_key LIMIT 20"""),

    // --- streaming exact dedup over the change stream: each distinct
    //     (user, event_type) emitted once at first sight (append mode) ---
    "stream_dedup" -> Gate((s, dir) => {
      val deduped = graft.streaming.EventStreams.dedupStream(
        GraftTables.changeStream(s, dir, "events", EventStepMicros)
          .select(col("u_key"), col("event_type")),
        Seq("u_key", "event_type"))
      replay(deduped, "append").orderBy(col("u_key"), col("event_type"))
    }, oracle =
      """SELECT DISTINCT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, event_type
         FROM events ORDER BY u_key, event_type"""),

    // --- multi-table change streams unioned into one aggregation: the
    //     events and orders tables live in DIFFERENT timestamp domains
    //     (event-time µs vs a fixed seed ts), so each source must step by
    //     its own committed offset — the union would under-deliver if the
    //     sources shared a watermark. Gated: counts match DuckDB over the
    //     same two parquet tables. ---
    "stream_union_counts" -> Gate((s, dir) => {
      val ev = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .select(lit("events").as("src"), col("event_type").as("k"))
      val ord = GraftTables.changeStream(s, dir, "orders", EventStepMicros)
        .select(lit("orders").as("src"), col("o_orderstatus").as("k"))
      val counts = ev.unionByName(ord).groupBy(col("src"), col("k")).agg(count(lit(1)).as("n"))
      replay(counts, "complete").orderBy(col("src"), col("k"))
    }, oracle =
      """SELECT 'events' AS src, event_type AS k, count(*) AS n FROM events GROUP BY 2
         UNION ALL
         SELECT 'orders' AS src, o_orderstatus AS k, count(*) AS n FROM orders GROUP BY 2
         ORDER BY src, k"""),

    // --- stream-stream inner join: purchases joined to views of the
    //     same user within the preceding hour, both sides live change
    //     streams. Both sides carry watermarks and the time bound is on
    //     the watermarked event-time columns, so Spark derives state
    //     eviction: view state is dropped once the watermark passes
    //     v_ts + 1h, purchase state once it passes p_ts — bounded state
    //     on an unbounded stream. The replay steps event time forward
    //     monotonically between batches, so no on-time row is dropped
    //     and results are identical to the unwatermarked join. ---
    "stream_join" -> Gate((s, dir) => {
      val p = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .where(col("event_type") === "purchase")
        .select(col("u_key"), col("_timestamp").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val v = GraftTables.changeStream(s, dir, "events", EventStepMicros)
        .where(col("event_type") === "view")
        .select(col("u_key").as("v_key"), col("_timestamp").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val joined = p.join(
        v,
        col("u_key") === col("v_key") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") > col("p_ts") - expr("INTERVAL 1 HOUR"),
        "inner")
      // stream-stream joins emit in APPEND mode only: the stream emits
      // matched pairs; the count-per-user aggregation runs in batch on
      // the sink table after the replay terminates.
      // no-data micro-batches exist purely to run state eviction between
      // data batches; on a finite replay the inner join's output is
      // identical without them, so skip the ~2× batch overhead here (an
      // unbounded production run keeps the default true)
      SessionConf.withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
        replay(joined, "append", snapshotAs = Some("stream_join"))
      }
        .groupBy(col("u_key")).agg(count(lit(1)).as("n_view_purchase_pairs"))
        .orderBy(col("u_key"))
    }, oracle =
      """WITH p AS (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         v AS (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, epoch_us(ts) AS v_us
           FROM events WHERE event_type = 'view')
         SELECT p.u_key, count(*) AS n_view_purchase_pairs
         FROM p JOIN v ON p.u_key = v.u_key
           AND v.v_us <= p.p_us AND v.v_us > p.p_us - 3600000000
         GROUP BY p.u_key ORDER BY p.u_key"""),

    // --- streaming sessionization: the change stream replayed through
    //     the stateful sessionizer (flatMapGroupsWithState, event-time
    //     timeout). The events_flush table carries two end-of-stream
    //     sentinels (user keys >= 999990, filtered out below): the first
    //     advances the watermark past every real session's end + gap, the
    //     second forms one more batch so the timers fire — every real
    //     session is flushed, and the result matches the SAME
    //     gaps-and-islands oracle as the batch operator. ---
    "stream_sessionize" -> Gate((s, dir) => {
      import s.implicits._
      val evs = GraftTables.changeStream(s, dir, "events_flush", GraftTables.FlushStepMicros).select(
        lit(0L).as("event_id"),
        col("_timestamp").as("ts"),
        col("u_key").cast("long").as("user_id"),
        col("event_type"),
        col("value")).as[graft.streaming.EventStreams.Event]
      val sessions = graft.streaming.EventStreams
        .sessionize(s, evs, gapMinutes = 30, watermarkDelay = "10 minutes")
      replay(sessions, "append", snapshotAs = Some("stream_sessionize"))
        .where(col("user_id") < 999990L) // drop flush sentinels
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events").cast("long").as("n_events"),
          round(col("total_value"), 4).as("sum_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    }, oracle =
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         lagd AS (
           SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev FROM e),
         marks AS (
           SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM lagd),
         sess AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marks)
         SELECT CAST(user_id AS BIGINT) AS user_id,
                min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_start_us"""),

    // --- streaming conversation assembly: the stream_sessionize state
    //     machine, but CLOSED conversations emit ordered transcripts —
    //     the streaming twin of rel_conversations (flush sentinels push
    //     the watermark past every real event so all conversations
    //     close; per-key state is bounded by conversation length) ---
    "stream_conversations" -> Gate((s, dir) => {
      import s.implicits._
      val evs = GraftTables.changeStream(s, dir, "events_flush", GraftTables.FlushStepMicros).select(
        // a real deterministic per-row sequence (the cell timestamp) —
        // (user, ts) is unique by the seeding assertion in GraftTables,
        // so this tie-break is never exercised, but the streaming sort
        // must not depend on arrival order even in principle
        unix_micros(col("_timestamp")).as("event_id"),
        col("_timestamp").as("ts"),
        col("u_key").cast("long").as("user_id"),
        col("event_type"),
        col("value")).as[graft.streaming.EventStreams.Event]
      val convs = graft.streaming.EventStreams
        .assembleConversations(s, evs, gapMinutes = 30, watermarkDelay = "10 minutes")
      replay(convs, "append", snapshotAs = Some("stream_conversations"))
        .where(col("user_id") < 999990L) // drop flush sentinels
        .select(col("user_id"),
          unix_micros(col("conv_start")).as("conv_start_us"),
          unix_micros(col("conv_end")).as("conv_end_us"),
          col("n_turns").cast("long").as("n_turns"),
          col("transcript"))
        .orderBy(col("user_id"), col("conv_start_us"))
    }, oracle =
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         lagd AS (
           SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev FROM e),
         marks AS (
           SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS new_c
           FROM lagd),
         conv AS (
           SELECT *, sum(new_c) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS conv_id
           FROM marks)
         SELECT CAST(user_id AS BIGINT) AS user_id,
                min(ts_us) AS conv_start_us, max(ts_us) AS conv_end_us,
                count(*) AS n_turns,
                string_agg(event_type, ' > ' ORDER BY ts_us) AS transcript
         FROM conv GROUP BY user_id, conv_id ORDER BY user_id, conv_start_us"""),

    // --- incremental streaming near-dup: documents arrive on the change
    //     stream in timestamp-stepped batches; each batch's MinHash-LSH
    //     buckets probe the accumulated signature index (new-vs-corpus)
    //     and self-join (new-vs-batch), candidates exact-verified with
    //     true Jaccard. Same banding as the batch operator, so the
    //     accumulated pairs match the SAME exhaustive oracle as
    //     doc_near_dup — incremental result == batch result. ---
    "stream_doc_near_dup" -> Gate((s, dir) => {
      val docs = GraftTables.changeStream(s, dir, "documents", DocStepMicros)
        .select(col("d_key").cast("long").as("doc_id"), col("text"))
      val work = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
      val q = graft.streaming.StreamingDedup.incrementalNearDuplicates(
        docs, "doc_id", "text", work, threshold = 0.9, numHashes = 120, bands = 20,
        checkpoint = s"$work/_checkpoint")
      q.awaitTermination()
      graft.streaming.StreamingDedup.pairs(s, work)
        .orderBy(col("id1"), col("id2"))
    }, oracle =
      s"""WITH ${SparkEntry.shinglePrefixPairCtes("0.9")}
         ${SparkEntry.nearDupPairSelect}"""),

    // --- the same incremental dedup with index MAINTENANCE in the loop:
    //     batch 1 ingests, compactIndex rewrites the bands log into the
    //     bucket-hash partitioned layout (__p64=<k>/ — the steady-state
    //     shape a long-running stream converges to), and batch 2's probe
    //     PRUNES index files by partition (StreamingDedup.pruneBandFiles).
    //     Same exhaustive oracle as the streaming gate: the pair set is
    //     batching- and layout-invariant, so this gate pins that the
    //     partition-pruned read loses nothing. Driven through
    //     processBatch (the periodic-ingest entry point) rather than a
    //     readStream so the compaction call sits between ingests exactly
    //     where a maintenance job runs it. withFastStreams applies here
    //     too: every frame is micro-batch-sized, so 4 shuffle partitions
    //     beat 32 tasks of scheduling overhead; compactIndex's partitioned
    //     layout is pinned by its own explicit repartition(IndexPartitions). ---
    "stream_doc_near_dup_compact" -> Gate((s, dir) => {
      // repartition(defaultParallelism): the sf0.1 parquet is one input
      // split, which would compute every minhash signature on one thread
      // (~2s/batch measured); a real periodic-ingest batch arrives
      // partitioned from its source, like the readStream gate's bigtable
      // ranges. Deliberately NOT inside processBatch: streaming
      // micro-batch frames report source statistics, and a stats-driven
      // spread there re-shuffles raw text every trigger (measured 2x on
      // the readStream gate when tried).
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("id"))
      val work = java.nio.file.Files.createTempDirectory("graft-sdedupc").toString
      graft.streaming.StreamingDedup.incrementalNearDuplicatesInit(s, work)
      graft.streaming.StreamingDedup.processBatch(
        docs.where(pmod(col("id"), lit(2)) === 0), work, 0.9, 5, 120, 20, batchId = Some(0L))
      // layout pinned (not AUTO) so the gate times the same partitioned
      // probe path every round — AUTO is gated by _tiered below
      graft.streaming.StreamingDedup.compactIndex(s, work, targetRecordsPerFile = 1000L,
        bandsPartitions = graft.streaming.StreamingDedup.FollowIndexPartitions)
      graft.streaming.StreamingDedup.processBatch(
        docs.where(pmod(col("id"), lit(2)) === 1), work, 0.9, 5, 120, 20, batchId = Some(1L))
      graft.streaming.StreamingDedup.pairs(s, work)
        .orderBy(col("id1"), col("id2"))
    }, oracle =
      // layout-invariant: the compacted/partition-pruned index must yield
      // exactly the exhaustive pair set the streaming gate is held to
      s"""WITH ${SparkEntry.shinglePrefixPairCtes("0.9")}
         ${SparkEntry.nearDupPairSelect}"""),

    // --- the STEADY-STATE ingest regime (VERDICT r15 #1): the whole
    //     corpus is already ingested AND compacted into the partitioned
    //     layouts (`__p64=` bands by bucket-hash, shingles by id-hash),
    //     then ONE small trailing batch (50 duplicated docs — 1% of the
    //     corpus at sf0.1) probes it. This is the regime a real nightly
    //     ingest runs: the batch's index probe prunes bands partitions,
    //     its verify prunes shingle partitions to candidate ids, and the
    //     accumulated pair set must STILL equal the exhaustive oracle
    //     over corpus ∪ trailing — the prune loses nothing. The timing
    //     curve (per-batch cost flat as the index grows) is pinned by
    //     tools/SteadyStateProbe + SCALING.md; this gate pins
    //     correctness and keeps the path in the per-round bench. ---
    "stream_doc_near_dup_steady" -> Gate((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("id"))
      val work = java.nio.file.Files.createTempDirectory("graft-sdedups").toString
      graft.streaming.StreamingDedup.incrementalNearDuplicatesInit(s, work)
      graft.streaming.StreamingDedup.processBatch(
        docs, work, 0.9, 5, 120, 20, batchId = Some(0L))
      // 400 < sf0.01's 500 shingle rows: both logs cross the
      // partitioned-layout threshold at every gated sf. Layout pinned
      // (not AUTO) for round-over-round bench comparability.
      graft.streaming.StreamingDedup.compactIndex(s, work, targetRecordsPerFile = 400L,
        bandsPartitions = graft.streaming.StreamingDedup.FollowIndexPartitions)
      // trailing ids shift by max(doc_id)+1 — derived from the corpus on
      // BOTH sides (ADVICE r16: a fixed +500000 collides with corpus ids
      // once a scale factor reaches 500k docs, silently corrupting the
      // index identity and the oracle union in agreement)
      val shift = SparkEntry.shiftPastMax(docs, "id")
      graft.streaming.StreamingDedup.processBatch(
        docs.where(col("id") < 50).select((col("id") + lit(shift)).as("id"), col("text")),
        work, 0.9, 5, 120, 20, batchId = Some(1L))
      graft.streaming.StreamingDedup.pairs(s, work)
        .orderBy(col("id1"), col("id2"))
    }, oracle =
      // exhaustive pairs over corpus ∪ the 50-doc trailing batch (ids
      // shifted past the corpus max, same derivation as the gate) —
      // partition-pruned probe and verify reads must lose nothing
      s"""WITH ${SparkEntry.shinglePrefixPairCtes("0.9",
             src = """(SELECT doc_id, text FROM documents
                       UNION ALL
                       SELECT CAST(doc_id + (SELECT max(doc_id) + 1 FROM documents) AS BIGINT) AS doc_id, text
                       FROM documents WHERE doc_id < 50)""")}
         ${SparkEntry.nearDupPairSelect}"""),

    // --- TIERED index maintenance (VERDICT r16 #1): the nightly
    //     schedule a long-running ingest actually runs — ONE major
    //     compaction ever, then each maintenance pass folds ONLY the
    //     files appended since the last one into a new tier of the same
    //     layout, carrying the compacted base BY REFERENCE (O(delta),
    //     not O(index)). The gate self-checks the schedule (requires
    //     major then minor on the index logs — a regression to full
    //     rewrites fails loudly) and holds the final pair set to the
    //     same exhaustive oracle: tiering loses nothing. Bands layout is
    //     AUTO — chosen from measured on-disk inflation (VERDICT r16 #6).
    "stream_doc_near_dup_tiered" -> Gate((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("id"))
      val work = java.nio.file.Files.createTempDirectory("graft-sdedupt").toString
      val SD = graft.streaming.StreamingDedup
      SD.incrementalNearDuplicatesInit(s, work)
      SD.processBatch(docs.where(pmod(col("id"), lit(3)) === 0),
        work, 0.9, 5, 120, 20, batchId = Some(0L))
      val major = SD.compactIndexDetailed(s, work, targetRecordsPerFile = 100L)
      require(Seq("bands", "shingles").forall(d => major(d).mode == "major"),
        s"first compaction must be major: $major")
      SD.processBatch(docs.where(pmod(col("id"), lit(3)) === 1),
        work, 0.9, 5, 120, 20, batchId = Some(1L))
      val minor = SD.compactIndexDetailed(s, work, targetRecordsPerFile = 100L)
      require(Seq("bands", "shingles").forall(d => minor(d).mode == "minor"),
        s"re-compaction must fold only the delta (minor): $minor")
      SD.processBatch(docs.where(pmod(col("id"), lit(3)) === 2),
        work, 0.9, 5, 120, 20, batchId = Some(2L))
      SD.pairs(s, work).orderBy(col("id1"), col("id2"))
    }, oracle =
      // tiering-invariant: major-then-minor maintenance must yield exactly
      // the exhaustive pair set too
      s"""WITH ${SparkEntry.shinglePrefixPairCtes("0.9")}
         ${SparkEntry.nearDupPairSelect}"""),

    // --- incremental SPAN dedup over the documents change stream:
    //     spans claimed by earlier arrival batches drop, keep-first
    //     within each batch, result + span index exactly-once in a
    //     CommitLog. The 8 (doc_id % 8) arrival slots replay four per
    //     micro-batch (fixture replay overhead is micro-batch count ×
    //     fixed cost; 2 batches still exercise probe/append/replay-skip
    //     exactly like 8 did), so the oracle is keep-first under
    //     (slot-quad, doc_id, idx) ---
    "stream_span_dedup" -> Gate((s, dir) => {
      val docs = GraftTables.changeStream(s, dir, "documents", DocStepMicros)
        .select(col("d_key").cast("long").as("doc_id"), col("text"))
      val work = java.nio.file.Files.createTempDirectory("graft-sspan").toString
      graft.streaming.StreamingSpanDedup.incrementalSpanDedup(
        docs, "doc_id", "text", work, spanTokens = 4,
        checkpoint = s"$work/_checkpoint")
        .awaitTermination()
      graft.streaming.StreamingSpanDedup.docs(s, work)
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         idxs AS (SELECT doc_id, t,
                  unnest(generate_series(0, CAST(ceil(len(t)/4.0) AS BIGINT)-1)) AS idx
                  FROM toks),
         spans AS (SELECT doc_id, idx,
                   array_to_string(t[(idx*4+1):(idx*4+4)], ' ') AS span FROM idxs),
         keep AS (SELECT doc_id, idx, span,
                  row_number() OVER (PARTITION BY span
                                     ORDER BY (doc_id % 8) // 4, doc_id, idx) AS rn
                  FROM spans)
         SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS text
         FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"""),

    // --- streaming index maintenance: the documents change stream feeds
    //     Retrieval.indexSink (one batch-keyed append commit per
    //     micro-batch, exactly-once, periodic manifest folding); the
    //     search at the end probes the streamed index and must match the
    //     WHOLE-corpus oracle — incremental result == batch result, the
    //     stream_doc_near_dup contract applied to retrieval ---
    "stream_term_index" -> Gate((s, dir) => {
      val docs = GraftTables.changeStream(s, dir, "documents", DocStepMicros)
        .select(col("d_key").cast("long").as("doc_id"), col("text"))
      val work = java.nio.file.Files.createTempDirectory("graft-sindex").toString
      val q = graft.operators.Retrieval.indexSink(
        docs, "doc_id", "text", s"$work/idx", checkpoint = s"$work/_checkpoint",
        numBuckets = 64)
      q.awaitTermination()
      snapshotStreamingPlan(q, "stream_term_index")
      graft.operators.Retrieval
        .indexSearch(s, s"$work/idx", query = Seq("dup", "key", "batch"), topK = 25)
        .select(col("doc").as("doc_id"), col("score"))
    }, oracle = SparkEntry.termSearchOracle),

    // --- streaming encode through a FROZEN BPE model: train + save on
    //     the batch corpus, then stream the same documents through the
    //     loaded artifact — batch-local encode per arrival, exactly-once
    //     CommitLog appends; the final table equals the batch encode
    //     (same oracle). The nightly-ingest serving shape ---
    "stream_bpe_encode" -> Gate((s, dir) => {
      val model = graft.operators.Bpe.learn(
        s.read.parquet(s"$dir/documents.parquet"), "text", steps = 8)
      val mdir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-bpe-model-stream-${Integer.toHexString(dir.hashCode)}").toString
      graft.operators.Bpe.save(model, mdir)
      val loaded = graft.operators.Bpe.load(s, mdir)
      val docs = GraftTables.changeStream(s, dir, "documents", DocStepMicros)
        .select(col("d_key").cast("long").as("doc_id"), col("text"))
      val work = java.nio.file.Files.createTempDirectory("graft-bpe-stream").toString
      val q = graft.operators.Bpe.encodeSink(docs, "doc_id", "text", loaded,
        s"$work/enc", checkpoint = s"$work/_checkpoint")
      q.awaitTermination()
      snapshotStreamingPlan(q, "stream_bpe_encode")
      graft.streaming.CommitLog.read(s, s"$work/enc").orderBy(col("doc_id"))
    }, oracle = SparkEntry.bpeEncodeOracle(8)),

    // --- streaming CDC upsert: the events change stream maintains a
    //     keep-latest snapshot through versioned parquet commits (one
    //     Upsert.mergeLatest per micro-batch); final snapshot == the
    //     batch latest-per-user, which the oracle pins ---
    "stream_upsert" -> Gate((s, dir) => {
      // value read as its stored string; the events replay spans ~30
      // days of event time: 8-day steps give a multi-batch replay
      // without per-batch overhead dominating
      val stream = GraftTables.changeStream(s, dir, "events", 8L * 86400 * 1000000,
        Map("qualifiers" -> "event_type:string,value:string"))
      val work = java.nio.file.Files.createTempDirectory("graft-supsert").toString
      // 8 buckets at fixture scale: the wide replay batches touch every
      // bucket (the pruning win shows on narrow batches; at 100 TB the
      // bucket count scales with the table, see SnapshotUpsert scaladoc)
      val q = graft.streaming.SnapshotUpsert.maintain(
        stream, Seq("u_key"), "_timestamp", work, numBuckets = 8)
      q.awaitTermination()
      graft.streaming.SnapshotUpsert.read(s, work)
        .select(col("u_key"), col("event_type"),
          col("value").cast("double").as("value"),
          unix_micros(col("_timestamp")).as("ts_us"))
        .orderBy(col("u_key"))
    }, oracle =
      """WITH latest AS (
           SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
           FROM events)
         SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key,
                event_type, value, ts_us
         FROM latest WHERE rn = 1 ORDER BY u_key""")
  )
}
