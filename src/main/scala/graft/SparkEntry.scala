package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry routes through the Bigtable DSv2 connector
  * (the engine under test) over stores seeded from the same parquet the
  * DuckDB oracle reads (GraftTables), so the driver's hash-compare
  * exercises provider → pushdown → composer → reader → Spark SQL.
  * Queries are ordered deterministically (ORDER BY on unique keys) on
  * both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Connector scan (key-range pushdown) + broadcast join + aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val nation = GraftTables.nation(spark, sfDir)
      .where(col("n_key").between("0000", "9999"))
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    nation
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count("*").as("n_nations"))
      .orderBy(col("r_name"))
  }

  /** Planted-id shift: max(keyCol)+1 over `df`, derived from the corpus
    * so planted rows can never collide with real ids at any scale
    * factor. `max` over zero rows is NULL and `.getLong(0)` on it NPEs,
    * so an empty table degrades to shift=1 instead (ADVICE r17).
    */
  private[graft] def shiftPastMax(df: DataFrame, keyCol: String): Long = {
    val row = df.agg(max(col(keyCol).cast("long"))).head
    (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1L
  }

  /** Presentation sort that preserves downstream PARALLELISM (r18
    * optimization): the sort-then-project discipline (see doc_quality)
    * places heavy projections AFTER a global `orderBy` so they evaluate
    * once — but `orderBy` is a range exchange whose post-shuffle
    * partitions AQE coalesces by BYTES, so a few MB of rows collapse
    * onto one or two tasks and the heavy projection runs on one core.
    * Pinning the range-partition count (user-specified counts are never
    * AQE-coalesced) keeps the byte-identical global order — range
    * partitions concatenate in order — while the projection runs on
    * every core. Scale-adaptive in BOTH directions (VERDICT r18 #3):
    * the count floors at the session's parallelism and grows with the
    * input's plan-stat bytes (Spread.scaledPartitions, 128 MB/partition
    * default) — a pinned count equal to #cores alone would make
    * multi-GB spill-heavy partitions of a multi-TB projection, with no
    * AQE skew-split escape on a user-specified count.
    */
  private def sortedSpread(df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(
        graft.operators.Spread.scaledPartitions(df.sparkSession, df), keys: _*)
      .sortWithinPartitions(keys: _*)

  /** Inverted-index table for `sfDir`'s documents, built once per JVM
    * per scale factor (the deployment shape: build is a one-time job,
    * queries probe it — so Bench's repeated runs time the PROBE, not a
    * rebuild).
    */
  private val indexedTermDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def indexedTermDir(s: SparkSession, sfDir: String): String =
    indexedTermDirs.computeIfAbsent(sfDir, { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft-invidx").toString
      graft.operators.Retrieval.buildIndex(
        s.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", dir, numBuckets = 64)
      dir
    })

  /** Persisted IVF index over the embeddings table, built once per JVM
    * per scale factor — searches probe bucket files, never the corpus.
    */
  private val ivfIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Exact-top-10 ground truth (qid, nid) for the standard query set
    * (vec_id < 5), shared by every `emb_knn_*_recall` gate: the
    * brute-force pass is the expensive half of each recall computation
    * and is identical across all five, so it runs once per fixture per
    * session and lands in a temp parquet the gates re-read (file-backed
    * so no RDD blocks pin memory across the bench's per-query GCs).
    */
  private val exactKnnDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def exactKnnTop10(s: SparkSession, sfDir: String): DataFrame = {
    val dir = exactKnnDirs.computeIfAbsent(sfDir, { _ =>
      val out = java.nio.file.Files.createTempDirectory("graft-knn-exact").toString
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      graft.operators.Similarity
        .bruteForceTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("qid"), col("nid"))
        .write.mode("overwrite").parquet(s"$out/truth")
      out
    })
    s.read.parquet(s"$dir/truth")
  }

  private def ivfIndexDir(s: SparkSession, sfDir: String): String =
    ivfIndexDirs.computeIfAbsent(sfDir, { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
      graft.operators.Similarity.buildIvfIndex(
        s.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding", dir,
        kmeansIterations = 2) // nCentroids auto: sqrt(corpus rows)
      dir
    })

  /** IVF index built on half the embeddings, the other half STREAMED in
    * via ivfIndexSink (assign-to-existing-centroids appends) — the
    * incremental ANN maintenance path.
    */
  private val ivfStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfStreamDir(s: SparkSession, sfDir: String): String =
    ivfStreamDirs.computeIfAbsent(sfDir, { _ =>
      val work = java.nio.file.Files.createTempDirectory("graft-ivfidx-s").toString
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      graft.operators.Similarity.buildIvfIndex(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", s"$work/idx",
        kmeansIterations = 2) // nCentroids auto: sqrt(corpus rows)
      emb.where(col("vec_id") % 2 === 1).repartition(4).write.parquet(s"$work/src")
      val st = s.readStream.schema(emb.schema).parquet(s"$work/src")
        .select(col("vec_id"), col("embedding"))
      graft.operators.Similarity.ivfIndexSink(
        st, "vec_id", "embedding", s"$work/idx", checkpoint = s"$work/cp")
        .awaitTermination()
      s"$work/idx"
    })

  /** Same corpus indexed INCREMENTALLY: base build on two thirds of the
    * documents, the last third arriving as an append delta — the growing-
    * corpus maintenance path, certified against the whole-corpus oracle.
    */
  private val incrTermDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def incrTermDir(s: SparkSession, sfDir: String): String =
    incrTermDirs.computeIfAbsent(sfDir, { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft-invidx-incr").toString
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
      graft.operators.Retrieval.buildIndex(
        docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text", dir, numBuckets = 64)
      graft.operators.Retrieval.appendToIndex(
        docs.where(col("doc_id") % 3 === 0), "doc_id", "text", dir)
      dir
    })

  /** Same corpus under the TIERED maintenance schedule a long-running
    * ingest actually runs (VERDICT r17 #2): base build, one MAJOR
    * compaction (the first compaction is always the full rewrite), an
    * append delta, then a MINOR compaction that folds ONLY the delta
    * into a new tier and carries every base file by reference — the
    * require()s pin the modes so the gate cannot silently degrade to
    * two majors.
    */
  private val tieredTermDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def tieredTermDir(s: SparkSession, sfDir: String): String =
    tieredTermDirs.computeIfAbsent(sfDir, { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft-invidx-tiered").toString
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
      graft.operators.Retrieval.buildIndex(
        docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text", dir, numBuckets = 64)
      val major = graft.operators.Retrieval.compactIndex(s, dir)
      require(major.mode == "major",
        s"first index compaction must be a major rewrite, got $major")
      graft.operators.Retrieval.appendToIndex(
        docs.where(col("doc_id") % 3 === 0), "doc_id", "text", dir)
      val minor = graft.operators.Retrieval.compactIndex(s, dir)
      require(minor.mode == "minor",
        s"post-append index compaction must be an O(delta) minor, got $minor")
      dir
    })

  /** Seeds (once per JVM per scale factor) a two-version `nation_v`
    * table through the batch WRITE path — v1 at FixedTs, v2 with the
    * name uppercased one second later, both pinned via the `_timestamp`
    * column — and returns a configured reader for it. Gives the
    * version-explosion and latest-filter semantics a gate that does not
    * depend on `events.parquet` seeding (the r9 dark-gate root cause).
    */
  private val btVersionedStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def btVersionedNation(s: SparkSession, dir: String): org.apache.spark.sql.DataFrameReader = {
    val name = btVersionedStores.computeIfAbsent(dir, { _ =>
      val storeName = s"${GraftTables.storeName(dir)}-versioned"
      graft.store.BigtableStores.register(storeName, new graft.store.ConcurrentBigtable)
      val opts = Map(
        "store" -> storeName, "table" -> "nation_v", "columnFamily" -> "f",
        "partitionCols" -> "n_key", "qualifiers" -> "n_name:string")
      val base = s.read.parquet(s"$dir/nation.parquet")
        .select(lpad(col("n_nationkey").cast("string"), 4, "0").as("n_key"), col("n_name"))
      val v1 = base
        .withColumn("_timestamp", timestamp_micros(lit(GraftTables.FixedTs)))
      val v2 = base
        .withColumn("n_name", upper(col("n_name")))
        .withColumn("_timestamp", timestamp_micros(lit(GraftTables.FixedTs + 1000000L)))
      v1.write.format("bigtable").mode("overwrite").options(opts).save()
      v2.write.format("bigtable").mode("append").options(opts).save()
      storeName
    })
    s.read.format("bigtable")
      .options(Map("store" -> name, "table" -> "nation_v", "columnFamily" -> "f",
        "partitionCols" -> "n_key", "qualifiers" -> "n_name:string", "allowFullScan" -> "true"))
  }

  /** Force every once-per-JVM fixture for `sfDir` (index builds, stream
    * replays, ground-truth dumps — the computeIfAbsent caches above).
    * Bench calls this BEFORE timing so every scale factor measures the
    * same work: the PROBE, never probe-plus-one-time-build. Without it,
    * a repeats=1 scale run charges the whole fixture build to whichever
    * query runs first (the r13 sf10 bench's 785× stream_bt_write
    * "ratio" was mostly this artifact: sf0.1's min-of-3 amortized the
    * build, sf10's single repeat included it). Returns seconds spent so
    * the harness can report build cost as its own number.
    */
  def warmFixtures(s: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    GraftTables.ensure(s, sfDir)
    indexedTermDir(s, sfDir)
    incrTermDir(s, sfDir)
    exactKnnTop10(s, sfDir).count()
    ivfIndexDir(s, sfDir)
    ivfStreamDir(s, sfDir)
    StreamGates.btStreamWriteStore(s, sfDir)
    btVersionedNation(s, sfDir)
    (System.nanoTime() - t0) / 1e9
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = batchQueries ++ StreamGates.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = batchOracleSql ++ StreamGates.oracleSql

  /** Every gate but the streaming replays, which live in [[StreamGates]]. */
  private[graft] def batchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- §2A A4: partition pruning, equality (composer.rs:163-192) ---
    "bt_key_eq" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key") === "0007")
        .select(col("n_key"), col("n_name"), col("n_regionkey"))),

    // --- cluster-deployable reader resolution through the gate: the
    //     shipStore reader option serializes the store handle into the
    //     scan, so executors that never saw BigtableStores.register still
    //     resolve it (registry-first, shipped-handle second). The shipped
    //     store holds ONLY this table: shipStore serializes the whole
    //     handle into every task, so a deployment ships per-table stores
    //     (measured: shipping the full events+orders store cost 2.8s/query
    //     at sf0.1 vs ~0.1s for the nation-only store). ---
    "bt_shipstore" -> ((s, dir) => {
      val name = s"${GraftTables.storeName(dir)}-nation-only"
      if (!graft.store.BigtableStores.contains(name)) {
        val store = new graft.store.ConcurrentBigtable
        store.mutateRows("nation", GraftTables.nationRows(s, dir))
        graft.store.BigtableStores.register(name, store)
      }
      s.read.format("bigtable")
        .options(GraftTables.layouts("nation") + ("store" -> name) + ("shipStore" -> "true"))
        .load()
        .where(col("n_key").between("0003", "0015"))
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))
    }),

    // --- §2A A5: partition pruning, IN list (composer.rs:194-222) ---
    "bt_key_in" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").isin("0002", "0011", "0019", "0023"))
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))),

    // --- §2A A6/A7: tail BETWEEN → closed range (composer.rs:224-248) ---
    "bt_key_between" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0005", "0012"))
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))),

    // --- transport-fault tolerance: the same scan through a store whose
    //     first streams break mid-read (injected transient faults); the
    //     RetryingStore decorator resumes each broken stream past the
    //     last delivered key, so results are identical to the healthy
    //     scan — the behavior a real gRPC transport needs ---
    "bt_retry_scan" -> ((s, dir) => {
      // retry THROUGH the protobuf wire transport (r13 advice): every
      // healthy read crosses a real TCP hop, and each mid-stream resume
      // opens a FRESH connection over only the remaining key space — the
      // exact recovery a gRPC-backed deployment runs when a ReadRows
      // channel drops. The injector sits between the retry layer and the
      // wire client so faults are deterministic; raw connection-drop
      // recovery is pinned separately in ReadRowsProtoSpec. The 25-row
      // table reads as one partition (too small for split samples), so
      // one stream may take all eight faults: its retry budget covers them.
      GraftTables.ensureRemote(s, dir)
      val flaky = s"${GraftTables.storeName(dir)}-flaky"
      val faults = 8
      if (!graft.store.BigtableStores.contains(flaky))
        graft.store.BigtableStores.register(flaky,
          new graft.store.RetryingStore(
            new graft.store.FaultInjectingStore(
              graft.store.BigtableStores.get(GraftTables.remoteStoreName(dir)),
              failAfterRows = 1, maxFaults = faults),
            maxAttempts = faults + 1,
            sleep = _ => ()))
      s.read.format("bigtable")
        .options(GraftTables.layouts("nation") + ("store" -> flaky) + ("allowFullScan" -> "true"))
        .load()
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))
    }),

    // --- §2A A7: composite key, = + IN + tail BETWEEN cartesian merge ---
    "bt_composite" -> ((s, dir) =>
      GraftTables.orders(s, dir)
        .where(col("o_orderstatus") === "O" &&
          col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") &&
          col("o_key").between("0000000100", "0000000900"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("o_key"),
          col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_key"))),

    // --- §2B ORDER BY over the connector ---
    "bt_orderby" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_name").desc, col("n_key"))),

    // ORDER BY the row key itself: the scan reports its per-partition
    // (key, ts) order (SupportsReportOrdering), so the per-partition
    // sort is elided by RemoveRedundantSorts — the range's partitions
    // are contiguous key groups in key order, so their concatenation IS
    // the total order, and the plan contains no Sort node at all. (A
    // global `orderBy` would still range-exchange: Spark 4 reports DSv2
    // scans as UnknownPartitioning even for one input partition, so
    // OrderedDistribution is never satisfied statically.)
    "bt_orderby_key" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .select(col("n_key"), col("n_name"))
        .sortWithinPartitions(col("n_key"))),

    // --- §2B aggregation / GROUP BY over the connector ---
    "bt_groupby_agg" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .groupBy(col("n_regionkey"))
        .agg(count("*").as("cnt"), min(col("n_name")).as("min_name"), max(col("n_name")).as("max_name"))
        .orderBy(col("n_regionkey"))),

    // --- §2B join: connector scan ⋈ broadcast parquet dim ---
    "bt_join" -> ((s, dir) => {
      val nation = GraftTables.nation(s, dir).where(col("n_key").between("0000", "9999"))
      val region = s.read.parquet(s"$dir/region.parquet")
      nation
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count("*").as("n_nations"))
        .orderBy(col("r_name"))
    }),

    // --- §2B window function over the connector ---
    "bt_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_name"))
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("n_regionkey"), col("n_name"), col("rn"))
        .orderBy(col("n_regionkey"), col("rn"))
    }),

    // --- §2B set operation (UNION distinct) over two key ranges ---
    "bt_union" -> ((s, dir) => {
      val a = GraftTables.nation(s, dir).where(col("n_key").between("0000", "0005")).select(col("n_key"))
      val b = GraftTables.nation(s, dir).where(col("n_key").between("0003", "0008")).select(col("n_key"))
      a.union(b).distinct().orderBy(col("n_key"))
    }),

    // --- §2B INTERSECT / EXCEPT over two connector key ranges ---
    "bt_intersect" -> ((s, dir) => {
      val a = GraftTables.nation(s, dir).where(col("n_key").between("0000", "0008")).select(col("n_key"))
      val b = GraftTables.nation(s, dir).where(col("n_key").between("0005", "0015")).select(col("n_key"))
      a.intersect(b).orderBy(col("n_key"))
    }),
    "bt_except" -> ((s, dir) => {
      val a = GraftTables.nation(s, dir).where(col("n_key").between("0000", "0008")).select(col("n_key"))
      val b = GraftTables.nation(s, dir).where(col("n_key").between("0005", "0015")).select(col("n_key"))
      a.except(b).orderBy(col("n_key"))
    }),

    // --- §2B date/time functions on the relational surface ---
    "rel_dates" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("yr"), col("qtr"))),

    // --- §2A A13 version explosion: onlyReadLatest=false (execute_plan.rs:223-271) ---
    "bt_versions" -> ((s, dir) =>
      GraftTables.eventsAllVersions(s, dir)
        .where(col("u_key").isin("000003", "000007", "000011"))
        .select(col("u_key"), col("event_type"), col("value"))
        .orderBy(col("u_key"), col("event_type"), col("value"))),

    // --- §2A A11 latest-version filter (CellsPerColumnLimit(1)) ---
    "bt_latest" -> ((s, dir) =>
      GraftTables.eventsLatest(s, dir)
        .where(col("u_key").between("000000", "000050"))
        .select(col("u_key"), col("event_type"), col("value"))
        .orderBy(col("u_key"))),

    // --- §2A A8 relaxed: explicit full scan feeding a whole-table agg ---
    "bt_full_scan_agg" -> ((s, dir) =>
      GraftTables.nation(s, dir, Map("allowFullScan" -> "true"))
        .agg(count("*").as("n"), sum(col("n_regionkey")).as("sum_rk"))),

    // Columnar decode volume: a whole-table scan of events grouped on a
    // qualifier — the scan emits bounded ColumnarBatches (values decoded
    // straight into column vectors, no per-row allocation) and feeds
    // codegen through a vectorized ColumnarToRow, the parquet-reader
    // shape. Grouping on a qualifier keeps the aggregate in Spark, so
    // this times the actual columnar decode.
    "bt_vectorized_agg" -> ((s, dir) =>
      GraftTables.eventsLatest(s, dir, Map("allowFullScan" -> "true"))
        .groupBy(col("event_type"))
        .agg(count("*").as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type"))),

    // Aggregate pushdown (SupportsPushDownAggregates, beyond the
    // reference's roadmap): with the key range reported as EXACTLY
    // pushed (no residual FilterExec), Catalyst pushes the global
    // COUNT/MIN/MAX into the scan — each partition folds store-side and
    // emits ONE partial row; Spark's final agg merges partials. No
    // per-row transfer out of the scan at any scan volume.
    "bt_count_pushdown" -> ((s, dir) =>
      GraftTables.nation(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("n_key").between("0000", "9999"))
        .agg(count("*").as("cnt"), min(col("n_key")).as("min_key"),
          max(col("n_key")).as("max_key"), max(col("n_regionkey")).as("max_rk"))),

    // Aggregate pushdown on a COMPOSITE key: all three key components
    // pinned by =/IN compose to a cartesian of POINT ranges — exact, so
    // the residual FilterExec drops and the COUNT/MIN/MAX fold happens
    // inside the scan (one partial row per partition), same as
    // bt_count_pushdown but over the 3-component orders key.
    "bt_count_pushdown_composite" -> ((s, dir) =>
      GraftTables.orders(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("o_orderstatus") === "O" &&
          col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") &&
          col("o_key").isin("0000000020", "0000000026", "0000000029",
            "0000000032", "0000000039", "0000000043"))
        .agg(count("*").as("cnt"), min(col("o_key")).as("min_key"),
          max(col("o_key")).as("max_key"),
          round(max(col("o_totalprice")), 4).as("max_price"))),

    // Pushed SUM (+COUNT) fold: partial sums accumulate store-side in
    // scan order — the same per-partition addition order as Spark's own
    // partial Sum, so results are bit-identical to the unpushed plan —
    // and only one partial row leaves each partition. ANSI overflow
    // semantics are captured at plan time (SumAgg.ansi).
    "bt_sum_pushdown" -> ((s, dir) =>
      GraftTables.eventsAllVersions(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("u_key").between("000000", "000100"))
        .agg(count("*").as("cnt"), round(sum(col("value")), 4).as("sum_value"))),

    // GROUPED aggregate pushdown on the row key: the per-entity rollup
    // (versions per user) folds INSIDE the scan — groups are contiguous
    // in the reader's key-ordered stream (leading-prefix-of-key groups
    // only), so each partition streams one live accumulator and emits
    // one partial row per user, never shipping the version rows. Spark's
    // final agg merges partials across partitions. The plan shows
    // groupBy=[u_key] agg=[...] in the scan description.
    "bt_groupby_key_pushdown" -> ((s, dir) =>
      GraftTables.eventsAllVersions(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("u_key").between("000000", "000050"))
        .groupBy(col("u_key"))
        .agg(count("*").as("n_versions"), round(max(col("value")), 4).as("max_value"))
        .orderBy(col("u_key"))),

    // AVG pushdown: the source declares partial-only pushdown
    // (supportCompletePushDown=false), so Catalyst rewrites AVG to
    // SUM/COUNT (SPARK-37839) and pushes BOTH into the scan — the store
    // folds sum+count per partition and Spark's final agg divides. The
    // plan shows agg=[SUM(value), COUNT(value)] inside the BatchScan.
    "bt_avg_pushdown" -> ((s, dir) =>
      GraftTables.eventsAllVersions(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("u_key").between("000000", "000100"))
        .agg(round(avg(col("value")), 4).as("avg_value"), count("*").as("cnt"))),

    // Aggregate pushdown COMPOSED with a pushed value predicate: the
    // event_type filter is enforced exactly by the reader's post-pivot
    // re-check (ValuePredicate) — server-side cell filters prune, the
    // reader re-evaluates on decoded values — so no residual FilterExec
    // remains and Catalyst still pushes the COUNT/SUM fold into the
    // scan. Range-restricted rollups fold at the store: zero event rows
    // leave the scan, one partial per partition.
    "bt_agg_value_filter" -> ((s, dir) =>
      GraftTables.eventsAllVersions(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("u_key").between("000000", "000100") && col("event_type") === "click")
        .agg(count("*").as("cnt"), round(sum(col("value")), 4).as("sum_value"))),

    // Top-k pushdown (SupportsPushDownTopN): ORDER BY key LIMIT k rides
    // the scan's reported per-partition (key, ts) order — every reader
    // stops after its first k rows, Spark's global top-k merges the
    // per-partition prefixes. No Sort of scan output anywhere in the
    // plan; the scan shows topN=4 order=[n_key ASC].
    "bt_topk" -> ((s, dir) =>
      GraftTables.nation(s, dir, Map("exactFilterPushdown" -> "true"))
        .where(col("n_key").between("0000", "9999"))
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))
        .limit(4)),

    // The full connector pipeline across a REAL process-boundary seam:
    // the seeded store served in Bigtable v2 protobuf frames over a
    // localhost TCP socket (ProtoSocketBigtableServer), the scan reading
    // through the client-side ProtoSocketBigtableStore whose only state
    // is (host, port) — the offline stand-in for the reference's
    // executor-side gRPC channel (datasource.rs:81-88). Range pruning,
    // server-side filters, and the pivot all cross the wire; results
    // must equal the in-JVM scan.
    "bt_remote_scan" -> ((s, dir) =>
      GraftTables.nationRemote(s, dir)
        .where(col("n_key").between("0005", "0015"))
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))),

    // --- value-predicate pushdown (reference roadmap README.md:46-47,
    //     unimplemented there): string equality on a qualifier becomes a
    //     server-side per-qualifier value filter; residual keeps exactness ---
    "bt_value_eq" -> ((s, dir) =>
      GraftTables.eventsLatest(s, dir)
        .where(col("u_key").between("000000", "000050") && col("event_type") === "click")
        .select(col("u_key"), col("event_type"))
        .orderBy(col("u_key"))),

    // --- value-range pushdown on a long qualifier (both bounds >= 0) ---
    "bt_value_range" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999") && col("n_regionkey").between(1L, 3L))
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))),

    // --- multi-family table (extension: the reference allows ONE family
    //     per table): qualifiers live in different families; the value
    //     filter on n_regionkey is scoped to its own family ---
    "bt_multifamily" -> ((s, dir) =>
      GraftTables.nationMultiFamily(s, dir)
        .where(col("n_key").between("0000", "9999") && col("n_regionkey") === 2L)
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))),

    // --- DSv2 WRITE path: df.write.format("bigtable") encodes rows
    //     back into cells (inverse of the read pivot) through the
    //     MutateRows surface, mode("overwrite") truncating first; the
    //     read-back through the same connector must reproduce the
    //     parquet source exactly ---
    "bt_write_roundtrip" -> ((s, dir) => {
      val name = s"${GraftTables.storeName(dir)}-writeback"
      if (!graft.store.BigtableStores.contains(name))
        graft.store.BigtableStores.register(name, new graft.store.ConcurrentBigtable)
      val opts = GraftTables.layouts("nation") + ("store" -> name)
      s.read.parquet(s"$dir/nation.parquet")
        .select(
          lpad(col("n_nationkey").cast("string"), 4, "0").as("n_key"),
          col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .write.format("bigtable").mode("overwrite").options(opts).save()
      s.read.format("bigtable").options(opts + ("allowFullScan" -> "true")).load()
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))
    }),

    // --- §2A A13/A11 versions round trip, events-independent: two
    //     writes pin two cell versions per key via the _timestamp
    //     column (v2 = uppercased name one second later), then
    //     onlyReadLatest=false explodes one row per (key, version) and
    //     onlyReadLatest=true keeps only v2 — the execute_plan.rs:223-271
    //     / composer.rs:257-261 semantics gated without touching the
    //     events fixture that went dark in r9 ---
    "bt_versions_roundtrip" -> ((s, dir) => {
      val r = btVersionedNation(s, dir).option("onlyReadLatest", "false")
      r.load()
        .select(col("n_key"), unix_micros(col("_timestamp")).as("ts_us"), col("n_name"))
        .orderBy(col("n_key"), col("ts_us"))
    }),

    "bt_latest_roundtrip" -> ((s, dir) => {
      val r = btVersionedNation(s, dir).option("onlyReadLatest", "true")
      r.load()
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))
    }),

    // --- runtime filtering (DPP): no static key predicate on the fact
    //     side — the broadcast dim's keys narrow the scan to point
    //     lookups at runtime via SupportsRuntimeV2Filtering ---
    "bt_dpp_join" -> ((s, dir) => {
      val fact = GraftTables.nation(s, dir, Map("allowFullScan" -> "true"))
      val dim = s.read.parquet(s"$dir/nation.parquet")
        .where(col("n_nationkey") < 8)
        .select(lpad(col("n_nationkey").cast("string"), 4, "0").as("k"))
      fact.join(broadcast(dim), fact("n_key") === dim("k"))
        .select(col("n_key"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_key"))
    }),

    // Runtime PREFIX narrowing: the dim pins only the LEADING two of the
    // three composite-key components, so the probe scan narrows to one
    // prefix range per surviving (status, priority) pair at RUNTIME —
    // the partially-pinned shape that previously fell back to a full
    // scan. The residual join still prunes within each prefix.
    "bt_dpp_prefix" -> ((s, dir) => {
      val fact = GraftTables.orders(s, dir, Map("allowFullScan" -> "true"))
      // the dim predicate is a RANGE on the join key (an equality would
      // constant-propagate into a static fact filter and DPP would see
      // nothing left to prune); at runtime the scan narrows to one
      // prefix range per surviving (status, priority) pair
      val dim = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderstatus") < "O")
        .select(col("o_orderstatus").as("ds"), col("o_orderpriority").as("dp"))
        .distinct()
      fact.join(broadcast(dim),
          fact("o_orderstatus") === dim("ds") && fact("o_orderpriority") === dim("dp"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count("*").as("cnt"), sum(col("o_custkey")).as("sum_cust"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // --- OR of key predicates → range union (beyond the reference) ---
    "bt_or" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key") === "0003" || col("n_key").between("0010", "0013"))
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))),

    // --- prefix scan (LIKE 'p%'): the canonical Bigtable access pattern ---
    "bt_prefix" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").like("000%"))
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))),

    // --- §2B CUBE / grouping sets over the connector ---
    "bt_cube" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .cube(col("n_regionkey"), substring(col("n_name"), 1, 1).as("initial"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_regionkey").asc_nulls_first, col("initial").asc_nulls_first)),

    // --- §2B rollup / grouping sets over the connector ---
    "bt_rollup" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .rollup(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_regionkey").asc_nulls_first)),

    // --- §2B left-semi join (EXISTS) over the connector ---
    "bt_semi_join" -> ((s, dir) => {
      val nation = GraftTables.nation(s, dir).where(col("n_key").between("0000", "9999"))
      val region = s.read.parquet(s"$dir/region.parquet").where(col("r_regionkey") < 3)
      nation
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left_semi")
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))
    }),

    // --- §2B left-anti join (NOT EXISTS) over the connector ---
    "bt_anti_join" -> ((s, dir) => {
      val nation = GraftTables.nation(s, dir).where(col("n_key").between("0000", "9999"))
      val region = s.read.parquet(s"$dir/region.parquet").where(col("r_regionkey") < 3)
      nation
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left_anti")
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))
    }),

    // --- §2B DISTINCT over the connector ---
    "bt_distinct" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .select(col("n_regionkey"))
        .distinct()
        .orderBy(col("n_regionkey"))),

    // --- §2B ORDER BY + LIMIT (top-k) over the connector ---
    "bt_limit" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .select(col("n_key"), col("n_name"))
        .orderBy(col("n_key"))
        .limit(5)),

    // --- §2B scalar string/math functions over the connector ---
    "bt_scalar" -> ((s, dir) =>
      GraftTables.nation(s, dir)
        .where(col("n_key").between("0000", "9999"))
        .select(
          col("n_key"),
          upper(col("n_name")).as("un"),
          substring(col("n_name"), 1, 3).as("pre"),
          length(col("n_name")).as("ln"),
          (col("n_regionkey") % 3).as("m"))
        .orderBy(col("n_key"))),

    // ============== relational surface on the large tables =============

    // --- TPC-H Q1-shaped aggregation (FP-safe metrics) ---
    "rel_q1" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // --- TPC-H Q6 shape: multi-predicate scan → FP-safe aggregation
    //     (all three filters must reach the parquet scan) ---
    "rel_q6" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"))),

    // --- join + distinct-agg across the two largest tables ---
    "rel_q3" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet").where(col("o_orderstatus") === "O")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      // distinct-agg rewritten two-phase (pre-agg per order, re-agg per
      // priority) instead of countDistinct: avoids the Expand operator,
      // which doubles the joined fact through the aggregate and made cold
      // first-runs read 6x slower under driver contention. Sums re-associate
      // exactly (integral-valued doubles).
      orders
        .join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
        .groupBy(col("o_orderpriority"), col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("__q"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("__q")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // --- TPC-H Q5-shaped 5-way join across the whole star schema ---
    "rel_q5" -> ((s, dir) => {
      val region = s.read.parquet(s"$dir/region.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet").where(col("o_orderstatus") =!= "P")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      region
        .join(nation, region("r_regionkey") === nation("n_regionkey"))
        .join(customer, nation("n_nationkey") === customer("c_nationkey"))
        .join(orders, customer("c_custkey") === orders("o_custkey"))
        .join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
        // two-phase distinct-agg (see rel_q3): pre-agg per (region, order),
        // re-agg per region — no Expand, stable cold-run memory profile
        .groupBy(col("r_name"), col("o_orderkey"))
        .agg(count(lit(1)).as("__n"), sum(col("l_quantity")).as("__q"))
        .groupBy(col("r_name"))
        .agg(
          sum(col("__n")).as("n_lineitems"),
          sum(col("__q")).as("sum_qty"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))
    }),

    // --- TPC-H Q18 shape (large-volume customer): HAVING-aggregate
    //     semi-join into the fact, 3-way join, global top-k. The
    //     qualifying-order set is an aggregate of lineitem (map-side
    //     combined) whose size grows with scale factor, so the semi
    //     join is left UNHINTED: AQE broadcasts it while it fits and
    //     falls back to a shuffled hash join when it doesn't. The
    //     top-100 is a TakeOrdered, never a full sort ---
    "rel_q18" -> ((s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      val big = lineitem.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("__sumq"))
        .where(col("__sumq") > 250)
        .select(col("l_orderkey"))
      lineitem
        .join(big, Seq("l_orderkey"), "left_semi")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),

    // --- scalar subquery: customers above the global average balance ---
    // planned exactly as Catalyst plans a scalar subquery: broadcast the
    // 1-row aggregate and filter against it
    "rel_subquery_scalar" -> ((s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val avgBal = customer.agg(avg(col("c_acctbal")).as("__avg"))
      customer.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("__avg"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_above"), min(col("c_custkey")).as("min_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // --- correlated EXISTS: orders with at least one high-quantity item ---
    "rel_exists" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val big = s.read.parquet(s"$dir/lineitem.parquet").where(col("l_quantity") >= 48)
      orders.join(big, orders("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // --- exact percentiles / median per group (0.5 and 0.25: the
    //     interpolation weights are exact binary fractions over integral
    //     quantities, so Spark and DuckDB agree bitwise) ---
    "rel_percentile" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.25)").as("p25_qty"))
        .orderBy(col("l_returnflag"))),

    // --- PIVOT: order counts per priority × status ---
    "rel_pivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"),
          coalesce(col("P"), lit(0L)).as("p_cnt"))
        .orderBy(col("o_orderpriority"))),

    // --- LATERAL explode: top-20 tokens across the corpus ---
    "rel_explode" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // --- as-of (point-in-time) join over the connector: for every
    //     purchase event, the user's most recent view at-or-before it.
    //     Union-tag + running last_value — one shuffle, no join fanout;
    //     DuckDB's native ASOF JOIN is the oracle. The event_type
    //     predicates also exercise value pushdown on the scan. ---
    "rel_asof" -> ((s, dir) => {
      val events = GraftTables.eventsAllVersions(s, dir)
        .where(col("u_key").between("000000", "999999"))
      val p = events.where(col("event_type") === "purchase")
        .select(col("u_key"), unix_micros(col("_timestamp")).as("p_us"))
      val v = events.where(col("event_type") === "view")
        .select(col("u_key"), unix_micros(col("_timestamp")).as("v_us"), col("value").as("v_value"))
      graft.operators.AsOf.joinBackward(p, v, Seq("u_key"), "p_us", "v_us")
        .orderBy(col("u_key"), col("p_us"))
    }),

    // --- range (interval) join via bin bucketing: purchases within
    //     ±5 min of ANY error event (no equi key — the shape Spark
    //     would otherwise plan as a nested-loop cartesian) ---
    "rel_range_join" -> ((s, dir) => {
      val events = GraftTables.eventsAllVersions(s, dir)
        .where(col("u_key").between("000000", "999999"))
      val errs = events.where(col("event_type") === "error")
        .select((unix_micros(col("_timestamp")) - 300000000L).as("lo"),
          (unix_micros(col("_timestamp")) + 300000000L).as("hi"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(unix_micros(col("_timestamp")).as("p_us"))
      graft.operators.RangeJoin
        .pointInInterval(purchases, "p_us", errs, "lo", "hi", binWidth = 600000000L)
        .groupBy(col("p_us"))
        .agg(count(lit(1)).as("n_bursts"))
        .orderBy(col("p_us"))
    }),

    // --- batch sessionization (gaps-and-islands): 30-min inactivity gap
    //     over each user's event timeline from the connector; one
    //     shuffle + per-partition lag/cumsum, no state store. ---
    "rel_sessionize" -> ((s, dir) => {
      val events = GraftTables.eventsAllVersions(s, dir)
        .where(col("u_key").between("000000", "999999"))
        .select(col("u_key"), unix_micros(col("_timestamp")).as("ts_us"), col("value"))
      graft.operators.Sessionize
        .assign(events, "u_key", "ts_us", "value", gapMicros = 30L * 60 * 1000000)
        .select(col("u_key"), col("session_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("u_key"), col("session_id"))
    }),

    // --- conversation assembly (SFT example building): each user's
    //     event log splits into conversations at 30-min gaps, turns
    //     serialize IN (ts, event_id) ORDER into one transcript record.
    //     ONE exchange: the groupBy reuses the window's user-key
    //     partitioning (pinned in ConversationsSpec) ---
    "rel_conversations" -> ((s, dir) => {
      // ts is TIMESTAMP_NTZ in the fixture; session tz is pinned UTC, so
      // the cast + unix_micros equals DuckDB's epoch_us on the naive value
      val events = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("event_id"), col("event_type"))
      graft.operators.Conversations
        .assemble(events, "user_id", "ts_us", "event_id", "event_type",
          gapMicros = 30L * 60 * 1000000)
        .orderBy(col("user_id"), col("conv_id"))
    }),

    // --- bucketed co-located join: orders and lineitem written bucketed
    //     by order key (the persisted-partitioning strategy for
    //     repeatedly-joined fact tables), then joined WITHOUT a shuffle —
    //     the plan has no Exchange above either scan (asserted in
    //     SinkSpec); at 100 TB this deletes the dominant fact-fact
    //     exchange from every downstream join on the same key. ---
    "rel_bucketed_join" -> ((s, dir) => {
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_") // per-sf table names
      if (!s.catalog.tableExists(s"graft_orders_b$sfx")) {
        graft.operators.Sink.writeBucketed(
          s.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"), col("o_orderstatus")),
          s"graft_orders_b$sfx", Seq("o_orderkey"), nBuckets = 8, sortCols = Seq("o_orderkey"))
        graft.operators.Sink.writeBucketed(
          s.read.parquet(s"$dir/lineitem.parquet").select(col("l_orderkey"), col("l_quantity")),
          s"graft_lineitem_b$sfx", Seq("l_orderkey"), nBuckets = 8, sortCols = Seq("l_orderkey"))
      }
      val o = s.table(s"graft_orders_b$sfx")
      val l = s.table(s"graft_lineitem_b$sfx")
      // merge hint: at fixture scale Catalyst would broadcast the small
      // side and bypass the buckets; a real fact-fact join is too big to
      // broadcast, and THAT is the plan the buckets exist for — SMJ with
      // zero shuffle exchanges (bucket partitioning + in-bucket sort
      // satisfy the join's requirements straight off disk)
      o.join(l.hint("merge"), o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // --- runtime Bloom-filter semi-join reduction: a selective filter on
    //     the small join side is turned into a bloom filter evaluated on
    //     the FACT side before its shuffle (Catalyst InjectRuntimeFilter)
    //     — at 100 TB this deletes most of the probe side's shuffled
    //     bytes. The size thresholds exist for real clusters (creation
    //     side < 10 MB, application side > 10 GB scanned), so at fixture
    //     scale the application-side floor is lowered and auto-broadcast
    //     is off during planning — InjectRuntimeFilter only fires on a
    //     probable SHUFFLE join (canBroadcastBySize on either side vetoes
    //     it, since a broadcast join prunes via its own runtime filter),
    //     and at sf0.001 the filtered orders side broadcasts by size.
    //     The shuffle hint keeps the physical pick a shuffle join too.
    //     BloomJoinSpec asserts might_contain sits in the fact side's
    //     plan and the join stayed a ShuffledHashJoin. ---
    "rel_bloom_join" -> ((s, dir) =>
      SessionConf.withConf(s,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val l = s.read.parquet(s"$dir/lineitem.parquet")
        val o = s.read.parquet(s"$dir/orders.parquet")
          .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
        val joined = l.join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity")), 4).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
        // force planning (and therefore bloom injection) under the
        // overridden confs before they are restored
        joined.queryExecution.executedPlan
        joined
      }),

    // --- window top-3 per segment on customer ---
    "rel_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      s.read.parquet(s"$dir/customer.parquet")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("rn"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // ================= LLM-data-pipeline tier (SURVEY.md §7.4) =========

    // --- deterministic sampling: k smallest md5(doc_id) — reproducible
    //     across runs/engines, TakeOrdered plan (only k-lists shuffle) ---
    "doc_sample_det" -> ((s, dir) =>
      graft.operators.Sampling
        .deterministicSample(s.read.parquet(s"$dir/documents.parquet"), "doc_id", 100)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // --- hash-gated train/eval/test split: per-row projection, no
    //     shuffle, membership stable under corpus growth ---
    "doc_split" -> ((s, dir) =>
      graft.operators.Sampling
        .hashSplit(s.read.parquet(s"$dir/documents.parquet"), "doc_id",
          Seq(("eval", "28"), ("test", "50")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("split"))),

    // --- leakage-safe split: split membership keyed on the near-dup
    //     CLUSTER representative, so no eval/train boundary separates two
    //     near-copies (the eval-contamination hazard of per-doc
    //     splitting). Oracle recomputes clusters with a recursive CTE
    //     and the same md5 gate ---
    "doc_leakage_split" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = graft.operators.Dedup
        .nearDuplicates(docs, "doc_id", "text", threshold = 0.9,
          numHashes = 120, bands = 20, persistIntermediate = true)
      graft.operators.Sampling
        .leakageSafeSplit(docs, "doc_id", pairs, "id1", "id2",
          Seq(("eval", "28"), ("test", "50")))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // --- token-budgeted epoch mix: keep each language's hash-ordered
    //     document prefix while the running TOKEN total fits the budget
    //     (how training mixes are specified); bucketed prefix-sum keeps
    //     every group 256-way parallel ---
    "doc_token_budget" -> ((s, dir) => {
      val tf = graft.functions.TextFunctions
      val staged = s.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("doc_id"), tf.tokenCount(col("text")).as("__ntok"))
      graft.operators.Sampling
        .tokenBudgetSample(staged, "doc_id", "lang", "__ntok",
          Map("en" -> 3000L, "fr" -> 1000L), defaultBudget = 500L)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // --- stratified deterministic sample: k per language stratum ---
    "doc_stratified" -> ((s, dir) =>
      graft.operators.Sampling
        .stratifiedSample(s.read.parquet(s"$dir/documents.parquet"), Seq("lang"), "doc_id", 5)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))),

    // --- mixture weighting: per-language sampling fractions as a
    //     stateless hash-gate projection (membership monotone in the
    //     fraction — re-weighting only adds docs, never reshuffles) ---
    "doc_mixture" -> ((s, dir) =>
      graft.operators.Sampling
        .mixtureSample(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.25, "fr" -> 0.125))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // --- temperature mixture (α=0.5 sampling, the multilingual
    //     rebalancing rule): per-source keep fractions derived from the
    //     corpus' own counts — one k-row count aggregate, then the same
    //     stateless md5-gate projection as doc_mixture. sqrt/·// are all
    //     correctly-rounded IEEE ops, so the oracle recomputes f_i
    //     bit-for-bit ---
    "doc_mixture_temp" -> ((s, dir) =>
      graft.operators.Sampling
        .temperatureMixture(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "source", targetFraction = 0.25)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // --- END-TO-END curation pipeline: the composition a real corpus
    //     build runs as ONE query — exact-dedup survivors, minus
    //     benchmark-contaminated docs (13-gram overlap), length floor,
    //     deterministic 50% mixture gate. Each stage is an
    //     independently-gated operator; this certifies they compose ---
    "doc_curate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.where(col("doc_id") % 11 =!= 0)
      val bench = docs.where(col("doc_id") % 11 === 0)
      val keepers = graft.operators.Dedup
        .exact(corpus, Seq("text"), "doc_id").select(col("doc_id"))
      val contaminated = graft.operators.Decontaminate
        .contaminated(corpus, "doc_id", "text", bench, "text", n = 13)
        .select(col("doc_id"))
      graft.operators.Sampling
        .mixtureSample(corpus, "doc_id", "lang", Map.empty, defaultFraction = 0.5)
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .where(graft.functions.TextFunctions.tokenCount(col("text")) >= 30)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // --- scored curation: this session's operators composed the way a
    //     corpus build runs them — exact-dedup survivors, frozen-
    //     classifier keep (score >= 0), temperature-mixture gate with
    //     rates set on the raw corpus. One oracle certifies the
    //     composition; each stage is independently gated ---
    "doc_curate_scored" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val keepers = graft.operators.Dedup
        .exact(docs, Seq("text"), "doc_id").select(col("doc_id"))
      val scored = graft.operators.Classifier
        .classify(docs, "doc_id", "text", dims = 256, weightOf = b => (b % 7) - 3, bias = 2L)
        .where(col("keep")).select(col("doc_id"))
      graft.operators.Sampling
        .temperatureMixture(docs, "doc_id", "source", targetFraction = 0.5)
        .join(keepers, Seq("doc_id"), "left_semi")
        .join(scored, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // --- text analysis: token / punctuation / length stats ---
    "doc_token_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(
          col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
          graft.functions.TextFunctions.bpeTokenCountApprox(col("text")).as("n_bpe"),
          regexp_count(col("text"), lit("[.,!?;:]")).as("n_punct"),
          length(col("text")).as("len_chars"))
        .orderBy(col("doc_id"))),

    // --- a curation step written ENTIRELY in SQL over the registered
    //     function surface (SqlFunctions.register): quality-filter,
    //     per-language corpus stats, KMV distinct-text estimate — the
    //     reference's pure-SQL user model (README.md:25) extended to the
    //     text tier. The scalar calls are expression builders, so this
    //     plans identically to the DataFrame form (codegen, no UDF
    //     wall); kmv_distinct is exact below k=1024 per group, which
    //     the 500-doc fixture guarantees, so the oracle pins it to
    //     count(DISTINCT) ---
    "doc_sql_pipeline" -> ((s, dir) => {
      graft.functions.SqlFunctions.register(s)
      s.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents_sql")
      s.sql("""
        SELECT lang, count(*) AS n_docs,
               sum(token_count(text)) AS total_toks,
               kmv_distinct(fingerprint64(text)) AS n_distinct_texts,
               round(min(quality_score(text)), 6) AS min_quality,
               round(max(quality_score(text)), 6) AS max_quality
        FROM documents_sql
        WHERE quality_score(text) >= 0.5
        GROUP BY lang ORDER BY lang""")
    }),

    // --- exact dedup: duplicate groups (keeper id + copy count) ---
    "doc_exact_dedup" -> ((s, dir) =>
      graft.operators.Dedup
        .duplicateGroups(s.read.parquet(s"$dir/documents.parquet"), Seq("text"), "doc_id")
        .select(col("keeper_id"), col("n_copies"))
        .orderBy(col("keeper_id"))),

    // --- exact dedup: surviving rows ---
    "doc_exact_dedup_rows" -> ((s, dir) =>
      graft.operators.Dedup
        .exact(s.read.parquet(s"$dir/documents.parquet"), Seq("text"), "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // --- quality-aware dedup: crude near-dup key (5-token prefix
    //     fingerprint), keep the HIGHEST-quality copy per group (ties →
    //     smallest id). max_by aggregate, so candidates combine
    //     map-side — no full-row window shuffle ---
    "doc_dedup_best" -> ((s, dir) => {
      // keepBest survives whole input rows — prune to the needed columns
      // BEFORE it so the parquet scan reads 2 columns, not the table
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .withColumn("quality", graft.functions.TextFunctions.qualityScore(col("text")))
      val prefix = concat_ws(" ",
        slice(regexp_extract_all(col("text"), lit("\\S+"), lit(0)), 1, 5))
      graft.operators.Dedup
        .keepBest(docs, Seq(prefix), col("quality"), col("doc_id"))
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // --- span-level exact dedup (substring dedup at 4-token-span
    //     granularity): a span occurring anywhere else in the corpus
    //     survives only at its first (doc_id, idx); docs reassembled
    //     from surviving spans, emptied docs dropped ---
    "doc_span_dedup" -> ((s, dir) =>
      graft.operators.SpanDedup
        .dedupSpans(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", spanTokens = 4)
        .orderBy(col("doc_id"))),

    // --- OFFSET-ROBUST span dedup: content-anchored span boundaries
    //     (md5-of-token predicate) instead of a fixed k-grid, so a
    //     duplicate passage shifted by <k tokens still dedups — the
    //     fidelity gap of the grid variant vs a suffix array. The gate
    //     corpus plants that exact hazard: a one-token-padded copy of
    //     every doc_id<50 document, which the fixed grid provably
    //     misses (every grid span misaligns by one token) and the
    //     anchored variant reduces to the pad plus a pre-anchor head
    //     fragment ---
    "doc_span_dedup_anchored" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      // planted ids shift by max(doc_id)+1, derived on BOTH sides (the
      // ADVICE-r16 hazard class: a fixed +100000 collides with real ids
      // once a scale factor reaches 100k docs — two texts under one id
      // make the span reconstruction order engine-defined; caught as an
      // actual sf10 hash mismatch in round 17)
      val shift = shiftPastMax(docs, "doc_id")
      val corpus = docs.unionAll(
        docs.where(col("doc_id") < 50)
          .select((col("doc_id") + lit(shift)).as("doc_id"),
            concat(lit("zzpad "), col("text")).as("text")))
      graft.operators.SpanDedup
        .dedupSpansAnchored(corpus, "doc_id", "text", spanTokens = 16)
        .orderBy(col("doc_id"))
    }),

    // --- boilerplate scrub: every occurrence of a span repeated more
    //     than maxOccurrences times corpus-wide is removed outright ---
    "doc_span_scrub" -> ((s, dir) =>
      graft.operators.SpanDedup
        .scrubFrequentSpans(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          spanTokens = 4, maxOccurrences = 2)
        .orderBy(col("doc_id"))),

    // --- MinHash-LSH near-dup with exact jaccard verification ---
    // banding r=6/b=20: S-curve midpoint (1/20)^(1/6)≈0.61, so recall at
    // the 0.9 query threshold is 1-(1-0.9^6)^20 ≈ 1-2.6e-7 (safe for an
    // exact-equality gate) while pairs below ~0.6 rarely reach verification
    "doc_near_dup" -> ((s, dir) =>
      graft.operators.Dedup
        .nearDuplicates(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", threshold = 0.9,
          numHashes = 120, bands = 20, persistIntermediate = true)
        .orderBy(col("id1"), col("id2"))),

    // --- CROSS-CORPUS near-dup: dedup a new crawl batch against the
    //     accumulated corpus WITHOUT re-pairing the corpus with itself
    //     (the batch twin of stream_doc_near_dup's index probe). The
    //     fixture's "new batch" is 250 exact copies of existing docs
    //     with shifted ids, so every new doc must match its original
    //     (j = 1) plus that original's own near-dup family; the oracle
    //     recomputes exact shingle jaccard over the base × new cross
    //     product only — base × base pairs must NOT appear. ---
    "doc_near_dup_incr" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      // fresh-batch ids shift by max(doc_id)+1, derived on BOTH sides
      // (a fixed +100000 collides with real ids at 100k+ docs)
      val shift = shiftPastMax(docs, "doc_id")
      val fresh = docs.where(col("doc_id") < 250)
        .select((col("doc_id") + lit(shift)).as("doc_id"), col("text"))
      graft.operators.Dedup.nearDuplicatesAgainst(docs, fresh, "doc_id", "text",
          threshold = 0.9, numHashes = 120, bands = 20, persistIntermediate = true)
        .orderBy(col("id1"), col("id2"))
    }),

    // --- near-dup CLUSTER formation: connected components over the
    //     near-dup pair graph (a≈b, b≈c ⇒ one cluster {a,b,c}) — the
    //     step that turns pairwise detections into one-survivor-per-
    //     cluster dedup. Iterative min-label propagation, O(diameter)
    //     rounds of join+aggregate. ---
    "doc_near_dup_clusters" -> ((s, dir) => {
      val pairs = graft.operators.Dedup
        .nearDuplicates(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", threshold = 0.9,
          numHashes = 120, bands = 20, persistIntermediate = true)
      graft.operators.Dedup.connectedComponents(pairs, "id1", "id2")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // --- the dedup pass a real curation run executes: near-dup pairs
    //     (LSH-banded) → connected components → keep the HIGHEST-quality
    //     doc per cluster (singletons survive as their own cluster).
    //     The label join is UNHINTED: on a real web crawl 30-50% of
    //     documents sit in duplicate clusters, so the label table is
    //     corpus-scale and a forced broadcast would OOM the driver —
    //     AQE broadcasts it when small and shuffles when not; keepBest
    //     combines map-side either way ---
    "doc_near_dup_best" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val pairs = graft.operators.Dedup
        .nearDuplicates(docs, "doc_id", "text", threshold = 0.9,
          numHashes = 120, bands = 20, persistIntermediate = true)
      val comps = graft.operators.Dedup.connectedComponents(pairs, "id1", "id2")
      val labeled = docs
        .join(comps, docs("doc_id") === comps("id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .withColumn("quality", graft.functions.TextFunctions.qualityScore(col("text")))
        .drop("id")
      graft.operators.Dedup
        .keepBest(labeled, Seq(col("component")), col("quality"), col("doc_id"))
        .select(col("doc_id"), col("component"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // --- cluster formation on the RELIABLE-checkpoint path: identical
    //     semantics to doc_near_dup_clusters, but label propagation cuts
    //     to stable storage every checkpointInterval rounds (`checkpointDir`,
    //     MEMORY_AND_DISK persists in between) instead
    //     of executor-local blocks — the configuration a 100 TB run uses
    //     so iteration survives executor churn (VERDICT r14 #8). Same
    //     exhaustive oracle as the localCheckpoint gate. ---
    "doc_near_dup_clusters_ckpt" -> ((s, dir) => {
      val pairs = graft.operators.Dedup
        .nearDuplicates(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", threshold = 0.9,
          numHashes = 120, bands = 20, persistIntermediate = true)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
      graft.operators.Dedup.connectedComponents(pairs, "id1", "id2",
          checkpointDir = Some(ckpt))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // --- PIPELINE on a MATERIALIZED pair table (VERDICT r14 #6): a real
    //     corpus build runs LSH+verify ONCE, commits the pair table, and
    //     derives clusters, keep-best survivors, and the leakage-safe
    //     split from the TABLE — where the per-gate family recomputes
    //     the full pipeline per consumer (at sf10 that re-spends the
    //     shared ~60-90 s in each of three gates). The pair table rides
    //     a CommitLog (atomic publish; the incremental path appends to
    //     the same layout), and all three derivations here read the
    //     committed files, not the LSH plan. Oracle recomputes the
    //     exhaustive pair set once and derives all three in one query. ---
    "doc_dedup_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      val work = java.nio.file.Files.createTempDirectory("graft-pairtable").toString
      val pairs = graft.operators.Dedup
        .nearDuplicates(docs, "doc_id", "text", threshold = 0.9,
          numHashes = 120, bands = 20, persistIntermediate = true)
      graft.streaming.CommitLog.appendAlways(
        pairs.select(col("id1"), col("id2")), s"$work/pairs")
      val pairTable = graft.streaming.CommitLog.read(s, s"$work/pairs")
      val comps = graft.operators.Dedup.connectedComponents(pairTable, "id1", "id2")
      val labeled = docs
        .join(comps, docs("doc_id") === comps("id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .withColumn("quality", graft.functions.TextFunctions.qualityScore(col("text")))
        .drop("id")
      val survivors = graft.operators.Dedup
        .keepBest(labeled, Seq(col("component")), col("quality"), col("doc_id"))
        .select(col("doc_id").as("__surv"))
      graft.operators.Sampling
        .hashSplit(labeled, "component", Seq(("eval", "28"), ("test", "50")))
        .join(survivors, col("doc_id") === col("__surv"), "left")
        .select(col("doc_id"), col("component"),
          col("__surv").isNotNull.cast("long").as("survivor"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // --- word-ngram Jaccard near-dup: EXACT prefix-filtered set-
    //     similarity join (AllPairs/PPJoin family) — recall 1 by
    //     construction, so the exhaustive-oracle equality gate can't
    //     flake at any threshold (the LSH variant stays available as
    //     Dedup.ngramNearDuplicates for sub-threshold scale paths) ---
    // prefix ordering AUTO (Dedup.AutoFrequencyOrderBytes): small
    // fixtures plan the hash-ordered prefix path (no stats pass — this
    // corpus's per-SF trigram DF is near-uniform at gate scale), while
    // 100×-scale corpora flip to rare-token-first prefixes — the
    // hash-ordered path put whole duplicate families into shared-gram
    // buckets and OOMed the r13 sf10 probe. Both orderings provably
    // return the same pairs (recall-1 prefix filter; DedupSpec pins it)
    "doc_ngram_near_dup" -> ((s, dir) =>
      graft.operators.Dedup
        .ngramJaccardJoin(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          n = 3, threshold = 0.7, persistIntermediate = true)
        .orderBy(col("id1"), col("id2"))),

    // --- salted aggregation over a skewed key (events per type) ---
    "doc_salted_count" -> ((s, dir) => {
      // explicit schema: only event_type is needed, and pruning ts at
      // the schema keeps this gate independent of the fixture
      // generator's ts physical type (which has drifted across rounds)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
      graft.operators.Skew
        .saltedCount(s.read.schema(schema).parquet(s"$dir/events.parquet"), Seq("event_type"), saltBuckets = 16)
        .orderBy(col("event_type"))
    }),

    // --- salted equi-join: events carry ~5 distinct event_types (the
    //     extreme-skew join shape — every key is a Zipf head); the right
    //     side is replicated x16 and the join runs on (key, salt) so each
    //     hot key spreads across 16 reducers. Result provably equals the
    //     unsalted join (the oracle IS the plain join). ---
    "rel_skew_join" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      val events = s.read.schema(schema).parquet(s"$dir/events.parquet")
      // shuffle_hash hint: the fixture dim is tiny so Catalyst would
      // broadcast it and the salting would be moot — in production the
      // salted join is used exactly when the right side is too large to
      // broadcast, which is the plan shape this hint reproduces
      val dim = events.select(col("event_type")).distinct()
        .withColumn("type_len", length(col("event_type")).cast("long"))
        .hint("shuffle_hash")
      graft.operators.Skew
        .saltedJoin(events, dim, Seq("event_type"), saltBuckets = 16)
        .groupBy(col("event_type"), col("type_len"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("event_type"), col("type_len"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // --- partitioned parquet sink round trip: layout-controlled write
    //     (repartition by lang -> partitionBy(lang), sorted by doc_id
    //     within files) then read back and aggregate; the oracle runs on
    //     the ORIGINAL table, so the gate proves write/read fidelity. ---
    "doc_sink_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
      graft.operators.Sink.writePartitioned(
        s.read.parquet(s"$dir/documents.parquet"),
        out, partitionBy = Seq("lang"), sortBy = Seq("doc_id"))
      graft.operators.Sink.readPartitioned(s, out, "lang" -> "string")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }),

    // --- range-clustered layout: documents rewritten range-laid-out on
    //     doc_id (disjoint per-file ranges + in-file sort), then a
    //     doc_id range read back through the layout — the gate proves
    //     write/read fidelity (oracle runs on the ORIGINAL table);
    //     RangeLayoutSpec proves the pruning (disjoint file ranges; the
    //     filtered scan outputs a fraction of the rows an unclustered
    //     layout reads). ---
    "doc_range_layout" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-range").toString
      graft.operators.Sink.writeRangeLayout(
        s.read.parquet(s"$dir/documents.parquet"), out,
        rangeBy = Seq("doc_id"), nRanges = 8)
      s.read.parquet(out)
        .where(col("doc_id").between(100, 199))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }),

    // --- small-file compaction: 64-way fragmented copy rewritten to
    //     right-sized sorted files via atomic directory swap; gate
    //     proves rewrite fidelity (oracle runs on the ORIGINAL table) ---
    "doc_compact" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
      s.read.parquet(s"$dir/documents.parquet")
        .repartition(64).write.mode("overwrite").parquet(out)
      graft.operators.Sink.compact(s, out, targetRecordsPerFile = 2000, sortBy = Seq("doc_id"))
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- Z-order layout: Morton-interleaved (doc_id, n_chars) clustering;
    //     row groups cover hyper-rectangles so min/max stats prune on
    //     EITHER column; gate proves write/read fidelity under a combined
    //     filter (oracle runs on the ORIGINAL table) ---
    "doc_zorder_layout" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      graft.operators.Sink.writeZOrder(
        s.read.parquet(s"$dir/documents.parquet"), out,
        zBy = Seq("doc_id", "n_chars"), nRanges = 8, rowGroupBytes = 64 * 1024)
      s.read.parquet(out)
        .where(col("doc_id").between(50, 449) && col("n_chars") > 200)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- SimHash near-dup, EXACT gate: md5-derived token hashes (DuckDB
    //     replicates the full SimHash bit-for-bit) and maxHamming=3, where
    //     4x16-bit pigeonhole banding has recall exactly 1 — so the banded
    //     LSH output equals the exhaustive all-pairs oracle. ---
    "doc_simhash_near_dup" -> ((s, dir) =>
      graft.operators.Dedup
        .simhashNearDuplicates(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          maxHamming = 3, md5Hash = true)
        .orderBy(col("id1"), col("id2"))),

    // --- text quality / language-ID / fingerprints, fully oracled: the
    //     md5-derived fingerprint + winnowing variants are replicated
    //     bit-for-bit by the DuckDB oracle (window minima over positional
    //     shingle hashes included). ---
    // (presentation sort FIRST: a global orderBy's range-sampling pass
    // executes its child twice, so sorting the cheap input and
    // projecting after evaluates the expensive expressions exactly once;
    // sortedSpread keeps the post-sort projection on every core)
    "doc_quality" -> ((s, dir) =>
      sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))
        .select(
          col("doc_id"),
          graft.functions.TextFunctions.langGuess(col("text")).as("lang_guess"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
          graft.functions.TextFunctions.fingerprint60Md5(col("text")).as("fingerprint"),
          size(graft.functions.TextFunctions.winnowFingerprintsMd5(col("text"))).as("n_winnow_fp"))),

    // --- partial-overlap (containment) via winnowing fingerprints; md5
    //     shingle hashes so the oracle rebuilds the fingerprint sets,
    //     the rare-bucket discovery cap, and the full intersect count ---
    "doc_containment" -> ((s, dir) =>
      graft.operators.Dedup
        .containmentCandidates(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          minShared = 50, maxBucket = 200, persistIntermediate = true, md5Hash = true)
        .orderBy(col("id1"), col("id2"))),

    // --- mergeable quantile sketch (KLL-style): GROUP BY quantiles with
    //     bounded state (~k doubles per partial crosses the shuffle, vs
    //     exact percentile shuffling every value); k=4096 > group count
    //     here -> EXACT regime, nearest-rank == DuckDB quantile_disc ---
    "rel_quantile_sketch" -> ((s, dir) => {
      val agg = udaf(new graft.functions.KllQuantiles.Sketch(4096, Seq(0.5, 0.9, 0.99)))
      s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 11 === 0)
        .groupBy(col("o_orderpriority"))
        .agg(agg(col("o_totalprice")).as("qv"))
        .select(col("o_orderpriority"),
          col("qv").getItem(0).as("p50"),
          col("qv").getItem(1).as("p90"),
          col("qv").getItem(2).as("p99"))
        .orderBy(col("o_orderpriority"))
    }),

    // --- vocabulary build: top-V tokens by frequency with contiguous
    //     rank ids (map-side-combined count shuffle; TakeOrdered cut;
    //     the only global window is over the V-row vocab itself) ---
    "doc_vocab" -> ((s, dir) =>
      graft.operators.Vocab
        .build(s.read.parquet(s"$dir/documents.parquet"), "text", size = 20)
        .orderBy(col("id"))),

    // --- corpus encoding through the vocab: pure projection via a
    //     broadcast token->id map literal, OOV -> -1; per-doc id-sequence
    //     digest so the oracle pins the full sequences ---
    "doc_vocab_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vm = graft.operators.Vocab.toMap(
        graft.operators.Vocab.build(docs, "text", size = 20))
      docs.where(col("doc_id") < 100)
        .select(col("doc_id"),
          graft.operators.Vocab.encodeColumn(col("text"), vm).as("__ids"))
        .select(col("doc_id"),
          size(col("__ids")).as("n_ids"),
          size(filter(col("__ids"), i => i === -1)).as("n_oov"),
          md5(concat_ws(",", transform(col("__ids"), i => i.cast("string")))).as("ids_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- the same encoding through Vocab.encode's BROADCAST-JOIN plan
    //     (literalThreshold = 0 forces it): the path a real 32k-100k
    //     tokenizer vocab runs, where a map literal would be a megabyte
    //     of codegen probed by linear scan. Same oracle as
    //     doc_vocab_encode — the gate certifies plan equivalence ---
    "doc_vocab_encode_join" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vocab = graft.operators.Vocab.build(docs, "text", size = 20)
      graft.operators.Vocab
        .encode(docs.where(col("doc_id") < 100), "doc_id", "text", vocab,
          literalThreshold = 0)
        .select(col("doc_id"),
          size(col("ids")).as("n_ids"),
          size(filter(col("ids"), i => i === -1)).as("n_oov"),
          md5(concat_ws(",", transform(col("ids"), i => i.cast("string")))).as("ids_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- BPE tokenizer-merge learning (Bpe.learn): the corpus is
    //     scanned ONCE into a word-type count; 8 merge steps then run on
    //     the vocab-sized state (driver fast path here — the production
    //     trainer shape). Oracle replays the identical algorithm in SQL,
    //     unrolled one CTE trio per step ---
    "doc_bpe_merges" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.learn(docs, "text", steps = 8)
      graft.operators.Bpe.mergesDf(s, model.merges).orderBy(col("step"))
    }),

    // --- same learning through the DISTRIBUTED merge loop (driver path
    //     disabled): each step is one map-side-combined pair-count
    //     aggregate + a TakeOrdered top-1 + a codegen'd fold
    //     re-segmentation — the plan a vocabulary too big to collect
    //     runs. Same oracle: two PLANS, one semantic ---
    "doc_bpe_merges_dist" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.learn(docs, "text", steps = 8, maxDriverWords = 0L)
      graft.operators.Bpe.mergesDf(s, model.merges).orderBy(col("step"))
    }),

    // --- encoding under the trained model: per-doc token count after
    //     the 8 merges — the number token-budget planning needs; the
    //     corpus probes the vocab-sized segment table and never shuffles
    //     before the per-doc aggregate ---
    "doc_bpe_encode" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.learn(docs, "text", steps = 8)
      graft.operators.Bpe.tokenCounts(docs, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),

    // --- the EXPRESSION encode path: token counts from the merge list
    //     alone (Bpe.tokensCol — greedy folds composed per merge, no
    //     vocabulary join), the plan that also handles words never seen
    //     in training. Third plan, same oracle ---
    "doc_bpe_encode_expr" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.learn(docs, "text", steps = 8)
      // tokenless docs: the oracle's word unnest (and the join gates)
      // yield no row — align on no-row via the CHEAP token-presence
      // predicate (filtering on the computed bpe_tokens would inline the
      // 8-fold merge chain into the Filter and evaluate it twice), and
      // sort-then-project (see doc_quality) so the chain runs ONCE
      sortedSpread(
        docs.where(size(graft.functions.TextFunctions.tokens(col("text"))) > 0),
        col("doc_id"))
        .select(col("doc_id"),
          size(graft.operators.Bpe.tokensCol(col("text"), model.merges))
            .cast("long").as("bpe_tokens"))
    }),

    // --- the PERSISTED-model encode path: train, save (atomic-metadata
    //     model directory), load, then encode through the loaded
    //     artifact — the tokenize-later shape a real pipeline runs
    //     (train once, ship merges.parquet + word_tokens.parquet).
    //     Same oracle as doc_bpe_encode ---
    "doc_bpe_encode_loaded" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.operators.Bpe.learn(docs, "text", steps = 8)
      // one model dir per (tmp, sfDir) — save overwrites, so repeated
      // bench/verify invocations reuse it instead of accreting tmp dirs
      val mdir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-bpe-model-${Integer.toHexString(dir.hashCode)}").toString
      graft.operators.Bpe.save(model, mdir)
      val loaded = graft.operators.Bpe.load(s, mdir)
      graft.operators.Bpe.tokenCounts(docs, "doc_id", "text", loaded)
        .orderBy(col("doc_id"))
    }),

    // --- PRODUCTION-SCALE BPE training: run the driver-path merge loop
    //     to FULL VOCABULARY COLLAPSE (minCount=1 merges until every
    //     training word is a single token — thousands of steps at sf0.01,
    //     vs the 8-step gates above). The endpoint is exactly SQL-
    //     derivable without replaying a single merge: the final
    //     word-tokens table must be word → [word], so the oracle is a
    //     plain word-count aggregate — the equality that replaces the
    //     per-step unrolled-CTE oracle, which cannot scale past ~10
    //     steps. Every merge application and O(delta) pair-count /
    //     TreeSet-argmax update must be right for every word to land at
    //     exactly one symbol with its exact corpus count. ---
    "doc_bpe_collapse" -> ((s, dir) => {
      // the documents fixture has a 31-word vocabulary at every scale —
      // too small to exercise a long merge schedule. Widening the corpus
      // with customer names ("Customer#000000001") makes every numeric
      // id its own word TYPE (vocab 1.5k at sf0.01, 15k at sf0.1), so
      // collapse needs thousands of steps (each distinct word's final
      // token is a merge nothing else shares) — the id-and-number-heavy
      // tail a real web corpus' tokenizer training actually has
      val corpus = s.read.parquet(s"$dir/documents.parquet").select(col("text"))
        .unionAll(s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_name").as("text")))
      val model = graft.operators.Bpe.learn(corpus, "text", steps = 1000000)
      model.wordTokens
        .select(col("word"), col("cnt"),
          size(col("syms")).as("n_syms"),
          element_at(col("syms"), 1).as("sym"))
        .orderBy(col("word"))
    }),

    // --- ANALYZE: one-pass per-column table statistics; NDV via the KMV
    //     sketch (exact below k=4096 — this table's regime), partials
    //     carry counts + extrema + <=k hashes per column, never values ---
    "rel_stats" -> ((s, dir) =>
      graft.operators.Stats
        .collect(s.read.parquet(s"$dir/customer.parquet"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy(col("column_name"))),

    // --- CDC upsert-merge: fold updates/inserts/deletes into a snapshot
    //     as ONE hash-agg shuffle (max_by winner per key — no window
    //     sort); change set built deterministically from customer ---
    "rel_upsert" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_acctbal"))
      val base = cust
        .withColumn("version", lit(0L)).withColumn("deleted", lit(false))
      val updates = cust.where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit(1L).as("version"), lit(false).as("deleted"))
      // insert keys shift by max(c_custkey)+1, derived on BOTH sides: a
      // fixed +1000000 collides with real keys at sf10 (1.5M customers),
      // and a collided "% 11" insert meeting a "% 7" update ties two
      // version-1 rows on one key — engine-defined winner
      val insShift = shiftPastMax(cust, "c_custkey")
      val inserts = cust.where(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + lit(insShift)).as("c_custkey"), lit(50.0).as("c_acctbal"),
          lit(1L).as("version"), lit(false).as("deleted"))
      val deletes = cust.where(col("c_custkey") % 13 === 0)
        .select(col("c_custkey"), col("c_acctbal"),
          lit(2L).as("version"), lit(true).as("deleted"))
      val merged = graft.operators.Upsert.mergeLatest(
        base, updates.unionByName(inserts).unionByName(deletes),
        Seq("c_custkey"), "version", deleteCol = Some("deleted"))
      merged
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"), col("version"))
        .orderBy(col("c_custkey"))
    }),

    // --- snapshot CHANGE FEED: the diff between two maintained versions
    //     must be exactly the later batch's effective changes — certified
    //     through the whole stack (bucket-pruned merge, filesAt version
    //     reconstruction, shared-file pruning, distributed exceptAll).
    //     The oracle recomputes the change set relationally ---
    "rel_upsert_changes" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_acctbal"))
      val base = cust
        .withColumn("version", lit(0L)).withColumn("deleted", lit(false))
      val updates = cust.where(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit(1L).as("version"), lit(false).as("deleted"))
      val work = java.nio.file.Files.createTempDirectory("graft-cdf").toString
      graft.streaming.SnapshotUpsert.processBatch(
        base, Seq("c_custkey"), "version", work, Some(0L), numBuckets = 8)
      graft.streaming.SnapshotUpsert.processBatch(
        updates, Seq("c_custkey"), "version", work, Some(1L), numBuckets = 8)
      graft.streaming.SnapshotUpsert.changesBetween(s, work, 1, 2)
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"), col("version"))
        .orderBy(col("c_custkey"))
    }),

    // --- intra-document repetition signals (Gopher/C4-style quality
    //     filters): top-bigram fraction + duplicate-trigram fraction as
    //     PURE PROJECTIONS (token array staged once; no per-gram shuffle) ---
    "doc_repetition" -> ((s, dir) => {
      val tf = graft.functions.TextFunctions
      sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))
        .select(col("doc_id"), tf.tokens(col("text")).as("__ts"))
        .select(col("doc_id"),
          tf.tokenNgrams(col("__ts"), 2).as("__bg"),
          tf.tokenNgrams(col("__ts"), 3).as("__tg"))
        .select(col("doc_id"),
          tf.topGramFraction(col("__bg")).as("top2_frac"),
          tf.dupGramFraction(col("__tg")).as("dup3_frac"))
    }),

    // --- heavy hitters: Misra-Gries mergeable sketch, k=64 over 20
    //     distinct sources -> exact regime (err=0), bounded map-side
    //     state instead of a full GROUP BY shuffle ---
    "doc_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val agg = new graft.functions.FrequentItems.MisraGries(64).toColumn
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("source")).as[String]
        .select(agg).toDF("hh")
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("item"), col("h.count_lb").as("cnt"))
        .orderBy(desc("cnt"), col("item"))
    }),

    // --- sequence packing, concat-and-chunk: global token offsets via a
    //     DISTRIBUTED prefix sum (per-partition totals to the driver, one
    //     row per partition — never a global single-partition window) ---
    "doc_pack_chunks" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      graft.operators.Pack.concatChunks(docs, "doc_id", "n_tokens", 512)
        .select(col("doc_id"), col("n_tokens"), col("token_offset"),
          col("first_chunk"), col("last_chunk"), col("n_chunks"))
        .orderBy(col("doc_id"))
    }),

    // --- sequence packing, atomic docs: greedy bin walk inside
    //     deterministic id-blocks (bounded per-block Catalyst aggregate,
    //     embarrassingly parallel, no UDF / driver loop) ---
    "doc_pack_greedy" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      graft.operators.Pack.greedyPack(docs, "doc_id", "n_tokens", 512, 100)
        .orderBy(col("doc_id"))
    }),

    // --- unigram rarity scoring (CCNet-style perplexity stand-in):
    //     integer rarity points total/cnt per token vs a top-16 model,
    //     order-independent integer sums, ONE final division -> exact
    //     cross-engine; scoring is a pure projection ---
    "doc_unigram_rarity" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val (model, total) = graft.operators.UnigramModel.fit(docs, "text", size = 16)
      // sort the cheap input, score after (order-preserving projection):
      // the trailing orderBy's sampling pass evaluated the rarity fold
      // twice and AQE-coalesced it onto one task (see sortedSpread)
      graft.operators.UnigramModel.score(
        sortedSpread(docs, col("doc_id")), "doc_id", "text", model, total)
    }),

    // --- the same scoring through UnigramModel.scoreLarge's BROADCAST-
    //     JOIN plan (literalThreshold = 0 forces it): the 100k-vocab
    //     path. Integer rarity points make it value-exact with the
    //     literal plan, so it shares doc_unigram_rarity's oracle ---
    "doc_unigram_rarity_join" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val modelDf = graft.operators.Vocab.build(docs, "text", size = 16)
        .select(col("token"), col("cnt"))
      val total = docs
        .select(size(graft.functions.TextFunctions.tokens(col("text"))).as("__n"))
        .agg(coalesce(sum(col("__n")), lit(0L))).head.getLong(0)
      graft.operators.UnigramModel
        .scoreLarge(docs, "doc_id", "text", modelDf, total, literalThreshold = 0)
        .orderBy(col("doc_id"))
    }),

    // --- bigram LM surprise (CCNet-shaped perplexity filter): fit the
    //     bigram model on the even-doc_id half (the "reference corpus"),
    //     score everything — integer inverse-probability points with
    //     penalized unigram backoff for unseen pairs ---
    "doc_bigram_surprise" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lm = graft.operators.BigramModel.fit(docs.where(col("doc_id") % 2 === 0), "text")
      graft.operators.BigramModel.score(docs, "doc_id", "text", lm)
        .orderBy(col("doc_id"))
    }),

    // --- RAG-style chunking: overlapping 32-token windows, stride 24
    //     (8-token overlap), pure projection+explode per document ---
    "doc_chunks" -> ((s, dir) => {
      val tf = graft.functions.TextFunctions
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), tf.tokens(col("text")).as("__toks"))
      graft.operators.Pack.chunkWindows(docs, "doc_id", "__toks", window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // --- benchmark decontamination: training docs sharing any 13-token
    //     n-gram with the benchmark split are flagged; the benchmark's
    //     gram set is BROADCAST so the training corpus never shuffles ---
    "doc_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Decontaminate.contaminated(
        docs.where(col("doc_id") % 11 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 11 === 0), "text", n = 13)
        .orderBy(col("doc_id"))
    }),

    // --- SEMANTIC decontamination: the embedding-space counterpart of
    //     doc_decontaminate — n-gram overlap misses paraphrased or
    //     translated test-set leakage; cosine >= 0.35 against the
    //     benchmark's embeddings (fixture: label 0) catches it. The
    //     benchmark side is BROADCAST (an eval suite is bounded by
    //     nature, same argument as the 13-gram path) and the corpus is
    //     scored map-side in one scan — a BroadcastNestedLoopJoin by
    //     construction (cosine is not an equi-condition) with a
    //     codegen'd dot product; only flagged (id, sim) rows leave the
    //     scan stage. Threshold 0.35 sits >= 1e-4 from every actual
    //     pair cosine in the fixture, so the engine/oracle boundary
    //     cannot flip membership ---
    "doc_semantic_decontam" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Decontaminate.semanticContaminated(
        emb, "vec_id", "embedding",
        emb.where(col("label") === 0), "embedding", threshold = 0.35)
        .select(col("vec_id"), col("n_matched"),
          round(col("max_cosine"), 6).as("max_cosine"))
        .orderBy(col("vec_id"))
    }),

    // --- the surviving corpus after semantic decontamination: LEFT
    //     ANTI on the cosine condition directly — the per-row benchmark
    //     scan short-circuits at the first hit and no flagged-id table
    //     is ever materialized ---
    "doc_semantic_decontam_keep" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Decontaminate.semanticDecontaminate(
        emb, "vec_id", "embedding",
        emb.where(col("label") === 0), "embedding", threshold = 0.35)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // --- IVF-bucketed semantic decontamination for the large-benchmark
    //     regime (benchmark too big to broadcast-scan per corpus row):
    //     corpus rows sit in their nearest-centroid bucket, each
    //     benchmark vector probes its nProbe closest buckets, cosine is
    //     evaluated only on bucket-colocated pairs. Approximate by
    //     construction -> gated on flagged-set recall vs the exact
    //     path, the same discipline as emb_knn_ivf_recall ---
    "doc_semantic_decontam_ivf_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val bench = emb.where(col("label") === 0)
      val exact = graft.operators.Decontaminate.semanticContaminated(
        emb, "vec_id", "embedding", bench, "embedding", threshold = 0.35)
        .select(col("vec_id"))
      val approx = graft.operators.Decontaminate.semanticContaminatedIvf(
        emb, "vec_id", "embedding", bench, "embedding", threshold = 0.35,
        kmeansIterations = 2) // nCentroids/nProbe auto: sqrt scaling
        .select(col("vec_id"), lit(1).as("hit"))
      exact.join(approx, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("n_exact"),
          (col("n_hit") / col("n_exact") >= 0.85).as("recall_ok"))
    }),

    // --- term retrieval: integer-exact df-weighted scoring (BM25-family
    //     shape, no floats); tokens filter to the query's terms BEFORE
    //     any shuffle, final top-k is TakeOrdered ---
    "doc_term_search" -> ((s, dir) =>
      graft.operators.Retrieval.termSearch(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        query = Seq("dup", "key", "batch"), topK = 25)),

    // --- conjunctive (AND) retrieval: only documents containing EVERY
    //     query term score — the same single-pass aggregate with a
    //     distinct-term HAVING filter, over the persisted index ---
    "doc_term_search_all" -> ((s, dir) => {
      val idx = indexedTermDir(s, dir)
      graft.operators.Retrieval
        .indexSearch(s, idx, query = Seq("dup", "key", "batch"), topK = 25,
          requireAll = true)
        .select(col("doc").as("doc_id"), col("score"))
    }),

    // --- the same search served from a PERSISTED inverted index: posting
    //     lists bucketed by term hash in a CommitLog table, the query
    //     probing only its terms' buckets — the corpus parquet is never
    //     read by the search plan (what a repeated-query workload runs at
    //     100 TB; termSearch re-tokenizes the corpus per query). The
    //     index is built once per JVM per scale factor ---
    "doc_term_search_indexed" -> ((s, dir) => {
      val idx = indexedTermDir(s, dir)
      graft.operators.Retrieval
        .indexSearch(s, idx, query = Seq("dup", "key", "batch"), topK = 25)
        .select(col("doc").as("doc_id"), col("score"))
    }),

    // --- the same search against an index built in two increments (base
    //     build + appendToIndex delta): the growing-corpus maintenance
    //     path. Same whole-corpus oracle — the gate certifies the folded
    //     base+delta postings and the advanced idf corpus count ---
    "doc_term_search_incr" -> ((s, dir) => {
      val idx = incrTermDir(s, dir)
      graft.operators.Retrieval
        .indexSearch(s, idx, query = Seq("dup", "key", "batch"), topK = 25)
        .select(col("doc").as("doc_id"), col("score"))
    }),

    // --- the same search against an index maintained on the TIERED
    //     schedule: major rewrite, append delta, O(delta) minor fold
    //     (base tier carried by reference) — the fixture require()s the
    //     major-then-minor modes, and the search must read the union of
    //     tiers + prune both layout generations to match the whole-
    //     corpus oracle ---
    "doc_term_search_tiered" -> ((s, dir) => {
      val idx = tieredTermDir(s, dir)
      graft.operators.Retrieval
        .indexSearch(s, idx, query = Seq("dup", "key", "batch"), topK = 25)
        .select(col("doc").as("doc_id"), col("score"))
    }),

    // --- PII scrubbing: emails/URLs/IPv4s/phone-spans replaced with
    //     typed sentinels, a pure codegen'd regexp_replace chain (the
    //     corpus has no natural PII, so deterministic spans are
    //     synthesized from doc_id identically in Spark and the oracle —
    //     the multimodal gates' synthesis pattern). Counts are raw-text
    //     hit rates for scrub monitoring ---
    "doc_redact" -> ((s, dir) => {
      val tf = graft.functions.TextFunctions
      val synth = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.com or +44 (20) 7946-09"), col("doc_id").cast("string"),
            lit(" via https://ex"), col("doc_id").cast("string"),
            lit(".example.org/p ip 192.168.1."),
            pmod(col("doc_id"), lit(200)).cast("string")).as("__t"))
      sortedSpread(synth, col("doc_id"))
        .select(col("doc_id"), col("__t"), tf.piiCounts(col("__t")).as("__c"))
        .select(col("doc_id"),
          md5(tf.redactPii(col("__t"))).as("redacted_hash"),
          col("__c").getField("n_email").as("n_email"),
          col("__c").getField("n_url").as("n_url"),
          col("__c").getField("n_ip").as("n_ip"),
          col("__c").getField("n_phone").as("n_phone"))
    }),

    // --- phrase mining: word2phrase bigram lift over adjacent token
    //     pairs; counts exact, one final division + round(6) ---
    "doc_phrases" -> ((s, dir) =>
      graft.operators.Phrases.bigramLift(
        s.read.parquet(s"$dir/documents.parquet"), "text", minCount = 5L)
        .orderBy(col("w1"), col("w2"))),

    // --- the same mining with the unigram joins UNHINTED
    //     (broadcastThreshold = 0 forces the web-scale-vocabulary plan,
    //     where forcing a broadcast of the count table would OOM the
    //     driver): shares doc_phrases' oracle, certifying the two plans
    //     agree ---
    "doc_phrases_join" -> ((s, dir) =>
      graft.operators.Phrases.bigramLift(
        s.read.parquet(s"$dir/documents.parquet"), "text", minCount = 5L,
        broadcastThreshold = 0L)
        .orderBy(col("w1"), col("w2"))),

    // --- word2phrase APPLY: greedily fuse the top-5 mined bigrams into
    //     single tokens (left-to-right, no overlap) — the pure-projection
    //     rewrite a vocabulary build runs after phrase mining ---
    "doc_phrase_fuse" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val top = graft.operators.Phrases.bigramLift(docs, "text", minCount = 5L)
        .orderBy(desc("lift"), col("w1"), col("w2")).limit(5)
        .select(col("w1"), col("w2"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.Phrases.fuseCorpus(docs, "doc_id", "text", top)
        .select(col("doc_id"),
          size(col("fused")).as("n_toks"),
          md5(concat_ws(" ", col("fused"))).as("fused_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- the same fusion through fuseCorpusLarge's BROADCAST-JOIN plan
    //     (literalThreshold = 0 forces it): the 10^4-10^5-phrase path,
    //     where the array literal would be a linear scan per token.
    //     Shares doc_phrase_fuse's oracle — the gate certifies the two
    //     plans agree ---
    "doc_phrase_fuse_join" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val top = graft.operators.Phrases.bigramLift(docs, "text", minCount = 5L)
        .orderBy(desc("lift"), col("w1"), col("w2")).limit(5)
        .select(col("w1"), col("w2"))
      graft.operators.Phrases
        .fuseCorpusLarge(docs, "doc_id", "text", top, literalThreshold = 0)
        .select(col("doc_id"),
          size(col("fused")).as("n_toks"),
          md5(concat_ws(" ", col("fused"))).as("fused_hash"))
        .orderBy(col("doc_id"))
    }),

    // --- ANN: brute-force cosine top-k (bounded top-k aggregate) ---
    "emb_knn" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity
        .bruteForceTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("qid"), col("nid"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // --- ANN: IVF recall gate — runs the approximate ivfTopK plan and
    //     joins it against the in-engine exact result, asserting mean
    //     recall@10 >= 0.75 (the bound SimilaritySpec verifies; it
    //     sweeps nProbe to >= 0.9). This IS the gate for the IVF
    //     operator: a rows-only entry for the raw approximate output
    //     would certify nothing the recall contract doesn't, so the
    //     approximate plan is registered only through this oracle-
    //     pinned form. The oracle grounds n_queries/n_exact in the
    //     data and pins recall_ok = true ---
    "emb_knn_ivf_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 5)
      val exact = exactKnnTop10(s, dir)
      val approx = graft.operators.Similarity
        .ivfTopK(emb, queries, "vec_id", "embedding", 10,
          kmeansIterations = 2) // nCentroids/nProbe auto: sqrt scaling
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact_q"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(col("n_exact_q")).as("n_exact"),
          (avg(col("n_hit") / col("n_exact_q")) >= 0.75).as("recall_ok"))
        .select(col("n_queries"), lit(10).as("k"), col("n_exact"), col("recall_ok"))
    }),

    // --- ANN from the PERSISTED IVF index (centroids + bucket files in
    //     a commit-log table, built once per corpus version): the same
    //     recall contract as emb_knn_ivf_recall, with the search plan
    //     probing index bucket files instead of re-bucketing the corpus
    //     per call ---
    "emb_knn_ivf_indexed_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 5)
      val exact = exactKnnTop10(s, dir)
      val approx = graft.operators.Similarity
        .ivfSearchIndexed(s, ivfIndexDir(s, dir), queries, "vec_id", "embedding", 10)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact_q"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(col("n_exact_q")).as("n_exact"),
          (avg(col("n_hit") / col("n_exact_q")) >= 0.75).as("recall_ok"))
        .select(col("n_queries"), lit(10).as("k"), col("n_exact"), col("recall_ok"))
    }),

    // --- ANN from an IVF index maintained INCREMENTALLY: half the
    //     corpus clustered at build, half streamed in as exactly-once
    //     assign-to-centroid appends; the recall contract must still
    //     hold over the FULL corpus ---
    "emb_knn_stream_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 5)
      val exact = exactKnnTop10(s, dir)
      val approx = graft.operators.Similarity
        .ivfSearchIndexed(s, ivfStreamDir(s, dir), queries, "vec_id", "embedding", 10)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact_q"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(col("n_exact_q")).as("n_exact"),
          (avg(col("n_hit") / col("n_exact_q")) >= 0.75).as("recall_ok"))
        .select(col("n_queries"), lit(10).as("k"), col("n_exact"), col("recall_ok"))
    }),

    // --- PQ compressed-corpus ANN with exact rerank: 32x-compressed
    //     codes shortlist candidates (ADC over reconstructions), exact
    //     scoring reranks only the shortlist; recall measured in-engine
    //     against brute force, oracle pins the bound (same discipline as
    //     emb_knn_ivf_recall) ---
    "emb_knn_pq_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 5)
      val exact = exactKnnTop10(s, dir)
      // shortlist scales with the corpus (>= 5%): a FIXED shortlist is
      // a shrinking corpus fraction as data grows, and PQ recall decays
      // with it (measured at sf1: 10x vectors, recall < 0.7 at
      // shortlist=100). Identical to the old constant at the gate scale
      // factors (500- and 2000-vector corpora both floor at 100).
      val pqShortlist = math.max(100L, emb.count() / 20L).toInt
      val approx = graft.operators.ProductQuantization
        .pqTopKRerank(emb, queries, "vec_id", "embedding", 10,
          dim = 64, m = 8, codebookSize = 16, iterations = 2, shortlist = pqShortlist)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact_q"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(col("n_exact_q")).as("n_exact"),
          (avg(col("n_hit") / col("n_exact_q")) >= 0.7).as("recall_ok"))
        .select(col("n_queries"), lit(10).as("k"), col("n_exact"), col("recall_ok"))
    }),

    // --- IVF-PQ composition: coarse buckets bound the corpus fraction
    //     scanned, PQ codes bound the bytes per row, shortlist bounds
    //     exact fetches — the three production ANN knobs in one plan ---
    "emb_knn_ivfpq_recall" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 5)
      val exact = exactKnnTop10(s, dir)
      // corpus-proportional shortlist, same rationale as emb_knn_pq_recall;
      // the ONE count also sizes the coarse quantizer (identical value to
      // the auto path, which re-counted the same frame — r19: one job)
      val embRows = emb.count()
      val ivfpqShortlist = math.max(100L, embRows / 20L).toInt
      val approx = graft.operators.ProductQuantization
        .ivfPqTopKRerank(emb, queries, "vec_id", "embedding", 10,
          dim = 64, m = 8, codebookSize = 16, iterations = 2,
          nCentroids = graft.operators.Similarity.autoCentroids(embRows),
          shortlist = ivfpqShortlist) // nProbe auto: sqrt scaling
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact_q"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(col("n_exact_q")).as("n_exact"),
          (avg(col("n_hit") / col("n_exact_q")) >= 0.6).as("recall_ok"))
        .select(col("n_queries"), lit(10).as("k"), col("n_exact"), col("recall_ok"))
    }),

    // --- embedding-cosine near-dup via hyperplane LSH ---
    // The raw synthetic embeddings have no pairs above 0.6 cosine, so a
    // near-dup query over them alone is vacuously empty; self-union with
    // offset ids plants one exact duplicate per vector, making the
    // result non-trivial AND exactly SQL-expressible for the oracle.
    "emb_near_dup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
      // twin ids shift by max(vec_id)+1, derived on BOTH sides (a fixed
      // +1000000 collides with real ids once a corpus reaches 1M vectors)
      val shift = shiftPastMax(emb, "vec_id")
      val corpus = emb.union(emb.select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding")))
      graft.operators.Dedup
        .embeddingNearDuplicates(corpus, "vec_id", "embedding", dim = 64, threshold = 0.99)
        .orderBy(col("id1"), col("id2"))
    }),

    // --- SemDeDup (cluster-scoped semantic dedup): assign every vector
    //     to its nearest deterministic seed centroid (the √N lowest-id
    //     vectors, kmeansIterations=0 — so the assignment argmax is
    //     exactly SQL-expressible; √N sizing keeps within-cluster pair
    //     volume O(N^1.5) at every sf), then drop any vector whose
    //     cluster holds a lower-id vector at cosine >= 0.99. Twins
    //     planted as in emb_near_dup; survivors = the originals WITH
    //     their cluster id, so the oracle verifies assignment + scoping
    //     + keep rule hash-exactly. Candidate scope is a learned
    //     partition (bucket sizes track data density), vs emb_near_dup's
    //     hyperplane LSH ---
    "emb_semantic_dedup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
      val shift = shiftPastMax(emb, "vec_id")
      val corpus = emb.union(emb.select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding")))
      graft.operators.Dedup
        .semanticDedup(corpus, "vec_id", "embedding", threshold = 0.99,
          nCentroids = 0, kmeansIterations = 0)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id"))
    }),

    // --- SemDeDup with TRAINED centroids (distributed Lloyd, 2
    //     iterations, √N quantizer sizing): k-means float sums are not
    //     SQL-expressible, but the PAIR SET is invariant to the learned
    //     partition — identical twin vectors co-assign under any
    //     centroid table (same argmax on the same input), and no
    //     distinct synthetic vectors reach 0.99 cosine — so the oracle
    //     pins exactly the planted twins without replicating the
    //     clustering ---
    "emb_semantic_dedup_kmeans" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
      val shift = shiftPastMax(emb, "vec_id")
      val corpus = emb.union(emb.select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding")))
      graft.operators.Dedup
        .semanticNearDuplicates(corpus, "vec_id", "embedding", threshold = 0.99,
          nCentroids = 0, kmeansIterations = 2)
        .select(col("id1"), col("id2"))
        .orderBy(col("id1"), col("id2"))
    }),

    // --- int8 embedding quantization: per-vector scale + quantized
    //     stats, exactly reproducible (round(x * (127/maxabs))) ---
    "emb_quantize" -> ((s, dir) => {
      val (q, scale) = graft.operators.Similarity.quantizeInt8(col("embedding"))
      sortedSpread(s.read.parquet(s"$dir/embeddings.parquet"), col("vec_id"))
        .select(
          col("vec_id"),
          aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(q).as("q_min"),
          array_max(q).as("q_max"),
          round(scale, 6).as("scale_r"))
    }),

    // --- KMV distinct sketch, gated in its exact-below-k regime: both
    //     cardinalities (languages; (lang, source) pairs) sit far below
    //     k=512, where the sketch provably returns the exact distinct
    //     count — so DuckDB's count(DISTINCT ...) is a hash-exact oracle
    //     (the estimate regime is covered by KmvSketchSpec) ---
    "doc_distinct_sketch" -> ((s, dir) => {
      val kmv = udaf(new graft.functions.KmvDistinct(512))
      s.read.parquet(s"$dir/documents.parquet")
        .agg(
          kmv(xxhash64(col("lang"))).as("n_langs"),
          kmv(xxhash64(col("lang"), col("source"))).as("n_lang_source"))
    }),

    // --- theta-style SET EXPRESSIONS over KMV sketches: |A|, |B|,
    //     |A∪B|, |A∩B|, |A∖B| for A = custkeys with an 'F' order and
    //     B = custkeys with an 'O' order, computed from two ≤k-long
    //     sketches (one map-side-combinable agg per side; the driver
    //     combines two tiny arrays — no distinct-join shuffle). Gated
    //     in the exact-below-k regime (custkey cardinality ≪ k=32768
    //     at every fixture SF), where each estimate provably equals
    //     DuckDB's exact count(DISTINCT)/INTERSECT/EXCEPT; the
    //     estimate regime is covered by ThetaSetsSpec. ---
    "rel_theta_sets" -> ((s, dir) => {
      val k = 32768
      val sk = udaf(new graft.functions.KmvSketchAgg(k))
      val o = s.read.parquet(s"$dir/orders.parquet")
      def sketch(status: String): Array[Long] =
        o.where(col("o_orderstatus") === status)
          .agg(sk(xxhash64(col("o_custkey"))).as("s"))
          .head().getSeq[Long](0).toArray
      val e = graft.functions.ThetaSets.estimates(k, sketch("F"), sketch("O"))
      import s.implicits._
      Seq((e.nA, e.nB, e.nUnion, e.nIntersect, e.nAnotB))
        .toDF("n_f", "n_o", "n_union", "n_intersect", "n_f_only")
    }),

    // --- running-window analytics: cumulative counts + lag per customer ---
    "rel_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 50)
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run_n"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // --- text quality + language-ID, fully oracle-replicated in SQL ---
    "doc_quality_oracle" -> ((s, dir) =>
      sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))
        .select(
          col("doc_id"),
          graft.functions.TextFunctions.langGuess(col("text")).as("lang_guess"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))),

    // --- frozen-classifier quality filtering (fastText-style hashing
    //     trick): linear model over md5-hashed bag-of-token features as
    //     a PURE PROJECTION — zero shuffles over the corpus; integer
    //     weights keep the score exact for the oracle ---
    // sortedSpread FIRST, classify after (order-preserving projection):
    // the trailing orderBy's sampling pass scored every doc twice
    "doc_classifier" -> ((s, dir) =>
      graft.operators.Classifier
        .classify(sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id")),
          "doc_id", "text", dims = 256, weightOf = b => (b % 7) - 3, bias = 2L)),

    // --- same model through the weight-TABLE plan (bucket → weight,
    //     broadcast left join + one map-side-combined aggregate) — the
    //     shape for learned vocabulary-scale weight vectors that must
    //     not ride the plan as literals. Two plans, one oracle ---
    "doc_classifier_join" -> ((s, dir) => {
      val weights = s.range(256).select(
        col("id").as("bucket"), (col("id") % 7 - 3).as("w"))
      graft.operators.Classifier
        .classifyJoin(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          dims = 256, weights, "bucket", "w", bias = 2L)
        .orderBy(col("doc_id"))
    }),

    // --- FLOAT-weight classifier (projection path): per-token weights
    //     built from exactly-rounded IEEE ops (sqrt of an exact int,
    //     division by a power of two, subtraction of exact values) and a
    //     fold that is strictly sequential in token order — so the score
    //     is bit-reproducible in any engine replicating the association:
    //     ((bias + w1) + w2) + ... The oracle prepends the bias to the
    //     weight list and left-folds, DuckDB's list sum order. ---
    "doc_classifier_float" -> ((s, dir) =>
      graft.operators.Classifier
        .classify(sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id")),
          "doc_id", "text",
          dims = 256,
          weightOf = b => sqrt((b + lit(1)).cast("double")) / lit(8.0) - lit(1.0),
          bias = lit(0.5), threshold = lit(40.0))),

    // --- FLOAT-weight classifier (weight-TABLE path): the join
    //     re-aggregate's addition order is partition-nondeterministic,
    //     so its float weights live on a DYADIC grid (k/32, |k| <= 16):
    //     every partial sum is exactly representable, so order provably
    //     cannot change the result — the regime where a learned float
    //     model can ride the broadcast-join plan and stay engine-exact. ---
    "doc_classifier_float_join" -> ((s, dir) => {
      val weights = s.range(256).select(
        col("id").as("bucket"),
        ((col("id") % 33 - 16).cast("double") / lit(32.0)).as("w"))
      graft.operators.Classifier
        .classifyJoin(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          dims = 256, weights, "bucket", "w", bias = lit(0.25), threshold = lit(0.0))
        .orderBy(col("doc_id"))
    }),

    // --- ARBITRARY-float classifier on the join plan (VERDICT r16 #5):
    //     weights off any dyadic grid ((b % 97)/97 − 1/2) quantized to
    //     fixed point on the weight table — LONG sums are associative,
    //     so the broadcast-join plan's nondeterministic addition order
    //     yields bit-identical scores; the descale (exact long→double +
    //     division by 2^30) reproduces in any IEEE engine ---
    "doc_classifier_fixed_join" -> ((s, dir) => {
      val weights = s.range(256).select(
        col("id").as("bucket"),
        ((col("id") % 97).cast("double") / lit(97.0) - lit(0.5)).as("w"))
      graft.operators.Classifier
        .classifyJoinQuantized(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          dims = 256, weights, "bucket", "w", bias = 0.25, threshold = 0.0)
        .orderBy(col("doc_id"))
    }),

    // --- multimodal frame-sampling arithmetic (oracle-checkable) ---
    "mm_frames" -> ((s, dir) => {
      val media = graft.operators.Multimodal.asMedia(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      graft.operators.Multimodal.frameSample(media, 4)
        .select(
          col("media_id"),
          size(col("frames")).as("n_frames"),
          length(col("payload")).cast("long").as("payload_len"))
        .orderBy(col("media_id"))
    }),

    // --- multimodal decode: REAL container-header parse (PNG IHDR / GIF
    //     logical screen / JPEG SOF0 via bounded segment walk) over valid
    //     synthesized container bytes, + metadata resize. Pure codegen'd
    //     byte arithmetic; the oracle recomputes the dimensions that were
    //     encoded, so the gate verifies the encode→parse round trip. ---
    "mm_decode" -> ((s, dir) => {
      // sortedSpread the cheap input; synthesize/decode/resize are
      // order-preserving projections and media_id == doc_id, so the
      // output stays globally sorted without a trailing orderBy (whose
      // sampling pass ran the byte-arithmetic trees twice on one task)
      val media = graft.operators.Multimodal.synthesizeContainers(
        sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id")),
        "doc_id", "text")
      graft.operators.Multimodal
        .resizeMeta(graft.operators.Multimodal.decodeHeaders(media), maxDim = 512)
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("channels"), col("size_bytes"), col("resized_width"), col("resized_height"))
    }),

    // --- audio/video header decode: WAV via a real RIFF chunk walk
    //     (channels / sample rate / bit depth / duration from byte rate),
    //     MP4 via a box walk to moov/mvhd (duration from timescale) —
    //     synthesized valid containers, exact encode→parse round-trip
    //     oracle, pure codegen'd byte arithmetic like mm_decode ---
    "mm_av_decode" -> ((s, dir) => {
      // same sortedSpread-then-project shape as mm_decode
      val media = graft.operators.Multimodal.synthesizeAvContainers(
        sortedSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id")),
        "doc_id", "text")
      graft.operators.Multimodal.decodeAvHeaders(media)
    })
  )

  /** Shared by doc_vocab_encode and doc_vocab_encode_join: the two
    * queries are alternative PLANS (map-literal projection vs broadcast
    * join) for one semantic — one oracle certifies both.
    */
  /** Hashed-linear-classifier oracle: md5-top-8-hex bucket mod 256,
    * integer weight (b % 7) - 3, bias 2 — the exact model both
    * doc_classifier plans apply; empty token lists score the bare bias.
    */
  private val classifierOracle =
    """WITH s AS (
         SELECT doc_id,
                CAST(coalesce(list_aggregate(list_transform(
                  regexp_extract_all(lower(text), '[\p{L}\p{N}'']+'),
                  t -> ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) % 7) - 3), 'sum'), 0)
                  + 2 AS BIGINT) AS score
         FROM documents)
       SELECT doc_id, score, score >= 0 AS keep FROM s ORDER BY doc_id"""

  private val vocabEncodeOracle =
    """WITH tokc AS (
         SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS t
         FROM documents),
       cnt AS (SELECT t AS token, count(*) AS cnt FROM tokc GROUP BY t),
       vocab AS (
         SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INT) AS id
         FROM cnt QUALIFY id < 20),
       tok AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts
         FROM documents WHERE doc_id < 100),
       pos AS (
         SELECT doc_id, unnest(ts) AS tkn, generate_subscripts(ts, 1) AS i FROM tok),
       enc AS (
         SELECT p.doc_id, coalesce(v.id, -1) AS id, p.i
         FROM pos p LEFT JOIN vocab v ON v.token = p.tkn),
       agg AS (
         SELECT doc_id, count(*) AS n_ids,
                sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS n_oov,
                md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY i)) AS ids_hash
         FROM enc GROUP BY doc_id)
       SELECT doc_id, CAST(n_ids AS INT) AS n_ids, CAST(n_oov AS INT) AS n_oov, ids_hash
       FROM agg ORDER BY doc_id"""

  /** BPE training oracle CTEs: the identical word-type algorithm in
    * SQL, the merge loop unrolled one (pair-count, argmax, re-segment)
    * CTE trio per step. Word state is a separator-normalized symbol
    * string (`' l  o  w '`): `replace(' l  r ', ' lr ')` is exactly the
    * greedy left-to-right non-overlapping merge — double-space
    * separators mean every match keeps a boundary space on BOTH sides,
    * so adjacent occurrences still match — and the whitespace re-split
    * re-normalizes for the next round.
    */
  /** The [[graft.functions.TextFunctions.tokens]] convention as a DuckDB
    * expression (raw string: interpolators would eat the backslashes).
    */
  private val bpeTokSql = """regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')"""

  private def bpeCtes(steps: Int): String = {
    // b_k LEFT JOIN ON TRUE + CASE: a corpus that exhausts its mergeable
    // pairs before step `steps` leaves later b CTEs empty — the word
    // state must pass through unchanged (matching the operator's early
    // stop), not empty out via an inner cross join
    val rounds = (1 to steps).map { k =>
      s""",
       p$k AS (
         SELECT t.toks[i] AS l, t.toks[i+1] AS r, sum(t.cnt) AS c
         FROM (SELECT string_split(trim(seq), '  ') AS toks, cnt FROM w${k - 1}) t,
              UNNEST(range(1, len(t.toks))) AS u(i)
         GROUP BY 1, 2),
       b$k AS (SELECT l, r, l || r AS m, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
       w$k AS (
         SELECT w, CASE WHEN b.l IS NULL THEN seq ELSE ' ' || array_to_string(
             string_split_regex(trim(replace(seq, ' '||b.l||'  '||b.r||' ', ' '||b.m||' ')), ' +'),
             '  ') || ' ' END AS seq, cnt
         FROM w${k - 1} LEFT JOIN b$k b ON TRUE)"""
    }.mkString
    s"""WITH tok AS (
         SELECT unnest($bpeTokSql) AS w
         FROM documents),
       w0 AS (
         SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS seq,
                count(*) AS cnt
         FROM tok GROUP BY w)$rounds"""
  }

  /** Shared by doc_bpe_merges and doc_bpe_merges_dist (driver-local vs
    * distributed merge loop — two PLANS, one semantic).
    */
  private def bpeMergesOracle(steps: Int): String = {
    val union = (1 to steps).map(k =>
      s"SELECT $k AS step, l AS lft, r AS rgt, m AS merged, CAST(c AS BIGINT) AS pair_count FROM b$k")
      .mkString("\n       UNION ALL ")
    s"""${bpeCtes(steps)}
       SELECT * FROM ($union) ORDER BY step"""
  }

  private[graft] def bpeEncodeOracle(steps: Int): String =
    s"""${bpeCtes(steps)},
       wl AS (SELECT w, len(string_split(trim(seq), '  ')) AS nt FROM w$steps),
       dw AS (
         SELECT doc_id, unnest($bpeTokSql) AS w
         FROM documents)
       SELECT d.doc_id, CAST(sum(wl.nt) AS BIGINT) AS bpe_tokens
       FROM dw d JOIN wl USING (w)
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** Shared by doc_unigram_rarity and doc_unigram_rarity_join (literal
    * vs broadcast-join plan — integer points make them value-exact).
    */
  private val unigramRarityOracle =
    """WITH tok AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts
         FROM documents),
       allt AS (SELECT unnest(ts) AS t FROM tok),
       cnt AS (SELECT t AS token, count(*) AS cnt FROM allt GROUP BY t),
       vocab AS (
         SELECT token, cnt FROM (
           SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS r FROM cnt)
         WHERE r <= 16),
       tot AS (SELECT count(*) AS total FROM allt),
       pos AS (SELECT doc_id, unnest(ts) AS t FROM tok),
       pts AS (
         SELECT p.doc_id,
                sum(CAST(tot.total // coalesce(v.cnt, 1) AS BIGINT)) AS pts,
                sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS oov,
                count(*) AS n
         FROM pos p LEFT JOIN vocab v ON v.token = p.t CROSS JOIN tot
         GROUP BY p.doc_id)
       SELECT doc_id, CAST(n AS INT) AS n_tokens,
              round(CAST(oov AS DOUBLE) / n, 6) AS oov_rate,
              round(CAST(pts AS DOUBLE) / n, 6) AS mean_rarity
       FROM pts ORDER BY doc_id"""

  /** Shared by doc_term_search (direct scan), doc_term_search_indexed
    * (persisted index probe), doc_term_search_incr (base + append
    * delta) and doc_term_search_tiered (major + delta + minor fold):
    * four plans, one semantic.
    */
  private[graft] val termSearchOracle =
    """WITH tok AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS t
         FROM documents),
       tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
              WHERE t IN ('dup', 'key', 'batch') GROUP BY doc_id, t),
       df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       n AS (SELECT count(*) AS n FROM documents)
       SELECT doc_id, CAST(SUM(tf * (n.n // df.df)) AS BIGINT) AS score
       FROM tf JOIN df USING (t) CROSS JOIN n GROUP BY doc_id
       ORDER BY score DESC, doc_id LIMIT 25"""

  /** Shared by doc_phrases and doc_phrases_join (broadcast-hinted vs
    * unhinted unigram joins — plan variants of one computation).
    */
  private val phrasesOracle =
    """WITH toks AS (
         SELECT regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts FROM documents),
       uni AS (SELECT w, count(*) AS n_w
               FROM (SELECT unnest(ts) AS w FROM toks) u GROUP BY w),
       tot AS (SELECT sum(len(ts)) AS n FROM toks),
       big AS (
         SELECT ts[i] AS w1, ts[i+1] AS w2, count(*) AS n_pair
         FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks) g
         GROUP BY 1, 2 HAVING count(*) >= 5)
       SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
              round((CAST(n_pair AS DOUBLE) * tot.n) / (CAST(u1.n_w AS DOUBLE) * u2.n_w), 6) AS lift
       FROM big JOIN uni u1 ON u1.w = big.w1 JOIN uni u2 ON u2.w = big.w2 CROSS JOIN tot
       ORDER BY w1, w2"""

  /** Shared by doc_phrase_fuse and doc_phrase_fuse_join (literal walk vs
    * broadcast-join plan). The stateful greedy fusion is SQL-expressible
    * through the run-alternation equivalence: greedy left-to-right pair
    * fusion fuses exactly the alternating (even-offset) positions within
    * each maximal run of consecutive matching pairs.
    */
  private val phraseFuseOracle =
    """WITH toks AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts FROM documents),
       uni AS (SELECT w, count(*) AS n_w
               FROM (SELECT unnest(ts) AS w FROM toks) u GROUP BY w),
       tot AS (SELECT sum(len(ts)) AS n FROM toks),
       big AS (
         SELECT ts[i] AS w1, ts[i+1] AS w2, count(*) AS n_pair
         FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks) g
         GROUP BY 1, 2 HAVING count(*) >= 5),
       phr AS (
         SELECT w1, w2 FROM (
           SELECT w1, w2,
                  round((CAST(n_pair AS DOUBLE) * tot.n) / (CAST(u1.n_w AS DOUBLE) * u2.n_w), 6) AS lift
           FROM big JOIN uni u1 ON u1.w = big.w1 JOIN uni u2 ON u2.w = big.w2 CROSS JOIN tot)
         ORDER BY lift DESC, w1, w2 LIMIT 5),
       pos AS (
         SELECT doc_id, i, ts[i] AS t, ts[i+1] AS nxt, len(ts) AS n
         FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks) p),
       okd AS (
         SELECT pos.*, EXISTS(SELECT 1 FROM phr WHERE w1 = t AND w2 = nxt) AND i < n AS ok FROM pos),
       isl AS (
         SELECT *, i - row_number() OVER (PARTITION BY doc_id, ok ORDER BY i) AS grp FROM okd),
       fs AS (
         SELECT *, ok AND (i - min(i) OVER (PARTITION BY doc_id, ok, grp)) % 2 = 0 AS fuse_start FROM isl),
       out AS (
         SELECT doc_id, i,
                CASE WHEN fuse_start THEN t || '_' || nxt
                     WHEN lag(fuse_start) OVER (PARTITION BY doc_id ORDER BY i) THEN NULL
                     ELSE t END AS tok
         FROM fs)
       SELECT doc_id, CAST(count(tok) AS INT) AS n_toks,
              md5(string_agg(tok, ' ' ORDER BY i)) AS fused_hash
       FROM out WHERE tok IS NOT NULL GROUP BY doc_id ORDER BY doc_id"""

  /** Exact-but-blocked near-duplicate pair CTEs for the DuckDB oracles
    * (VERDICT r15 #5): the naive all-pairs join is O(N^2) and times out
    * at sf1 (50k docs = 1.25B candidate pairs). This preamble applies
    * the public exact-similarity-join toolkit the operator side already
    * uses (operators/Dedup.ppJoin):
    *   - PREFIX filter (Bayardo/Ma/Srikant, WWW'07): order every doc's
    *     shingles by one global total order (corpus frequency asc,
    *     shingle asc), keep a prefix of L - ceil(t*L) + 1 shingles; any
    *     pair with Jaccard >= t MUST collide within both prefixes (a
    *     pair that doesn't would need its whole intersection inside a
    *     suffix of size ceil(t*L) - 1 < t*L <= |intersection|).
    *   - LENGTH filter: t*La <= Lb <= La/t (symmetric, one side kept).
    *   - EXTENDED prefix with a match-count floor (AdaptJoin — Wang/
    *     Li/Feng, "Can we beat the prefix filtering?", SIGMOD'12):
    *     extend each prefix by ell-1 = 2 extra tokens and require >= 3
    *     shared extended-prefix tokens. Exact: the pair's common tokens
    *     in global order c_1..c_m have pos(c_i) <= L - m + i <=
    *     L - ceil(t*L) + i in each doc, so its first min(ell, m) common
    *     tokens sit inside BOTH extended prefixes (m >= ceil(t*L) from
    *     J >= t; the floor relaxes to ceil(t*min(La,Lb)) for tiny
    *     docs). This matters because the synthetic corpus has a tiny
    *     shingle universe (~2k distinct at sf0.1), so single-token
    *     collisions alone leave millions of candidates.
    *   - POSITION filter (Xiao et al. PPJoin, WWW'08): at the pair's
    *     first common prefix token (positions i, j in the global
    *     order), overlap <= 1 + min(La-i, Lb-j) — the first PREFIX
    *     match is the pair's first common token outright (an earlier
    *     common token inside a's prefix but past b's would have to sit
    *     both before j and after b's prefix end >= j), so pairs whose
    *     bound undercuts the required overlap ceil(t*(La+Lb)/(1+t))
    *     drop before verification.
    *   - COUNT-JOIN verify: exact |a∩b| via the exploded token table
    *     (candidates x shared tokens, grouped) instead of per-pair
    *     list_intersect — same numbers (sets are distinct, so
    *     J = i/(La+Lb-i)), ~14x faster at sf0.1.
    * Multiply-referenced CTEs are AS MATERIALIZED: DuckDB otherwise
    * inlines (re-evaluates) them per reference — measured 105s -> ~5s
    * at sf0.1 for the identical result. The result set is byte-
    * identical to the all-pairs join — re-proven equal row-for-row at
    * sf0.01 and sf0.1 when introduced.
    */
  private[graft] def shinglePrefixPairCtes(thr: String, src: String = "documents"): String =
    s"""s AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(length(text)-4, 1) + 1),
                                i -> text[i:i+4])) AS sh
           FROM $src),
         tok AS MATERIALIZED (SELECT doc_id, len(sh) AS L, unnest(sh) AS t FROM s),
         freq AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         pref AS MATERIALIZED (
           SELECT doc_id, L, t, r FROM (
             SELECT tok.doc_id, tok.L, tok.t,
                    row_number() OVER (PARTITION BY tok.doc_id ORDER BY f.n, tok.t) AS r
             FROM tok JOIN freq f USING (t))
           WHERE r <= L - CAST(ceil($thr*L) AS BIGINT) + 3),
         cand AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, a.L AS l1, b.L AS l2
           FROM pref a JOIN pref b
             ON a.t = b.t AND a.doc_id < b.doc_id
            AND b.L BETWEEN CAST(ceil($thr*a.L) AS BIGINT) AND CAST(floor(a.L/$thr) AS BIGINT)
           GROUP BY a.doc_id, b.doc_id, a.L, b.L
           HAVING count(*) >= least(3, CAST(ceil($thr*least(a.L, b.L)) AS BIGINT))
              AND 1 + least(a.L - min(a.r), b.L - min(b.r))
                  >= CAST(ceil($thr*(a.L + b.L)/(1+$thr)) AS BIGINT)),
         prs AS MATERIALIZED (
           SELECT id1, id2, round(CAST(i AS DOUBLE) / (l1 + l2 - i), 6) AS jaccard
           FROM (SELECT c.id1, c.id2, c.l1, c.l2, count(*) AS i
                 FROM cand c
                 JOIN tok ta ON ta.doc_id = c.id1
                 JOIN tok tb ON tb.doc_id = c.id2 AND tb.t = ta.t
                 GROUP BY c.id1, c.id2, c.l1, c.l2)
           WHERE CAST(i AS DOUBLE) / (l1 + l2 - i) >= $thr)"""

  private[graft] val nearDupPairSelect =
    "SELECT id1, id2, jaccard FROM prs ORDER BY id1, id2"

  /** Connected components over the `prs` pair CTE without WITH
    * RECURSIVE: DuckDB 1.0 re-evaluates every non-recursive CTE a
    * recursive term references on EACH iteration (AS MATERIALIZED is
    * not honored from inside the recursion), so the old transitive
    * closure re-ran the whole blocking pipeline per hop — 300s+ at
    * sf0.1 while the closure itself costs 0.5s over a materialized
    * pair table. Unrolled min-label propagation with pointer jumping
    * instead: each level takes the min of (own label, label-of-label,
    * neighbors' labels), materialized once. K levels converge for any
    * component whose radius from its min-id node is <= K outright, and
    * far beyond via the label-of-label jump. The gate fixtures'
    * clusters are groups of near-identical documents (radius <= ~2 at
    * every sf); a hypothetical deeper chain is SELF-IDENTIFYING
    * (ADVICE r16): the final projection compares the last two levels
    * and raises error(...) when any label still changed — a fixed
    * point of one full iteration IS global convergence for min-label
    * propagation, so a non-converged oracle fails loudly as an ORACLE
    * error instead of surfacing as a gate mismatch indistinguishable
    * from a product bug.
    */
  private val ccLevels = 8
  private def connectedComponentCtes: String = {
    val levels = (0 until ccLevels).map { k =>
      s"""l${k + 1} AS MATERIALIZED (
           SELECT x.doc_id, least(x.lbl, y.lbl, coalesce(nb.m, x.lbl)) AS lbl
           FROM l$k x
           JOIN l$k y ON y.doc_id = x.lbl
           LEFT JOIN (SELECT u.a AS doc_id, min(l.lbl) AS m
                      FROM und u JOIN l$k l ON l.doc_id = u.b GROUP BY u.a) nb
             ON nb.doc_id = x.doc_id)"""
    }.mkString(",\n         ")
    s"""und AS MATERIALIZED (
           SELECT id1 AS a, id2 AS b FROM prs UNION ALL SELECT id2, id1 FROM prs),
         l0 AS MATERIALIZED (
           SELECT a AS doc_id, least(a, min(b)) AS lbl FROM und GROUP BY a),
         $levels,
         conv AS (
           SELECT count(*) AS changed
           FROM l${ccLevels - 1} a JOIN l$ccLevels b
             ON a.doc_id = b.doc_id AND a.lbl <> b.lbl),
         comp AS (
           SELECT doc_id,
                  CASE WHEN (SELECT changed FROM conv) > 0
                       THEN CAST(error('connectedComponentCtes: ' ||
                                       '$ccLevels unrolled levels did not converge — ' ||
                                       'an ORACLE error, not a product mismatch') AS BIGINT)
                       ELSE lbl END AS component
           FROM l$ccLevels)"""
  }

  /** Oracle SQL of [[batchQueries]]. */
  private[graft] def batchOracleSql: Map[String, String] = Map(
    "bt_key_eq" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_nationkey = 7""",
    "bt_key_in" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_nationkey IN (2, 11, 19, 23) ORDER BY n_key""",
    "bt_shipstore" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_nationkey BETWEEN 3 AND 15 ORDER BY n_key""",
    "bt_key_between" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_nationkey BETWEEN 5 AND 12 ORDER BY n_key""",
    // bt_retry_scan reads through injected transient stream faults; the
    // oracle is the PLAIN full table — retries must not lose or
    // duplicate rows
    "bt_retry_scan" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation ORDER BY n_key""",
    "bt_composite" ->
      """SELECT o_orderstatus, o_orderpriority,
         lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS o_key, o_custkey, o_totalprice
         FROM orders
         WHERE o_orderstatus = 'O' AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           AND o_orderkey BETWEEN 100 AND 900
         ORDER BY o_key""",
    "bt_orderby" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation ORDER BY n_name DESC, n_key""",
    "bt_orderby_key" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation ORDER BY n_key""",
    "bt_groupby_agg" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS cnt,
         min(n_name) AS min_name, max(n_name) AS max_name
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "bt_join" ->
      """SELECT r_name, count(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "bt_window" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name, rn FROM (
           SELECT n_regionkey, n_name,
                  CAST(row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS INT) AS rn
           FROM nation) t
         WHERE rn <= 2 ORDER BY n_regionkey, rn""",
    "bt_union" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key
         FROM nation WHERE n_nationkey BETWEEN 0 AND 5
         UNION
         SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key
         FROM nation WHERE n_nationkey BETWEEN 3 AND 8
         ORDER BY n_key""",
    "bt_intersect" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key FROM nation
         WHERE n_nationkey BETWEEN 0 AND 8
         INTERSECT
         SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key FROM nation
         WHERE n_nationkey BETWEEN 5 AND 15
         ORDER BY n_key""",
    "bt_except" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key FROM nation
         WHERE n_nationkey BETWEEN 0 AND 8
         EXCEPT
         SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key FROM nation
         WHERE n_nationkey BETWEEN 5 AND 15
         ORDER BY n_key""",
    "rel_dates" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(quarter(o_orderdate) AS INT) AS qtr,
         count(*) AS n_orders
         FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""",
    "bt_versions" ->
      """SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, event_type, value
         FROM events WHERE user_id IN (3, 7, 11)
         ORDER BY u_key, event_type, value""",
    "bt_latest" ->
      """SELECT u_key, event_type, value FROM (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
           FROM events WHERE user_id BETWEEN 0 AND 50) t
         WHERE rn = 1 ORDER BY u_key""",
    "bt_full_scan_agg" ->
      """SELECT count(*) AS n, CAST(sum(n_regionkey) AS BIGINT) AS sum_rk FROM nation""",
    "bt_vectorized_agg" ->
      """WITH latest AS (
           SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
           FROM events)
         SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM latest WHERE rn = 1
         GROUP BY event_type ORDER BY event_type""",
    "bt_count_pushdown" ->
      """SELECT count(*) AS cnt,
         min(lpad(CAST(n_nationkey AS VARCHAR), 4, '0')) AS min_key,
         max(lpad(CAST(n_nationkey AS VARCHAR), 4, '0')) AS max_key,
         CAST(max(n_regionkey) AS BIGINT) AS max_rk FROM nation""",
    "bt_count_pushdown_composite" ->
      """SELECT count(*) AS cnt,
         min(lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS min_key,
         max(lpad(CAST(o_orderkey AS VARCHAR), 10, '0')) AS max_key,
         round(max(o_totalprice), 4) AS max_price
         FROM orders
         WHERE o_orderstatus = 'O' AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           AND o_orderkey IN (20, 26, 29, 32, 39, 43)""",
    "bt_sum_pushdown" ->
      """SELECT count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events WHERE user_id BETWEEN 0 AND 100""",
    "bt_groupby_key_pushdown" ->
      """SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key,
         count(*) AS n_versions, round(max(value), 4) AS max_value
         FROM events WHERE user_id BETWEEN 0 AND 50
         GROUP BY 1 ORDER BY u_key""",
    "bt_avg_pushdown" ->
      """SELECT round(avg(value), 4) AS avg_value, count(*) AS cnt
         FROM events WHERE user_id BETWEEN 0 AND 100""",
    "bt_agg_value_filter" ->
      """SELECT count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events WHERE user_id BETWEEN 0 AND 100 AND event_type = 'click'""",
    "bt_topk" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation ORDER BY n_key LIMIT 4""",
    "bt_remote_scan" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_nationkey BETWEEN 5 AND 15 ORDER BY n_key""",
    "bt_rollup" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS cnt
         FROM nation GROUP BY ROLLUP(n_regionkey) ORDER BY n_regionkey NULLS FIRST""",
    "bt_or" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation WHERE n_nationkey = 3 OR n_nationkey BETWEEN 10 AND 13
         ORDER BY n_key""",
    "bt_multifamily" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_regionkey = 2 ORDER BY n_key""",
    "bt_dpp_join" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_nationkey < 8 ORDER BY n_key""",
    "bt_dpp_prefix" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(sum(o_custkey) AS BIGINT) AS sum_cust
         FROM orders WHERE o_orderstatus < 'O'
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "bt_value_eq" ->
      """SELECT u_key, event_type FROM (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
           FROM events WHERE user_id BETWEEN 0 AND 50) t
         WHERE rn = 1 AND event_type = 'click' ORDER BY u_key""",
    "bt_value_range" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation WHERE n_regionkey BETWEEN 1 AND 3 ORDER BY n_key""",
    "bt_write_roundtrip" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name,
         CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation ORDER BY n_key""",
    "bt_versions_roundtrip" ->
      """SELECT n_key, ts_us, n_name FROM (
           SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key,
                  CAST(1600000000000000 AS BIGINT) AS ts_us, n_name
           FROM nation
           UNION ALL
           SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0'),
                  CAST(1600000001000000 AS BIGINT), upper(n_name)
           FROM nation) t
         ORDER BY n_key, ts_us""",
    "bt_latest_roundtrip" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key,
         upper(n_name) AS n_name
         FROM nation ORDER BY n_key""",
    "bt_prefix" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation WHERE lpad(CAST(n_nationkey AS VARCHAR), 4, '0') LIKE '000%'
         ORDER BY n_key""",
    "bt_cube" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, substr(n_name, 1, 1) AS initial,
         count(*) AS cnt
         FROM nation GROUP BY CUBE(n_regionkey, substr(n_name, 1, 1))
         ORDER BY n_regionkey NULLS FIRST, initial NULLS FIRST""",
    "doc_near_dup_clusters" ->
      raw"""WITH ${shinglePrefixPairCtes("0.9")},
         $connectedComponentCtes
         SELECT doc_id, component FROM comp ORDER BY doc_id""",
    "doc_near_dup_best" ->
      raw"""WITH ${shinglePrefixPairCtes("0.9")},
         $connectedComponentCtes,
         base AS (
           SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, text,
             CAST(greatest(length(text), 1) AS DOUBLE) AS nchars,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS ntoks
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         scored AS (
           SELECT doc_id, component,
             round(least(nchars/200.0, 1.0)*0.25 +
                   (CASE WHEN nchars/ntoks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.25 END)*0.25 +
                   (CASE WHEN CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)/nchars <= 0.1 THEN 1.0 ELSE 0.5 END)*0.2 +
                   least((CAST(len(regexp_extract_all(text,'[\p{L}]')) AS DOUBLE)/nchars)/0.6, 1.0)*0.3, 6) AS quality
           FROM base)
         SELECT doc_id, component, quality FROM scored
         QUALIFY row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) = 1
         ORDER BY doc_id""",
    "doc_near_dup_clusters_ckpt" ->
      raw"""WITH ${shinglePrefixPairCtes("0.9")},
         $connectedComponentCtes
         SELECT doc_id, component FROM comp ORDER BY doc_id""",
    "doc_dedup_pipeline" ->
      raw"""WITH ${shinglePrefixPairCtes("0.9")},
         $connectedComponentCtes,
         base AS (
           SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, text,
             CAST(greatest(length(text), 1) AS DOUBLE) AS nchars,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS ntoks
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         scored AS (
           SELECT doc_id, component,
             round(least(nchars/200.0, 1.0)*0.25 +
                   (CASE WHEN nchars/ntoks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.25 END)*0.25 +
                   (CASE WHEN CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)/nchars <= 0.1 THEN 1.0 ELSE 0.5 END)*0.2 +
                   least((CAST(len(regexp_extract_all(text,'[\p{L}]')) AS DOUBLE)/nchars)/0.6, 1.0)*0.3, 6) AS quality
           FROM base),
         ranked AS (
           SELECT doc_id, component,
                  row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
           FROM scored)
         SELECT doc_id, component,
                CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS survivor,
                CASE WHEN md5(CAST(component AS VARCHAR)) < '28' THEN 'eval'
                     WHEN md5(CAST(component AS VARCHAR)) < '50' THEN 'test'
                     ELSE 'train' END AS split
         FROM ranked ORDER BY doc_id""",
    // same prefix-filter blocking as shinglePrefixPairCtes, over word
    // bigrams at t=0.7 (prefix = 30% of each gram set + 1)
    "doc_ngram_near_dup" ->
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS t FROM documents),
         grams AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
                    ELSE [array_to_string(t, ' ')] END) AS g
           FROM toks),
         tok AS MATERIALIZED (SELECT doc_id, len(g) AS L, unnest(g) AS t FROM grams),
         freq AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         pref AS MATERIALIZED (
           SELECT doc_id, L, t, r FROM (
             SELECT tok.doc_id, tok.L, tok.t,
                    row_number() OVER (PARTITION BY tok.doc_id ORDER BY f.n, tok.t) AS r
             FROM tok JOIN freq f USING (t))
           WHERE r <= L - CAST(ceil(0.7*L) AS BIGINT) + 3),
         cand AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, a.L AS l1, b.L AS l2
           FROM pref a JOIN pref b
             ON a.t = b.t AND a.doc_id < b.doc_id
            AND b.L BETWEEN CAST(ceil(0.7*a.L) AS BIGINT) AND CAST(floor(a.L/0.7) AS BIGINT)
           GROUP BY a.doc_id, b.doc_id, a.L, b.L
           HAVING count(*) >= least(3, CAST(ceil(0.7*least(a.L, b.L)) AS BIGINT))
              AND 1 + least(a.L - min(a.r), b.L - min(b.r))
                  >= CAST(ceil(0.7*(a.L + b.L)/1.7) AS BIGINT))
         SELECT id1, id2, round(CAST(i AS DOUBLE) / (l1 + l2 - i), 6) AS jaccard
         FROM (SELECT c.id1, c.id2, c.l1, c.l2, count(*) AS i
               FROM cand c
               JOIN tok ta ON ta.doc_id = c.id1
               JOIN tok tb ON tb.doc_id = c.id2 AND tb.t = ta.t
               GROUP BY c.id1, c.id2, c.l1, c.l2)
         WHERE CAST(i AS DOUBLE) / (l1 + l2 - i) >= 0.7
         ORDER BY id1, id2""",
    "bt_semi_join" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_regionkey < 3)
         ORDER BY n_key""",
    "bt_anti_join" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region WHERE r_regionkey < 3)
         ORDER BY n_key""",
    "bt_distinct" ->
      """SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY n_regionkey""",
    "bt_limit" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key, n_name
         FROM nation ORDER BY n_key LIMIT 5""",
    "bt_scalar" ->
      """SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS n_key,
         upper(n_name) AS un, substr(n_name, 1, 3) AS pre,
         CAST(length(n_name) AS INT) AS ln, CAST(n_regionkey % 3 AS BIGINT) AS m
         FROM nation ORDER BY n_key""",
    "rel_q1" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS cnt,
         min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "rel_q6" ->
      """SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty, min(l_extendedprice) AS min_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_quantity < 24""",
    "rel_q3" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders, sum(l_quantity) AS sum_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'O'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "doc_salted_count" ->
      """SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type""",
    "rel_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items, sum(l_quantity) AS sum_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "rel_sessionize" ->
      """WITH e AS (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, epoch_us(ts) AS ts_us, value
           FROM events),
         lagd AS (
           SELECT *, lag(ts_us) OVER (PARTITION BY u_key ORDER BY ts_us) AS prev FROM e),
         marks AS (
           SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM lagd),
         sess AS (
           SELECT *, sum(new_s) OVER (PARTITION BY u_key ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marks)
         SELECT u_key, CAST(session_id AS BIGINT) AS session_id,
                min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM sess GROUP BY u_key, session_id ORDER BY u_key, session_id""",
    "rel_conversations" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
         lagd AS (
           SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
           FROM e),
         marks AS (
           SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS new_c
           FROM lagd),
         conv AS (
           SELECT *, sum(new_c) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS conv_id
           FROM marks)
         SELECT user_id, CAST(conv_id AS BIGINT) AS conv_id,
                min(ts_us) AS conv_start_us, max(ts_us) AS conv_end_us,
                count(*) AS n_turns,
                string_agg(event_type, ' > ' ORDER BY ts_us, event_id) AS transcript
         FROM conv GROUP BY user_id, conv_id ORDER BY user_id, conv_id""",
    "rel_skew_join" ->
      """SELECT e.event_type, CAST(length(e.event_type) AS BIGINT) AS type_len,
                count(*) AS n, round(sum(e.value), 4) AS sum_value
         FROM events e JOIN (SELECT DISTINCT event_type FROM events) d
           ON e.event_type = d.event_type
         GROUP BY 1, 2 ORDER BY e.event_type""",
    "rel_bloom_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_items,
                round(sum(l.l_quantity), 4) AS sum_qty
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
         GROUP BY 1 ORDER BY 1""",
    "doc_sink_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY lang ORDER BY lang""",
    "doc_range_layout" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents WHERE doc_id BETWEEN 100 AND 199
         GROUP BY lang ORDER BY lang""",
    "doc_zorder_layout" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id BETWEEN 50 AND 449 AND n_chars > 200
         ORDER BY doc_id""",
    "doc_compact" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",
    "emb_near_dup" ->
      """WITH c AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT CAST(vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS BIGINT), embedding
           FROM embeddings)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 6) AS cosine
         FROM c a JOIN c b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
         ORDER BY id1, id2""",
    // SemDeDup with deterministic seed centroids: the oracle replays the
    // exact engine arithmetic — cosine = list_dot_product(v,c) /
    // greatest(sqrt(dot(v,v))*sqrt(dot(c,c)), 1e-12) over DOUBLE[] (both
    // engines accumulate doubles left-to-right), argmax ties to the
    // smaller centroid index (ORDER BY sim DESC, cid = the engine's
    // ascending (-sim, idx))
    "emb_semantic_dedup" ->
      """WITH c AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT CAST(vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS BIGINT),
                  CAST(embedding AS DOUBLE[])
           FROM embeddings),
         cent AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
           FROM (SELECT vec_id, v FROM c ORDER BY vec_id
                 LIMIT (SELECT least(4096, greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)))
                        FROM c))),
         asgn AS (
           SELECT vec_id, v, cid AS cluster FROM (
             SELECT c.vec_id, c.v, cent.cid,
                    row_number() OVER (
                      PARTITION BY c.vec_id
                      ORDER BY list_dot_product(c.v, cent.cv) /
                               greatest(sqrt(list_dot_product(c.v, c.v)) *
                                        sqrt(list_dot_product(cent.cv, cent.cv)), 1e-12)
                               DESC, cent.cid) AS rn
             FROM c CROSS JOIN cent)
           WHERE rn = 1),
         drops AS (
           SELECT DISTINCT b.vec_id AS did
           FROM asgn a JOIN asgn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) /
                 greatest(sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v)), 1e-12) >= 0.99)
         SELECT vec_id, cluster
         FROM asgn WHERE vec_id NOT IN (SELECT did FROM drops)
         ORDER BY vec_id""",
    // trained-centroid SemDeDup: the pair set is clustering-invariant
    // (see the gate comment) — exactly the planted twins
    "emb_semantic_dedup_kmeans" ->
      """SELECT vec_id AS id1,
                CAST(vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS BIGINT) AS id2
         FROM embeddings ORDER BY id1, id2""",
    "rel_q5" ->
      """SELECT r_name, count(*) AS n_lineitems, sum(l_quantity) AS sum_qty,
         count(DISTINCT o_orderkey) AS n_orders
         FROM region
         JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderstatus <> 'P'
         GROUP BY r_name ORDER BY r_name""",
    "rel_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                sum(l_quantity) AS sum_qty
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
    "rel_subquery_scalar" ->
      """SELECT c_mktsegment, count(*) AS n_above, min(c_custkey) AS min_key
         FROM customer WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "rel_exists" ->
      """SELECT o_orderstatus, count(*) AS n_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "rel_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
         quantile_cont(l_quantity, 0.25) AS p25_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "rel_pivot" ->
      """SELECT o_orderpriority,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "rel_explode" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "rel_range_join" ->
      """WITH e AS (SELECT epoch_us(ts) AS e_us FROM events WHERE event_type = 'error'),
         p AS (SELECT epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase')
         SELECT p_us, count(*) AS n_bursts
         FROM p JOIN e ON p.p_us BETWEEN e.e_us - 300000000 AND e.e_us + 300000000
         GROUP BY p_us ORDER BY p_us""",
    "rel_asof" ->
      """WITH p AS (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         v AS (
           SELECT lpad(CAST(user_id AS VARCHAR), 6, '0') AS u_key, epoch_us(ts) AS v_us, value AS v_value
           FROM events WHERE event_type = 'view')
         SELECT p.u_key, p.p_us, v.v_us AS asof_v_us, v.v_value AS asof_v_value
         FROM p ASOF LEFT JOIN v ON p.u_key = v.u_key AND v.v_us <= p.p_us
         ORDER BY p.u_key, p.p_us""",
    "rel_window" ->
      """SELECT c_mktsegment, c_custkey, rn FROM (
           SELECT c_mktsegment, c_custkey,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
           FROM customer) t
         WHERE rn <= 3 ORDER BY c_mktsegment, rn""",
    "doc_sample_det" ->
      """SELECT doc_id FROM (
           SELECT doc_id FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100)
         ORDER BY doc_id""",
    "doc_split" ->
      """SELECT split, count(*) AS n, min(doc_id) AS min_id FROM (
           SELECT doc_id,
                  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '28' THEN 'eval'
                       WHEN md5(CAST(doc_id AS VARCHAR)) < '50' THEN 'test'
                       ELSE 'train' END AS split
           FROM documents) t
         GROUP BY split ORDER BY split""",
    "doc_leakage_split" ->
      raw"""WITH ${shinglePrefixPairCtes("0.9")},
         $connectedComponentCtes,
         rep AS (
           SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
           FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         SELECT doc_id,
                CASE WHEN md5(CAST(rep AS VARCHAR)) < '28' THEN 'eval'
                     WHEN md5(CAST(rep AS VARCHAR)) < '50' THEN 'test'
                     ELSE 'train' END AS split
         FROM rep ORDER BY doc_id""",
    "doc_token_budget" ->
      """WITH t AS (
           SELECT lang, doc_id,
                  len(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS ntok,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         c AS (
           SELECT *, sum(ntok) OVER (PARTITION BY lang ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
         SELECT lang, doc_id FROM c
         WHERE cum <= CASE lang WHEN 'en' THEN 3000 WHEN 'fr' THEN 1000 ELSE 500 END
         ORDER BY lang, doc_id""",
    "doc_stratified" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
           FROM documents) t
         WHERE rn <= 5 ORDER BY lang, doc_id""",
    "doc_token_stats" ->
      """SELECT doc_id,
         CAST(length(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
         CAST(length(regexp_extract_all(text, '\p{L}{1,4}|\p{N}|[^\p{L}\p{N}\s]')) AS INT) AS n_bpe,
         CAST(length(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
         CAST(length(text) AS INT) AS len_chars
         FROM documents ORDER BY doc_id""",
    "doc_sql_pipeline" ->
      """WITH base AS (
           SELECT doc_id, lang, text,
             CAST(greatest(length(text), 1) AS DOUBLE) AS nchars,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS ntoks
           FROM documents),
         scored AS (
           SELECT lang, text,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks,
             round(least(nchars/200.0, 1.0)*0.25 +
               (CASE WHEN nchars/ntoks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.25 END)*0.25 +
               (CASE WHEN CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)/nchars <= 0.1 THEN 1.0 ELSE 0.5 END)*0.2 +
               least((CAST(len(regexp_extract_all(text,'\p{L}')) AS DOUBLE)/nchars)/0.6, 1.0)*0.3, 6) AS quality
           FROM base)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS total_toks,
                count(DISTINCT text) AS n_distinct_texts,
                round(min(quality), 6) AS min_quality,
                round(max(quality), 6) AS max_quality
         FROM scored WHERE quality >= 0.5
         GROUP BY lang ORDER BY lang""",
    "doc_exact_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keeper_id""",
    "doc_exact_dedup_rows" ->
      """SELECT min(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id""",
    "doc_dedup_best" ->
      """WITH base AS (
           SELECT doc_id, text,
             array_to_string((regexp_extract_all(text, '\S+'))[1:5], ' ') AS pfx,
             CAST(greatest(length(text), 1) AS DOUBLE) AS nchars,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS ntoks
           FROM documents),
         scored AS (
           SELECT doc_id, pfx,
             round(least(nchars/200.0, 1.0)*0.25 +
                   (CASE WHEN nchars/ntoks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.25 END)*0.25 +
                   (CASE WHEN CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)/nchars <= 0.1 THEN 1.0 ELSE 0.5 END)*0.2 +
                   least((CAST(len(regexp_extract_all(text,'[\p{L}]')) AS DOUBLE)/nchars)/0.6, 1.0)*0.3, 6) AS quality
           FROM base)
         SELECT doc_id, quality FROM scored
         QUALIFY row_number() OVER (PARTITION BY pfx ORDER BY quality DESC, doc_id) = 1
         ORDER BY doc_id""",
    "doc_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         idxs AS (SELECT doc_id, t,
                  unnest(generate_series(0, CAST(ceil(len(t)/4.0) AS BIGINT)-1)) AS idx
                  FROM toks),
         spans AS (SELECT doc_id, idx,
                   array_to_string(t[(idx*4+1):(idx*4+4)], ' ') AS span FROM idxs),
         keep AS (SELECT doc_id, idx, span,
                  row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
                  FROM spans)
         SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS text
         FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",
    "doc_span_dedup_anchored" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT CAST(doc_id + (SELECT max(doc_id) + 1 FROM documents) AS BIGINT) AS doc_id,
                  'zzpad ' || text AS text
           FROM documents WHERE doc_id < 50),
         toks AS (
           SELECT doc_id, t.tok, t.pos
           FROM corpus, LATERAL (
             SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
                    GENERATE_SUBSCRIPTS(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
           ) t),
         seg AS (
           SELECT doc_id, tok, pos,
             MAX(CASE WHEN pos = 1 OR substr(md5(tok), 1, 1) = '0' THEN pos END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS seg_start
           FROM toks),
         spans AS (
           SELECT doc_id, MIN(pos) AS idx, string_agg(tok, ' ' ORDER BY pos) AS span
           FROM seg GROUP BY doc_id, seg_start, (pos - seg_start) // 16),
         keep AS (
           SELECT doc_id, idx, span,
                  row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
           FROM spans)
         SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS text
         FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",
    "doc_span_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         idxs AS (SELECT doc_id, t,
                  unnest(generate_series(0, CAST(ceil(len(t)/4.0) AS BIGINT)-1)) AS idx
                  FROM toks),
         spans AS (SELECT doc_id, idx,
                   array_to_string(t[(idx*4+1):(idx*4+4)], ' ') AS span FROM idxs),
         freq AS (SELECT span, count(*) AS n FROM spans GROUP BY span)
         SELECT s.doc_id, string_agg(s.span, ' ' ORDER BY s.idx) AS text
         FROM spans s JOIN freq f ON s.span = f.span
         WHERE f.n <= 2 GROUP BY s.doc_id ORDER BY doc_id""",
    "doc_near_dup" ->
      s"""WITH ${shinglePrefixPairCtes("0.9")}
         $nearDupPairSelect""",
    // cross-only (old corpus x new batch) prefix-filter blocking: the
    // prefix lemma applies per pair regardless of which side each doc
    // is on; cand keeps only side 0 x side 1 pairs (the operator never
    // reports old-old or new-new here)
    "doc_near_dup_incr" ->
      """WITH sb AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(length(text)-4, 1) + 1),
                                i -> text[i:i+4])) AS sh
           FROM documents),
         sn AS (
           SELECT CAST(doc_id + (SELECT max(doc_id) + 1 FROM documents) AS BIGINT) AS doc_id,
                  list_distinct(list_transform(range(1, greatest(length(text)-4, 1) + 1),
                                i -> text[i:i+4])) AS sh
           FROM documents WHERE doc_id < 250),
         u AS (SELECT doc_id, 0 AS side, sh FROM sb
               UNION ALL SELECT doc_id, 1 AS side, sh FROM sn),
         tok AS MATERIALIZED (SELECT doc_id, side, len(sh) AS L, unnest(sh) AS t FROM u),
         freq AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         pref AS MATERIALIZED (
           SELECT doc_id, side, L, t, r FROM (
             SELECT tok.doc_id, tok.side, tok.L, tok.t,
                    row_number() OVER (PARTITION BY tok.doc_id ORDER BY f.n, tok.t) AS r
             FROM tok JOIN freq f USING (t))
           WHERE r <= L - CAST(ceil(0.9*L) AS BIGINT) + 3),
         cand AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, a.L AS l1, b.L AS l2
           FROM pref a JOIN pref b
             ON a.t = b.t AND a.side = 0 AND b.side = 1
            AND b.L BETWEEN CAST(ceil(0.9*a.L) AS BIGINT) AND CAST(floor(a.L/0.9) AS BIGINT)
           GROUP BY a.doc_id, b.doc_id, a.L, b.L
           HAVING count(*) >= least(3, CAST(ceil(0.9*least(a.L, b.L)) AS BIGINT))
              AND 1 + least(a.L - min(a.r), b.L - min(b.r))
                  >= CAST(ceil(0.9*(a.L + b.L)/1.9) AS BIGINT))
         SELECT id1, id2, round(CAST(i AS DOUBLE) / (l1 + l2 - i), 6) AS jaccard
         FROM (SELECT c.id1, c.id2, c.l1, c.l2, count(*) AS i
               FROM cand c
               JOIN tok ta ON ta.doc_id = c.id1 AND ta.side = 0
               JOIN tok tb ON tb.doc_id = c.id2 AND tb.side = 1 AND tb.t = ta.t
               GROUP BY c.id1, c.id2, c.l1, c.l2)
         WHERE CAST(i AS DOUBLE) / (l1 + l2 - i) >= 0.9
         ORDER BY id1, id2""",
    "doc_quality_oracle" ->
      """WITH base AS (
           SELECT doc_id, text,
             CAST(greatest(length(text), 1) AS DOUBLE) AS nchars,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS ntoks,
             regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS toks
           FROM documents)
         SELECT doc_id,
           CASE
             WHEN CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) / nchars > 0.05 THEN 'zh'
             ELSE (
               WITH h AS (SELECT
                 len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','on','at','by','this'], t))) AS en,
                 len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von','auf','im','sich','des'], t))) AS de,
                 len(list_filter(toks, t -> list_contains(['le','la','les','de','des','et','est','un','une','dans','que','pour','sur','avec','au','pas'], t))) AS fr,
                 len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','en','que','por','con','para','del','se'], t))) AS es)
               SELECT CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 THEN 'und'
                           WHEN en>=de AND en>=fr AND en>=es THEN 'en'
                           WHEN de>=fr AND de>=es THEN 'de'
                           WHEN fr>=es THEN 'fr' ELSE 'es' END FROM h)
           END AS lang_guess,
           round(least(nchars/200.0, 1.0)*0.25 +
                 (CASE WHEN nchars/ntoks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.25 END)*0.25 +
                 (CASE WHEN CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)/nchars <= 0.1 THEN 1.0 ELSE 0.5 END)*0.2 +
                 least((CAST(len(regexp_extract_all(text,'[\p{L}]')) AS DOUBLE)/nchars)/0.6, 1.0)*0.3, 6) AS quality
         FROM base ORDER BY doc_id""",
    "doc_quality" ->
      """WITH base AS (
           SELECT doc_id, text,
             CAST(greatest(length(text), 1) AS DOUBLE) AS nchars,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE) AS ntoks,
             regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS toks
           FROM documents),
         hs AS (
           SELECT doc_id, i,
                  ('0x' || substr(md5(substr(text, CAST(i AS INT), 5)), 1, 15))::BIGINT AS h
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
                 FROM documents)),
         wm AS (
           SELECT doc_id, i,
                  min(h) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
                  count(*) OVER (PARTITION BY doc_id) AS nh
           FROM hs),
         nf AS (
           SELECT doc_id, count(DISTINCT m) AS n_winnow_fp
           FROM wm WHERE i <= greatest(nh - 7, 1) GROUP BY doc_id)
         SELECT b.doc_id,
           CASE
             WHEN CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) / nchars > 0.05 THEN 'zh'
             ELSE (
               WITH h AS (SELECT
                 len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','on','at','by','this'], t))) AS en,
                 len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von','auf','im','sich','des'], t))) AS de,
                 len(list_filter(toks, t -> list_contains(['le','la','les','de','des','et','est','un','une','dans','que','pour','sur','avec','au','pas'], t))) AS fr,
                 len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','en','que','por','con','para','del','se'], t))) AS es)
               SELECT CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 THEN 'und'
                           WHEN en>=de AND en>=fr AND en>=es THEN 'en'
                           WHEN de>=fr AND de>=es THEN 'de'
                           WHEN fr>=es THEN 'fr' ELSE 'es' END FROM h)
           END AS lang_guess,
           round(least(nchars/200.0, 1.0)*0.25 +
                 (CASE WHEN nchars/ntoks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.25 END)*0.25 +
                 (CASE WHEN CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)/nchars <= 0.1 THEN 1.0 ELSE 0.5 END)*0.2 +
                 least((CAST(len(regexp_extract_all(text,'[\p{L}]')) AS DOUBLE)/nchars)/0.6, 1.0)*0.3, 6) AS quality,
           ('0x' || substr(md5(b.text), 1, 15))::BIGINT AS fingerprint,
           CAST(nf.n_winnow_fp AS INT) AS n_winnow_fp
         FROM base b JOIN nf ON b.doc_id = nf.doc_id ORDER BY b.doc_id""",
    "doc_containment" ->
      """WITH hs AS (
           SELECT doc_id, i,
                  ('0x' || substr(md5(substr(text, CAST(i AS INT), 5)), 1, 15))::BIGINT AS h
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
                 FROM documents)),
         wm AS (
           SELECT doc_id, i,
                  min(h) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
                  count(*) OVER (PARTITION BY doc_id) AS nh
           FROM hs),
         fps AS (SELECT DISTINCT doc_id, m FROM wm WHERE i <= greatest(nh - 7, 1)),
         rare AS (SELECT m FROM fps GROUP BY m HAVING count(*) <= 200),
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM fps a JOIN fps b ON a.m = b.m AND a.doc_id < b.doc_id
           WHERE a.m IN (SELECT m FROM rare)),
         shared AS (
           SELECT c.id1, c.id2, count(*) AS shared_fingerprints
           FROM cand c
           JOIN fps f1 ON f1.doc_id = c.id1
           JOIN fps f2 ON f2.doc_id = c.id2 AND f2.m = f1.m
           GROUP BY c.id1, c.id2 HAVING count(*) >= 50)
         SELECT id1, id2, CAST(shared_fingerprints AS BIGINT) AS shared_fingerprints
         FROM shared ORDER BY id1, id2""",
    "doc_heavy_hitters" ->
      """SELECT source AS item, count(*) AS cnt
         FROM documents GROUP BY source ORDER BY cnt DESC, item""",
    "doc_curate" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
         keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
         tok AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS ts
                 FROM documents),
         grams AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, greatest(len(ts) - 13 + 1, 0) + 1),
                                                i -> array_to_string(ts[i:i+12], ' '))) AS gs
                   FROM tok),
         g AS (SELECT doc_id, unnest(gs) AS g FROM grams),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 11 = 0),
         contam AS (SELECT DISTINCT t.doc_id
                    FROM (SELECT doc_id, g FROM g WHERE doc_id % 11 <> 0) t
                    JOIN bench USING (g))
         SELECT c.doc_id, c.lang
         FROM corpus c
         JOIN keep USING (doc_id)
         WHERE c.doc_id NOT IN (SELECT doc_id FROM contam)
           AND len(regexp_extract_all(c.text, '\S+')) >= 30
           AND ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15))::BIGINT <
               576460752303423488
         ORDER BY c.doc_id""",
    "doc_mixture" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
               CASE lang WHEN 'en' THEN 576460752303423488
                         WHEN 'zh' THEN 288230376151711744
                         WHEN 'fr' THEN 144115188075855872
                         ELSE 9223372036854775807 END
         ORDER BY doc_id""",
    "doc_mixture_temp" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents
                    WHERE source IS NOT NULL GROUP BY source),
         t AS (SELECT sum(n) AS total, sum(sqrt(CAST(n AS DOUBLE))) AS z FROM c),
         fr AS (SELECT c.source,
                       LEAST(1.0, 0.25 * CAST(t.total AS DOUBLE) * sqrt(CAST(c.n AS DOUBLE))
                                  / t.z / CAST(c.n AS DOUBLE)) AS f
                FROM c, t)
         SELECT d.doc_id, d.source
         FROM documents d JOIN fr ON d.source = fr.source
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT <
               CASE WHEN fr.f >= 1.0 THEN 9223372036854775807
                    ELSE CAST(floor(fr.f * 1152921504606846976.0) AS BIGINT) END
         ORDER BY d.doc_id""",
    "doc_classifier" -> classifierOracle,
    "doc_classifier_join" -> classifierOracle,
    // float weights, bit-exact: per-token weight from exactly-rounded
    // ops; list_prepend(bias, ws) then DuckDB's left-to-right list sum
    // replicates scoreCol's ((bias + w1) + w2) + ... association exactly
    "doc_classifier_float" ->
      """WITH s AS (
           SELECT doc_id,
                  list_aggregate(list_prepend(0.5, coalesce(list_transform(
                    regexp_extract_all(lower(text), '[\p{L}\p{N}'']+'),
                    t -> sqrt(CAST((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) + 1 AS DOUBLE)) / 8.0 - 1.0),
                    CAST([] AS DOUBLE[]))), 'sum') AS score
           FROM documents)
         SELECT doc_id, score, score >= 40.0 AS keep FROM s ORDER BY doc_id""",
    // dyadic-grid float weights (k/32): every partial sum exact, so the
    // join path's nondeterministic addition order cannot matter — any
    // summation order is hash-identical
    "doc_classifier_float_join" ->
      """WITH s AS (
           SELECT doc_id,
                  coalesce(list_aggregate(list_transform(
                    regexp_extract_all(lower(text), '[\p{L}\p{N}'']+'),
                    t -> CAST(((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) % 33) - 16 AS DOUBLE) / 32.0), 'sum'), 0)
                    + 0.25 AS score
           FROM documents)
         SELECT doc_id, score, score >= 0.0 AS keep FROM s ORDER BY doc_id""",
    // fixed-point join path: quantize each NON-dyadic weight exactly as
    // the operator does — floor(w*2^30 + 0.5) on the identical IEEE
    // double — sum the integers (order-free), descale once. qbias =
    // floor(0.25*2^30 + 0.5) = 268435456.
    "doc_classifier_fixed_join" ->
      """WITH s AS (
           SELECT doc_id,
                  (coalesce(list_aggregate(list_transform(
                     regexp_extract_all(lower(text), '[\p{L}\p{N}'']+'),
                     t -> CAST(floor((CAST((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) % 97 AS DOUBLE) / 97.0 - 0.5)
                                     * 1073741824.0 + 0.5) AS BIGINT)), 'sum'), 0)
                   + 268435456) / 1073741824.0 AS score
           FROM documents)
         SELECT doc_id, score, score >= 0.0 AS keep FROM s ORDER BY doc_id""",
    "doc_curate_scored" ->
      """WITH cnt AS (SELECT source, count(*) AS n FROM documents
                      WHERE source IS NOT NULL GROUP BY source),
         tot AS (SELECT sum(n) AS total, sum(sqrt(CAST(n AS DOUBLE))) AS z FROM cnt),
         fr AS (SELECT cnt.source,
                       LEAST(1.0, 0.5 * CAST(tot.total AS DOUBLE) * sqrt(CAST(cnt.n AS DOUBLE))
                                  / tot.z / CAST(cnt.n AS DOUBLE)) AS f
                FROM cnt, tot),
         keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         sc AS (SELECT doc_id,
                       CAST(coalesce(list_aggregate(list_transform(
                         regexp_extract_all(lower(text), '[\p{L}\p{N}'']+'),
                         t -> ((('0x' || substr(md5(t), 1, 8))::BIGINT % 256) % 7) - 3), 'sum'), 0)
                         + 2 AS BIGINT) AS score
                FROM documents)
         SELECT d.doc_id, d.source
         FROM documents d
         JOIN fr ON d.source = fr.source
         JOIN keep USING (doc_id)
         JOIN sc USING (doc_id)
         WHERE sc.score >= 0
           AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT <
               CASE WHEN fr.f >= 1.0 THEN 9223372036854775807
                    ELSE CAST(floor(fr.f * 1152921504606846976.0) AS BIGINT) END
         ORDER BY d.doc_id""",
    "rel_quantile_sketch" ->
      """SELECT o_orderpriority,
                quantile_disc(o_totalprice, 0.5) AS p50,
                quantile_disc(o_totalprice, 0.9) AS p90,
                quantile_disc(o_totalprice, 0.99) AS p99
         FROM orders WHERE o_orderkey % 11 = 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "doc_term_search" -> termSearchOracle,
    "doc_term_search_all" ->
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
                WHERE t IN ('dup', 'key', 'batch') GROUP BY doc_id, t),
         df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, CAST(SUM(tf * (n.n // df.df)) AS BIGINT) AS score
         FROM tf JOIN df USING (t) CROSS JOIN n GROUP BY doc_id
         HAVING count(DISTINCT t) = 3
         ORDER BY score DESC, doc_id LIMIT 25""",
    "doc_term_search_incr" -> termSearchOracle,
    "doc_term_search_indexed" -> termSearchOracle,
    "doc_term_search_tiered" -> termSearchOracle,
    "doc_phrases" -> phrasesOracle,
    "doc_phrases_join" -> phrasesOracle,
    "doc_phrase_fuse" -> phraseFuseOracle,
    "doc_phrase_fuse_join" -> phraseFuseOracle,
    "doc_redact" ->
      """WITH synth AS (
           SELECT doc_id,
                  text || ' reach user' || CAST(doc_id AS VARCHAR) ||
                  '@mail.example.com or +44 (20) 7946-09' || CAST(doc_id AS VARCHAR) ||
                  ' via https://ex' || CAST(doc_id AS VARCHAR) ||
                  '.example.org/p ip 192.168.1.' || CAST(doc_id % 200 AS VARCHAR) AS t
           FROM documents)
         SELECT doc_id,
                md5(regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                          'https?://[^ \t\n]+', '<URL>', 'g'),
                        '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
                      '\+?[0-9][0-9 ()./-]{6,}[0-9]', '<PHONE>', 'g')) AS redacted_hash,
                CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
                CAST(len(regexp_extract_all(t, 'https?://[^ \t\n]+')) AS INT) AS n_url,
                CAST(len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ip,
                CAST(len(regexp_extract_all(t, '\+?[0-9][0-9 ()./-]{6,}[0-9]')) AS INT) AS n_phone
         FROM synth ORDER BY doc_id""",
    "doc_vocab" ->
      """WITH tok AS (
           SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS t
           FROM documents),
         cnt AS (SELECT t AS token, count(*) AS cnt FROM tok GROUP BY t)
         SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INT) AS id
         FROM cnt QUALIFY id < 20 ORDER BY id""",
    "doc_vocab_encode" -> vocabEncodeOracle,
    "doc_vocab_encode_join" -> vocabEncodeOracle,
    "doc_bpe_merges" -> bpeMergesOracle(8),
    "doc_bpe_merges_dist" -> bpeMergesOracle(8),
    // training-to-collapse endpoint: every vocab word is one token with
    // its exact corpus count — a word-count aggregate, no merge replay
    "doc_bpe_collapse" ->
      s"""SELECT w AS word, count(*) AS cnt, CAST(1 AS INT) AS n_syms, w AS sym
         FROM (SELECT unnest($bpeTokSql) AS w FROM (
           SELECT text FROM documents
           UNION ALL SELECT c_name AS text FROM customer))
         GROUP BY w ORDER BY w""",
    "doc_bpe_encode" -> bpeEncodeOracle(8),
    "doc_bpe_encode_loaded" -> bpeEncodeOracle(8),
    "doc_bpe_encode_expr" -> bpeEncodeOracle(8),
    "rel_stats" ->
      """WITH s AS (
           SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
                  count(*) - count(c_custkey) AS n_nulls,
                  count(DISTINCT c_custkey) AS ndv,
                  CAST(min(c_custkey) AS VARCHAR) AS min_val,
                  CAST(max(c_custkey) AS VARCHAR) AS max_val
           FROM customer
           UNION ALL
           SELECT 'c_name', count(*), count(*) - count(c_name),
                  count(DISTINCT c_name),
                  CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR)
           FROM customer
           UNION ALL
           SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
                  count(DISTINCT c_nationkey),
                  CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
           FROM customer
           UNION ALL
           SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
                  count(DISTINCT c_mktsegment),
                  CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR)
           FROM customer)
         SELECT * FROM s ORDER BY column_name""",
    "rel_upsert_changes" ->
      """SELECT c_custkey, round(c_acctbal + 100.0, 2) AS acctbal,
                CAST(1 AS BIGINT) AS version
         FROM customer WHERE c_custkey % 7 = 0 ORDER BY c_custkey""",
    "rel_upsert" ->
      """WITH base AS (
           SELECT c_custkey, c_acctbal, CAST(0 AS BIGINT) AS version, false AS deleted, 0 AS prio
           FROM customer),
         chg AS (
           SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, CAST(1 AS BIGINT) AS version, false AS deleted, 1 AS prio
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT CAST(c_custkey + (SELECT max(c_custkey) + 1 FROM customer) AS BIGINT),
                  50.0, CAST(1 AS BIGINT), false, 1
           FROM customer WHERE c_custkey % 11 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal, CAST(2 AS BIGINT), true, 1
           FROM customer WHERE c_custkey % 13 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
         w AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                          ORDER BY prio DESC, version DESC) AS rn FROM u)
         SELECT c_custkey, round(c_acctbal, 2) AS acctbal, version
         FROM w WHERE rn = 1 AND NOT deleted ORDER BY c_custkey""",
    "doc_repetition" ->
      """WITH tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts
           FROM documents),
         bg AS (
           SELECT doc_id,
                  CASE WHEN len(ts) >= 2
                       THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
                       ELSE [] END AS gs
           FROM tok),
         tg AS (
           SELECT doc_id,
                  CASE WHEN len(ts) >= 3
                       THEN list_transform(range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                       ELSE [] END AS gs
           FROM tok),
         bgtop AS (
           SELECT doc_id,
                  CASE WHEN len(gs) = 0 THEN 0.0
                       ELSE round(CAST(list_max(list_transform(list_distinct(gs),
                                g -> len(list_filter(gs, x -> x = g)))) AS DOUBLE) / len(gs), 6)
                  END AS top2_frac
           FROM bg),
         tgdup AS (
           SELECT doc_id,
                  CASE WHEN len(gs) = 0 THEN 0.0
                       ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
                  END AS dup3_frac
           FROM tg)
         SELECT doc_id, top2_frac, dup3_frac
         FROM bgtop JOIN tgdup USING (doc_id) ORDER BY doc_id""",
    "doc_pack_chunks" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
                  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
           FROM t)
         SELECT doc_id, n_tokens, token_offset,
                token_offset // 512 AS first_chunk,
                (token_offset + greatest(n_tokens, 1) - 1) // 512 AS last_chunk,
                (token_offset + greatest(n_tokens, 1) - 1) // 512 - token_offset // 512 + 1 AS n_chunks
         FROM o ORDER BY doc_id""",
    "doc_pack_greedy" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, doc_id // 100 AS block,
                  CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
                  row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
           FROM documents),
         walk AS (
           SELECT block, doc_id, n_tokens, rn, 0 AS bin, n_tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.block, t.doc_id, t.n_tokens, t.rn,
                  CASE WHEN w.fill + t.n_tokens > 512 THEN w.bin + 1 ELSE w.bin END AS bin,
                  CASE WHEN w.fill + t.n_tokens > 512 THEN t.n_tokens ELSE w.fill + t.n_tokens END AS fill
           FROM walk w JOIN t ON t.block = w.block AND t.rn = w.rn + 1)
         SELECT doc_id, CAST(block AS BIGINT) AS block, CAST(bin AS INT) AS bin
         FROM walk ORDER BY doc_id""",
    "doc_unigram_rarity" -> unigramRarityOracle,
    "doc_unigram_rarity_join" -> unigramRarityOracle,
    "doc_bigram_surprise" ->
      """WITH tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts
           FROM documents),
         bg AS (
           SELECT doc_id, ts[idx] || ' ' || ts[idx+1] AS g,
                  ts[idx] AS w1, ts[idx+1] AS w2
           FROM (SELECT doc_id, ts,
                 unnest(generate_series(1, len(ts)-1)) AS idx FROM tok)),
         uni AS (
           SELECT t AS w, count(*) AS n
           FROM (SELECT unnest(ts) AS t FROM tok WHERE doc_id % 2 = 0)
           GROUP BY t),
         bic AS (SELECT g, count(*) AS n FROM bg WHERE doc_id % 2 = 0 GROUP BY g),
         tot AS (SELECT sum(n) AS total FROM uni)
         SELECT b.doc_id,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                round(CAST(sum(CASE WHEN c.n IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS unseen_rate,
                round(CAST(sum(CASE WHEN c.n IS NOT NULL THEN u1.n // c.n
                               ELSE 2 * ((SELECT total FROM tot) // coalesce(u2.n, 1))
                               END) AS DOUBLE) / count(*), 6) AS mean_points
         FROM bg b
         LEFT JOIN bic c ON b.g = c.g
         LEFT JOIN uni u1 ON b.w1 = u1.w
         LEFT JOIN uni u2 ON b.w2 = u2.w
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "doc_chunks" ->
      """WITH tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}'']+') AS ts
           FROM documents),
         n AS (
           SELECT doc_id, ts,
                  CAST(1 + ceil(greatest(len(ts) - 32, 0) / 24.0) AS INT) AS nc
           FROM tok),
         idx AS (SELECT doc_id, ts, unnest(range(1, nc + 1)) AS i FROM n),
         ch AS (
           SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
                  CAST((i - 1) * 24 AS INT) AS start_tok,
                  ts[(i - 1) * 24 + 1 : (i - 1) * 24 + 32] AS c
           FROM idx)
         SELECT doc_id, chunk_idx, start_tok,
                CAST(len(c) AS INT) AS n_tokens,
                array_to_string(c, ' ') AS chunk_text
         FROM ch ORDER BY doc_id, chunk_idx""",
    "doc_decontaminate" ->
      """WITH tok AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
           FROM documents),
         grams AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(ts) - 13 + 1, 0) + 1),
                                               i -> array_to_string(ts[i:i+12], ' '))) AS gs
           FROM tok),
         g AS (SELECT doc_id, unnest(gs) AS g FROM grams),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 11 = 0)
         SELECT t.doc_id, count(*) AS n_matched
         FROM (SELECT doc_id, g FROM g WHERE doc_id % 11 <> 0) t
         JOIN bench USING (g)
         GROUP BY t.doc_id
         ORDER BY t.doc_id""",
    "doc_semantic_decontam" ->
      """WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv
                    FROM embeddings WHERE label = 0),
            c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings)
         SELECT vec_id, count(*) AS n_matched,
                round(max(list_cosine_similarity(cv, bv)), 6) AS max_cosine
         FROM c, b
         WHERE list_cosine_similarity(cv, bv) >= 0.35
         GROUP BY vec_id ORDER BY vec_id""",
    "doc_semantic_decontam_keep" ->
      """WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv
                    FROM embeddings WHERE label = 0)
         SELECT vec_id, label FROM embeddings c
         WHERE NOT EXISTS (
           SELECT 1 FROM b
           WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), bv) >= 0.35)
         ORDER BY vec_id""",
    "doc_semantic_decontam_ivf_recall" ->
      """WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv
                    FROM embeddings WHERE label = 0),
            c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            f AS (SELECT DISTINCT vec_id FROM c, b
                  WHERE list_cosine_similarity(cv, bv) >= 0.35)
         SELECT count(*) AS n_exact, true AS recall_ok FROM f""",
    "doc_simhash_near_dup" ->
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}'']+')) AS t
           FROM documents),
         th AS (
           SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok),
         bits AS (
           SELECT doc_id, b.b AS b,
                  sum(CASE WHEN (h >> CAST(b.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th, (SELECT unnest(range(64)) AS b) b
           GROUP BY doc_id, b.b),
         sig AS (
           SELECT doc_id,
                  bit_or(CASE WHEN s > 0 THEN (1::UBIGINT << CAST(b AS INT)) ELSE 0::UBIGINT END) AS sim
           FROM bits GROUP BY doc_id),
         sigall AS (
           SELECT d.doc_id, coalesce(g.sim, 0::UBIGINT) AS sim
           FROM documents d LEFT JOIN sig g USING (doc_id))
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
         FROM sigall a JOIN sigall b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sim, b.sim)) <= 3
         ORDER BY id1, id2""",
    "mm_decode" ->
      """WITH base AS (
           SELECT doc_id AS media_id,
                  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
                  CAST(64 + doc_id % 512 AS INT) AS width,
                  CAST(64 + (doc_id * 7) % 512 AS INT) AS height,
                  CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT) AS channels,
                  CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 39 END + strlen(text) AS BIGINT) AS size_bytes
           FROM documents),
         r AS (
           SELECT *, CASE WHEN greatest(width, height) > 512
                          THEN 512.0 / greatest(width, height) ELSE 1.0 END AS scale
           FROM base)
         SELECT media_id, format, width, height, channels, size_bytes,
                CAST(floor(width * scale) AS INT) AS resized_width,
                CAST(floor(height * scale) AS INT) AS resized_height
         FROM r ORDER BY media_id""",
    "mm_av_decode" ->
      """WITH base AS (
           SELECT doc_id AS media_id, strlen(text) AS body_len,
                  doc_id % 2 = 0 AS is_wav,
                  CAST(1 + (doc_id % 4) // 2 AS INT) AS ch,
                  CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                       WHEN 3 THEN 44100 ELSE 48000 END AS rate,
                  CAST(16 - 8 * ((doc_id % 8) // 4) AS INT) AS bits,
                  CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 1400 END AS timescale,
                  (doc_id * 37) % 100000 AS mp4_dur
           FROM documents)
         SELECT media_id,
                CASE WHEN is_wav THEN 'wav' ELSE 'mp4' END AS format,
                CAST(CASE WHEN is_wav THEN ch END AS INT) AS channels,
                CAST(CASE WHEN is_wav THEN rate END AS INT) AS sample_rate,
                CAST(CASE WHEN is_wav THEN bits END AS INT) AS bits_per_sample,
                CAST(CASE WHEN is_wav
                     THEN body_len * 1000 // (rate * ch * bits // 8)
                     ELSE mp4_dur * 1000 // timescale END AS BIGINT) AS duration_ms,
                CAST(CASE WHEN is_wav
                     THEN 44 + body_len + CASE WHEN media_id % 4 = 0 THEN 12 ELSE 0 END
                     ELSE 132 + body_len + CASE WHEN media_id % 3 = 0 THEN 16 ELSE 0 END
                     END AS BIGINT) AS size_bytes
         FROM base ORDER BY media_id""",
    "mm_frames" ->
      """SELECT doc_id AS media_id,
         CAST(ceil(CAST(greatest(strlen(text),1) AS DOUBLE) /
              CAST(ceil(CAST(greatest(strlen(text),1) AS DOUBLE) / 4.0) AS INT)) AS INT) AS n_frames,
         CAST(strlen(text) AS BIGINT) AS payload_len
         FROM documents ORDER BY media_id""",
    "emb_quantize" ->
      """WITH s AS (
           SELECT vec_id, embedding,
                  127.0 / greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale
           FROM embeddings),
         q AS (
           SELECT vec_id, scale,
                  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)) AS qv
           FROM s)
         SELECT vec_id,
                CAST(list_sum(qv) AS BIGINT) AS q_sum,
                list_min(qv) AS q_min, list_max(qv) AS q_max,
                round(scale, 6) AS scale_r
         FROM q ORDER BY vec_id""",
    "rel_running" ->
      """SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER w AS INT) AS rn,
         count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n,
         lag(o_orderkey, 1) OVER w AS prev_key
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""",
    "emb_knn" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS nid,
                  list_cosine_similarity(q.qv, e.embedding) AS sim
           FROM q JOIN embeddings e ON e.vec_id <> q.qid),
         ranked AS (
           SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
           FROM scored)
         SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
         ORDER BY qid, rank""",
    // KMV sketch in the exact-below-k regime: the sketch answer must
    // equal the true distinct count for the hash to match.
    "doc_distinct_sketch" ->
      """SELECT count(DISTINCT lang) AS n_langs,
                count(DISTINCT (lang, source)) AS n_lang_source
         FROM documents""",
    // Theta-sketch set expressions in the exact-below-k regime: every
    // estimate must equal the true cardinality of the set expression
    // (union / intersect / difference via INTERSECT / EXCEPT).
    "rel_theta_sets" ->
      """SELECT
           (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderstatus = 'F') AS n_f,
           (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderstatus = 'O') AS n_o,
           (SELECT count(DISTINCT o_custkey) FROM orders WHERE o_orderstatus IN ('F','O')) AS n_union,
           (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                                  INTERSECT
                                  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t) AS n_intersect,
           (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                                  EXCEPT
                                  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t) AS n_f_only""",
    // IVF recall gate: DuckDB grounds the query-set size and exact-pair
    // count in the data (brute-force k-NN is k rows per query) and pins
    // recall_ok — the Spark side must have measured mean recall@10 >=
    // 0.75 against its own exact top-k for the hash to match (measured
    // 0.90-1.00 across sf0.001-0.1; SimilaritySpec also sweeps nProbe
    // and pins recall >= 0.9 at nProbe = nCentroids).
    "emb_knn_ivf_recall" ->
      """SELECT count(*) AS n_queries, 10 AS k,
                10 * count(*) AS n_exact, true AS recall_ok
         FROM embeddings WHERE vec_id < 5""",
    "emb_knn_ivf_indexed_recall" ->
      """SELECT count(*) AS n_queries, 10 AS k,
                10 * count(*) AS n_exact, true AS recall_ok
         FROM embeddings WHERE vec_id < 5""",
    "emb_knn_stream_recall" ->
      """SELECT count(*) AS n_queries, 10 AS k,
                10 * count(*) AS n_exact, true AS recall_ok
         FROM embeddings WHERE vec_id < 5""",
    "emb_knn_pq_recall" ->
      """SELECT count(*) AS n_queries, 10 AS k,
                10 * count(*) AS n_exact, true AS recall_ok
         FROM embeddings WHERE vec_id < 5""",
    "emb_knn_ivfpq_recall" ->
      """SELECT count(*) AS n_queries, 10 AS k,
                10 * count(*) AS n_exact, true AS recall_ok
         FROM embeddings WHERE vec_id < 5"""
  )
}
