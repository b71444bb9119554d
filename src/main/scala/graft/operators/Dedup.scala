package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines, designed for
  * partitioned execution at 100 TB (SURVEY.md §7.4): every variant is a
  * bounded-fanout shuffle — hash-partition on content keys, or an
  * LSH bucket join — never an all-pairs comparison.
  */
object Dedup {

  /** Estimated-input-size cutover for [[exactJaccardJoin]]'s automatic
    * prefix-ordering choice: inputs estimated larger than this use the
    * frequency-ordered (rare-token-first) prefix pass. 32 MB ≈ a few
    * hundred thousand short documents — the scale where hash-ordered
    * prefix buckets on a corpus with duplicate families start to
    * dominate the join (and where the one extra stats shuffle is noise).
    */
  val AutoFrequencyOrderBytes: Long = 32L * 1024 * 1024

  /** Estimated-input-size floor for the LSH oversized-bucket split
    * guard: above this, the guard is ALWAYS on — decided from
    * logical-plan statistics (file sizes for scans), no job runs. Below
    * it, compressed bytes alone must not authorize the skip (a
    * duplicate-saturated corpus — the exact input dedup exists for —
    * dictionary/RLE-encodes millions of identical docs under this
    * floor, and an unguarded self-join over millions of same-bucket
    * rows is a job-killer, not a slowdown), so small-stats inputs pay
    * one bounded row-count probe against [[GuardProbeSkipDocs]]. The
    * probe scans at most that many rows regardless of corpus size.
    */
  val GuardMinInputBytes: Long = 16L * 1024 * 1024

  /** Row-count ceiling for skipping the guard when plan statistics read
    * small and the caller left `maxBucket` on AUTO. The skip is a COST
    * decision, not a correctness one — without the guard the bucket
    * self-join has strictly higher recall and the exact verify keeps
    * results right; what the guard bounds is the quadratic worst case.
    * Below this many docs that worst case (every doc identical →
    * docs²/2 × bands codegen'd prefilter rows, ~0.7G at 8192 docs / 20
    * bands) is seconds on one box — cheaper than the guard's
    * aggregate + broadcast join at the same scale — while past it the
    * blowup outgrows any cluster.
    */
  val GuardProbeSkipDocs: Int = 8192

  /** Default LSH bucket-split threshold (the AUTO resolution). */
  val DefaultMaxBucket: Int = 1000

  /** Guard decision. An EXPLICIT maxBucket is a request for fanout
    * bounding: the guard is skipped only when provably irrelevant
    * (docs ≤ maxBucket → no bucket can be oversized). AUTO additionally
    * grants the [[GuardProbeSkipDocs]] cost allowance. Either probe
    * scans a bounded row count; at large scale the statistics floor
    * short-circuits it entirely.
    */
  private def guardNeeded(df: DataFrame, maxBucket: Int, auto: Boolean): Boolean = {
    if (maxBucket == Int.MaxValue) return false // no bucket can exceed it: guard is a no-op
    val cap = if (auto) math.max(maxBucket, GuardProbeSkipDocs) else maxBucket
    df.queryExecution.optimizedPlan.stats.sizeInBytes > GuardMinInputBytes ||
      df.limit(cap + 1).count() > cap
  }

  /** Spread-before-heavy-compute (see [[Spread.small]] for the full
    * discipline and the streaming caveat).
    */
  private def parallelize(df: DataFrame): DataFrame = Spread.small(df)

  /** Exact dedup: keep one row per distinct `keyCols` combination, the
    * one with the smallest `tieBreaker`. One hash shuffle on the key.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tieBreaker))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Quality-aware dedup: keep the row maximizing `score` per distinct
    * `keys` combination, ties broken by the SMALLEST `tieBreaker`
    * (numeric, unique — e.g. a doc id — so the order is total and the
    * survivor deterministic). Keys may be computed columns (a content
    * fingerprint, a token prefix), which is how crude near-dup
    * "keep the best copy" passes run.
    *
    * Shaped as an aggregate (`max_by` over a lexicographic struct), not
    * a window: partial aggregation combines map-side, so the shuffle
    * carries at most one candidate row per (group × input partition)
    * instead of every row, and no per-partition sort happens — the
    * shape that survives a 100 TB corpus where dup groups are shallow
    * but row count is not.
    */
  def keepBest(df: DataFrame, keys: Seq[Column], score: Column, tieBreaker: Column): DataFrame = {
    val row = struct(df.columns.map(col): _*)
    df.groupBy(keys: _*)
      .agg(max_by(row, struct(score, negate(tieBreaker))).as("__best"))
      .select(col("__best.*"))
  }

  /** Duplicate groups: per distinct key, the surviving id and the copy
    * count. Partial (map-side) aggregation makes this one shuffle of
    * pre-aggregated groups.
    */
  def duplicateGroups(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Connected components over a near-duplicate pair graph: the step
    * after ANY pairwise near-dup detector — duplicates form clusters
    * (a≈b, b≈c ⇒ {a,b,c}), and the pipeline keeps one survivor per
    * cluster, not per pair.
    *
    * Iterative min-label propagation: every node starts labeled with its
    * own id; each round every node takes the min of its label and its
    * neighbors' labels. Converges in O(graph diameter) rounds — near-dup
    * clusters are shallow (stars/cliques around a template), so a handful
    * of rounds; each round is one join + one aggregate, all distributed.
    * Each iteration is checkpoint-persisted so lineage stays flat.
    *
    * Returns (id, component) for every node appearing in `pairs`, where
    * component = the minimum id in the node's component.
    *
    * `checkpointDir`: None (default) uses `localCheckpoint` — blocks live
    * on executors, fastest, but an executor loss mid-iteration kills the
    * job. For long runs at real scale pass a reliable directory (HDFS/
    * object store): iteration state reaches stable storage via
    * `checkpoint()`, so the run survives executor churn.
    *
    * `checkpointInterval` (reliable mode only): writing every round to
    * stable storage made the durable path ~3.4x the localCheckpoint one
    * at the 100x probe (SCALING.md) — the classic iterative-graph
    * trade-off. Rounds between checkpoints persist MEMORY_AND_DISK
    * instead: the per-round convergence count still materializes each
    * round exactly once, lineage nests at most `checkpointInterval`
    * rounds back to the last durable cut (persist does NOT truncate
    * lineage, so an executor loss replays at most that window instead of
    * killing the job), and the stable-storage write amortizes across the
    * interval. 1 restores the old every-round behavior. Capped at 8:
    * `labels` feeds BOTH the neighbor aggregate and the update join, so
    * the un-truncated plan doubles per non-durable round (2^interval×
    * base by the next cut) — the exact blowup cut() exists to prevent;
    * localCheckpoint between cuts would bound the plan but truncates
    * lineage, which forfeits the executor-loss recompute that IS
    * reliable mode's contract.
    */
  def connectedComponents(
      pairs: DataFrame,
      col1: String,
      col2: String,
      maxIterations: Int = 20,
      checkpointDir: Option[String] = None,
      checkpointInterval: Int = 3
  ): DataFrame = {
    require(checkpointInterval >= 1 && checkpointInterval <= 8,
      s"checkpointInterval must be in [1, 8] (plans double per non-durable round), " +
        s"got $checkpointInterval")
    // Checkpoint (not persist): persisting does NOT truncate the
    // logical plan, and an iterative loop otherwise nests each round's
    // plan inside the next — exponential plan trees that OOM the driver
    // on explain/codegen by ~iteration 10. Checkpointing materializes
    // the rows AND cuts lineage, keeping every round's plan flat.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // materialize the pair frame ONCE before mirroring it: both union
    // branches would otherwise re-evaluate the (often expensive —
    // LSH + jaccard verification) pair plan from scratch
    val p0 = cut(pairs.select(col(col1).as("a"), col(col2).as("b")))
    // r19 loop restructure (guide §2.4 — remove shuffles/jobs outright):
    //  - edges carry SELF-LOOPS, so one join + min-aggregate per round
    //    computes least(own label, min neighbor label) DIRECTLY — the
    //    old second join (labels ⟕ neighborMin + least/coalesce update)
    //    is gone, and with it one exchange of the label frame per round;
    //  - edges are cut ONCE, as `distinct()` left them (hash-partitioned
    //    on (a, b), partition count set by AQE — see below); they are
    //    not repartitioned on the probe side `b`, so a round's join may
    //    shuffle the edge frame as well as the label frame (a
    //    repartition on `b` before the cut would avoid that, unmeasured);
    //  - the convergence signal rides the round's own materialization:
    //    labels only ever DECREASE under min-propagation, so the label
    //    sum is strictly decreasing until the fixed point, and an
    //    `Observation` on the checkpoint job (a batch Observation fires
    //    on checkpoint actions, OPTIMIZATION_r19.md) delivers it without
    //    the old separate count() job — jobs per localCheckpoint round
    //    drop from 2 to 1;
    //  - round 1 needs NO join at all: initial label(x) = x, so the
    //    first round's labels are just min(b) per a over the self-loop
    //    edges, which also erases the old labels-init cut job.
    // Partitioning of edges and of every round's shuffle stays with AQE
    // (size-based coalescing): the per-round work is a narrow join +
    // min-aggregate over (long, long) rows — per-row cost is trivial, so
    // the right partition count tracks BYTES, which AQE reads at
    // runtime. Pinning a count here was measured BOTH ways wrong: an
    // explicit floor of defaultParallelism ran ~100 near-empty tasks per
    // round at fixture scale (+7% on the CC family), and a plan-stats
    // derived count inherited the LSH join's inflated estimates
    // (sf0.01 pairs estimated ~900 GB → 7000-partition edge frames).
    val mirrored = p0.union(p0.select(col("b").as("a"), col("a").as("b")))
    val edges = cut(mirrored
      .union(mirrored.select(col("a"), col("a").as("b"))) // self-loops
      .distinct())
    // decimal(38,0) sum: exact (never overflows below ~10^19 rows of
    // long ids), and exactness is what makes "sum unchanged ⟺ no label
    // changed" a valid convergence test
    def sumOf(df: DataFrame): Option[java.math.BigDecimal] = Option(
      df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0))
    def cutWithSum(df: DataFrame): (DataFrame, Option[java.math.BigDecimal]) = {
      val obs = org.apache.spark.sql.Observation()
      val observed = df.observe(obs, sum(col("component").cast("decimal(38,0)")).as("s"))
      val out = cut(observed)
      (out, Option(obs.get("s").asInstanceOf[java.math.BigDecimal]))
    }
    var labels: DataFrame = null
    var prevSum: Option[Option[java.math.BigDecimal]] = None
    var converged = false
    var i = 0
    var prevPersisted: Option[DataFrame] = None
    while (!converged && i < maxIterations) {
      val updatedPlan =
        (if (i == 0) edges
         else edges.join(labels, edges("b") === labels("id"))
           .select(col("a"), col("component").as("b")))
          .groupBy(col("a").as("id"))
          .agg(min(col("b")).as("component"))
      // localCheckpoint mode cuts every round (it IS the cheap path);
      // reliable mode cuts on the interval and persists in between —
      // there the materializing action is the sum aggregate itself (one
      // job either way).
      val durableRound = checkpointDir.isEmpty || (i + 1) % checkpointInterval == 0
      val (updated, roundSum) =
        if (durableRound) cutWithSum(updatedPlan)
        else {
          val p = updatedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (p, sumOf(p))
        }
      converged = prevSum.contains(roundSum)
      prevSum = Some(roundSum)
      // the materialization above ran; the previous round's persisted
      // frame is no longer an input to anything un-materialized
      prevPersisted.foreach(_.unpersist(blocking = false))
      prevPersisted = if (durableRound) None else Some(updated)
      labels = updated
      i += 1
    }
    // keep the return contract of the every-round path: the final label
    // frame is durably materialized before the interval-persisted round
    // backing it is released
    prevPersisted.foreach { p => labels = cut(labels); p.unpersist(blocking = false) }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents stopped at maxIterations=$maxIterations with labels " +
          "still propagating — components may be split; raise maxIterations (graph diameter exceeded)")
    if (labels == null)
      // maxIterations == 0: degenerate, but keep the old contract of
      // returning every node labeled with itself
      labels = cut(mirrored.select(col("a").as("id")).distinct()
        .select(col("id"), col("id").as("component")))
    labels
  }

  /** Jaccard similarity of two array columns (as distinct sets). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** Sorted distinct 64-bit hashes of a document's shingle set — the
    * verification-side representation (native merge-walk jaccard).
    */
  private[graft] def sortedShingleHashes(text: Column, shingleK: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    // native compiled shingle pass (r18) — replaces the interpreted
    // array_sort(transform(charShingles, xxhash64)) chain; distinct is
    // by hash, within the merge-walk jaccard's documented
    // sorted-distinct contract (see ShingleHashes)
    ColumnBridge.column(graft.functions.ShingleHashes(
      ColumnBridge.expression(text), shingleK, graft.functions.ShingleHashesImpl.XxhDistinctSorted))
  }

  private[graft] def jaccardSortedCol(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.JaccardSortedLongs(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** MinHash signature: `numHashes` minima over the char-shingle set.
    * Each shingle string is hashed to 64 bits once; the hash family is
    * h_i(s) = XXH64(shingleHash, seed=i), computed by the native
    * [[graft.functions.MinHashSignature]] expression — a compiled
    * double loop instead of k × |shingles| interpreted higher-order
    * lambda evals (~240 s → ~1 s for 5000 docs at k=128). Per-row, no
    * shuffle.
    */
  def minhashSignature(text: Column, shingleK: Int = 5, numHashes: Int = 128): Column =
    // shingle hashing through the native ShingleHashes pass (r18); the
    // distinct-sorted set is the same multiset-of-minima input as the
    // old distinct-string chain, so signatures are unchanged
    minhashFromHashes(sortedShingleHashes(text, shingleK), numHashes)

  private def minhashFromHashes(shingleHashes: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.MinHashSignature(ColumnBridge.expression(shingleHashes), numHashes))
  }

  /** LSH band hashes of a signature: band b is
    * `xxhash64(slice(sig, b·r+1, r))`, computed by the native
    * [[graft.functions.MinHashBands]] loop the streaming ingest kernel
    * shares.
    */
  private def minhashBands(sig: Column, bands: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.MinHashBands(ColumnBridge.expression(sig), bands))
  }

  /** 1-byte-per-component sketch of a MinHash signature (binary). */
  private[graft] def packSigBytes(sig: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.PackLowBytes(ColumnBridge.expression(sig)))
  }

  /** Fraction of equal sketch bytes — the per-pair Jaccard estimator. */
  private[graft] def sigAgreement(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.BytesFractionEqual(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Signature-agreement prefilter cut for a verification threshold `t`:
    * candidates whose estimated Jaccard (fraction of matching signature
    * components) falls below `t - 0.2` are dropped BEFORE the exact
    * verify join. With numHashes=120 the estimator is Binomial(120, j)
    * (byte packing only biases it UP, by (1-j)/256): a true pair at
    * exactly j = t = 0.9 is dropped with probability
    * P[Bin(120,0.9) < 84] ≈ 1e-8 (5.5σ normal tail; the loose KL bound
    * gives e^(-120·KL(0.7‖0.9)) ≈ 1e-8 as well) — two orders of
    * magnitude safer than the banding recall bound the operator already
    * carries (≈2.6e-7/pair) — while a background pair at j = 0.6 (the
    * mass of a template-heavy corpus, where the permissive r=6 S-curve
    * admits >60% of such pairs as candidates) survives with probability
    * P[Bin(120,0.6) ≥ 84] ≈ 1.3% — a ~75× cut in exact-verify volume
    * exactly where the corpus is densest. The 100× scale probe measured
    * 210M bucket-pair candidates for 500k docs; this estimator is what
    * keeps the verify join (2.6 KB of shingle hashes PER SIDE per pair)
    * bounded by the near-threshold pairs instead of the S-curve tail.
    *
    * The margin scales with signature LENGTH (ADVICE r14): the 1e-8
    * false-drop bound above is a 5.5σ tail of Binomial(numHashes, t),
    * whose σ is sqrt(t(1-t)/numHashes) — a fixed 0.2 margin is ~5.5σ
    * only near numHashes≈120. Shorter signatures (numHashes=16 is valid
    * with bands=16) would silently drop true pairs at the threshold with
    * ~percent probability, so the margin is max(0.2, 6σ); below
    * [[PrefilterMinHashes]] components the 6σ margin exceeds any useful
    * cut and the prefilter disables itself (cut 0 = keep everything).
    */
  private[graft] val PrefilterMinHashes = 32

  private[graft] def estimateCut(threshold: Double, numHashes: Int): Double = {
    if (numHashes < PrefilterMinHashes) return 0.0
    val sigma = math.sqrt(threshold * (1.0 - threshold) / numHashes)
    math.max(0.0, threshold - math.max(0.2, 6.0 * sigma))
  }

  /** LSH candidate pairs from MinHash signatures: split the signature
    * into `bands`, hash each band, and self-join on (band index, band
    * hash). Only rows sharing a band bucket are ever compared — the
    * scale path that replaces the quadratic all-pairs join.
    *
    * Bucket-size guard: a bucket of B docs contributes B² candidate
    * pairs, so one degenerate bucket (boilerplate, empty strings) can
    * dominate the whole join at corpus scale. Buckets larger than
    * `maxBucket` are SPLIT into ceil(B/maxBucket) sub-buckets by a
    * secondary hash of the id: fanout per original bucket drops from B²
    * to ~B·maxBucket (linear in B), at the cost of missing pairs that
    * land in different sub-buckets OF AN OVERSIZED BUCKET ONLY —
    * normal-sized buckets (a fortiori every bucket in the gated
    * fixtures) are byte-identical to the unguarded join, and even
    * oversized ones retain ~1/ceil(B/maxBucket) of their pairs per band
    * across `bands` independent chances, instead of the total recall
    * loss of dropping the bucket outright.
    *
    * Returns (id1, id2) with id1 < id2, distinct.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      /** < 0 = AUTO: [[DefaultMaxBucket]] with the small-corpus cost
        * allowance ([[GuardProbeSkipDocs]]). An explicit value requests
        * fanout bounding whenever a bucket COULD exceed it.
        */
      maxBucket: Int = -1,
      persistIntermediate: Boolean = false
  ): DataFrame = {
    val mb = if (maxBucket < 0) DefaultMaxBucket else maxBucket
    bucketCandidates(
      bandedMinhash(df, idCol, textCol, shingleK, numHashes, bands, withSketch = false),
      mb, persistIntermediate, estCut = 0.0,
      guardNeeded = guardNeeded(df, mb, auto = maxBucket < 0))
  }

  /** Banded LSH frame (__id, __band, __bucket[, __sigb]) for a corpus:
    * one minhash signature per doc, hashed per band. `withSketch` adds
    * the 1-byte-per-component signature sketch used by the verify
    * prefilter (see [[estimateCut]]).
    */
  private def bandedMinhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      withSketch: Boolean
  ): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    val sig = parallelize(df).select(
      col(idCol).as("__id"),
      minhashSignature(col(textCol), shingleK, numHashes).as("__sig")
    )
    val bandCol = posexplode(minhashBands(col("__sig"), bands)).as(Seq("__band", "__bucket"))
    if (withSketch) sig.select(col("__id"), packSigBytes(col("__sig")).as("__sigb"), bandCol)
    else sig.select(col("__id"), bandCol)
  }

  /** Bucket self-join over a banded frame → distinct candidate pairs.
    *
    * Bucket sizes via MAP-SIDE-COMBINED aggregation + a broadcast of
    * ONLY the oversized buckets — not a window: a window partitioned
    * on (band, bucket) shuffles AND sorts the entire banded frame,
    * where the aggregate's combiner collapses to one row per distinct
    * bucket and the over-threshold survivors are bounded BY
    * CONSTRUCTION at rows/maxBucket (≤ ~rows/1000 = a few MB at any
    * corpus size — always broadcastable).
    *
    * `estCut` > 0 applies the signature-agreement prefilter INLINE in
    * the self-join (see [[estimateCut]]): the filter runs in whole-stage
    * codegen over the pipelined join output, so the S-curve's low-j
    * candidate mass dies before the distinct() shuffle and the exact
    * verify join ever see it. Requires the banded frame to carry __sigb.
    */
  private def bucketCandidates(
      banded0: DataFrame,
      maxBucket: Int,
      persistIntermediate: Boolean,
      estCut: Double,
      guardNeeded: Boolean = true
  ): DataFrame = {
    // the banded frame feeds BOTH the bucket-count aggregate and the
    // guard join below — persist it so the shingle+minhash map stage
    // runs once, not once per consumer (at 100× bench scale the
    // signature pass alone is tens of seconds)
    val banded =
      if (persistIntermediate) banded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else banded0
    val bounded0 =
      if (!guardNeeded)
        // small corpus: the guard job (aggregate + broadcast join) costs
        // more than the quadratic worst case it bounds, and skipping it
        // yields EXACTLY the unguarded join (strictly ≥ recall — the
        // guard only ever drops pairs inside oversized buckets)
        banded.withColumn("__sub", lit(0L))
      else {
        val oversized = banded
          .groupBy(col("__band"), col("__bucket"))
          .agg(count(lit(1)).as("__bucket_n"))
          .where(col("__bucket_n") > maxBucket)
        banded
          .join(broadcast(oversized), Seq("__band", "__bucket"), "left")
          // oversized buckets split by a secondary id-hash: nsub = 1 (a
          // no-op) for every bucket within maxBucket (left-join miss),
          // ceil(B/maxBucket) sub-buckets otherwise — join fanout stays
          // linear in B
          .withColumn("__nsub",
            when(col("__bucket_n").isNull, lit(1L))
              .otherwise(((col("__bucket_n") + lit(maxBucket - 1L)) / lit(maxBucket.toLong)).cast("long")))
          .withColumn("__sub", pmod(xxhash64(col("__id")), col("__nsub")))
          .drop("__bucket_n", "__nsub")
      }
    // both sides of the bucket self-join read this — persist so the
    // guard join runs once
    val bounded =
      if (persistIntermediate) bounded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bounded0
    val withSketch = estCut > 0.0
    def side(idAs: String, sigAs: String) = {
      val base = Seq(col("__band"), col("__bucket"), col("__sub"), col("__id").as(idAs))
      bounded.select(base ++ (if (withSketch) Seq(col("__sigb").as(sigAs)) else Nil): _*)
    }
    val joined = side("id1", "__sigb1").join(side("id2", "__sigb2"), Seq("__band", "__bucket", "__sub"))
    val filtered =
      if (withSketch)
        joined.where(col("id1") < col("id2") &&
          sigAgreement(col("__sigb1"), col("__sigb2")) >= lit(estCut))
      else joined.where(col("id1") < col("id2"))
    filtered.select(col("id1"), col("id2")).distinct()
  }

  /** Near-duplicate pairs, MinHash-LSH recall + exact char-shingle
    * Jaccard verification: candidates from the bucket join, then true
    * set Jaccard (on hashed shingles, native merge walk) computed only
    * on candidates. Returns (id1, id2, jaccard) with jaccard >= threshold.
    */
  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      /** Persist the per-doc shingle-hash frame: the LSH plan references
        * it from 3+ join branches, and without persistence Spark
        * recomputes the shingling per branch. ~(8·|shingles|) bytes per
        * doc; callers own unpersisting (or let it age out).
        */
      persistIntermediate: Boolean = false
  ): DataFrame = {
    val pdf = parallelize(df)
    val cands = bucketCandidates(
      bandedMinhash(pdf, idCol, textCol, shingleK, numHashes, bands, withSketch = true),
      maxBucket = DefaultMaxBucket, persistIntermediate,
      estCut = estimateCut(threshold, numHashes),
      guardNeeded = guardNeeded(df, DefaultMaxBucket, auto = true))
    val sh = pdf.select(col(idCol).as("__sid"), sortedShingleHashes(col(textCol), shingleK).as("__sh"))
    exactVerifyJoin(cands, sh, jaccardSortedCol, threshold, persistIntermediate)
  }

  /** Cross-corpus near-duplicates — dedup a NEW document batch against
    * an accumulated BASE corpus without ever pairing the base with
    * itself: (id1 = base id, id2 = new id, jaccard ≥ threshold). The
    * batch twin of [[graft.streaming.StreamingDedup]]'s per-trigger
    * index probe (crawl N+1 against crawls 1..N), sharing its
    * machinery: banded minhash on both sides, a bucket EQUI-join that
    * only ever forms base × new pairs, the signature-agreement
    * prefilter ([[estimateCut]]) inline in that join, and the
    * candidate-bounded exact verify ([[exactVerifyJoin]] — the base
    * corpus's element sets are semi-filtered to candidate ids, so the
    * accumulated corpus never shuffles whole for verification). Ids
    * must be unique ACROSS the two frames (the normal corpus contract);
    * an id appearing on both sides is treated as the same document and
    * never paired with itself.
    *
    * No bucket-split guard here by design: splitting a CROSS join's
    * oversized bucket changes nothing (s sub-buckets of B/s × N rows
    * still join B × N pairs) — the volume bound is the prefilter, which
    * kills the low-similarity mass in whole-stage codegen before the
    * distinct/verify stages exist.
    */
  def nearDuplicatesAgainst(
      base: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      persistIntermediate: Boolean = false
  ): DataFrame = {
    val pb = parallelize(base)
    val pn = parallelize(newDocs)
    val estCut = estimateCut(threshold, numHashes)
    val withSketch = estCut > 0.0
    def maybePersist(df: DataFrame) =
      if (persistIntermediate) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val bBanded = bandedMinhash(pb, idCol, textCol, shingleK, numHashes, bands, withSketch)
    val nBanded = maybePersist(
      bandedMinhash(pn, idCol, textCol, shingleK, numHashes, bands, withSketch))
    val joined = bBanded.alias("b")
      .join(nBanded.alias("n"), Seq("__band", "__bucket"))
      .where(col("b.__id") =!= col("n.__id"))
    val filtered =
      if (withSketch)
        joined.where(sigAgreement(col("b.__sigb"), col("n.__sigb")) >= lit(estCut))
      else joined
    val cands = filtered
      .select(col("b.__id").as("id1"), col("n.__id").as("id2"))
      .distinct()
    val sh = pb.select(col(idCol).as("__sid"), sortedShingleHashes(col(textCol), shingleK).as("__sh"))
      .unionByName(
        pn.select(col(idCol).as("__sid"), sortedShingleHashes(col(textCol), shingleK).as("__sh")))
    exactVerifyJoin(cands, sh, jaccardSortedCol, threshold, persistIntermediate)
  }

  /** Shared exact-verification join: candidates × per-doc element sets →
    * (id1, id2, jaccard ≥ threshold).
    *
    * Verify-join I/O scales with CANDIDATES, not corpus: the element-set
    * frame (thousands of hashed shingles per doc — tens of GB per join
    * side at a few million docs) is SEMI-FILTERED to the ids that appear
    * in any candidate pair before the two pair joins. Candidate ids are
    * pair-bounded (duplicate-family members — a small fraction of any
    * real corpus), so the filter is a broadcast semi join and the big
    * frame never shuffles whole. Without this, both pair joins
    * sort-merge-shuffle the FULL set frame — the r13 sf10 run spilled
    * >77 GB and exhausted the box's disk on exactly that stage.
    *
    * With `persistIntermediate` the candidate frame is persisted and
    * counted (one cheap job) so the broadcast is size-guarded; without
    * it (unit-test scale) the hint is unconditional.
    */
  /** Broadcast budget for the element-set side of [[exactVerifyJoin]]:
    * heap-scaled (a sixteenth of executor max heap, capped at 750 MB) —
    * a broadcastable set frame makes verification shuffle-free, and the
    * budget only changes the PLAN, never the result. Halved from heap/8
    * (ADVICE r14): the set frame is broadcast into BOTH pair joins, so
    * two relations are live at once, and the raw-bytes estimate below
    * carries a 2× factor for BroadcastHashRelation/UnsafeRow overhead —
    * together the worst case at the flip boundary is ~heap/4 of live
    * broadcast state instead of ~heap/2.
    */
  private def verifyBroadcastBudget: Long =
    math.min(750L * 1024 * 1024, Runtime.getRuntime.maxMemory / 16)

  private[graft] def exactVerifyJoin(
      cands0: DataFrame,
      sets: DataFrame, // (__sid, __sh)
      jaccard: (Column, Column) => Column,
      threshold: Double,
      persistIntermediate: Boolean
  ): DataFrame = {
    val cands = if (persistIntermediate)
      cands0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else cands0
    val candCount = if (persistIntermediate) cands.count() else -1L
    val candIds = cands.select(col("id1").as("__sid"))
      .union(cands.select(col("id2").as("__sid")))
      .distinct()
    val idFilter =
      if (!persistIntermediate) broadcast(candIds)
      else if (candCount * 2 <= 5000000L) broadcast(candIds)
      else candIds // too many candidates to pin a broadcast: let the semi join shuffle
    val sh0 = sets.join(idFilter, Seq("__sid"), "left_semi")
    val sh = if (persistIntermediate)
      sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sh0
    // Join-strategy choice — the 100× probe's hard lesson: candidates ×
    // element-arrays is the ONLY fat frame in the whole pipeline (tens
    // of GB at 100× bench scale), and the default sort-merge plan SORTS
    // it twice (once per pair join), which exhausted the box's disk.
    //  - set frame within budget → broadcast both pair joins: the fat
    //    frame never exists; candidate pairs stream against an in-memory
    //    map and only surviving pairs are materialized (measured best at
    //    10× AND 100× bench scale — a candidate-count regime gate was
    //    tried and measured slower at 10×).
    //  - over budget → shuffle_hash hint: the intermediate still moves
    //    through one shuffle, but is never sorted (hash lookup, not
    //    merge), so spill is bounded by the data itself, not sort runs.
    // Measured on the persisted frame (one cheap agg); plan-only choice.
    val fits = persistIntermediate && {
      val m = sh.agg(count(lit(1)), coalesce(sum(size(col("__sh"))), lit(0L))).head()
      val rows = m.getLong(0)
      val elems = m.getLong(1)
      // 2× on the raw-bytes estimate: UnsafeRow + hash-relation overhead
      (elems * 8L + rows * 48L) * 2L <= verifyBroadcastBudget
    }
    def side(idAs: String, shAs: String) = {
      val renamed = sh.withColumnRenamed("__sid", idAs).withColumnRenamed("__sh", shAs)
      if (!persistIntermediate) renamed // test scale: let Catalyst/AQE pick
      else if (fits) broadcast(renamed)
      else renamed.hint("shuffle_hash")
    }
    cands
      .join(side("id1", "__sh1"), "id1")
      .join(side("id2", "__sh2"), "id2")
      .withColumn("__j", jaccard(col("__sh1"), col("__sh2")))
      .where(col("__j") >= threshold)
      .select(col("id1"), col("id2"), round(col("__j"), 6).as("jaccard"))
  }

  /** EXACT Jaccard set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family in its distributed (MapReduce) formulation
    * (Vernica, Carey, Li — SIGMOD 2010). Unlike the LSH variants, recall
    * is exactly 1 by construction, so results can be gated against an
    * exhaustive oracle with equality, at any threshold:
    *
    *   1. global token order = ascending document frequency (rarest
    *      first), ties by token value — one shuffle to count, one
    *      broadcast-sized join back;
    *   2. prefix filter: a pair with jaccard >= t MUST share a token in
    *      the first `|s| - ceil(t*|s|) + 1` tokens of each side's
    *      frequency-ordered list, so only prefix tokens enter the
    *      inverted-index self-join — rare tokens, tiny buckets;
    *   3. size filter: `t*|a| <= |b| && t*|b| <= |a|` prunes candidates
    *      before verification;
    *   4. exact verification with the native sorted-merge jaccard.
    *
    * `setCol` is any array column; elements are hashed to 64 bits and
    * deduplicated, so jaccard is over the element *set*. Scale shape:
    * two hash shuffles (df count + prefix join) and a bounded-fanout
    * bucket join — never all-pairs.
    */
  def exactJaccardJoin(
      df: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double,
      /** Order tokens by ascending global document frequency (the
        * VernicaJoin stats pass: one count shuffle + a join + a per-doc
        * window). Minimizes candidates on Zipfian or template-heavy
        * corpora — the 100 TB default. `Some(false)` orders by token
        * hash instead: the prefix is then just a `slice` of the
        * already-sorted array — no stats pass, no extra shuffle — at
        * the cost of more candidates when many documents share tokens.
        * `None` (default) decides from the input's estimated size: below
        * [[AutoFrequencyOrderBytes]] the corpus is too small for hash-
        * ordered buckets to explode and the stats pass would cost more
        * than it prunes; above it, frequency ordering is what keeps the
        * prefix-join fanout bounded (the 100× scale probe OOMed the
        * hash-ordered path on a 500k-doc template corpus — prefix grams
        * shared by whole duplicate families put every family member in
        * one bucket; rare-first prefixes dissolve those buckets).
        */
      frequencyOrdered: Option[Boolean] = None,
      persistIntermediate: Boolean = false
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold must be in (0, 1]")
    def maybePersist(d: DataFrame): DataFrame =
      if (persistIntermediate) d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else d
    // epsilon guards: filter-side thresholds are slack so FP rounding can
    // only ADMIT extra candidates (verification is exact), never drop one
    val eps = 1e-9
    // auto ordering from logical-plan statistics (file sizes for scans —
    // no job is run). Any consistent global token order preserves the
    // prefix-filter recall-1 guarantee, so this is purely a cost choice
    // and both paths return identical pairs (asserted in DedupSpec).
    val freqOrdered = frequencyOrdered.getOrElse(
      df.queryExecution.optimizedPlan.stats.sizeInBytes > AutoFrequencyOrderBytes)
    val base = maybePersist(
      parallelize(df).select(
        col(idCol).as("__id"),
        array_sort(array_distinct(transform(col(setCol), e => xxhash64(e)))).as("__sh")
      ).withColumn("__sz", size(col("__sh"))))
    // prefix length per doc: |s| - ceil(t*|s|) + 1
    val prefLen = (col("__sz") - ceil(col("__sz") * lit(threshold) - lit(eps)) + 1).cast("int")
    // prefix rows carry the token's POSITION in the globally-ordered set
    // (__p, 1-based) for the PPJoin positional filter below
    val prefix = maybePersist(
      if (freqOrdered) {
        val tok = base.select(col("__id"), col("__sz"), explode(col("__sh")).as("__t"))
        val dfc = tok.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
        val w = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__t"))
        tok.join(dfc, "__t")
          .withColumn("__r", row_number().over(w))
          .where(col("__r") <= prefLen)
          .select(col("__t"), col("__id"), col("__sz"), col("__r").as("__p"))
      } else {
        base.select(col("__id"), col("__sz"),
            posexplode(slice(col("__sh"), lit(1), prefLen)).as(Seq("__p0", "__t")))
          .select(col("__t"), col("__id"), col("__sz"), (col("__p0") + 1).as("__p"))
      })
    val l = prefix.select(col("__t"), col("__id").as("id1"), col("__sz").as("__sz1"), col("__p").as("__p1"))
    val r = prefix.select(col("__t"), col("__id").as("id2"), col("__sz").as("__sz2"), col("__p").as("__p2"))
    // positional filter (PPJoin, Xiao et al.): a shared token at
    // positions (p1, p2) of the globally-ordered sets bounds the overlap
    // at 1 + min(sz1-p1, sz2-p2) (everything shared lies in the suffixes
    // from those positions on), and jaccard >= t needs overlap >=
    // t/(1+t)·(sz1+sz2). Recall stays exactly 1: for a qualifying
    // pair, its globally-FIRST common token sits in both prefixes (the
    // prefix-filter theorem) and every common token lies at-or-after it
    // on both sides, so that row's bound >= the true overlap and the
    // pair always survives the distinct. Epsilon keeps FP rounding
    // admitting, never dropping. At the 100× probe this cuts the
    // candidate mass a further ~2-3× on top of frequency ordering.
    val cands = l.join(r, Seq("__t"))
      .where(col("id1") < col("id2") &&
        col("__sz1") * lit(threshold) <= col("__sz2") + lit(eps) &&
        col("__sz2") * lit(threshold) <= col("__sz1") + lit(eps) &&
        lit(1) + least(col("__sz1") - col("__p1"), col("__sz2") - col("__p2")) >=
          (col("__sz1") + col("__sz2")) * lit(threshold / (1.0 + threshold)) - lit(eps))
      .select(col("id1"), col("id2"))
      .distinct()
    // verification reads only candidate ids' gram sets (see
    // exactVerifyJoin) — the full base frame never shuffles
    exactVerifyJoin(
      cands, base.select(col("__id").as("__sid"), col("__sh")),
      jaccardSortedCol, threshold, persistIntermediate)
  }

  /** Exact word-ngram Jaccard join over raw text: tokenize, build word
    * n-gram shingles, then [[exactJaccardJoin]]. The recall-1 companion
    * to [[ngramNearDuplicates]] — same semantics, exhaustive-oracle
    * gateable at any threshold.
    */
  def ngramJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.7,
      frequencyOrdered: Option[Boolean] = None,
      persistIntermediate: Boolean = false
  ): DataFrame =
    // parallelize BEFORE projecting the grams: projections don't get
    // pushed through a repartition exchange, so spreading must happen
    // while the heavy shingle compute is still upstream of it
    exactJaccardJoin(
      parallelize(df).select(col(idCol), wordShingles(tokens(col(textCol)), n).as("__grams")),
      idCol, "__grams", threshold, frequencyOrdered, persistIntermediate)

  /** N-gram (word-shingle) Jaccard near-dup: same LSH recall shape but
    * over word n-grams — catches re-ordered / lightly-edited documents
    * where char shingles are too strict.
    *
    * APPROXIMATE by design: recall at the query threshold follows the
    * LSH S-curve `1-(1-j^r)^b` (r=8/b=16 puts the curve's midpoint at
    * ~0.71). Gate results against a superset/rows-style check, or use
    * [[ngramJaccardJoin]] when exact-equality gating is required.
    */
  def ngramNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.7,
      // r=8 rows/band puts the LSH S-curve threshold at (1/16)^(1/8)≈0.71,
      // matching the default jaccard threshold; r=4 (the char-shingle
      // default) would admit every pair above j≈0.5 as a candidate,
      // which floods verification on corpora with high baseline overlap
      numHashes: Int = 128,
      bands: Int = 16,
      persistIntermediate: Boolean = false
  ): DataFrame = {
    require(numHashes % bands == 0)
    val base = parallelize(df).select(
      col(idCol).as("__id"),
      array_sort(transform(wordShingles(tokens(col(textCol)), n), s => xxhash64(s))).as("__sh")
    )
    val sig0 = base.select(
      col("__id"),
      col("__sh"),
      minhashFromHashes(col("__sh"), numHashes).as("__sig")
    )
    val sig = if (persistIntermediate) sig0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else sig0
    val banded = sig.select(
      col("__id"),
      packSigBytes(col("__sig")).as("__sigb"),
      posexplode(minhashBands(col("__sig"), bands)).as(Seq("__band", "__bucket"))
    )
    // signature-agreement prefilter inline in the bucket join (see
    // estimateCut): kills the S-curve's low-j candidate mass inside
    // whole-stage codegen, before the distinct shuffle and verify join
    val estCut = estimateCut(threshold, numHashes)
    val l = banded.select(col("__band"), col("__bucket"), col("__id").as("id1"), col("__sigb").as("__sigb1"))
    val r = banded.select(col("__band"), col("__bucket"), col("__id").as("id2"), col("__sigb").as("__sigb2"))
    val cands = l.join(r, Seq("__band", "__bucket"))
      .where(col("id1") < col("id2") &&
        (if (estCut > 0.0) sigAgreement(col("__sigb1"), col("__sigb2")) >= lit(estCut) else lit(true)))
      .select("id1", "id2").distinct()
    cands
      .join(sig.select(col("__id").as("id1"), col("__sh").as("__sh1")), "id1")
      .join(sig.select(col("__id").as("id2"), col("__sh").as("__sh2")), "id2")
      .withColumn("__j", jaccardSortedCol(col("__sh1"), col("__sh2")))
      .where(col("__j") >= threshold)
      .select(col("id1"), col("id2"), round(col("__j"), 6).as("jaccard"))
  }

  /** Partial-overlap (containment) pairs via winnowing fingerprints:
    * documents sharing >= `minShared` fingerprints — catches a document
    * embedded inside another, which whole-document jaccard misses.
    *
    * Candidates-then-verify: pairs are discovered through fingerprints
    * appearing in <= `maxBucket` documents (join volume Σ rare-bucket²
    * stays bounded even on degenerate corpora), then the shared count
    * is verified exactly on the full per-doc fingerprint arrays with a
    * native merge walk — popular fingerprints still count toward
    * `minShared`, they just can't be the discovery channel. A pair is
    * missed only if it shares no fingerprint rarer than `maxBucket`.
    */
  def containmentCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      windowW: Int = 8,
      minShared: Int = 3,
      maxBucket: Int = 1000,
      /** Persist the per-doc fingerprint frame (referenced from the
        * explode branch and both verification-join branches). Callers
        * own unpersisting, consistent with the sibling operators.
        */
      persistIntermediate: Boolean = false,
      /** MD5-derived shingle hashes instead of xxh64 (slower, externally
        * replicable — the oracle path); discovery/verify identical.
        */
      md5Hash: Boolean = false
  ): DataFrame = {
    val fps: Column =
      if (md5Hash) winnowFingerprintsMd5(col(textCol), shingleK, windowW)
      else winnowFingerprints(col(textCol), shingleK, windowW)
    val fpArrays0 = parallelize(df).select(
      col(idCol).as("__id"),
      array_sort(fps).as("__fps")
    )
    val fpArrays =
      if (persistIntermediate) fpArrays0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else fpArrays0
    val fp = fpArrays.select(col("__id"), explode(col("__fps")).as("__fp"))
    // same aggregate-not-window discipline as minhashCandidates /
    // simhashNearDuplicates: a window partitioned on __fp shuffles AND
    // sorts the whole exploded fingerprint frame (|docs| × |fps/doc|
    // rows — the sort is the scale-killer at corpus size), where the
    // aggregate's map-side combiner collapses to one row per distinct
    // fingerprint and the over-threshold survivors are bounded BY
    // CONSTRUCTION at rows/maxBucket — always broadcastable
    val fpOversized = fp
      .groupBy(col("__fp"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxBucket)
      .select(col("__fp"))
    val bounded0 = fp.join(broadcast(fpOversized), Seq("__fp"), "left_anti")
    // referenced from both sides of the discovery self-join — persist so
    // the explode + bucket-count chain runs once
    val bounded =
      if (persistIntermediate) bounded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bounded0
    val l = bounded.select(col("__fp"), col("__id").as("id1"))
    val r = bounded.select(col("__fp"), col("__id").as("id2"))
    val cands = l.join(r, Seq("__fp"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    import org.apache.spark.sql.graft.ColumnBridge
    def intersectCount(a: Column, b: Column): Column =
      ColumnBridge.column(graft.functions.IntersectCountSortedLongs(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    cands
      .join(fpArrays.select(col("__id").as("id1"), col("__fps").as("__f1")), "id1")
      .join(fpArrays.select(col("__id").as("id2"), col("__fps").as("__f2")), "id2")
      .withColumn("shared_fingerprints", intersectCount(col("__f1"), col("__f2")).cast("long"))
      .where(col("shared_fingerprints") >= minShared)
      .select(col("id1"), col("id2"), col("shared_fingerprints"))
  }

  /** SimHash near-dup: 64-bit SimHash per doc, LSH by splitting into
    * four 16-bit bands (pigeonhole: Hamming distance <= 3 guarantees at
    * least one identical band), verify with bit_count(xor) <= maxHamming.
    */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      /** Band buckets larger than this are dropped (degenerate corpora:
        * near-identical boilerplate collapses into one 16-bit bucket and
        * would otherwise join quadratically) — same worst-case bound as
        * the MinHash variant, trading recall on pathological buckets.
        */
      maxBucket: Int = 10000,
      /** MD5-derived token hashes instead of xxh64: slower, but the whole
        * SimHash is then replicable bit-for-bit by an external SQL engine
        * (the oracle path). Banding/verify logic is identical.
        */
      md5Hash: Boolean = false
  ): DataFrame = {
    val sig: Column => Column = if (md5Hash) simhash64Md5 else simhash64
    val sigs = parallelize(df).select(col(idCol).as("__id"), sig(col(textCol)).as("__sim"))
    val banded = sigs.select(
      col("__id"),
      col("__sim"),
      posexplode(
        array((0 until 4).map(b => shiftright(col("__sim"), b * 16).bitwiseAND(lit(0xffffL))): _*)
      ).as(Seq("__band", "__bucket"))
    )
    // same aggregate-not-window discipline as minhashCandidates: the
    // oversized-bucket set is bounded at rows/maxBucket → broadcast
    // anti-join instead of a full-frame window shuffle+sort
    val simOversized = banded
      .groupBy(col("__band"), col("__bucket"))
      .agg(count(lit(1)).as("__bucket_n"))
      .where(col("__bucket_n") > maxBucket)
      .select(col("__band"), col("__bucket"))
    val bounded = banded
      .join(broadcast(simOversized), Seq("__band", "__bucket"), "left_anti")
    val l = bounded.select(col("__band"), col("__bucket"), col("__id").as("id1"), col("__sim").as("__sim1"))
    val r = bounded.select(col("__band"), col("__bucket"), col("__id").as("id2"), col("__sim").as("__sim2"))
    l.join(r, Seq("__band", "__bucket"))
      .where(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("__sim1").bitwiseXOR(col("__sim2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
      .distinct()
  }

  /** Embedding-cosine near-dup via random-hyperplane LSH: `planes` sign
    * bits form the bucket key; pairs sharing a bucket are verified with
    * exact cosine >= threshold. Deterministic planes from `seed`.
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      planes: Int = 12,
      seed: Long = 42L
  ): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planeVecs: Seq[Seq[Double]] = Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val bits = transform(
      typedlit(planeVecs),
      p => when(Similarity.dot(vecD, p) >= 0, lit(1)).otherwise(lit(0))
    )
    val bucket = aggregate(bits, lit(0L), (acc, b) => acc * 2 + b)
    val base = parallelize(df).select(col(idCol).as("__id"), vecD.as("__v"), bucket.as("__bucket"))
    val l = base.select(col("__bucket"), col("__id").as("id1"), col("__v").as("__v1"))
    val r = base.select(col("__bucket"), col("__id").as("id2"), col("__v").as("__v2"))
    l.join(r, Seq("__bucket"))
      .where(col("id1") < col("id2"))
      .withColumn("__cos", Similarity.cosine(col("__v1"), col("__v2")))
      .where(col("__cos") >= threshold) // filter raw, round only for output
      .select(col("id1"), col("id2"), round(col("__cos"), 6).as("cosine"))
      .distinct()
  }

  /** Cluster-then-dedup assignment shared by [[semanticNearDuplicates]]
    * and [[semanticDedup]] (the SemDeDup shape, Abbas et al. 2023):
    * every vector is assigned to its nearest centroid by cosine
    * ([[graft.functions.NearestCentroids]] over one broadcast centroid
    * table — ties to the smaller index), and candidate pairs are scoped
    * to a cluster. With `kmeansIterations = 0` the centroids are the
    * `k` lowest-id vectors (deterministic, so the whole pipeline is
    * exactly SQL-expressible for an oracle); with iterations > 0 they
    * come from the distributed Lloyd loop ([[Similarity.kmeansCentroids]]).
    * `nCentroids = 0` sizes the quantizer as √(corpus rows)
    * ([[Similarity.autoCentroids]]) — per-cluster membership then holds
    * at ~√N, so the within-cluster self-join shuffles pair volume
    * O(N^1.5) instead of the all-pairs O(N²); the join itself is a plain
    * equi-join on the cluster id (one hash shuffle, AQE-splittable on
    * skewed clusters), never a cartesian.
    */
  private def semanticAssigned(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      kmeansIterations: Int
  ): DataFrame = {
    val base = parallelize(
      df.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    ).select(
      col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val k =
      if (nCentroids > 0) nCentroids
      else Similarity.autoCentroids(base.count())
    val cents: Seq[Seq[Double]] =
      if (kmeansIterations > 0)
        Similarity.kmeansCentroids(base, "__id", "__v", k, kmeansIterations)
      else
        base.orderBy(col("__id")).limit(k).collect().map(_.getSeq[Double](1)).toSeq
    // one-shot lazily-returned frame: the broadcast copy is left to
    // driver GC per the broadcastCentroids contract (both join sides
    // below share this single handle — never one broadcast per side)
    val bc = Similarity.broadcastCentroids(cents)
    base.withColumn("__cl", Similarity.nearestCentroidBuckets(col("__v"), bc, 1).getItem(0))
  }

  /** SemDeDup pair finder: near-duplicate pairs (`cosine >= threshold`)
    * scoped to k-means (or deterministic-seed) clusters. Output
    * `(id1, id2, cluster)` with `id1 < id2`. Unlike
    * [[embeddingNearDuplicates]] (random-hyperplane LSH buckets), the
    * candidate scope here is a learned partition of the embedding
    * space — the published scale path for semantic dedup, where bucket
    * sizes track data density instead of hyperplane geometry.
    */
  def semanticNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nCentroids: Int = 0,
      kmeansIterations: Int = 0
  ): DataFrame = {
    val assigned = semanticAssigned(df, idCol, vecCol, nCentroids, kmeansIterations)
    val l = assigned.select(col("__cl"), col("__id").as("id1"), col("__v").as("__v1"))
    val r = assigned.select(col("__cl"), col("__id").as("id2"), col("__v").as("__v2"))
    l.join(r, Seq("__cl"))
      .where(col("id1") < col("id2"))
      .where(Similarity.cosine(col("__v1"), col("__v2")) >= threshold)
      .select(col("id1"), col("id2"), col("__cl").as("cluster"))
  }

  /** SemDeDup survivors: drop every vector that near-duplicates
    * (`cosine >= threshold`, within its cluster) a lower-id vector —
    * i.e. keep the lowest id of each duplicate chain. Output
    * `(<idCol>, cluster)`. The drop set is the DISTINCT `id2` side of
    * [[semanticNearDuplicates]]; the anti-join is a broadcast at
    * realistic dup rates (dups ≪ corpus).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nCentroids: Int = 0,
      kmeansIterations: Int = 0
  ): DataFrame = {
    val assigned = semanticAssigned(df, idCol, vecCol, nCentroids, kmeansIterations)
    val l = assigned.select(col("__cl"), col("__id").as("id1"), col("__v").as("__v1"))
    val r = assigned.select(col("__cl"), col("__id").as("id2"), col("__v").as("__v2"))
    val dropIds = l
      .join(r, Seq("__cl"))
      .where(col("id1") < col("id2"))
      .where(Similarity.cosine(col("__v1"), col("__v2")) >= threshold)
      .select(col("id2").as("__drop"))
      .distinct()
    assigned
      .join(dropIds, assigned("__id") === dropIds("__drop"), "left_anti")
      .select(col("__id").as(idCol), col("__cl").as("cluster"))
  }
}
