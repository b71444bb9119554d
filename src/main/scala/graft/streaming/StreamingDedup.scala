package graft.streaming

import graft.functions.{JaccardImpl, MinHashImpl, MinHashSketch}
import graft.operators.Dedup

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StagedParquetWriter
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Incremental (streaming) near-duplicate detection — the pipeline shape
  * a continuously-ingesting training-data corpus needs: new documents
  * arrive on a change stream, and each must be checked against BOTH the
  * accumulated corpus and its own arrival batch, without ever re-running
  * the full batch LSH join.
  *
  * Per micro-batch (foreachBatch):
  *   1. Each document is sketched once, inside the batch's own tasks, by
  *      the [[graft.functions.MinHashSketch]] kernel: its sorted shingle
  *      hashes, signature sketch and banded LSH buckets in one pass over
  *      the text. The banding is the one
  *      [[graft.operators.Dedup.minhashCandidates]] plans (the same
  *      primitive loops), so the accumulated result is identical to the
  *      batch operator run over the union (gated against the same
  *      exhaustive oracle, and asserted equal to the batch operator in
  *      StreamingDedupSpec).
  *      One deliberate divergence: the batch operator's OVERSIZED-BUCKET
  *      guard (maxBucket sub-splitting, which trades bounded recall loss
  *      in degenerate buckets for a cost bound) has no streaming
  *      counterpart — sub-bucket assignment depends on bucket size,
  *      which changes as the index grows, so a consistent split across
  *      batches is impossible without rewriting history. Streaming
  *      therefore returns a SUPERSET of a guard-engaged batch run (equal
  *      whenever no bucket exceeds maxBucket — every gated fixture), and
  *      a degenerate bucket's cost grows with its index size: a corpus
  *      where millions of documents share a band bucket is exactly what
  *      [[compactIndex]] + the batch operator's periodic re-dedup are
  *      for, not per-batch probing.
  *   2. Candidates = (accumulated bucket index ∪ batch buckets) ⋈ batch
  *      buckets on (band, bucket): new-vs-old and new-vs-new pairs in
  *      ONE join, each pair canonical (id1 < id2).
  *   3. Exact verification: true Jaccard on sorted shingle hashes
  *      (native merge walk), only on candidates. A micro-batch collects
  *      its distinct candidates and verifies them on the driver against
  *      only the candidate ids' shingle rows.
  *   4. Commit: the batch's bands and shingles files were already
  *      written by the tasks that sketched it, into unpublished stage
  *      dirs of the two logs; a micro-batch's confirmed pairs are one
  *      file written on the driver. Committing publishes three manifests
  *      naming those files — no write job runs — so the index survives
  *      restarts and is readable by any later job.
  *
  * Scale shape: the sketch runs in the batch's tasks whatever the batch
  * is (a local frame included: the kernel runs over the batch's RDD, so
  * no optimizer rule evaluates it on the driver), and the same tasks
  * write the batch's index files, read back for the joins: a micro-batch
  * is one staging job, the broadcast of its bucket rows, the candidate
  * collect and the verify collect. The index streams past the broadcast
  * map-side, and the verify reads the candidates' shingle rows alone
  * (the id-partitioned files they hash into, filtered by id): no
  * micro-batch shuffles, and no per-batch cost grows with the shingle
  * log. A catch-up batch — past the broadcast's band-row budget or the
  * verify's candidate budget — runs the direct plan instead: shuffled
  * joins with the batch as build side, the candidates joined against
  * the whole shingle log, and its pairs written by a Spark write job.
  *
  * Delivery: all three datasets (pairs, bands index, shingles) live in a
  * [[CommitLog]] — data files are invisible until their manifest
  * publishes atomically, and each dataset's publish is independently
  * idempotent per micro-batch id, in the fixed order bands, shingles,
  * pairs, so a crash anywhere in the batch replays to exactly the
  * missing commits and nothing duplicates: EXACTLY-ONCE end to end when
  * driven from a checkpointed stream. A stage that never publishes is
  * vacuumed by the next [[compactIndex]]. Batch callers invoking
  * [[processBatch]] without a batchId get atomic-publish at-least-once
  * (reads still dedup defensively).
  */
object StreamingDedup {

  // sigb: the 1-byte-per-component signature sketch, carried on every
  // band row so the bucket joins can prefilter candidates by estimated
  // Jaccard INLINE (Dedup.estimateCut) — same estimator, same cut as the
  // batch operator, so incremental == batch holds exactly (signatures
  // are deterministic; both paths drop precisely the same pairs)
  private def bandsSchema = StructType(Seq(
    StructField("id", LongType), StructField("band", IntegerType), StructField("bucket", LongType),
    StructField("sigb", BinaryType)))
  private def shinglesSchema = StructType(Seq(
    StructField("id", LongType), StructField("sh", ArrayType(LongType))))
  private def pairsSchema = StructType(Seq(
    StructField("id1", LongType), StructField("id2", LongType), StructField("jaccard", DoubleType)))

  /** Batch-side broadcast budget for the index probe join, in band rows
    * (docs × bands). 500k rows ≈ 75–100 MB with the sigb sketch — small
    * enough to pin, large enough to cover any steady-state micro-batch;
    * catch-up batches past it fall back to the shuffle_hash plan.
    */
  private val MaxBroadcastBandRows = 500000L

  /** Candidate-pair budget of the micro-batch verify: a batch whose
    * distinct candidate pairs fit is verified on the driver, holding at
    * most twice this many documents' shingle hashes (≈ 64 MB at 8 KB of
    * hashes per document); past it the batch takes the direct plan.
    * A 1000-document perfbench `ingest_dedup` batch confirms about 55.
    */
  private val MaxLocalCandidates = 4096

  /** Run independent driver actions concurrently (guide §2.6: Spark
    * schedules jobs submitted from several threads at once, so a later
    * job's tasks back-fill executors freed by the current job's tail).
    * Propagates the first failure; always waits for every unit.
    */
  private[streaming] def parallelUnits(units: Seq[() => Unit]): Unit = {
    if (units.size <= 1) { units.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(units.size)
    try {
      val fs = units.map(u => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = u()
      }))
      // collect EVERY outcome before rethrowing (ADVICE r18): bailing on
      // the first failed get() left the remaining commit/compaction jobs
      // running in the background while the caller unwound and possibly
      // retried/cleaned up concurrently — "always waits for every unit"
      // must mean waits-then-throws, not throws-then-abandons
      val failures = fs.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
          case e: Throwable => Some(e)
        }
      }
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** Bucket-hash partition count for the COMPACTED bands index layout
    * (VERDICT r14 #5): [[compactIndex]] rewrites the index into
    * `__p64=<k>/` partition dirs keyed on `xxhash64(band, bucket) % 64`,
    * and each batch's probe then reads ONLY the partitions its own
    * (band, bucket) pairs hash into — a small steady-state batch touches
    * ≤ docs×bands of the 64, so probe I/O scales with the batch, not
    * the accumulated index. The MODULUS rides in the partition-column
    * NAME, so readers always prune with exactly the writer's hash —
    * self-describing and atomic with the fileset (a sidecar meta file
    * could go stale across a crashed re-compaction; the path cannot).
    */
  private[streaming] val IndexPartitions = 64

  private val PartDirRe = TieredCompaction.PartDirRe

  /** The files a batch with `touchedByModulus` (modulus → partition ids
    * its probe keys hash into) must read: partitioned files whose
    * (modulus, value) is touched, plus every un-partitioned file
    * (pre-compaction appends), plus files with a modulus we did not
    * compute (never prune on incomplete information). Layout-generic:
    * the bands index prunes on xxhash64(band, bucket) and the shingles
    * log on xxhash64(id) — both ride the same `__p<modulus>=<value>/`
    * path convention, so the writer's hash modulus is always exactly
    * the reader's.
    */
  private[graft] def pruneBandFiles(
      files: Seq[String], touchedByModulus: Map[Int, Set[Int]]): Seq[String] =
    TieredCompaction.pruneFiles(files, touchedByModulus)

  /** Start the incremental dedup over a STREAMING (idCol, textCol) frame.
    * Confirmed pairs land under `workDir`/pairs as (id1, id2, jaccard),
    * id1 < id2, exactly the batch operator's output contract.
    *
    * `checkpoint` is REQUIRED: the replay-skip guard keys commits by
    * micro-batch id, and batch ids are only meaningful relative to a
    * query checkpoint. Without one, a second run over the same
    * `workDir` would restart ids at 0 and the guard would silently
    * DISCARD the new batches — exactly-once degrading to silent loss.
    * One checkpoint per workDir, reused across restarts.
    */
  def incrementalNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      workDir: String,
      threshold: Double = 0.9,
      shingleK: Int = 5,
      numHashes: Int = 120,
      bands: Int = 20,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: String
  ): StreamingQuery = {
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    val spark = docs.sparkSession
    // idempotent: creates the logs on first start, touches nothing on a
    // checkpoint restart — the accumulated index and pairs survive
    incrementalNearDuplicatesInit(spark, workDir)
    val w = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, workDir, threshold, shingleK, numHashes, bands, Some(bid)): Unit
      }
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
    w.start()
  }

  /** Initialize the three commit logs (idempotent) so every batch can
    * read them unconditionally.
    */
  def incrementalNearDuplicatesInit(spark: SparkSession, workDir: String): Unit = {
    CommitLog.init(s"$workDir/bands", bandsSchema)
    requireBandsSchema(s"$workDir/bands")
    CommitLog.init(s"$workDir/shingles", shinglesSchema)
    CommitLog.init(s"$workDir/pairs", pairsSchema)
  }

  /** Fail fast on a bands log whose recorded schema is not
    * [[bandsSchema]]. `init` never rewrites an existing `_schema.json`,
    * so a log recorded without the `sigb` sketch column would otherwise
    * surface as an analysis error on `o.sigb` deep inside the probe join.
    * There is no migration: rebuild such an index from its documents.
    */
  private def requireBandsSchema(bandsDir: String): Unit = {
    val recorded = CommitLog.schemaOf(bandsDir)
    if (recorded != bandsSchema) {
      val missing = bandsSchema.fieldNames.filterNot(recorded.fieldNames.contains)
      throw new IllegalStateException(
        s"bands log at $bandsDir records schema ${recorded.simpleString}, expected " +
          s"${bandsSchema.simpleString}" +
          (if (missing.isEmpty) "" else s" (missing column ${missing.mkString(", ")})"))
    }
  }

  /** Per-batch I/O telemetry returned by [[processBatch]]: how far the
    * partition prunes narrowed the accumulated-index reads (file counts
    * and on-disk bytes, exact — the prune is a driver-side file-list
    * decision). `selected == total` until the first partitioned
    * compaction, or when a batch genuinely touches everything.
    */
  final case class BatchStats(
      replayed: Boolean,
      bandFilesSelected: Int, bandFilesTotal: Int,
      bandBytesSelected: Long, bandBytesTotal: Long,
      shFilesSelected: Int, shFilesTotal: Int,
      shBytesSelected: Long, shBytesTotal: Long)

  /** One ingest batch: detect new-vs-index and new-vs-new duplicates,
    * then fold the batch into the index. Public so a non-streaming
    * caller (periodic ingest job) can drive the same incremental logic.
    * Returns the batch's prune telemetry ([[BatchStats]]) — streaming
    * callers discard it.
    */
  def processBatch(
      batch: DataFrame,
      workDir: String,
      threshold: Double,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      batchId: Option[Long] = None
  ): BatchStats =
    processBatch(batch, workDir, threshold, shingleK, numHashes, bands, batchId, MaxLocalCandidates)

  /** [[processBatch]] with the micro-batch verify's candidate budget. */
  private[streaming] def processBatch(
      batch: DataFrame,
      workDir: String,
      threshold: Double,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      batchId: Option[Long],
      candidateBudget: Int
  ): BatchStats = {
    val spark = batch.sparkSession
    // fast path: every dataset already holds this batch's commit — the
    // stream replayed a fully-processed batch, nothing to recompute
    if (batchId.exists(b =>
        Seq("pairs", "bands", "shingles").forall(d =>
          CommitLog.isCommitted(s"$workDir/$d", b))))
      return BatchStats(replayed = true, 0, 0, 0L, 0L, 0, 0, 0L, 0L)
    // batch-mode callers may skip init — same validation (a
    // floor-divided rowsPerBand would silently band over a signature
    // prefix, diverging from every Dedup.minhashCandidates run)
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes=$numHashes must divide into bands=$bands")
    val bandsDir = s"$workDir/bands"
    val shinglesDir = s"$workDir/shingles"
    val pairsDir = s"$workDir/pairs"
    requireBandsSchema(bandsDir)
    // the id is hashed (xxhash64) by both partition prunes against logs
    // whose compaction writer hashed LONGS — an IntegerType id from a
    // batch-mode caller would hash differently, prune away the true
    // partitions, and silently miss duplicate pairs (ADVICE r16): pin
    // the type at entry, exactly like incrementalNearDuplicates does
    val in = batch.select(col("id").cast("long").as("id"), col("text"))
    require(in.schema("text").dataType == StringType,
      s"text column must be a string, got ${in.schema("text").dataType.sql}")

    // ONE job over the batch: its tasks sketch each document and write
    // its band and shingle rows straight into fresh stage dirs of the two
    // logs (see [[stageSketches]]). Those staged files ARE the batch's
    // side of the joins below and the data its commits publish. Each
    // task also returns its band-row count, which sizes the broadcast
    // below, and, per bucket-hash modulus of a compacted
    // ([[compactIndex]]) bands index, the partitions its (band, bucket)
    // pairs hash into. The probe then reads only those partitions' files
    // — identical join result (a matching index row shares the batch
    // row's (band, bucket), hence its partition). Modulus-1
    // (sorted-hybrid) and unpartitioned files are always read.
    def moduliOf(files: Seq[String]): Seq[Int] =
      files.flatMap(f => PartDirRe.findFirstMatchIn(f).map(_.group(1).toInt)).distinct
    val allBandFiles = CommitLog.currentFiles(bandsDir)
    val moduli = moduliOf(allBandFiles).filter(_ != 1)
    val bandsStage = CommitLog.stageDir(bandsDir)
    val shStage = CommitLog.stageDir(shinglesDir)
    val staged = stageSketches(in, s"$bandsDir/$bandsStage", s"$shinglesDir/$shStage",
      shingleK, numHashes, bands, moduli.toArray)
    val newBandFiles = staged.flatMap(_.bandsFile).map(f => s"$bandsStage/$f").toSeq
    val newShFiles = staged.flatMap(_.shFile).map(f => s"$shStage/$f").toSeq
    val newBands = CommitLog.readFiles(spark, bandsDir, bandsSchema, newBandFiles)
    val newSh = CommitLog.readFiles(spark, shinglesDir, shinglesSchema, newShFiles)
    val bandFiles = pruneBandFiles(allBandFiles,
      moduli.indices.map(i => moduli(i) -> staged.flatMap(_.touched(i)).toSet).toMap)
    val oldBands =
      CommitLog.readFiles(spark, bandsDir, bandsSchema, bandFiles)
    // estimated-Jaccard prefilter inline in the bucket join (batch
    // operator's exact machinery — see Dedup.estimateCut): the low-j
    // candidate mass dies in codegen before distinct/verify.
    val estCut = Dedup.estimateCut(threshold, numHashes)
    def estOk(a: Column, b: Column): Column =
      if (estCut > 0.0) Dedup.sigAgreement(a, b) >= lit(estCut) else lit(true)
    // Join shape — the sf10 curve-bender (VERDICT r14 #5): the batch
    // side is micro-batch-sized, so BROADCAST it and let the
    // accumulated index STREAM map-side — the index (the one frame that
    // grows without bound) is never shuffled, never sorted, never
    // hash-built; per-batch cost is one index scan. Guarded by batch
    // size: an AvailableNow catch-up batch can be the whole backlog,
    // and broadcasting that would OOM — past the row budget the
    // shuffle_hash plan returns, with the BATCH as build side, never
    // the index: a shuffled hash join cannot spill its build side, and
    // building the index OOM'd outright at the 3.2M doc steady-state
    // probe ("not enough memory to build hash map").
    val broadcastBatch = staged.map(_.bandRows).sum <= MaxBroadcastBandRows
    // ONE candidate join, (index ∪ batch) ⋈ batch, finds new-vs-old and
    // new-vs-new pairs together. The id guard drops every row meeting
    // itself, including a batch replayed after a crash between its
    // index append and its checkpoint commit (at-least-once replay
    // emits no self-pairs); least/greatest makes each pair canonical.
    val probe = oldBands.unionByName(newBands)
    val joined =
      if (broadcastBatch)
        probe.alias("o").join(broadcast(newBands.alias("n")), Seq("band", "bucket"))
      else
        newBands.alias("n").hint("shuffle_hash").join(probe.alias("o"), Seq("band", "bucket"))
    val cands = joined
      .where(col("n.id") =!= col("o.id") && estOk(col("n.sigb"), col("o.sigb")))
      .select(
        least(col("n.id"), col("o.id")).as("id1"),
        greatest(col("n.id"), col("o.id")).as("id2"))

    val shFilesAll = CommitLog.currentFiles(shinglesDir)
    val shSchema = CommitLog.schemaOf(shinglesDir)
    val local = if (broadcastBatch) localCandidates(cands, candidateBudget) else None
    // the confirmed pairs: rows verified on the driver, or a frame
    val (pairs, shFilesSel) = local match {
      case Some(candPairs) =>
        // Micro-batch verify on the driver: only the candidate ids'
        // shingle rows are read — the batch's from its staged files,
        // older ones from the log files their ids hash into (the same
        // `__p<m>=` prune the compaction writer's xxhash64(id) defines,
        // computed here with no job) under an `id IN` filter. Nothing
        // is shuffled, and verify cost follows the candidates, not the
        // accumulated corpus.
        val ids = candPairs.flatMap(p => Seq(p._1, p._2)).toSeq
        val files =
          if (ids.isEmpty) Nil
          else pruneBandFiles(shFilesAll,
            moduliOf(shFilesAll).map(m => m -> ids.map(idPartition(_, m)).toSet).toMap)
        val sh: Map[Long, ArrayData] =
          if (ids.isEmpty) Map.empty
          else newSh.where(col("id").isin(ids: _*))
            .unionByName(CommitLog.readFiles(spark, shinglesDir, shSchema, files)
              .where(col("id").isin(ids: _*)))
            .queryExecution.toRdd
            .flatMap(r => if (r.isNullAt(1)) None else Some((r.getLong(0), r.getArray(1).toLongArray())))
            .collect()
            // the batch's rows come first and win: a replayed batch's
            // own shingles over its earlier append
            .reverseIterator.map { case (id, hs) => id -> UnsafeArrayData.fromPrimitiveArray(hs) }.toMap
        val confirmed = candPairs.toSeq.flatMap { case (a, b) =>
          for {
            sa <- sh.get(a)
            sb <- sh.get(b)
            j = JaccardImpl.jaccardSorted(sa, sb)
            if j >= threshold
          } yield new GenericInternalRow(Array[Any](a, b, roundJaccard(j))): InternalRow
        }
        (Left(confirmed), files)
      case None =>
        // Catch-up batch (past the broadcast gate or the candidate
        // budget): the direct plan, the candidates joined twice against
        // the whole shingle log. The pair joins keep explicit
        // shuffle_hash hints for a batch that passed the broadcast gate
        // (left to AQE they plan sort-merge and SORT the shingle arrays:
        // +2.6 s on the sf0.1 gate), on the CANDIDATE side only — the
        // log is corpus-sized, and a shuffled hash build cannot spill.
        // Past the gate the hints come off and AQE plans spillable
        // sort-merge with skew-join splitting: a catch-up batch's
        // candidates can put GBs behind one hub id (the r17 sf10 run
        // died with "Can't acquire 8589934592 bytes to build hash
        // relation" on exactly that shape).
        def hint(df: DataFrame): DataFrame = if (broadcastBatch) df.hint("shuffle_hash") else df
        val allSh = newSh.unionByName(CommitLog.readFiles(spark, shinglesDir, shSchema, shFilesAll))
        val withSh1 = hint(cands.distinct())
          .join(allSh.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
        (Right(hint(withSh1)
          .join(allSh.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
          .withColumn("j", Dedup.jaccardSortedCol(col("sh1"), col("sh2")))
          .where(col("j") >= threshold)
          .select(col("id1"), col("id2"), round(col("j"), 6).as("jaccard"))
          // a replay after a crash between the shingles and pairs commits
          // finds its own shingles in the log too: one row per pair
          .distinct()), shFilesAll)
    }

    // Commit: three manifest publishes in a fixed order — bands,
    // shingles, pairs. Each is independently idempotent on batchId, so a
    // crash after some of them replays to exactly the missing ones (the
    // self-pair guard covers a replay that meets its own index rows).
    // Pairs go last: a published pair set implies a published index, and
    // in the batchId-less mode a failure leaves an ordered prefix, so a
    // caller's retry duplicates only index rows, which the candidate sets
    // and the pairs read's distinct() absorb.
    val bandsPublished = CommitLog.appendFiles(bandsDir, newBandFiles, batchId)
    val shPublished = CommitLog.appendFiles(shinglesDir, newShFiles, batchId)
    pairs match {
      case Left(rows) =>
        // a micro-batch's pairs are a few rows: one file, written here
        val stage = CommitLog.stageDir(pairsDir)
        val files = Seq(s"$stage/" +
          StagedParquetWriter(spark, pairsSchema).writeFile(s"$pairsDir/$stage", rows.iterator))
        if (!CommitLog.appendFiles(pairsDir, files, batchId)) CommitLog.discardStage(pairsDir, stage)
      case Right(df) => batchId match {
        case Some(b) => CommitLog.append(df, pairsDir, b): Unit
        case None => CommitLog.appendAlways(df, pairsDir)
      }
    }
    // a replay's stages hold rows their logs already have; the catch-up
    // pairs frame reads them lazily, so they are deleted only now
    if (!bandsPublished) CommitLog.discardStage(bandsDir, bandsStage)
    if (!shPublished) CommitLog.discardStage(shinglesDir, shStage)
    def bytesOf(dir: String, fs: Seq[String]): Long =
      fs.map(f => new java.io.File(s"$dir/$f").length).sum
    BatchStats(replayed = false,
      bandFiles.size, allBandFiles.size,
      bytesOf(bandsDir, bandFiles), bytesOf(bandsDir, allBandFiles),
      shFilesSel.size, shFilesAll.size,
      bytesOf(shinglesDir, shFilesSel), bytesOf(shinglesDir, shFilesAll))
  }

  /** What one task of [[stageSketches]] wrote: its band-row count, per
    * modulus the partitions its (band, bucket) pairs hash into, and the
    * names of its staged bands and shingles files (None for no rows).
    */
  private final case class StagedTask(
      bandRows: Long, touched: Array[Set[Int]], bandsFile: Option[String], shFile: Option[String])

  /** Sketch each (id, text) row once through the [[MinHashSketch]]
    * kernel, inside the batch's own tasks, and write its bands rows
    * (id, band, bucket, sigb) and its shingles row (id, sh) into one file
    * per task under `bandsOut` and `shOut`. A null text keeps its rows:
    * null `sh` and `sigb`, every band at the seed, as `xxhash64` of a
    * null slice. The touched partition of a band row is Spark's
    * `pmod(xxhash64(band, bucket), m)`. A failing task deletes its
    * partial files.
    */
  private def stageSketches(
      in: DataFrame, bandsOut: String, shOut: String,
      shingleK: Int, numHashes: Int, bands: Int, moduli: Array[Int]): Array[StagedTask] = {
    val spark = in.sparkSession
    val bandsWriter = StagedParquetWriter(spark, bandsSchema)
    val shWriter = StagedParquetWriter(spark, shinglesSchema)
    in.queryExecution.toRdd.mapPartitions { rows =>
      val bandsFile = bandsWriter.open(bandsOut)
      val shFile = shWriter.open(shOut)
      try {
        val nullBuckets = MinHashImpl.bandHashes(null: Array[Long], bands)
        val touched = Array.fill(moduli.length)(scala.collection.mutable.Set.empty[Int])
        val bandRow = new GenericInternalRow(4)
        val shRow = new GenericInternalRow(2)
        var n = 0L
        rows.foreach { r =>
          val id = if (r.isNullAt(0)) null else r.getLong(0)
          val buckets =
            if (r.isNullAt(1)) {
              shRow.update(1, null)
              bandRow.update(3, null)
              nullBuckets
            } else {
              val s = MinHashSketch.sketch(r.getUTF8String(1), shingleK, numHashes, bands)
              shRow.update(1, UnsafeArrayData.fromPrimitiveArray(s.sh))
              bandRow.update(3, s.sigb)
              s.buckets
            }
          shRow.update(0, id)
          shFile.write(shRow)
          bandRow.update(0, id)
          var b = 0
          while (b < buckets.length) {
            bandRow.setInt(1, b)
            bandRow.setLong(2, buckets(b))
            bandsFile.write(bandRow)
            val h = XXH64.hashLong(buckets(b), XXH64.hashInt(b, 42L))
            var i = 0
            while (i < moduli.length) {
              touched(i) += java.lang.Math.floorMod(h, moduli(i).toLong).toInt
              i += 1
            }
            b += 1
          }
          n += buckets.length
        }
        Iterator.single(StagedTask(n, touched.map(_.toSet), bandsFile.close(), shFile.close()))
      } catch {
        case e: Throwable => bandsFile.abort(); shFile.abort(); throw e
      }
    }.collect()
  }

  /** The distinct candidate pairs, collected in one job with no
    * shuffle: each task dedups its own pairs and sends at most
    * `budget + 1`, so the driver holds at most tasks × (budget + 1)
    * pairs. None when the batch has more than `budget` distinct pairs.
    */
  private def localCandidates(cands: DataFrame, budget: Int): Option[Set[(Long, Long)]] = {
    val perTask = cands.queryExecution.toRdd.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      while (rows.hasNext && seen.size <= budget) {
        val r = rows.next()
        seen += ((r.getLong(0), r.getLong(1)))
      }
      Iterator.single(seen.toArray)
    }.collect()
    val all = perTask.iterator.flatten.toSet
    if (all.size > budget) None else Some(all)
  }

  /** Spark's `pmod(xxhash64(id), m)` for a long id, on the driver: the
    * shingle-log partition [[compactIndex]] writes `id` into.
    */
  private[streaming] def idPartition(id: Long, m: Int): Int =
    java.lang.Math.floorMod(XXH64.hashLong(id, 42L), m.toLong).toInt

  /** SQL `round(j, 6)` on a double: HALF_UP on its decimal string. */
  private def roundJaccard(j: Double): Double =
    java.math.BigDecimal.valueOf(j).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Read back the accumulated confirmed pairs. The streaming path is
    * exactly-once (commit-log replay skip), so the distinct() only
    * defends the batchId-less [[processBatch]] mode.
    */
  def pairs(spark: SparkSession, workDir: String): DataFrame =
    CommitLog.read(spark, s"$workDir/pairs").distinct()

  /** `bandsPartitions` sentinel: follow `indexPartitions` (the pre-r17
    * default behavior).
    */
  val FollowIndexPartitions: Int = TieredCompaction.FollowIndexPartitions

  /** `bandsPartitions` sentinel: pick the bands layout from MEASURED
    * on-disk sizes — see [[compactIndex]].
    */
  val AutoLayout: Int = TieredCompaction.AutoLayout

  /** AUTO layout trips to the hybrid (id-sorted) bands layout when the
    * bucket-hash partitioned rewrite inflates the input bytes past this
    * ratio. Measured regime (SCALING.md r16): the synthetic corpus
    * inflates ~9x (sigb dictionary locality lost); a corpus whose band
    * rows don't carry a compressible per-doc payload stays near 1x.
    * At 3x the partition prune needs to win back >2/3 of its reads to
    * break even — a trickle batch does, a nightly batch doesn't.
    */
  private[streaming] def AutoInflationRatio: Double = TieredCompaction.AutoInflationRatio

  /** Ceiling on minor-compaction tiers per dataset before [[compactIndex]]
    * forces a MAJOR (full) rewrite: each minor compaction adds one
    * fileset "tier" to the layout (readers union the tiers; the
    * partition prune is per-file, so correctness never depends on tier
    * count), and per-partition file opens grow with it.
    */
  val DefaultMaxTiers: Int = TieredCompaction.DefaultMaxTiers

  /** Per-dataset compaction telemetry returned by
    * [[compactIndexDetailed]] — see [[TieredCompaction.DatasetCompaction]].
    */
  type DatasetCompaction = TieredCompaction.DatasetCompaction

  /** Maintenance: compact the three commit-logged datasets (bands index,
    * shingles, pairs) into right-sized layouts — a stream appending a
    * few files per micro-batch reads progressively slower (listing +
    * open-file overhead scales with FILE COUNT) until compacted.
    *
    * INCREMENTAL BY DEFAULT (VERDICT r16 #1): once a dataset carries a
    * compacted base layout (its files ride `__p<modulus>=<k>/` partition
    * dirs), re-compaction folds ONLY the files appended since the last
    * compaction into a new TIER of the same layout and carries every
    * base file forward BY REFERENCE in the replace commit (the
    * [[SnapshotUpsert]] bucket-carry pattern) — nightly maintenance
    * cost is O(delta), not O(index). Readers union the tiers; the
    * per-file partition prune in [[processBatch]] is layout-generic, so
    * a probe reads `touched-partitions × tiers` files instead of the
    * whole index either way. Past `maxTiers` tiers (or when tiers mix
    * moduli after a partition-count change) the dataset takes one MAJOR
    * full rewrite back to a single tier — the classic L0→L1 schedule:
    * O(delta) minors amortize the rare O(index) major.
    *
    * `bandsPartitions` controls the bands-index layout:
    *   - `AutoLayout` (default): follow the existing base layout if one
    *     exists; otherwise write the bucket-hash partitioned layout,
    *     MEASURE its on-disk size against the input, and fall back to
    *     the hybrid id-sorted layout when it inflates past
    *     [[AutoInflationRatio]] (bucket-hash scatters each doc's band
    *     rows, so the per-doc sigb sketch stops dictionary-encoding —
    *     measured ~9x on the synthetic corpus, SCALING.md r16).
    *   - `FollowIndexPartitions`: bucket-hash at `indexPartitions`.
    *   - `1`: the hybrid nightly layout — band rows sorted by id
    *     (dictionary locality kept) under a `__p1=0/` marker dir, so
    *     later compactions still recognize the base and stay minor.
    *   - any other positive value: bucket-hash at that modulus.
    *
    * The shingles log always partitions on the id the verify joins
    * probe by (no inflation: one row per doc, nothing to scatter); the
    * pairs log compacts as id-sorted tiers. Each compaction publishes
    * as ONE transactional `replace` commit per dataset, so readers see
    * the old fileset or the new one, never a mix; superseded data dirs
    * vacuum only after the publish. Single-writer: run with the stream
    * quiesced. Returns dataset -> (filesBefore, filesAfter);
    * [[compactIndexDetailed]] exposes the full decision telemetry.
    */
  def compactIndex(
      spark: SparkSession,
      workDir: String,
      targetRecordsPerFile: Long = 5000000L,
      indexPartitions: Int = IndexPartitions,
      bandsPartitions: Int = AutoLayout,
      incremental: Boolean = true,
      maxTiers: Int = DefaultMaxTiers
  ): Map[String, (Long, Long)] =
    compactIndexDetailed(spark, workDir, targetRecordsPerFile, indexPartitions,
      bandsPartitions, incremental, maxTiers)
      .map { case (k, v) => k -> (v.filesBefore, v.filesAfter) }

  /** [[compactIndex]] with the full per-dataset decision telemetry. */
  def compactIndexDetailed(
      spark: SparkSession,
      workDir: String,
      targetRecordsPerFile: Long = 5000000L,
      indexPartitions: Int = IndexPartitions,
      bandsPartitions: Int = AutoLayout,
      incremental: Boolean = true,
      maxTiers: Int = DefaultMaxTiers
  ): Map[String, DatasetCompaction] = {
    require(maxTiers >= 1, s"maxTiers must be >= 1, got $maxTiers")
    // the three datasets are independent logs with independent replace
    // commits — compact them CONCURRENTLY (guide-§2.6 overlap; same
    // single-writer-per-dataset contract as before). Each compaction
    // pipeline carries its own shuffle/write footprint, so the pass's
    // peak memory envelope is the sum of the three running at once.
    val out = new java.util.concurrent.ConcurrentHashMap[String, DatasetCompaction]()
    parallelUnits(Seq(
      () => out.put("bands",
        TieredCompaction.compactKeyed(spark, s"$workDir/bands", targetRecordsPerFile,
          bandsPartitions match {
            case AutoLayout => AutoLayout
            case FollowIndexPartitions => indexPartitions
            case bp =>
              require(bp >= 1, s"bandsPartitions must be >= 1 or a sentinel, got $bp"); bp
          },
          keyCols = Seq("band", "bucket"), hybridSort = Seq("id"),
          incremental, maxTiers)): Unit,
      // the shingles log partitions on the id the verify joins probe by,
      // so per-batch verify reads prune to the partitions candidate ids
      // hash into (see the oldSh prune in [[processBatch]]); one row per
      // doc, so there is no locality to lose and no AUTO decision needed
      () => out.put("shingles",
        TieredCompaction.compactKeyed(spark, s"$workDir/shingles", targetRecordsPerFile,
          indexPartitions, keyCols = Seq("id"), hybridSort = Seq("id"),
          incremental, maxTiers)): Unit,
      // confirmed pairs: no probe joins read this by key, so it stays
      // the single-partition sorted layout — but tiered, so a nightly
      // re-compaction folds only the pairs appended since the last one
      () => out.put("pairs",
        TieredCompaction.compactKeyed(spark, s"$workDir/pairs", targetRecordsPerFile,
          1, keyCols = Seq("id1", "id2"), hybridSort = Seq("id1", "id2"),
          incremental, maxTiers)): Unit))
    Map("bands" -> out.get("bands"), "shingles" -> out.get("shingles"),
      "pairs" -> out.get("pairs"))
  }

}
