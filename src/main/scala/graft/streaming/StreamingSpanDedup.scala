package graft.streaming

import graft.operators.SpanDedup

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental span-level exact dedup — [[SpanDedup.dedupSpans]] for a
  * corpus that arrives on a change stream: each micro-batch's documents
  * are cut into k-token spans, spans already claimed by ANY earlier
  * batch are dropped, first occurrences within the batch are kept
  * (smallest `(doc, idx)`), and the surviving text is appended to a
  * result table while the batch's new span hashes extend the
  * accumulated index. Keep-first under arrival order: a span's survivor
  * is its first occurrence in `(arrival batch, doc, idx)` order — the
  * batch operator's `(doc, idx)` rule with arrival time prepended,
  * which is what "first" means when the corpus is a stream.
  *
  * Scale shape: per batch, the span index is probed with a join on the
  * 8-byte span hash — batch-sized probe side against the accumulated
  * index (bucket-partitioned by the hash join), never a corpus rescan;
  * the in-batch keeper aggregate map-combines exactly like the batch
  * operator. Both result and index live in a [[CommitLog]] (atomic
  * manifest publish + per-batch replay skip), so a crash replays to
  * exactly the missing commits: EXACTLY-ONCE end to end.
  */
object StreamingSpanDedup {

  private def indexSchema = StructType(Seq(StructField("sh", LongType)))
  private def docsSchema(idCol: String, textCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField(textCol, StringType)))

  /** Batch-side broadcast budget for the index probe, in exploded span
    * rows — [[StreamingDedup]]'s MaxBroadcastBandRows discipline applied
    * to the span path (VERDICT r17 #5). At or below it the probe takes
    * the two-broadcast plan of [[probeFresh]]; a catch-up batch past it
    * reverts to the plain anti-join, which AQE plans as spillable
    * sort-merge with skew splitting. 2M span hash rows ≈ 30–60 MB
    * broadcast. Overridable per session (ops knob + the spec's flip
    * probe): `spark.graft.streaming.spanProbeBroadcastMaxRows`.
    */
  private val SpanProbeBroadcastMaxRows = 2000000L

  private[graft] val SpanProbeBroadcastConf =
    "spark.graft.streaming.spanProbeBroadcastMaxRows"

  private def spanProbeBroadcastMaxRows(spark: SparkSession): Long =
    graft.SessionConf.long(spark, SpanProbeBroadcastConf, SpanProbeBroadcastMaxRows)

  /** The index probe: exploded batch spans not yet claimed by the
    * accumulated index. With `broadcastProbe` (a batch inside the
    * broadcast budget) the index — the one frame that grows without
    * bound — is never shuffled, sorted, or hash-built: it streams
    * map-side through a semi-join against the BROADCAST batch hash set,
    * and the batch-bounded hit set broadcasts back into the anti-join
    * (a hash build cannot spill, so the unbounded side must never be a
    * build side — the r17 sf10 OOM class). Past the budget the plain
    * anti-join returns and AQE plans spillable sort-merge.
    */
  private[streaming] def probeFresh(
      exploded: DataFrame, index: DataFrame, broadcastProbe: Boolean): DataFrame =
    if (broadcastProbe) {
      val batchHashes = exploded.select(col("__sh").as("sh")).distinct()
      val hits = index.join(broadcast(batchHashes), Seq("sh"), "left_semi")
      exploded.join(broadcast(hits), exploded("__sh") === hits("sh"), "left_anti")
    } else
      exploded.join(index, exploded("__sh") === index("sh"), "left_anti")

  /** Start the incremental span dedup over a STREAMING (idCol, textCol)
    * frame. Surviving documents land under `workDir`/docs; the span
    * index accumulates under `workDir`/spans. `checkpoint` is REQUIRED
    * (same contract as [[StreamingDedup]]: batch ids are only
    * meaningful relative to a query checkpoint, and without one the
    * replay-skip guard would discard a second run's data).
    */
  def incrementalSpanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      workDir: String,
      spanTokens: Int,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: String
  ): StreamingQuery = {
    require(spanTokens >= 1, s"spanTokens must be >= 1: $spanTokens")
    val spark = docs.sparkSession
    init(spark, workDir, idCol, textCol)
    docs
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, idCol, textCol, workDir, spanTokens, Some(bid))
      }
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Create the result + index logs (idempotent across restarts). */
  def init(spark: SparkSession, workDir: String, idCol: String, textCol: String): Unit = {
    CommitLog.init(s"$workDir/spans", indexSchema)
    CommitLog.init(s"$workDir/docs", docsSchema(idCol, textCol))
  }

  /** One arrival batch: drop spans the index already holds, keep-first
    * within the batch, append survivors + new span hashes (both commits
    * keyed by `batchId` — idempotent replays).
    */
  def processBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      workDir: String,
      spanTokens: Int,
      batchId: Option[Long]
  ): Unit = {
    val spark = batch.sparkSession
    val exploded = SpanDedup.explodedSpans(batch, idCol, textCol, spanTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // index probe with PARTITION PRUNING over a compacted
    // ([[compactIndex]]) span-hash-partitioned layout: the anti-join can
    // only match index rows sharing a batch span's hash, so only the
    // partitions this batch's hashes touch are read — per-batch probe
    // I/O scales with the batch, not the accumulated index (the same
    // prune discipline as [[StreamingDedup.processBatch]]); plain
    // pre-compaction appends are always read
    val spansDir = s"$workDir/spans"
    val allFiles = CommitLog.currentFiles(spansDir)
    val moduli = allFiles
      .flatMap(f => TieredCompaction.PartDirRe.findFirstMatchIn(f).map(_.group(1).toInt)).distinct
    val spanFiles =
      if (moduli.isEmpty) allFiles
      else {
        val touched = moduli.map { m =>
          if (m == 1) m -> Set(0)
          else m -> exploded
            .select(pmod(xxhash64(col("__sh")), lit(m.toLong)).cast("int").as("p"))
            .distinct().collect().map(_.getInt(0)).toSet
        }.toMap
        TieredCompaction.pruneFiles(allFiles, touched)
      }
    val index =
      CommitLog.readFiles(spark, spansDir, CommitLog.schemaOf(spansDir), spanFiles)
    // new = never seen by any earlier batch; localCheckpoint pins the
    // frame because THREE consumers read it (keepers, kept join, index
    // append) and the anti-join must not re-probe the index per consumer.
    // The probe plan is SIZE-GATED like StreamingDedup's band joins
    // (exploded is persisted, so the count is paid once and reused)
    val fresh = probeFresh(exploded, index,
      broadcastProbe = exploded.count() <= spanProbeBroadcastMaxRows(spark))
      .localCheckpoint()
    exploded.unpersist(): Unit // localCheckpoint is eager: exploded ran twice at most
    // keeper per span hash: min (doc, idx) — single occurrences are
    // their own keepers, so no count>1 filter here (unlike the batch
    // operator, every fresh span must consult the keeper map)
    val keepers = fresh
      .groupBy(col("__sh"))
      .agg(min(struct(col("__doc"), col("__idx"))).as("__keep"))
    val kept = fresh
      .join(keepers, Seq("__sh"))
      .where(col("__keep.__doc") === col("__doc") && col("__keep.__idx") === col("__idx"))
    val outDocs = SpanDedup.reassemble(kept, idCol, textCol)
    val newHashes = fresh.select(col("__sh").as("sh")).distinct()
    // COMMIT ORDER INVARIANT: docs BEFORE spans. A crash between the
    // two replays this batch with the index still unchanged, so the
    // docs append replay-skips and the spans append completes. The
    // reverse order would let a replay see its own hashes in the index,
    // compute fresh = empty, and commit an EMPTY docs batch — data loss.
    batchId match {
      case Some(bid) =>
        CommitLog.append(outDocs, s"$workDir/docs", bid): Unit
        CommitLog.append(newHashes, s"$workDir/spans", bid): Unit
      case None =>
        CommitLog.appendAlways(outDocs, s"$workDir/docs")
        CommitLog.appendAlways(newHashes, s"$workDir/spans")
    }
  }

  /** The accumulated deduplicated documents. */
  def docs(spark: SparkSession, workDir: String): DataFrame =
    CommitLog.read(spark, s"$workDir/docs")

  /** TIERED maintenance ([[TieredCompaction]], same schedule as
    * [[StreamingDedup.compactIndex]]): the span index compacts into the
    * `xxhash64(sh)`-partitioned layout (`__p<P>=<k>/`) so each batch's
    * probe prunes to the partitions its own span hashes touch, and the
    * docs table into id-sorted tiers; once a base layout exists,
    * re-compaction folds ONLY the since-last-compaction appends into a
    * new tier (mode "minor" — O(delta)) and carries the base by
    * reference, with one major rewrite past `maxTiers` tiers.
    * Single-writer: run with the stream quiesced. Returns
    * dataset -> (before, after); [[compactIndexDetailed]] exposes the
    * full decision telemetry.
    */
  def compactIndex(
      spark: SparkSession,
      workDir: String,
      targetRecordsPerFile: Long = 5000000L,
      indexPartitions: Int = 64,
      incremental: Boolean = true,
      maxTiers: Int = TieredCompaction.DefaultMaxTiers
  ): Map[String, (Long, Long)] =
    compactIndexDetailed(spark, workDir, targetRecordsPerFile, indexPartitions,
      incremental, maxTiers)
      .map { case (k, v) => k -> (v.filesBefore, v.filesAfter) }

  /** [[compactIndex]] with the full per-dataset decision telemetry. */
  def compactIndexDetailed(
      spark: SparkSession,
      workDir: String,
      targetRecordsPerFile: Long = 5000000L,
      indexPartitions: Int = 64,
      incremental: Boolean = true,
      maxTiers: Int = TieredCompaction.DefaultMaxTiers
  ): Map[String, TieredCompaction.DatasetCompaction] = {
    // independent logs, independent replace commits — compact them
    // concurrently, like StreamingDedup.compactIndexDetailed. (The
    // per-BATCH commits above stay strictly ordered: docs before spans
    // is a replay-correctness invariant; compaction rewrites committed
    // data only, so no such ordering exists between these two.)
    val out =
      new java.util.concurrent.ConcurrentHashMap[String, TieredCompaction.DatasetCompaction]()
    StreamingDedup.parallelUnits(Seq(
      () => out.put("spans",
        TieredCompaction.compactKeyed(spark, s"$workDir/spans", targetRecordsPerFile,
          indexPartitions, keyCols = Seq("sh"), hybridSort = Seq("sh"),
          incremental, maxTiers)): Unit,
      () => out.put("docs", {
        // sorted single-partition tiers on the id column (recorded in the
        // log's schema at init — first field by construction)
        val idCol = CommitLog.schemaOf(s"$workDir/docs").fieldNames.head
        TieredCompaction.compactKeyed(spark, s"$workDir/docs", targetRecordsPerFile,
          1, keyCols = Seq(idCol), hybridSort = Seq(idCol), incremental, maxTiers)
      }): Unit))
    Map("spans" -> out.get("spans"), "docs" -> out.get("docs"))
  }
}
