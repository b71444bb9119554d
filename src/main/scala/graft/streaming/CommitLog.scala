package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal single-writer transactional commit log over parquet — the
  * Delta/Iceberg-style protocol that upgrades a streaming sink from
  * at-least-once to EXACTLY-ONCE without changing any operator logic:
  *
  *  - Data files are written under a stage dir `dir`/data/<uuid>/ and
  *    are INVISIBLE until a manifest naming them is atomically renamed
  *    into `dir`/_commits/ — a crash between the data write and the
  *    publish leaves orphan files that no reader ever sees (vacuumed
  *    later), never a partial commit. There are two ways to append: a
  *    frame ([[append]], [[appendAlways]] write it into a fresh stage
  *    with `df.write.parquet`), or files the caller already wrote into
  *    a [[stageDir]] (from its own tasks, say) handed to [[appendFiles]].
  *    Both publish through [[appendFiles]].
  *  - Each commit records the micro-batch id that produced it; a
  *    replayed batch (foreachBatch crash-recovery, the at-least-once
  *    window) is detected by [[committedBatchIds]] and SKIPPED — append
  *    becomes idempotent per batch, which is exactly-once delivery.
  *  - Readers fold the manifests in sequence order: a `replace` manifest
  *    (written by [[compact]] or [[commitFiles]]) supersedes everything
  *    before it, so compaction is itself a transactional commit and a
  *    reader always sees either the old fileset or the new one, never a
  *    mix — the swap-gap of a rename-based compaction disappears.
  *  - Metadata stays O(1) per commit at streaming scale: every
  *    `checkpointEvery` appends the log folds its manifest tail into a
  *    CHECKPOINT file (current fileset + committed-batch-id ranges +
  *    last batch id) and deletes the folded manifests — the Delta
  *    checkpoint-parquet idea, so `append`/`read` walk checkpoint +
  *    O(interval) tail instead of every commit ever made (which was
  *    O(n²) driver file reads over a long-running stream).
  *
  * Single-writer by contract (one streaming query per log, maintenance
  * quiesced), local-FS rename atomicity — the same scope as the rest of
  * this library's sinks; a lakehouse table format generalizes the
  * publish step to a conditional metadata swap on an object store.
  */
object CommitLog {

  private val Seq0 = "%09d"

  /** Fold the manifest tail into a checkpoint after this many
    * un-checkpointed commits (appends only — replace-commit chains keep
    * their full manifest history so [[filesAt]] time travel works until
    * the owner prunes explicitly).
    */
  val DefaultCheckpointEvery = 32

  /** Sorted, disjoint, inclusive ranges of committed batch ids. A
    * healthy checkpointed stream's ids are contiguous, so this is ONE
    * range no matter how many batches ever committed — membership is a
    * binary search over range endpoints, never an O(total-batches)
    * Set[Long] materialization on every loadState (a long-running
    * frequent-trigger stream reaches millions of ids within weeks).
    */
  private[streaming] final case class IdRanges(rs: Vector[(Long, Long)]) {
    def contains(id: Long): Boolean = {
      var lo = 0
      var hi = rs.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val (a, b) = rs(mid)
        if (id < a) hi = mid - 1
        else if (id > b) lo = mid + 1
        else return true
      }
      false
    }
    def add(id: Long): IdRanges = IdRanges.normalize(rs :+ ((id, id)))
    def isEmpty: Boolean = rs.isEmpty
    /** Expanded view for diagnostics/compat — NOT on any hot path. */
    def toSet: Set[Long] = rs.iterator.flatMap { case (a, b) => (a to b).iterator }.toSet
  }

  private[streaming] object IdRanges {
    val empty: IdRanges = IdRanges(Vector.empty)
    /** Merge overlapping/adjacent ranges into canonical sorted form. */
    def normalize(pairs: Seq[(Long, Long)]): IdRanges =
      if (pairs.isEmpty) empty
      else {
        val sorted = pairs.sortBy(_._1)
        val out = Vector.newBuilder[(Long, Long)]
        var (lo, hi) = sorted.head
        sorted.tail.foreach { case (a, b) =>
          if (a <= hi + 1) hi = math.max(hi, b)
          else { out += ((lo, hi)); lo = a; hi = b }
        }
        out += ((lo, hi))
        IdRanges(out.result())
      }
  }

  /** Everything a reader/writer needs, reconstructed from the latest
    * checkpoint plus the manifest tail after it.
    */
  private case class LogState(
      maxSeq: Long,
      files: Seq[String],
      batchIds: IdRanges,
      lastBatchId: Option[Long],
      tailManifests: Int)

  /** Create an empty table: schema recorded so reads work before the
    * first append. Idempotent.
    */
  def init(dir: String, schema: StructType): Unit = {
    Files.createDirectories(Paths.get(dir, "data"))
    Files.createDirectories(Paths.get(dir, "_commits"))
    val sf = Paths.get(dir, "_schema.json")
    if (!Files.exists(sf)) {
      // tmp + ATOMIC_MOVE even on first write: a crash mid-write would
      // otherwise leave a torn _schema.json that exists-checks here skip
      // and every later schemaOf() chokes on
      val tmp = Paths.get(dir, s".tmp-schema-${java.util.UUID.randomUUID()}")
      Files.write(tmp, schema.json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, sf,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE): Unit
    }
  }

  /** The table schema recorded at [[init]]. */
  def schemaOf(dir: String): StructType =
    DataType.fromJson(
      new String(Files.readAllBytes(Paths.get(dir, "_schema.json")), StandardCharsets.UTF_8))
      .asInstanceOf[StructType]

  /** Micro-batch ids already committed, expanded to a Set — a
    * diagnostic/compat view. Replay-skip checks should use
    * [[isCommitted]], which answers from the range encoding without
    * materializing every id ever committed.
    */
  def committedBatchIds(dir: String): Set[Long] = loadState(dir).batchIds.toSet

  /** Was micro-batch `batchId` already committed? O(log ranges). */
  def isCommitted(dir: String, batchId: Long): Boolean =
    loadState(dir).batchIds.contains(batchId)

  /** (sequence, batchId) of the highest-sequence commit, None on an
    * empty log. The batchId survives checkpoint folding (checkpoints
    * record the last folded commit's id), so a replace-chain owner can
    * always ask "was the latest commit produced by batch b?".
    */
  def latestCommit(dir: String): Option[(Long, Option[Long])] = {
    val st = loadState(dir)
    if (st.maxSeq == 0L) None else Some((st.maxSeq, st.lastBatchId))
  }

  /** Data-relative paths of the files a reader sees right now. */
  def currentFiles(dir: String): Seq[String] = loadState(dir).files

  /** The fileset as of commit `seq` — time travel for replace-commit
    * chains. Requires the history at `seq` to still exist: a checkpoint
    * at or before `seq`, or (replace chains) a surviving manifest at or
    * before it. Throws when that history has been pruned.
    */
  def filesAt(dir: String, seq: Long): Seq[String] = {
    val (cps, tail) = listCommits(dir)
    val cp = cps.filter(_._1 <= seq).sortBy(_._1).lastOption
    val usable = tail.filter(t => t._1 > cp.map(_._1).getOrElse(0L) && t._1 <= seq)
    require(cp.nonEmpty || usable.nonEmpty || seq == 0L,
      s"commit $seq is no longer reconstructable (history pruned)")
    val seed = cp.map(f => parseCheckpoint(f._2).files).getOrElse(Nil)
    usable.foldLeft(seed) { case (acc, (_, f)) =>
      val lines = readLines(f)
      val files = lines.tail.filter(_.nonEmpty)
      if (parseHeader(lines.head)._1) files else acc ++ files
    }
  }

  /** A fresh stage dir for one commit's data files: `data/<uuid>`,
    * relative to `dir` and not yet created. Files written under it stay
    * invisible until [[appendFiles]] or [[commitFiles]] names them; a
    * stage that is never published is debris for the owner's vacuum
    * (every data dir no commit references).
    */
  def stageDir(dir: String): String = s"data/${java.util.UUID.randomUUID()}"

  /** Publish `files` (paths relative to `dir`, normally under one
    * [[stageDir]]) as one append commit. With a `batchId` that is
    * already committed it publishes NOTHING and returns false — the
    * exactly-once guard; the caller still owns the stage. Without one it
    * always publishes (at-least-once). Auto-checkpoints the manifest tail
    * every `checkpointEvery` commits.
    */
  def appendFiles(
      dir: String,
      files: Seq[String],
      batchId: Option[Long],
      checkpointEvery: Int = DefaultCheckpointEvery
  ): Boolean = {
    batchId.foreach(b => require(b >= 0, s"batchId must be non-negative, got $b"))
    val st = loadState(dir)
    if (batchId.exists(st.batchIds.contains)) return false
    publish(dir, files, replace = false, batchId, st.maxSeq + 1)
    if (st.tailManifests + 1 >= checkpointEvery) checkpoint(dir): Unit
    true
  }

  /** Append `df` as one commit for `batchId`: write it into a fresh
    * stage, then [[appendFiles]]. Returns false (and writes NOTHING) when
    * that batch is already committed; true when the commit published.
    */
  def append(
      df: DataFrame,
      dir: String,
      batchId: Long,
      checkpointEvery: Int = DefaultCheckpointEvery
  ): Boolean = {
    require(batchId >= 0, s"batchId must be non-negative, got $batchId")
    init(dir, df.schema)
    !isCommitted(dir, batchId) &&
      appendFiles(dir, writeStage(df, dir, stageDir(dir)), Some(batchId), checkpointEvery)
  }

  /** Append without a batch identity — still atomic-publish (the crash
    * window stays invisible) but NOT replay-skipped: the at-least-once
    * mode for callers outside a checkpointed stream.
    */
  def appendAlways(df: DataFrame, dir: String, checkpointEvery: Int = DefaultCheckpointEvery): Unit = {
    init(dir, df.schema)
    appendFiles(dir, writeStage(df, dir, stageDir(dir)), None, checkpointEvery): Unit
  }

  /** Delete a stage that will never be published. */
  private[streaming] def discardStage(dir: String, stage: String): Unit =
    deleteRecursively(new java.io.File(s"$dir/$stage"))

  /** Publish an externally-written fileset (paths relative to `dir`,
    * normally under data/<uuid>/) as one commit — the hook a layout-
    * aware owner ([[SnapshotUpsert]]'s bucket-pruned versions) uses to
    * carry untouched files forward BY REFERENCE while rewriting only
    * what changed. `replace` supersedes the previous fileset; `batchId`
    * (recorded on replace commits too) marks the producing micro-batch.
    * Returns the commit sequence number.
    */
  def commitFiles(
      dir: String,
      files: Seq[String],
      replace: Boolean,
      batchId: Option[Long] = None
  ): Long = {
    val seq = loadState(dir).maxSeq + 1
    publish(dir, files, replace, batchId, seq)
    seq
  }

  /** Exact committed row count from parquet footers, driver-side — no
    * Spark job (file count is bounded by checkpoint folding/compaction).
    * The cheap answer for layout/plan decisions that would otherwise pay
    * a full count() scan over the table.
    */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    currentFiles(dir).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(s"$dir/$f"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount
      finally r.close()
    }.sum
  }

  /** All committed rows: the latest `replace` manifest's fileset plus
    * every appended commit after it.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readFiles(spark, dir, schemaOf(dir), currentFiles(dir))

  /** DataFrame over an explicit file subset of a commit-logged dataset
    * (paths relative to `dir`). Planned straight from the given fileset
    * ([[org.apache.spark.sql.graft.ManifestReadBridge]]) — the manifest
    * IS the listing, so no InMemoryFileIndex is built and no listing
    * job runs (r18: `spark.read.parquet(file1..fileN)` launched a
    * cluster listing job per read once N passed the parallel-discovery
    * threshold, ~1 s per streaming-dedup batch against a compacted
    * index).
    */
  def readFiles(
      spark: SparkSession, dir: String, schema: StructType, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      org.apache.spark.sql.graft.ManifestReadBridge.parquetFromFiles(
        spark, schema, files.map(f => s"$dir/$f"))

  /** Fold the manifest tail into a checkpoint file NOW and prune what it
    * folded: manifests at or below the checkpoint sequence, older
    * checkpoints, and stale `.tmp-*` debris from crashed publishes.
    * After this, every read costs one checkpoint + the new tail.
    * Returns the checkpointed sequence (0 on an empty log). Single-
    * writer: call from the owning writer only.
    */
  def checkpoint(dir: String): Long = {
    val st = loadState(dir)
    if (st.maxSeq == 0L) return 0L
    if (listCommits(dir)._1.exists(_._1 == st.maxSeq)) return st.maxSeq // already folded
    val body = (Seq(
      "checkpoint",
      s"batches ${encodeIds(st.batchIds)}",
      s"last ${st.lastBatchId.map(_.toString).getOrElse("-")}") ++ st.files).mkString("\n")
    val tmp = Paths.get(dir, "_commits", s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "_commits", Seq0.format(st.maxSeq) + ".cp"),
      StandardCopyOption.ATOMIC_MOVE)
    // prune only AFTER the checkpoint is durable — a crash mid-prune
    // leaves redundant manifests that loadState already ignores
    val (cps, tail) = listCommits(dir)
    cps.filter(_._1 < st.maxSeq).foreach(c => Files.deleteIfExists(c._2.toPath): Unit)
    tail.filter(_._1 <= st.maxSeq).foreach(t => Files.deleteIfExists(t._2.toPath): Unit)
    Option(new java.io.File(s"$dir/_commits").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(".tmp-"))
      .foreach(f => Files.deleteIfExists(f.toPath): Unit)
    // crashed init schema writes leave .tmp-schema-* at the root
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(".tmp-schema-"))
      .foreach(f => Files.deleteIfExists(f.toPath): Unit)
    st.maxSeq
  }

  /** Rewrite the committed rows into ceil(rows/target) files and publish
    * them as a single `replace` commit; superseded DATA files are deleted
    * only AFTER the publish (readers mid-flight hold the old manifest
    * list and local-FS deletes do not invalidate open handles in this
    * harness's single-JVM scope). Returns (filesBefore, filesAfter).
    */
  def compact(
      spark: SparkSession,
      dir: String,
      targetRecordsPerFile: Long,
      sortBy: Seq[String] = Nil
  ): (Long, Long) = {
    require(targetRecordsPerFile >= 1)
    val before = currentFiles(dir)
    val df = read(spark, dir)
    // file-count sizing from parquet footers: the rewrite below reads
    // the data once regardless, so paying a second full scan just to
    // count rows doubled compaction I/O
    val rows = rowCount(spark, dir)
    val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    val shaped =
      if (sortBy.nonEmpty)
        df.repartitionByRange(nFiles, sortBy.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sortBy.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(nFiles)
    val stage = stageDir(dir)
    commitFiles(dir, writeStage(shaped, dir, stage), replace = true): Unit
    // the replace commit carries the whole fileset, so the folded history
    // is pure metadata debt — checkpoint it away immediately
    checkpoint(dir): Unit
    // retention: data directories no manifest references anymore
    val live = referencedDataDirs(dir) + stage.stripPrefix("data/")
    Option(new java.io.File(s"$dir/data").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !live.contains(d.getName))
      .foreach(deleteRecursively)
    (before.size.toLong, currentFiles(dir).size.toLong)
  }

  /** General-purpose EXACTLY-ONCE streaming append sink: every
    * micro-batch becomes one commit keyed by its batch id, so
    * foreachBatch's at-least-once replay window collapses to
    * exactly-once delivery — the drop-in upgrade for any pipeline
    * writing raw `mode("append").parquet(...)` from a stream. Read the
    * table back with [[read]].
    *
    * `checkpoint` is REQUIRED: batch ids are only meaningful relative to
    * a query checkpoint. Without one Spark would mint a fresh temp
    * checkpoint per run, restart ids at 0, and the replay-skip guard
    * would silently DISCARD the second run's data — exactly-once
    * degrading to silent loss. Callers that genuinely want
    * fire-and-forget appends should drive [[appendAlways]] from their
    * own foreachBatch instead.
    */
  def sink(
      stream: DataFrame,
      dir: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointEvery: Int = DefaultCheckpointEvery
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    init(dir, stream.schema)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        append(batch, dir, bid, checkpointEvery): Unit
      }
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** data/<uuid> directory names referenced by ANY surviving commit or
    * checkpoint — everything else under data/ is unpublished debris or
    * pruned history, safe for an owner's vacuum to delete.
    */
  def referencedDataDirs(dir: String): Set[String] = {
    val (cps, tail) = listCommits(dir)
    val fromCps = cps.flatMap(c => parseCheckpoint(c._2).files)
    val fromManifests = tail.flatMap(t => readLines(t._2).tail.filter(_.nonEmpty))
    (fromCps ++ fromManifests).flatMap(_.split("/").drop(1).headOption).toSet
  }

  /** Drop commit history strictly below `seq` — retention for a
    * replace-commit chain (a versioned snapshot), where every manifest
    * is self-contained so any surviving commit still reconstructs its
    * fileset. Deletes manifests AND checkpoints below `seq`; refuses
    * when the first surviving commit is a plain append (it would lose
    * the base it folds onto). Replay-skip for such chains keys off
    * [[latestCommit]], which this never touches. Returns entries
    * deleted.
    */
  def pruneBelow(dir: String, seq: Long): Int = {
    val (cps, tail) = listCommits(dir)
    val survivors = (cps.filter(_._1 >= seq).map(c => (c._1, true)) ++
      tail.filter(_._1 >= seq).map(t => (t._1, parseHeader(readLines(t._2).head)._1)))
      .sortBy(_._1)
    require(survivors.nonEmpty, s"pruneBelow($seq) would delete the entire log")
    require(survivors.head._2,
      s"pruneBelow($seq): first surviving commit ${survivors.head._1} is a plain append " +
        "and would lose its base — checkpoint first or prune to a replace boundary")
    val doomed = (cps ++ tail).filter(_._1 < seq)
    doomed.foreach(d => Files.deleteIfExists(d._2.toPath): Unit)
    doomed.size
  }

  // ---- internals -----------------------------------------------------

  /** Write `df` into `stage` with `df.write.parquet`; its files,
    * relative to `dir`.
    */
  private def writeStage(df: DataFrame, dir: String, stage: String): Seq[String] = {
    df.write.parquet(s"$dir/$stage")
    relativeFiles(dir, s"$dir/$stage")
  }

  /** Manifest format (text, dependency-free): first line
    * `append <batchId>` | `append -` | `replace` | `replace <batchId>`,
    * then one data-relative file path per line.
    */
  private def publish(
      dir: String, files: Seq[String], replace: Boolean, batchId: Option[Long], seq: Long): Unit = {
    val kind = if (replace) "replace" else "append"
    val header = s"$kind ${batchId.map(_.toString).getOrElse("-")}"
    val body = (header +: files).mkString("\n")
    val tmp = Paths.get(dir, "_commits", s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "_commits", Seq0.format(seq)),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** (checkpoints, manifests) as (seq, file) pairs, each seq-sorted. */
  private def listCommits(dir: String): (Seq[(Long, java.io.File)], Seq[(Long, java.io.File)]) = {
    val entries = Option(new java.io.File(s"$dir/_commits").listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
    val cps = entries.filter(_.getName.matches("\\d+\\.cp"))
      .map(f => (f.getName.stripSuffix(".cp").toLong, f)).sortBy(_._1).toSeq
    val tail = entries.filter(_.getName.matches("\\d+"))
      .map(f => (f.getName.toLong, f)).sortBy(_._1).toSeq
    (cps, tail)
  }

  /** Latest checkpoint + the manifests after it, folded. ONE directory
    * listing + O(tail) file reads — never the full history.
    */
  private def loadState(dir: String): LogState = {
    val (cps, manifests) = listCommits(dir)
    val cp = cps.lastOption
    val cpSeq = cp.map(_._1).getOrElse(0L)
    val seed = cp.map(c => parseCheckpoint(c._2))
      .getOrElse(LogState(0L, Nil, IdRanges.empty, None, 0))
    val tail = manifests.filter(_._1 > cpSeq)
    val folded = tail.foldLeft(seed) { case (st, (seq, f)) =>
      val lines = readLines(f)
      val (replace, bid) = parseHeader(lines.head)
      val files = lines.tail.filter(_.nonEmpty)
      LogState(
        maxSeq = seq,
        files = if (replace) files else st.files ++ files,
        batchIds = bid.fold(st.batchIds)(st.batchIds.add),
        lastBatchId = bid,
        tailManifests = st.tailManifests + 1)
    }
    folded.copy(maxSeq = math.max(cpSeq, folded.maxSeq))
  }

  private def parseCheckpoint(f: java.io.File): LogState = {
    val lines = readLines(f)
    require(lines.head == "checkpoint", s"corrupt checkpoint ${f.getName}")
    LogState(
      maxSeq = f.getName.stripSuffix(".cp").toLong,
      files = lines.drop(3).filter(_.nonEmpty),
      batchIds = decodeIds(lines(1).stripPrefix("batches ")),
      lastBatchId = lines(2).stripPrefix("last ") match {
        case "-" => None
        case v => Some(v.toLong)
      },
      tailManifests = 0)
  }

  private def parseHeader(header: String): (Boolean, Option[Long]) =
    header.split(" ") match {
      case Array("replace") | Array("replace", "-") => (true, None)
      case Array("replace", b) => (true, Some(b.toLong))
      case Array("append", "-") => (false, None)
      case Array("append", b) => (false, Some(b.toLong))
      case other => throw new IllegalStateException(s"corrupt manifest header: $header")
    }

  private def readLines(f: java.io.File): Seq[String] =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).split("\n").toSeq

  /** Batch ids as compact sorted ranges ("0-41,43"): a checkpointed
    * stream's ids are contiguous, so the encoding is O(1) regardless of
    * how many batches ever committed. [[IdRanges]] is already canonical
    * (sorted, disjoint, adjacent-merged), so both directions are a
    * straight transcription — the ranges are never expanded.
    */
  private def encodeIds(ids: IdRanges): String =
    if (ids.isEmpty) "-"
    else ids.rs.map { case (a, b) => if (a == b) a.toString else s"$a-$b" }.mkString(",")

  private def decodeIds(s: String): IdRanges =
    if (s == "-") IdRanges.empty
    else IdRanges.normalize(s.split(",").toSeq.map { r =>
      r.split("-") match {
        case Array(a) => (a.toLong, a.toLong)
        case Array(a, b) => (a.toLong, b.toLong)
        case _ => throw new IllegalStateException(s"corrupt batch-id range: $r")
      }
    })

  private def relativeFiles(base: String, dataDir: String): Seq[String] = {
    val prefix = Paths.get(base).toAbsolutePath
    Option(new java.io.File(dataDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => prefix.relativize(f.toPath.toAbsolutePath).toString)
      .sorted.toSeq
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
