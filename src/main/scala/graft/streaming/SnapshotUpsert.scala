package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.operators.Upsert

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuously-maintained keep-latest snapshot of a change stream —
  * the streaming half of [[graft.operators.Upsert]], versioned through
  * the [[CommitLog]]: every micro-batch publishes ONE `replace` commit
  * whose manifest lists the whole snapshot fileset, so readers always
  * see a complete consistent version, failed batches leave the last
  * good version intact, and past versions stay queryable (time travel)
  * until [[vacuum]] retention prunes them.
  *
  * PARTITION-PRUNED maintenance — the property that makes this hold at
  * 100 TB: the snapshot is hash-bucketed on the merge keys into
  * `numBuckets` files (`data/<uuid>/__b=<n>/part-*.parquet`, the bucket
  * recomputable from the keys so it is never stored as data). A batch
  * merges into ONLY the buckets its keys hash to: those files are read,
  * merged, rewritten; every untouched bucket's file is carried into the
  * new manifest BY REFERENCE — zero read, zero write, one path string.
  * Per-batch I/O is O(touched buckets × bucket size), not O(snapshot):
  * a trickle of updates against a 100 TB snapshot costs a few bucket
  * rewrites, where the previous design rewrote the world every batch.
  * Size `numBuckets` so a bucket is a sane rewrite unit (~0.5-2 GB at
  * scale); at fixture scale a handful is plenty — more buckets means
  * finer pruning but more (tiny) files per version.
  *
  * Exactly-once versioning: the replace commit records the producing
  * micro-batch id, and a replayed batch is skipped iff the LATEST
  * commit already carries its id — deliberately not set-membership, so
  * a run with a fresh checkpoint (batch ids restarting at 0) re-merges
  * instead of silently skipping; the version-dominant merge makes that
  * re-merge content-idempotent. Single-writer by contract, like every
  * sink in this library.
  */
object SnapshotUpsert {

  private val BucketCol = "__b"
  private val BucketRe = "__b=(\\d+)/".r.unanchored

  /** Start maintaining `dir` from a STREAMING frame. `versionCol` must be
    * unique per key within any batch (the CDC contract) and totally
    * ordered ACROSS batches: the merge is version-dominant
    * ([[Upsert.mergeLatest]] with `versionDominates`), so a late batch
    * carrying a lower version cannot overwrite a newer snapshot row or
    * resurrect a tombstone. Delete flags are ordinary columns here —
    * tombstones must SURVIVE the merge to keep winning their key — and
    * are filtered out by [[read]]'s `deleteCol`. `numBuckets` is pinned
    * in `dir`/_snapshot.json on first creation; later calls follow the
    * stored layout (a mismatched bucket function would mis-prune).
    *
    * `checkpoint` is REQUIRED, one per `dir`, reused across restarts: a
    * restarted stream resumes from its committed offsets. Without one
    * Spark would mint a fresh temp checkpoint per run and replay the
    * whole source into a new version.
    */
  def maintain(
      stream: DataFrame,
      keys: Seq[String],
      versionCol: String,
      dir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      numBuckets: Int = 64
  ): StreamingQuery = {
    require(keys.nonEmpty, "keys must name at least one column")
    CommitLog.init(dir, stream.schema)
    ensureNumBuckets(dir, numBuckets): Unit
    stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, keys, versionCol, dir, Some(bid))
      }
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** One merge batch: read ONLY the buckets the batch touches, merge
    * version-dominant, rewrite those buckets, carry every other file
    * forward by reference, publish as one replace commit. Public so a
    * periodic batch ingest job can drive the same incremental logic.
    */
  def processBatch(
      batch: DataFrame,
      keys: Seq[String],
      versionCol: String,
      dir: String,
      batchId: Option[Long] = None,
      numBuckets: Int = 64
  ): Unit = {
    val spark = batch.sparkSession
    CommitLog.init(dir, batch.schema)
    val nb = ensureNumBuckets(dir, numBuckets)
    // replay skip: the latest version already came from this batch id —
    // a foreachBatch crash-replay. Latest-only on purpose: a fresh
    // checkpoint restarting ids at 0 fails this test and re-merges
    // (idempotent) instead of silently dropping data.
    if (batchId.isDefined && CommitLog.latestCommit(dir).exists(_._2 == batchId)) return
    require(!batch.columns.contains(BucketCol), s"column name $BucketCol is reserved")
    val schema = CommitLog.schemaOf(dir)
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nb.toLong)).cast("int")

    // two passes over the batch (bucket footprint, then merge) — pin it
    val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the batch's bucket footprint: ≤ numBuckets ints, a bounded collect
      val touched = pinned.select(bucketOf.as(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) return // empty batch: nothing to merge, no commit

      val files = CommitLog.currentFiles(dir)
      files.find(bucketOfPath(_).isEmpty).foreach { f =>
        throw new IllegalStateException(
          s"snapshot $dir lists un-bucketed data file $f: every version this " +
            "object publishes is hash-bucketed, so bucket pruning cannot merge " +
            "into it; rewrite the snapshot bucketed with SnapshotUpsert.rebucket")
      }
      val (rewrite, carried) = files.partition(f => touched.contains(bucketOfPath(f).get))
      val base = CommitLog.readFiles(spark, dir, schema, rewrite)
      val merged = Upsert.mergeLatest(base, pinned, keys, versionCol,
        deleteCol = None, versionDominates = true)

      // one job writes all touched buckets: hash-repartition on the bucket
      // puts each bucket wholly in one task, partitionBy splits the task's
      // output one file per bucket; the sort is prefixed with the bucket
      // so the writer needs no extra sort and rows stay key-ordered inside
      // each file (row-group min/max pruning on keyed reads)
      val uuid = java.util.UUID.randomUUID().toString
      val dataDir = s"$dir/data/$uuid"
      merged
        .withColumn(BucketCol, bucketOf)
        .repartition(touched.size, col(BucketCol))
        .sortWithinPartitions((BucketCol +: keys).map(col): _*)
        .write.partitionBy(BucketCol).parquet(dataDir)
      val fresh = bucketFiles(dir, dataDir)
      CommitLog.commitFiles(dir, (carried ++ fresh).sorted, replace = true, batchId): Unit
    } finally pinned.unpersist(): Unit
  }

  /** Highest committed version number under `dir` (0 = empty table). */
  def latestVersion(dir: String): Int =
    CommitLog.latestCommit(dir).map(_._1.toInt).getOrElse(0)

  /** Read a snapshot version (latest by default), tombstones removed.
    * Versions are commit sequence numbers: version N is the state after
    * the N-th micro-batch; version 0 is the empty table.
    */
  def read(
      spark: SparkSession,
      dir: String,
      version: Int = -1,
      deleteCol: Option[String] = None
  ): DataFrame = {
    val files =
      if (version >= 0) CommitLog.filesAt(dir, version.toLong)
      else CommitLog.currentFiles(dir)
    val schema = CommitLog.schemaOf(dir)
    val df = CommitLog.readFiles(spark, dir, schema, files)
    deleteCol match {
      case Some(d) => df.where(!col(d)).drop(d)
      case None => df
    }
  }

  /** Change feed between two snapshot versions — the rows of
    * `toVersion` that `fromVersion` did not contain (new keys and
    * version-advanced rewrites; keep-latest snapshots never drop a key,
    * deletes surface as tombstone-column updates). One distributed
    * `exceptAll` over the two reconstructed filesets: no driver
    * materialization, and with bucket-pruned maintenance most files are
    * SHARED between adjacent versions, so the diff's scan cost tracks
    * the change size at 100 TB, not the snapshot size, once the
    * identical-file pairs are pruned... which Spark cannot see by
    * itself — so identical paths are dropped here before the read.
    */
  def changesBetween(
      spark: SparkSession,
      dir: String,
      fromVersion: Int,
      toVersion: Int
  ): DataFrame = {
    require(fromVersion < toVersion, s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val a = CommitLog.filesAt(dir, fromVersion.toLong).toSet
    val b = CommitLog.filesAt(dir, toVersion.toLong).toSet
    val schema = CommitLog.schemaOf(dir)
    def readFiles(fs: Set[String]): DataFrame =
      if (fs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(fs.toSeq.sorted.map(f => s"$dir/$f"): _*)
    // carried-by-reference files are byte-identical on both sides: their
    // rows cancel in exceptAll, so skip reading them entirely
    readFiles(b -- a).exceptAll(readFiles(a -- b))
  }

  /** Maintenance: retention + data GC + optional re-bucketing. Keeps the
    * newest `keepVersions` versions (bounding time travel to the
    * retained window) by pruning older manifests, then deletes every
    * data directory no surviving version references — which also sweeps
    * crash debris (data written but never published). Resizing the
    * bucket layout is [[rebucket]]'s job. Single-writer: run with the
    * stream quiesced. Returns (versionsDeleted, filesBefore,
    * filesAfter).
    */
  def vacuum(
      spark: SparkSession,
      dir: String,
      keepVersions: Int
  ): (Int, Long, Long) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val before = CommitLog.currentFiles(dir).size.toLong
    val latest = latestVersion(dir)
    val cutoff = latest.toLong - keepVersions + 1
    val deleted = if (cutoff > 1) CommitLog.pruneBelow(dir, cutoff) else 0
    // GC: data dirs referenced by NO surviving version — pruned history
    // and unpublished crash debris both die here
    val live = CommitLog.referencedDataDirs(dir)
    Option(new java.io.File(s"$dir/data").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !live.contains(d.getName))
      .foreach(deleteRecursively)
    (deleted, before, CommitLog.currentFiles(dir).size.toLong)
  }

  /** Rewrite the whole CURRENT snapshot into `numBuckets` buckets and
    * pin the new layout — the resize path for a table that outgrew its
    * bucket count. One full-snapshot job, published as one replace
    * commit (readers see old or new, never a mix). Run quiesced.
    */
  def rebucket(
      spark: SparkSession,
      dir: String,
      keys: Seq[String],
      numBuckets: Int
  ): Unit = {
    require(numBuckets >= 1)
    val snap = read(spark, dir)
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong)).cast("int")
    val uuid = java.util.UUID.randomUUID().toString
    val dataDir = s"$dir/data/$uuid"
    snap
      .withColumn(BucketCol, bucketOf)
      .repartition(numBuckets, col(BucketCol))
      .sortWithinPartitions((BucketCol +: keys).map(col): _*)
      .write.partitionBy(BucketCol).parquet(dataDir)
    writeSnapshotMeta(dir, numBuckets)
    CommitLog.commitFiles(dir, bucketFiles(dir, dataDir).sorted, replace = true): Unit
  }

  // ---- internals -----------------------------------------------------

  /** Pin numBuckets on first creation; afterwards the stored value wins
    * (a different bucket function would make pruning read wrong files).
    */
  private def ensureNumBuckets(dir: String, requested: Int): Int = {
    require(requested >= 1)
    val p = Paths.get(dir, "_snapshot.json")
    if (Files.exists(p)) {
      val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(s"corrupt $p"))
    } else {
      writeSnapshotMeta(dir, requested)
      requested
    }
  }

  /** tmp + ATOMIC_MOVE (the CommitLog metadata discipline): a crash
    * mid-write must never leave a torn _snapshot.json — it exists but
    * parses as corrupt, and ensureNumBuckets would brick the table.
    */
  private def writeSnapshotMeta(dir: String, numBuckets: Int): Unit = {
    val tmp = Paths.get(dir, s".tmp-snapshot-${java.util.UUID.randomUUID()}")
    Files.write(tmp, s"""{"numBuckets":$numBuckets}""".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "_snapshot.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def bucketOfPath(relative: String): Option[Int] =
    BucketRe.findFirstMatchIn(relative).map(_.group(1).toInt)

  /** data-relative paths of the bucketed files just written under
    * `dataDir` (data/<uuid>/__b=<n>/part-*.parquet).
    */
  private def bucketFiles(base: String, dataDir: String): Seq[String] = {
    val prefix = Paths.get(base).toAbsolutePath
    Option(new java.io.File(dataDir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"$BucketCol="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => prefix.relativize(f.toPath.toAbsolutePath).toString)
      .sorted.toSeq
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
