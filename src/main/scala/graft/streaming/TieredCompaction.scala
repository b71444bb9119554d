package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tiered (LSM-style) maintenance for [[CommitLog]] datasets, shared by
  * every streaming index owner ([[StreamingDedup.compactIndex]],
  * [[StreamingSpanDedup.compactIndex]]): a dataset's layout is a set of
  * TIERS, each one `data/<uuid>/` generation of files under
  * `__p<modulus>=<value>/` partition dirs (modulus 1 = the sorted
  * single-partition hybrid — the marker makes the base self-describing).
  *
  *  - MINOR compaction folds ONLY the files appended since the last
  *    compaction into one new tier of the base layout and carries every
  *    base file forward BY REFERENCE in the replace commit (the
  *    [[SnapshotUpsert]] bucket-carry pattern): maintenance cost is
  *    O(delta), never O(index) — measured minor 3.3-3.8s on 25-100 MB
  *    deltas vs major 27-56s on 2.5-10.4 GB indexes (SCALING.md r17).
  *  - MAJOR compaction (no base, mixed moduli, tier count past
  *    `maxTiers`, or `incremental = false`) rewrites everything into a
  *    single tier — the rare O(index) pass that bounds per-partition
  *    file counts, amortized across `maxTiers` minors.
  *
  * Readers union the tiers and prune per FILE by the path's
  * `(modulus, value)` ([[pruneFiles]]), so correctness never depends on
  * tier count and a workDir compacted at different partition counts
  * over its lifetime still prunes each file with exactly its writer's
  * hash. Each compaction publishes as ONE transactional replace commit;
  * superseded data generations vacuum only after the publish.
  */
object TieredCompaction {

  /** `partitions` sentinel: follow the caller's index partition count. */
  val FollowIndexPartitions = -1

  /** `partitions` sentinel: pick the layout from MEASURED on-disk sizes
    * (see [[compactKeyed]]).
    */
  val AutoLayout = -2

  /** AUTO trips to the sorted hybrid when the key-hash partitioned
    * rewrite inflates the input bytes past this ratio (scattering rows
    * can destroy dictionary locality of a fat carried column — measured
    * ~9x on the streaming-dedup sigb sketch, SCALING.md r16). At 3x the
    * partition prune must win back >2/3 of its reads to break even.
    */
  private[streaming] val AutoInflationRatio = 3.0

  /** Minor-tier ceiling before a forced major: per-partition file opens
    * grow with tier count; correctness never depends on it.
    */
  val DefaultMaxTiers = 8

  private[graft] val PartDirRe = "/__p(\\d+)=(\\d+)/".r

  /** The files a reader with `touchedByModulus` (modulus → partition
    * values its probe keys hash into) must read: partitioned files whose
    * (modulus, value) is touched, every un-partitioned file
    * (pre-compaction appends), and files with a modulus the reader did
    * not compute (never prune on incomplete information).
    */
  private[graft] def pruneFiles(
      files: Seq[String], touchedByModulus: Map[Int, Set[Int]]): Seq[String] =
    files.filter { f =>
      PartDirRe.findFirstMatchIn(f) match {
        case Some(m) =>
          touchedByModulus.get(m.group(1).toInt).forall(_.contains(m.group(2).toInt))
        case None => true
      }
    }

  /** Per-dataset compaction telemetry: what ran (`mode`: "noop" |
    * "minor" | "major"), the layout produced (`layout`: "p<modulus>"),
    * the tier count after, and the byte sizes the decision saw.
    */
  final case class DatasetCompaction(
      filesBefore: Long,
      filesAfter: Long,
      mode: String,
      layout: String,
      tiers: Int,
      deltaBytes: Long,
      baseBytes: Long)

  /** Tier id of a committed file: its data/<uuid> generation. */
  private def tierOf(f: String): String = f.split("/").take(2).mkString("/")

  /** Compact one dataset keyed on `keyCols`. Layout values:
    * `partitions > 1` = key-hash partitioned (`__p<P>=<k>/`, rows sorted
    * on the probe key within each file for row-group min/max skipping),
    * `1` = the `hybridSort`-sorted single-partition hybrid under the
    * `__p1=0/` marker, [[AutoLayout]] = follow an existing base, else
    * measure (write `autoDefault`-partitioned, compare bytes, fall back
    * to the hybrid past [[AutoInflationRatio]]). A dataset at or under
    * `targetRecordsPerFile` rows keeps the sorted single-file layout
    * whatever was asked.
    */
  def compactKeyed(
      spark: SparkSession,
      dir: String,
      targetRecordsPerFile: Long,
      partitions: Int,
      keyCols: Seq[String],
      hybridSort: Seq[String],
      incremental: Boolean = true,
      maxTiers: Int = DefaultMaxTiers,
      autoDefault: Int = StreamingDedup.IndexPartitions): DatasetCompaction = {
    require(maxTiers >= 1, s"maxTiers must be >= 1, got $maxTiers")
    val all = CommitLog.currentFiles(dir)
    val bytesOf = (fs: Seq[String]) => fs.map(f => new java.io.File(s"$dir/$f").length).sum
    val (base, delta) = all.partition(f => PartDirRe.findFirstMatchIn(f).isDefined)
    val baseModuli = base.flatMap(f => PartDirRe.findFirstMatchIn(f).map(_.group(1).toInt)).distinct
    val tiers = base.map(tierOf).distinct.size
    val deltaBytes = bytesOf(delta)
    val baseBytes = bytesOf(base)

    // layout resolution: AUTO follows an existing single-modulus base
    // (minor compactions must extend the layout they found, or the
    // choice would flap); with no base it defers to the measured
    // decision inside the major rewrite below
    val follow = if (baseModuli.size == 1) Some(baseModuli.head) else None
    val wantP = partitions match {
      case AutoLayout => follow.getOrElse(AutoLayout)
      case p => p
    }

    val minorEligible = incremental && base.nonEmpty && baseModuli.size == 1 &&
      (partitions == AutoLayout || wantP == baseModuli.head)

    if (minorEligible && delta.isEmpty && tiers <= maxTiers)
      return DatasetCompaction(all.size.toLong, all.size.toLong, "noop",
        s"p${baseModuli.head}", tiers, 0L, baseBytes)

    if (minorEligible && tiers + 1 <= maxTiers) {
      // MINOR: fold only the appended delta into one new tier of the
      // base layout; every base file rides the replace commit BY
      // REFERENCE (never read, never rewritten) — O(delta) total work
      val p = baseModuli.head
      val deltaDf = CommitLog.readFiles(spark, dir, CommitLog.schemaOf(dir), delta)
      val fresh = writeTier(spark, dir, deltaDf, p, keyCols, hybridSort,
        targetRecordsPerFile, rows = footerRowsOf(spark, dir, delta),
        inputBytes = deltaBytes)
      publishReplace(dir, base ++ fresh)
      return DatasetCompaction(all.size.toLong, (base.size + fresh.size).toLong,
        "minor", s"p$p", tiers + 1, deltaBytes, baseBytes)
    }

    // MAJOR: full rewrite to a single tier. Layout: explicit partitions
    // when given; AUTO decides from on-disk inflation of the
    // key-hash-scattered layout vs the input — by default from a
    // SAMPLED probe write (r19, VERDICT r18 #7: the first major used to
    // write the FULL dataset partitioned, measure, and rewrite it whole
    // as the hybrid when it inflated — a double O(index) write exactly
    // when no base exists yet). The sample unit is whole FILES, chosen
    // driver-side by a deterministic name-hash order until the target
    // row count accumulates: probe cost is then a read+write of the
    // sample alone (a row-hash filter was tried first and paid a FULL
    // input scan to select 16k rows — pure overhead whenever the
    // decision stays partitioned), and whole files preserve exactly the
    // property that drives inflation (a doc's duplicate payloads are
    // adjacent within its append file; the scatter write spreads them
    // like the full write would). The estimate compares the probe's
    // per-row bytes to the SAMPLED FILES' own per-row bytes. Datasets
    // too small to sample meaningfully (row floor, or a sample that
    // would exceed 1/4 of the input) keep the measured full-write
    // decision.
    val df = CommitLog.read(spark, dir)
    val rows = CommitLog.rowCount(spark, dir)
    val inBytes = baseBytes + deltaBytes
    // a dataset small enough for one target file keeps the sorted
    // single-partition layout whatever was asked — partitioning it would
    // fragment a file's worth of rows into P slivers for no prune win
    val autoP =
      if (rows <= targetRecordsPerFile) 1
      else if (wantP != AutoLayout) wantP
      else autoDefault
    var p = autoP
    if (partitions == AutoLayout && wantP == AutoLayout && p > 1 &&
        rows >= AutoSampleMinRows) {
      val byHash = all.sortBy(f => scala.util.hashing.MurmurHash3.stringHash(f))
      val sampleFiles = scala.collection.mutable.ArrayBuffer.empty[String]
      var sRows = 0L
      val it = byHash.iterator
      while (sRows < AutoSampleTargetRows && it.hasNext) {
        val f = it.next()
        sampleFiles += f
        sRows += footerRowsOf(spark, dir, Seq(f))
      }
      val sBytes = bytesOf(sampleFiles.toSeq)
      if (sRows > 0 && sRows * 4 <= rows) {
        val sampleDf = CommitLog.readFiles(spark, dir, CommitLog.schemaOf(dir),
          sampleFiles.toSeq)
        val probe = writeTier(spark, dir, sampleDf, p, keyCols, hybridSort,
          targetRecordsPerFile, sRows, inputBytes = sBytes)
        val probeBytes = bytesOf(probe)
        probe.map(tierOf).distinct.foreach(t => deleteRecursively(new java.io.File(s"$dir/$t")))
        // same ratio the measured decision uses, restricted to the sample
        if (probeBytes.toDouble > AutoInflationRatio * sBytes) p = 1
      }
    }
    var fresh = writeTier(spark, dir, df, p, keyCols, hybridSort, targetRecordsPerFile, rows,
      inputBytes = inBytes)
    if (partitions == AutoLayout && p > 1 &&
        bytesOf(fresh) > (AutoInflationRatio * inBytes).toLong) {
      // measured inflation: discard the partitioned fileset (never
      // committed — invisible to every reader) and write the hybrid.
      // Kept even after a sampled estimate (it is a free driver-side
      // stat of files just written): an estimate that under-reads true
      // inflation still lands on exactly the old measured decision, so
      // the only possible divergence from the pre-r19 behavior is an
      // OVER-reading estimate choosing the hybrid — correctness-neutral,
      // and the measured regimes sit at ~9× vs ~1× against the 3×
      // threshold, far outside sampling error.
      fresh.map(tierOf).distinct.foreach(t => deleteRecursively(new java.io.File(s"$dir/$t")))
      p = 1
      fresh = writeTier(spark, dir, df, p, keyCols, hybridSort, targetRecordsPerFile, rows,
        inputBytes = inBytes)
    }
    publishReplace(dir, fresh)
    DatasetCompaction(all.size.toLong, fresh.size.toLong, "major", s"p$p", 1,
      deltaBytes, baseBytes)
  }

  /** Target sample size (rows) for the AUTO layout probe write: big
    * enough that per-file parquet overhead (~1 KB footer/dictionary per
    * partition file) stays a small fraction of the sampled data, small
    * enough that the probe is a fraction of a full write. The probe only
    * engages when the dataset holds at least 2× this (mod >= 2).
    */
  private[streaming] val AutoSampleTargetRows = 16384L

  /** Row floor below which the probe is skipped and the old measured
    * full-write decision kept: at small row counts a p-partition write
    * is fixed-overhead-dominated (file open/footer per partition), so
    * the probe costs nearly as much as the full write it would save —
    * measured +0.8 s on the sf0.1 tiered gate (33k-row bands log) when
    * tried. At 16× the floor the probe is ≤ ~1/32 of the full write and
    * the first major's double write halves.
    */
  private[streaming] val AutoSampleMinRows = 262144L

  /** Exact row count of a file subset from parquet footers. */
  private def footerRowsOf(spark: SparkSession, dir: String, files: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(s"$dir/$f"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount
      finally r.close()
    }.sum
  }

  /** Write `df` as one tier of the `p`-modulus layout under a fresh
    * data/<uuid>/ generation and return the written files (relative to
    * `dir`), WITHOUT committing — the caller publishes.
    */
  private def writeTier(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      p: Int,
      keyCols: Seq[String],
      hybridSort: Seq[String],
      targetRecordsPerFile: Long,
      rows: Long,
      inputBytes: Long): Seq[String] = {
    val pcol = s"__p$p"
    val uuid = java.util.UUID.randomUUID().toString
    val dataDir = s"$dir/data/$uuid"
    if (p <= 1) {
      // r18: partition count no longer one-per-file, file sizing
      // delegated to maxRecordsPerFile (each task rolls files at the
      // target) — one range partition PER FILE paid a sampling pass
      // and a task launch per hundred-ish rows (the tiered gate's major
      // wrote 334 one-file tasks; measured 2x slower than 32 rolling
      // tasks for the identical on-disk layout). Same layout contract:
      // files sorted on hybridSort, ≈targetRecordsPerFile rows each.
      // r19 (VERDICT r18 #3): the cap is data-size adaptive — floor at
      // the session's parallelism, scale with the MEASURED input bytes
      // (known exactly from the files being compacted), so a multi-TB
      // major rewrite never funnels through #cores write tasks.
      val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      val nParts = math.min(nFiles.toLong,
        graft.operators.Spread.scaledPartitions(spark, BigInt(inputBytes)).toLong).toInt
        .max(1)
      df.repartitionByRange(nParts, hybridSort.map(col): _*)
        .sortWithinPartitions(hybridSort.map(col): _*)
        .withColumn(pcol, lit(0))
        .write.option("maxRecordsPerFile", targetRecordsPerFile)
        .partitionBy(pcol).parquet(dataDir)
    } else {
      df.withColumn(pcol, pmod(xxhash64(keyCols.map(col): _*), lit(p.toLong)).cast("int"))
        .repartition(p, col(pcol))
        .sortWithinPartitions((pcol +: keyCols).map(col): _*)
        .write.partitionBy(pcol).parquet(dataDir)
    }
    val prefix = java.nio.file.Paths.get(dir).toAbsolutePath
    Option(new java.io.File(dataDir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"$pcol="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => prefix.relativize(f.toPath.toAbsolutePath).toString)
      .sorted.toSeq
  }

  /** Publish `files` as the dataset's complete fileset (one replace
    * commit), checkpoint the folded history away, and vacuum data
    * generations no commit references anymore — carried tiers stay (the
    * replace commit references them); superseded appends go.
    */
  private def publishReplace(dir: String, files: Seq[String]): Unit = {
    CommitLog.commitFiles(dir, files.sorted, replace = true): Unit
    CommitLog.checkpoint(dir): Unit
    val live = CommitLog.referencedDataDirs(dir)
    Option(new java.io.File(s"$dir/data").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !live.contains(d.getName))
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
