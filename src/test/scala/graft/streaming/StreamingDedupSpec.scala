package graft.streaming

import graft.SparkTestSession
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val base = "the quick brown fox jumps over the lazy dog again and again, " * 4

  test("incremental dedup finds duplicates across batches and within a batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val work = java.nio.file.Files.createTempDirectory("sdedup-spec").toString
    val q = StreamingDedup.incrementalNearDuplicates(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", work,
      threshold = 0.9, numHashes = 120, bands = 20,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      checkpoint = s"$work/ckpt")
    // batch 1: doc 1 and its exact copy doc 2 (within-batch pair), doc 3 unrelated
    in.addData((1L, base), (2L, base), (3L, "completely different text about spark partitions " * 5))
    q.processAllAvailable()
    // batch 2: doc 10 duplicates doc 1/2 from the INDEX (cross-batch), doc 11 unrelated
    in.addData((10L, base + "tail."), (11L, "yet another unrelated document body " * 6))
    q.processAllAvailable()
    q.stop()
    val pairs = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"within-batch pair missing: $pairs")
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)), s"cross-batch pairs missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 11L || p._2 == 11L),
      s"false positives: $pairs")
  }

  test("at-least-once replay of a committed batch changes nothing (no self-pairs, no dupes)") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-replay").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = Seq((1L, base), (2L, base),
      (3L, "completely different text about spark partitions " * 5)).toDF("id", "text")
    val b2 = Seq((10L, base + "tail."),
      (11L, "yet another unrelated document body " * 6)).toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20)
    // crash window: the batch appended its pairs AND its index entries but
    // the checkpoint commit was lost — the restarted stream replays it
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20)
    StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20)
    val streamed = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup
      .nearDuplicates(b1.union(b2).toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, numHashes = 120, bands = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"replayed streamed=$streamed batch=$batch")
    assert(!streamed.exists(p => p._1 == p._2), s"self-pairs after replay: $streamed")
  }

  test("batchId'd processing is exactly-once: raw pair rows hold no duplicates after replay") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-eo").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = Seq((1L, base), (2L, base)).toDF("id", "text")
    val b2 = Seq((10L, base + "tail.")).toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L))
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L)) // replayed
    StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, batchId = Some(1L))
    // RAW read, no distinct: the commit log itself must hold each pair once
    val raw = CommitLog.read(spark, s"$work/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(raw.size == raw.distinct.size, s"duplicate raw pairs after replay: $raw")
    assert(raw.toSet == Set((1L, 2L), (1L, 10L), (2L, 10L)))
  }

  test("a pre-sigb bands log is rejected naming its dir and the missing sigb column") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val work = java.nio.file.Files.createTempDirectory("sdedup-legacy").toString
    // a bands log recorded with the 3-column schema and data files
    // carrying no sigb at all
    val bandsDir = s"$work/bands"
    val legacySchema = StructType(Seq(
      StructField("id", LongType), StructField("band", IntegerType), StructField("bucket", LongType)))
    CommitLog.init(bandsDir, legacySchema)
    CommitLog.append(Seq((1L, 0, 7L)).toDF("id", "band", "bucket"), bandsDir, 0L): Unit
    def assertRejected(e: IllegalStateException): Unit =
      assert(e.getMessage.contains(bandsDir) && e.getMessage.contains("missing column sigb"),
        e.getMessage)
    assertRejected(intercept[IllegalStateException](
      StreamingDedup.incrementalNearDuplicatesInit(spark, work)))
    val b = Seq((10L, base)).toDF("id", "text")
    assertRejected(intercept[IllegalStateException](
      StreamingDedup.processBatch(b, work, 0.9, 5, 120, 20, batchId = Some(1L))))
    assert(CommitLog.schemaOf(bandsDir) == legacySchema, "the rejected log was rewritten")
  }

  test("restart from checkpoint resumes the index and converges to the batch oracle") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-restart").toString
    val src = java.nio.file.Files.createTempDirectory("sdedup-src").toString
    val ckpt = s"$work/ckpt"
    val a = Seq((1L, base), (2L, base),
      (3L, "completely different text about spark partitions " * 5)).toDF("id", "text")
    val b = Seq((10L, base + "tail."),
      (11L, "yet another unrelated document body " * 6)).toDF("id", "text")
    a.write.mode("append").parquet(src)
    def stream() = spark.readStream.schema(a.schema).parquet(src)
    // run 1: processes A, commits the checkpoint, dies
    val q1 = StreamingDedup.incrementalNearDuplicates(
      stream(), "id", "text", work, threshold = 0.9, numHashes = 120, bands = 20,
      checkpoint = ckpt)
    q1.awaitTermination()
    // more data lands while the stream is down
    b.write.mode("append").parquet(src)
    // run 2: same checkpoint — must resume (keep A's index, process only B)
    val q2 = StreamingDedup.incrementalNearDuplicates(
      stream(), "id", "text", work, threshold = 0.9, numHashes = 120, bands = 20,
      checkpoint = ckpt)
    q2.awaitTermination()
    val streamed = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup
      .nearDuplicates(a.union(b).toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, numHashes = 120, bands = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"restarted streamed=$streamed batch=$batch")
  }

  test("compactIndex bounds file counts across a long replay without changing the pairs") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-compact").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    // a long replay: 8 batches, each appending files to all three datasets
    (0 until 8).foreach { b =>
      val docs = Seq(
        (b * 10L + 1, base + s" batch $b"),
        (b * 10L + 2, s"unique filler text for batch $b " * 6)).toDF("id", "text")
      StreamingDedup.processBatch(docs, work, 0.9, 5, 120, 20)
    }
    val preCompact = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def countParquet(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(countParquet).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    def files(d: String) = countParquet(new java.io.File(s"$work/$d"))
    assert(files("bands") > 8, s"replay should have fragmented the bands index, got ${files("bands")} files")
    val stats = StreamingDedup.compactIndex(spark, work)
    assert(stats.forall { case (_, (b4, af)) => af <= b4 }, s"compaction grew a dataset: $stats")
    assert(files("bands") <= 2 && files("shingles") <= 2 && files("pairs") <= 2,
      s"file counts not bounded: bands=${files("bands")} shingles=${files("shingles")} pairs=${files("pairs")}")
    assert(StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == preCompact)
  }

  test("bucketed bands compaction: probes prune to touched partitions, pairs unchanged") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-bucketed").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = (1L to 16L).map(i =>
      (i, if (i == 1L) base else s"unique document number $i with its own content " * 6))
      .toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L))
    // force the partitioned layout: 16 docs × 20 bands = 320 rows > 10
    // (bands pinned to the bucket-hash layout — AUTO could measure its
    // way to the hybrid at this fixture size, which is its own test)
    val stats = StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L,
      bandsPartitions = StreamingDedup.FollowIndexPartitions)
    val files = CommitLog.currentFiles(s"$work/bands")
    assert(files.forall(_.contains(s"/__p${StreamingDedup.IndexPartitions}=")),
      s"bands not bucket-partitioned after compaction: ${files.take(3)}")
    assert(stats("bands")._2 <= StreamingDedup.IndexPartitions.toLong)
    // a 1-doc batch touches ≤ 20 of the 64 partitions → pruning must
    // keep a strict subset of the index files
    val oneDoc = Seq((10L, base + "tail.")).toDF("id", "text")
    val touched = oneDoc
      .select(graft.operators.Dedup.minhashSignature(col("text"), 5, 120).as("sig"))
      .select(posexplode(transform(sequence(lit(0), lit(19)),
        b => xxhash64(slice(col("sig"), b * 6 + 1, lit(6))))).as(Seq("band", "bucket")))
      .select(pmod(xxhash64(col("band"), col("bucket")),
        lit(StreamingDedup.IndexPartitions.toLong)).cast("int").as("p"))
      .distinct().collect().map(_.getInt(0)).toSet
    val pruned = StreamingDedup.pruneBandFiles(
      files, Map(StreamingDedup.IndexPartitions -> touched))
    assert(pruned.size < files.size,
      s"pruning kept everything: ${pruned.size} of ${files.size}")
    // and the pruned probe still finds the cross-batch duplicate
    StreamingDedup.processBatch(oneDoc, work, 0.9, 5, 120, 20, batchId = Some(1L))
    val pairs = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 10L)), s"cross-batch pair missing after compaction: $pairs")
    assert(!pairs.exists(p => p._1 != 1L && p._2 != 10L), s"false positives: $pairs")
  }

  test("partitioned shingles compaction: verify reads prune to candidate partitions, pairs unchanged") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-shprune").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = (1L to 16L).map(i =>
      (i, if (i == 1L) base else s"unique document number $i with its own content " * 6))
      .toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L))
    StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L, indexPartitions = 32)
    val shFiles = CommitLog.currentFiles(s"$work/shingles")
    assert(shFiles.forall(_.contains("/__p32=")),
      s"shingles not id-partitioned after compaction: ${shFiles.take(3)}")
    // a 1-duplicate batch's candidates touch ≤ a few of the 32 id
    // partitions → the verify scan must keep a strict subset of files
    // (candidate ids here: 1 (old) and 10 (new); old id 1's partition
    // is the only one the accumulated log can contribute)
    val touched = Set(
      spark.range(1).select(pmod(xxhash64(lit(1L)), lit(32L)).cast("int"))
        .collect()(0).getInt(0),
      spark.range(1).select(pmod(xxhash64(lit(10L)), lit(32L)).cast("int"))
        .collect()(0).getInt(0))
    val pruned = StreamingDedup.pruneBandFiles(shFiles, Map(32 -> touched))
    assert(pruned.size < shFiles.size,
      s"shingle pruning kept everything: ${pruned.size} of ${shFiles.size}")
    // the pruned verify still confirms the cross-batch duplicate with
    // the exact jaccard, and nothing else
    val oneDoc = Seq((10L, base + "tail.")).toDF("id", "text")
    StreamingDedup.processBatch(oneDoc, work, 0.9, 5, 120, 20, batchId = Some(1L))
    val pairs = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L)), s"expected exactly the cross pair: $pairs")
    // and a batch ingested AGAINST the partitioned layout appends
    // unpartitioned files that later batches must still read whole
    // (pruneBandFiles keeps path-unpartitioned files unconditionally)
    val shAfter = CommitLog.currentFiles(s"$work/shingles")
    val plain = shAfter.filterNot(_.contains("/__p32="))
    assert(plain.nonEmpty, "batch append lost its unpartitioned shingle file")
    assert(StreamingDedup.pruneBandFiles(shAfter, Map(32 -> Set.empty[Int]))
      .toSet == plain.toSet, "prune must never drop unpartitioned appends")
  }

  test("bandsPartitions=1 keeps bands id-sorted (hybrid marker) while shingles still partition") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-nightly").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = (1L to 16L).map(i =>
      (i, if (i == 1L) base else s"unique document number $i with its own content " * 6))
      .toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L))
    StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L,
      indexPartitions = 32, bandsPartitions = 1)
    // the hybrid layout carries the __p1=0 marker (so re-compactions
    // recognize the base and stay minor) but never bucket-partitions
    val bandFiles = CommitLog.currentFiles(s"$work/bands")
    assert(bandFiles.nonEmpty && bandFiles.forall(_.contains("/__p1=0/")),
      s"bands should carry the sorted-hybrid marker: ${bandFiles.take(3)}")
    assert(CommitLog.currentFiles(s"$work/shingles").forall(_.contains("/__p32=")),
      "shingles must still partition")
    // and the mixed layout still finds the cross-batch duplicate exactly
    val oneDoc = Seq((10L, base + "tail.")).toDF("id", "text")
    StreamingDedup.processBatch(oneDoc, work, 0.9, 5, 120, 20, batchId = Some(1L))
    val pairs = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L)), s"expected exactly the cross pair: $pairs")
  }

  test("minor compaction folds only the delta: base tiers carried by reference, pairs unchanged") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-tiered").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = (1L to 16L).map(i =>
      (i, if (i == 1L) base else s"unique document number $i with its own content " * 6))
      .toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L))
    val major = StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L)
    assert(major("bands").mode == "major" && major("shingles").mode == "major", s"$major")
    val baseBands = CommitLog.currentFiles(s"$work/bands").toSet
    val baseSh = CommitLog.currentFiles(s"$work/shingles").toSet
    // mtimes of the base files: a minor compaction must never rewrite them
    def mtimes(d: String, fs: Set[String]) =
      fs.map(f => f -> new java.io.File(s"$work/$d/$f").lastModified).toMap
    val bandMt = mtimes("bands", baseBands)
    val b2 = Seq((20L, base + "tail."), (21L, "more unrelated filler words here " * 6))
      .toDF("id", "text")
    StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, batchId = Some(1L))
    val minor = StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L)
    assert(minor("bands").mode == "minor" && minor("shingles").mode == "minor", s"$minor")
    val afterBands = CommitLog.currentFiles(s"$work/bands").toSet
    val afterSh = CommitLog.currentFiles(s"$work/shingles").toSet
    assert(baseBands.subsetOf(afterBands), "base bands tier not carried by reference")
    assert(baseSh.subsetOf(afterSh), "base shingles tier not carried by reference")
    assert(bandMt.forall { case (f, t) => new java.io.File(s"$work/bands/$f").lastModified == t },
      "minor compaction rewrote a carried base file")
    // every file is now in SOME tier of the layout (no loose appends left)
    assert(afterBands.forall(_.contains("/__p")) && afterSh.forall(_.contains("/__p")))
    assert(minor("bands").tiers == 2 && minor("shingles").tiers == 2, s"$minor")
    // a re-run with nothing appended is a no-op
    val noop = StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L)
    assert(noop("bands").mode == "noop" && noop("shingles").mode == "noop", s"$noop")
    // and the tiered layout still yields exactly the batch operator's pairs
    val streamed = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup
      .nearDuplicates(b1.union(b2).toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, numHashes = 120, bands = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // duplicates found AFTER the tiered compaction still land: the
    // probe against BOTH tiers must equal the batch operator's pairs
    val b3 = Seq((30L, base + " extra")).toDF("id", "text")
    StreamingDedup.processBatch(b3, work, 0.9, 5, 120, 20, batchId = Some(2L))
    val p3 = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch3 = graft.operators.Dedup
      .nearDuplicates(b1.union(b2).union(b3).toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, numHashes = 120, bands = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(p3 == batch3, s"cross-tier probe diverged: streamed=$p3 batch=$batch3")
    assert(p3.exists(p => p._2 == 30L), s"no pair found for the post-compaction doc: $p3")
  }

  test("maxTiers forces a major rewrite that collapses the tiers back to one") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-maxtiers").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    def ingest(b: Long): Unit = StreamingDedup.processBatch(
      (1L to 8L).map(i => (b * 100 + i, s"doc $b $i body " * 6)).toDF("id", "text"),
      work, 0.9, 5, 120, 20, batchId = Some(b))
    ingest(0L)
    assert(StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L,
      maxTiers = 2)("bands").mode == "major")
    ingest(1L)
    assert(StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L,
      maxTiers = 2)("bands").mode == "minor")
    ingest(2L)
    // a second minor would make 3 tiers > maxTiers=2 → major, one tier
    val forced = StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L,
      maxTiers = 2)
    assert(forced("bands").mode == "major" && forced("bands").tiers == 1, s"$forced")
  }

  test("AUTO bands layout follows an explicitly chosen base across minor compactions") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sdedup-auto").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val b1 = (1L to 16L).map(i => (i, s"unique document number $i body " * 6)).toDF("id", "text")
    StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L))
    // owner pins the hybrid; later AUTO maintenance must extend it, not flap
    StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L, bandsPartitions = 1)
    StreamingDedup.processBatch(Seq((20L, "late arrival words " * 6)).toDF("id", "text"),
      work, 0.9, 5, 120, 20, batchId = Some(1L))
    val auto = StreamingDedup.compactIndexDetailed(spark, work, targetRecordsPerFile = 10L)
    assert(auto("bands").mode == "minor" && auto("bands").layout == "p1", s"$auto")
    assert(CommitLog.currentFiles(s"$work/bands").forall(_.contains("/__p1=0/")))
  }

  private def pairRows(work: String): Set[(Long, Long, Double)] =
    StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def batchPairs(docs: DataFrame): Set[(Long, Long, Double)] =
    graft.operators.Dedup
      .nearDuplicates(docs.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, numHashes = 120, bands = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** `body`'s result and the shuffle bytes its tasks wrote. */
  private def withShuffleBytes[A](body: => A): (A, Long) = {
    val written = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val out =
      try { val a = body; ListenerDrain.drain(spark.sparkContext); a }
      finally spark.sparkContext.removeSparkListener(l)
    (out, written.get)
  }

  /** Two batches with within- and cross-batch duplicates; the first
    * carries 16 unrelated documents, so a compaction spreads the
    * shingle log over several id partitions.
    */
  private def dupBatches = {
    import spark.implicits._
    (Seq((1L, base), (2L, base),
      (3L, "completely different text about spark partitions " * 5)).toDF("id", "text")
      .union((20L until 36L).map(i => (i, s"unique document number $i with its own content " * 6))
        .toDF("id", "text")),
     Seq((10L, base + "tail."), (11L, base),
      (12L, "yet another unrelated document body " * 6)).toDF("id", "text"))
  }

  test("a micro-batch processBatch shuffles nothing and equals the batch operator exactly") {
    val (b1, b2) = dupBatches
    val work = java.nio.file.Files.createTempDirectory("sdedup-noshuffle").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val (_, first) =
      withShuffleBytes(StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L)))
    // the second batch probes a bucket-partitioned index and an
    // id-partitioned shingle log: both prunes run without a shuffle too
    StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L, indexPartitions = 32,
      bandsPartitions = StreamingDedup.FollowIndexPartitions)
    val (stats, second) =
      withShuffleBytes(StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, batchId = Some(1L)))
    assert(first == 0L && second == 0L, s"shuffle bytes written: $first, $second")
    assert(stats.shFilesSelected < stats.shFilesTotal, s"verify read every shingle file: $stats")
    val streamed = pairRows(work)
    assert(streamed == batchPairs(b1.union(b2)), s"streamed=$streamed")
    assert(streamed.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 10L), (2L, 10L),
      (1L, 11L), (2L, 11L), (10L, 11L)), s"unexpected pair set: $streamed")
  }

  test("a batch past the candidate budget takes the direct plan and finds the same pairs") {
    val (b1, b2) = dupBatches
    def run(budget: Int): (Set[(Long, Long, Double)], StreamingDedup.BatchStats, Long) = {
      val work = java.nio.file.Files.createTempDirectory("sdedup-catchup").toString
      StreamingDedup.incrementalNearDuplicatesInit(spark, work)
      StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, Some(0L), budget)
      StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L, indexPartitions = 32)
      val (stats, shuffled) =
        withShuffleBytes(StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, Some(1L), budget))
      (pairRows(work), stats, shuffled)
    }
    val (local, localStats, localShuffled) = run(4096)
    val (direct, directStats, directShuffled) = run(0)
    // the direct plan shuffles, and joins the candidates against the
    // whole shingle log
    assert(localShuffled == 0L && directShuffled > 0L, s"$localShuffled, $directShuffled")
    assert(localStats.shFilesSelected < localStats.shFilesTotal, s"$localStats")
    assert(directStats.shFilesSelected == directStats.shFilesTotal, s"$directStats")
    assert(direct == local, s"direct=$direct local=$local")
    assert(local == batchPairs(b1.union(b2)), s"local=$local")
  }

  test("a batch whose pairs commit failed replays to exactly the missing pairs on both verify plans") {
    val (b1, b2) = dupBatches
    Seq(4096, 0).foreach { budget =>
      val work = java.nio.file.Files.createTempDirectory("sdedup-crash").toString
      StreamingDedup.incrementalNearDuplicatesInit(spark, work)
      StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, Some(0L), budget)
      // crash window: batch 1's pairs commit fails (a file where its data
      // dir belongs) while its bands and shingles publish
      val data = new java.io.File(s"$work/pairs/data")
      val moved = new java.io.File(s"$work/pairs/data.moved")
      assert(data.renameTo(moved) && data.createNewFile())
      intercept[Exception](StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, Some(1L), budget))
      assert(data.delete() && moved.renameTo(data))
      assert(CommitLog.isCommitted(s"$work/bands", 1L) && CommitLog.isCommitted(s"$work/shingles", 1L))
      assert(!CommitLog.isCommitted(s"$work/pairs", 1L))
      // the replay meets its own rows in the index: no self-pairs, and
      // a second replay is skipped whole
      StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, Some(1L), budget)
      assert(StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, Some(1L), budget).replayed)
      val raw = CommitLog.read(spark, s"$work/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(raw.size == raw.distinct.size, s"budget $budget: duplicate raw pairs $raw")
      assert(raw.toSet == batchPairs(b1.union(b2)), s"budget $budget: $raw")
    }
  }

  /** `body`'s result, the Spark jobs it started, and the write commands
    * (the `FileFormatWriter` path of `df.write`) it ran.
    */
  private def withJobsAndWrites[A](body: => A): (A, Int, Seq[String]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.logical.collect { case w: DataWritingCommand => w.nodeName }.foreach(writes.add)
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(ql)
    val out =
      try { val a = body; ListenerDrain.drain(spark.sparkContext); a }
      finally {
        spark.sparkContext.removeSparkListener(l)
        spark.listenerManager.unregister(ql)
      }
    import scala.jdk.CollectionConverters._
    (out, jobs.get, writes.asScala.toSeq)
  }

  test("a micro-batch processBatch runs at most 4 jobs and no write job") {
    val (b1, b2) = dupBatches
    val work = java.nio.file.Files.createTempDirectory("sdedup-jobs").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    val (_, jobs1, writes1) =
      withJobsAndWrites(StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, batchId = Some(0L)))
    StreamingDedup.compactIndex(spark, work, targetRecordsPerFile = 10L, indexPartitions = 32,
      bandsPartitions = StreamingDedup.FollowIndexPartitions)
    val (_, jobs2, writes2) =
      withJobsAndWrites(StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, batchId = Some(1L)))
    // staging, the broadcast of the batch's bucket rows, the candidate
    // collect and the verify collect
    assert(jobs1 <= 4 && jobs2 <= 4, s"jobs per batch: $jobs1, $jobs2")
    assert(writes1.isEmpty && writes2.isEmpty, s"write commands ran: ${writes1 ++ writes2}")
    assert(pairRows(work) == batchPairs(b1.union(b2)))
    // the catch-up plan still writes its pairs with a Spark write job
    val direct = java.nio.file.Files.createTempDirectory("sdedup-jobs-direct").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, direct)
    StreamingDedup.processBatch(b1, direct, 0.9, 5, 120, 20, Some(0L), 0)
    val (_, _, writes3) =
      withJobsAndWrites(StreamingDedup.processBatch(b2, direct, 0.9, 5, 120, 20, Some(1L), 0))
    assert(writes3.size == 1, s"catch-up write commands: $writes3")
  }

  /** Data dirs of `dataset` under `work`. */
  private def dataDirs(work: String, dataset: String): Set[String] =
    Option(new java.io.File(s"$work/$dataset/data").listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet

  test("a batch whose index publish fails leaves nothing visible, replays exactly, and its stages are vacuumed") {
    val (b1, b2) = dupBatches
    val b2Ids = b2.collect().map(_.getLong(0)).toSet
    Seq(4096, 0).foreach { budget =>
      val work = java.nio.file.Files.createTempDirectory("sdedup-stagefail").toString
      StreamingDedup.incrementalNearDuplicatesInit(spark, work)
      StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, Some(0L), budget)
      val before = Seq("bands", "shingles", "pairs").map(d => d -> dataDirs(work, d)).toMap
      // crash window: batch 1 is staged, then its first publish fails (a
      // file where the bands manifests belong)
      val commits = new java.io.File(s"$work/bands/_commits")
      val moved = new java.io.File(s"$work/bands/_commits.moved")
      assert(commits.renameTo(moved) && commits.createNewFile())
      intercept[Exception](StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, Some(1L), budget))
      assert(commits.delete() && moved.renameTo(commits))
      // no row of the batch is visible in any log
      Seq("bands", "shingles").foreach { d =>
        val ids = CommitLog.read(spark, s"$work/$d").collect().map(_.getLong(0)).toSet
        assert((ids & b2Ids).isEmpty, s"budget $budget: $d shows batch 1 rows")
      }
      assert(pairRows(work) == batchPairs(b1), s"budget $budget: ${pairRows(work)}")
      val orphans = Seq("bands", "shingles").map(d => d -> (dataDirs(work, d) -- before(d))).toMap
      assert(orphans.values.forall(_.nonEmpty), s"budget $budget: no staged dirs $orphans")
      // the replay publishes the batch once and finds exactly its pairs
      StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, Some(1L), budget)
      val raw = CommitLog.read(spark, s"$work/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(raw.size == raw.distinct.size, s"budget $budget: duplicate raw pairs $raw")
      assert(raw.toSet == batchPairs(b1.union(b2)), s"budget $budget: $raw")
      // the next compaction vacuums the stages that never published
      StreamingDedup.compactIndex(spark, work)
      orphans.foreach { case (d, dirs) =>
        assert((dataDirs(work, d) & dirs).isEmpty, s"budget $budget: $d stages left: $dirs")
      }
    }
  }

  test("without a batchId, a retry after a failed pairs publish finds the batch operator's pairs") {
    val (b1, b2) = dupBatches
    Seq(4096, 0).foreach { budget =>
      val work = java.nio.file.Files.createTempDirectory("sdedup-retry").toString
      StreamingDedup.incrementalNearDuplicatesInit(spark, work)
      StreamingDedup.processBatch(b1, work, 0.9, 5, 120, 20, None, budget)
      val data = new java.io.File(s"$work/pairs/data")
      val moved = new java.io.File(s"$work/pairs/data.moved")
      assert(data.renameTo(moved) && data.createNewFile())
      intercept[Exception](StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, None, budget))
      assert(data.delete() && moved.renameTo(data))
      StreamingDedup.processBatch(b2, work, 0.9, 5, 120, 20, None, budget)
      // the index now holds batch 1 twice; candidate sets and the pairs
      // read's distinct() absorb the copies
      val shIds = CommitLog.read(spark, s"$work/shingles").collect().map(_.getLong(0)).toSeq
      assert(shIds.count(_ == 10L) == 2, s"budget $budget: $shIds")
      assert(pairRows(work) == batchPairs(b1.union(b2)), s"budget $budget: ${pairRows(work)}")
    }
  }

  test("staged index and pairs files carry the codec df.write.parquet uses under the session conf") {
    val (b1, b2) = dupBatches
    def extension(f: String): String = f.substring(f.lastIndexOf("-c000") + "-c000".length)
    val gzip = spark.newSession()
    gzip.conf.set("spark.sql.parquet.compression.codec", "gzip")
    Seq(spark, gzip).foreach { s =>
      val out = java.nio.file.Files.createTempDirectory("sdedup-codec-ref").toString
      s.range(3).write.mode("overwrite").parquet(out)
      val want = new java.io.File(out).list().filter(_.endsWith(".parquet")).map(extension).toSet
      assert(want.size == 1, s"reference write: $want")
      val work = java.nio.file.Files.createTempDirectory("sdedup-codec").toString
      StreamingDedup.incrementalNearDuplicatesInit(s, work)
      StreamingDedup.processBatch(s.createDataFrame(b1.rdd, b1.schema), work, 0.9, 5, 120, 20, Some(0L))
      StreamingDedup.processBatch(s.createDataFrame(b2.rdd, b2.schema), work, 0.9, 5, 120, 20, Some(1L))
      val files = Seq("bands", "shingles", "pairs").map(d => d -> CommitLog.currentFiles(s"$work/$d")).toMap
      assert(files.values.forall(_.nonEmpty), s"$files")
      assert(files.values.flatten.map(extension).toSet == want,
        s"codec ${s.conf.get("spark.sql.parquet.compression.codec")}: $files")
    }
  }

  test("a null text or a null id writes the rows the sketch expression chain wrote") {
    import spark.implicits._
    val batch = Seq[(java.lang.Long, String)]((1L, base), (2L, base), (3L, null),
      (null, base + "x"), (4L, ""), (5L, "abc")).toDF("id", "text")
    val work = java.nio.file.Files.createTempDirectory("sdedup-nulls").toString
    StreamingDedup.incrementalNearDuplicatesInit(spark, work)
    StreamingDedup.processBatch(batch, work, 0.9, 5, 120, 20, batchId = Some(0L))
    // the logs as the Catalyst chain built them before the sketch kernel
    val sig = batch.select(col("id").cast("long").as("id"),
      graft.operators.Dedup.minhashSignature(col("text"), 5, 120).as("sig"),
      graft.operators.Dedup.sortedShingleHashes(col("text"), 5).as("sh"))
    val wantBands = sig.select(col("id"), graft.operators.Dedup.packSigBytes(col("sig")).as("sigb"),
      posexplode(transform(sequence(lit(0), lit(19)),
        b => xxhash64(slice(col("sig"), b * 6 + 1, lit(6))))).as(Seq("band", "bucket")))
    def rows(df: DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toSeq.map {
        case a: Array[Byte] => a.mkString("bytes[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
    val bandCols = Seq("id", "band", "bucket", "sigb")
    assert(rows(CommitLog.read(spark, s"$work/bands"), bandCols: _*) == rows(wantBands, bandCols: _*))
    assert(rows(CommitLog.read(spark, s"$work/shingles"), "id", "sh") == rows(sig, "id", "sh"))
    // a null text bands every row to the seed, with a null sketch
    assert(rows(CommitLog.read(spark, s"$work/bands").where(col("id") === 3L), "bucket", "sigb") ==
      Seq.fill(20)("42|null"))
    assert(pairRows(work) == Set((1L, 2L, 1.0)))
  }

  test("processBatch over a local frame sketches inside its tasks, not in the optimizer") {
    // records every LocalRelation an optimized plan of the batch holds:
    // a sketch column there means the optimizer folded the sketch into a
    // local relation, i.e. evaluated it on the driver
    val session = spark.newSession()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    session.experimental.extraOptimizations = Seq(new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = {
        plan.foreach {
          case l: LocalRelation => seen.add(l.output.map(_.name))
          case _ =>
        }
        plan
      }
    })
    import session.implicits._
    val batch = Seq((1L, base), (2L, base),
      (3L, "completely different text about spark partitions " * 5)).toDF("id", "text")
    val work = java.nio.file.Files.createTempDirectory("sdedup-intask").toString
    StreamingDedup.incrementalNearDuplicatesInit(session, work)
    StreamingDedup.processBatch(batch, work, 0.9, 5, 120, 20, batchId = Some(0L))
    import scala.jdk.CollectionConverters._
    val relations = seen.asScala.toSeq
    assert(relations.nonEmpty, "the recording rule saw no local relation")
    val sketched = relations.filter(_.exists(Set("sh", "sig", "sigb", "buckets")))
    assert(sketched.isEmpty, s"sketch columns in a local relation: $sketched")
    assert(pairRows(work) == Set((1L, 2L, 1.0)))
  }

  test("the driver-side id partition equals Spark's pmod(xxhash64(id), m)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    val ids = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue, -42L) ++
      Seq.fill(200)(rnd.nextLong()) ++ Seq.fill(50)(-math.abs(rnd.nextLong() % 1000000L))
    Seq(7, 32, 64).foreach { m =>
      val viaSpark = ids.toDF("id")
        .select(col("id"), pmod(xxhash64(col("id")), lit(m.toLong)).cast("int"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.foreach(id => assert(StreamingDedup.idPartition(id, m) == viaSpark(id), s"id $id, modulus $m"))
    }
  }

  test("incremental pairs equal the batch operator's pairs on the same corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val work = java.nio.file.Files.createTempDirectory("sdedup-spec2").toString
    val q = StreamingDedup.incrementalNearDuplicates(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", work,
      threshold = 0.9, numHashes = 120, bands = 20,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      checkpoint = s"$work/ckpt")
    docs.grouped((docs.length / 4).max(1)).foreach { g => in.addData(g.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = StreamingDedup.pairs(spark, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup
      .nearDuplicates(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.9, numHashes = 120, bands = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
  }
}
