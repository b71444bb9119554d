package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class SnapshotUpsertSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("each batch commits a new version; latest reflects all batches; old versions persist") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val dir = java.nio.file.Files.createTempDirectory("snap-upsert").toString
    val q = SnapshotUpsert.maintain(
      in.toDF().toDF("k", "v", "version"), Seq("k"), "version", dir,
      checkpoint = s"$dir-ckpt", trigger = Trigger.ProcessingTime(0))
    in.addData((1L, "a", 1L), (2L, "b", 1L))
    q.processAllAvailable()
    in.addData((1L, "a2", 2L), (3L, "c", 2L))
    q.processAllAvailable()
    q.stop()

    assert(SnapshotUpsert.latestVersion(dir) == 2)
    val latest = SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    // time travel: version 1 still shows the pre-update state
    val v1 = SnapshotUpsert.read(spark, dir, version = 1)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(v1 == Map(1L -> "a", 2L -> "b"))
    // version 0 is the empty table
    assert(SnapshotUpsert.read(spark, dir, version = 0).isEmpty)
  }

  test("a restart over the same checkpoint publishes no new commit") {
    val dir = java.nio.file.Files.createTempDirectory("snap-restart").toString
    val src = java.nio.file.Files.createTempDirectory("snap-restart-src").toString
    val v1 = (1L to 4L).map(k => (k, s"a$k", 1L)).toDF("k", "v", "version")
    v1.repartition(1).write.mode("append").parquet(src)
    Seq((1L, "a1-v2", 2L)).toDF("k", "v", "version").repartition(1).write.mode("append").parquet(src)
    // one file per micro-batch: the first run commits batches 0 and 1
    def run(): Unit = SnapshotUpsert.maintain(
      spark.readStream.schema(v1.schema).option("maxFilesPerTrigger", 1).parquet(src),
      Seq("k"), "version", dir, checkpoint = s"$dir-ckpt", numBuckets = 4).awaitTermination()
    run()
    val first = CommitLog.latestCommit(dir)
    assert(first.exists(_._2.contains(1L)), s"latest commit after the first run: $first")
    // the restart resumes past both batches instead of replaying the source
    run()
    assert(CommitLog.latestCommit(dir) == first)
    val latest = SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "a1-v2", 2L -> "a2", 3L -> "a3", 4L -> "a4"))
  }

  test("changesBetween returns exactly the net effect of the later version") {
    val dir = java.nio.file.Files.createTempDirectory("snap-cdf").toString
    val wide = (0L until 40L).map(k => (k, s"a$k", 1L)).toDF("k", "v", "ver")
    SnapshotUpsert.processBatch(wide, Seq("k"), "ver", dir, Some(0L), numBuckets = 8)
    val delta = Seq((3L, "UP", 2L), (100L, "new", 2L)).toDF("k", "v", "ver")
    SnapshotUpsert.processBatch(delta, Seq("k"), "ver", dir, Some(1L), numBuckets = 8)
    val changes = SnapshotUpsert.changesBetween(spark, dir, 1, 2)
      .as[(Long, String, Long)].collect().toSet
    assert(changes == Set((3L, "UP", 2L), (100L, "new", 2L)), changes)
    // an ignored late-lower-version batch produces an EMPTY change feed
    SnapshotUpsert.processBatch(Seq((3L, "stale", 1L)).toDF("k", "v", "ver"),
      Seq("k"), "ver", dir, Some(2L), numBuckets = 8)
    assert(SnapshotUpsert.changesBetween(spark, dir, 2, 3).isEmpty)
    // diff reads only the differing bucket files, not the snapshot
    val df = SnapshotUpsert.changesBetween(spark, dir, 1, 2)
    assert(df.inputFiles.length < graft.streaming.CommitLog.currentFiles(dir).size,
      "diff scanned the whole snapshot")
  }

  test("within-batch version conflicts resolve to the highest version") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val dir = java.nio.file.Files.createTempDirectory("snap-upsert2").toString
    val q = SnapshotUpsert.maintain(
      in.toDF().toDF("k", "v", "version"), Seq("k"), "version", dir,
      checkpoint = s"$dir-ckpt", trigger = Trigger.ProcessingTime(0))
    in.addData((1L, "old", 5L), (1L, "new", 9L), (1L, "mid", 7L))
    q.processAllAvailable()
    q.stop()
    val latest = SnapshotUpsert.read(spark, dir)
      .select($"k", $"v", $"version").as[(Long, String, Long)].collect().toSeq
    assert(latest == Seq((1L, "new", 9L)))
  }

  test("a late lower-version batch cannot overwrite newer rows or resurrect tombstones") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Boolean)]
    val dir = java.nio.file.Files.createTempDirectory("snap-upsert3").toString
    val q = SnapshotUpsert.maintain(
      in.toDF().toDF("k", "v", "version", "deleted"), Seq("k"), "version", dir,
      checkpoint = s"$dir-ckpt", trigger = Trigger.ProcessingTime(0))
    // batch 1: k=1 updated at v5, k=2 deleted at v7
    in.addData((1L, "a-v5", 5L, false), (2L, "gone", 7L, true))
    q.processAllAvailable()
    // batch 2 arrives LATE with lower versions: must change nothing for
    // k=1 and k=2, only insert k=3
    in.addData((1L, "a-v3", 3L, false), (2L, "back?", 4L, false), (3L, "c", 1L, false))
    q.processAllAvailable()
    q.stop()
    val latest = SnapshotUpsert.read(spark, dir, deleteCol = Some("deleted"))
      .select($"k", $"v", $"version").as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(latest == Seq((1L, "a-v5", 5L), (3L, "c", 1L)))
    // the tombstone itself still lives in the raw snapshot (read() filtered it)
    val raw = SnapshotUpsert.read(spark, dir)
      .where($"k" === 2L).select($"v", $"version", $"deleted")
      .as[(String, Long, Boolean)].collect().toSeq
    assert(raw == Seq(("gone", 7L, true)))
  }

  test("partition pruning: a narrow batch rewrites ONE bucket, the rest carry forward by reference") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val dir = java.nio.file.Files.createTempDirectory("snap-prune").toString
    val q = SnapshotUpsert.maintain(
      in.toDF().toDF("k", "v", "version"), Seq("k"), "version", dir,
      checkpoint = s"$dir-ckpt", trigger = Trigger.ProcessingTime(0), numBuckets = 8)
    // batch 1: a wide key range fans out over the buckets
    in.addData((1L to 40L).map(k => (k, s"b1-$k", 1L)): _*)
    q.processAllAvailable()
    val f1 = CommitLog.filesAt(dir, 1L).toSet
    assert(f1.nonEmpty && f1.size <= 8, s"one file per touched bucket expected, got ${f1.size}")
    val carriedMtimes = f1.map(f => f -> new java.io.File(s"$dir/$f").lastModified()).toMap
    // batch 2: ONE key — only its bucket may rewrite
    in.addData(Seq((1L, "b2-1", 2L)): _*)
    q.processAllAvailable()
    q.stop()
    val f2 = CommitLog.filesAt(dir, 2L).toSet
    assert((f1 -- f2).size == 1, s"exactly one old bucket file replaced, got ${(f1 -- f2).size}")
    assert((f2 -- f1).size == 1, s"exactly one new bucket file written, got ${(f2 -- f1).size}")
    // the replaced and replacement files are the same bucket
    val re = "__b=(\\d+)/".r.unanchored
    def bucketOf(f: String) = re.findFirstMatchIn(f).get.group(1).toInt
    assert(bucketOf((f1 -- f2).head) == bucketOf((f2 -- f1).head))
    // untouched buckets: same paths, files untouched on disk (byte-identical)
    (f1 & f2).foreach { f =>
      assert(new java.io.File(s"$dir/$f").lastModified() == carriedMtimes(f),
        s"untouched bucket file $f was rewritten")
    }
    val latest = SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(latest == (2L to 40L).map(k => k -> s"b1-$k").toMap + (1L -> "b2-1"))
  }

  test("replay skip: the latest batch id is skipped, but a fresh run restarting at 0 is NOT lost") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snap-replay").toString
    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "version")
    val b1 = Seq((1L, "a2", 2L)).toDF("k", "v", "version")
    SnapshotUpsert.processBatch(b0, Seq("k"), "version", dir, batchId = Some(0L), numBuckets = 4)
    SnapshotUpsert.processBatch(b1, Seq("k"), "version", dir, batchId = Some(1L), numBuckets = 4)
    assert(SnapshotUpsert.latestVersion(dir) == 2)
    // crash-replay of the latest batch: skipped, no new version
    SnapshotUpsert.processBatch(b1, Seq("k"), "version", dir, batchId = Some(1L), numBuckets = 4)
    assert(SnapshotUpsert.latestVersion(dir) == 2, "replayed latest batch must be skipped")
    // a SECOND RUN with a fresh checkpoint restarts ids at 0: must merge
    // (idempotent), never silently skip — the sink()-without-checkpoint
    // data-loss hazard
    val b0run2 = Seq((3L, "c", 3L)).toDF("k", "v", "version")
    SnapshotUpsert.processBatch(b0run2, Seq("k"), "version", dir, batchId = Some(0L), numBuckets = 4)
    assert(SnapshotUpsert.latestVersion(dir) == 3, "fresh-run batch 0 must not be skipped")
    val latest = SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("a snapshot listing an un-bucketed data file is rejected, naming the dir and the file") {
    val dir = java.nio.file.Files.createTempDirectory("snap-unbucketed").toString
    SnapshotUpsert.processBatch(Seq((1L, "a", 1L)).toDF("k", "v", "ver"),
      Seq("k"), "ver", dir, Some(0L), numBuckets = 4)
    Seq((2L, "b", 1L)).toDF("k", "v", "ver").write.parquet(s"$dir/data/flat")
    val flat = new java.io.File(s"$dir/data/flat").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => s"data/flat/${f.getName}").head
    CommitLog.commitFiles(dir, CommitLog.currentFiles(dir) :+ flat, replace = true): Unit
    val e = intercept[IllegalStateException] {
      SnapshotUpsert.processBatch(Seq((3L, "c", 2L)).toDF("k", "v", "ver"),
        Seq("k"), "ver", dir, Some(1L), numBuckets = 4)
    }
    assert(e.getMessage.contains(dir) && e.getMessage.contains(flat), e.getMessage)
    assert(SnapshotUpsert.latestVersion(dir) == 2, "a rejected batch must not publish")
  }

  test("crashed unpublished data is invisible to readers and swept by vacuum") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val dir = java.nio.file.Files.createTempDirectory("snap-crash").toString
    val q = SnapshotUpsert.maintain(
      in.toDF().toDF("k", "v", "version"), Seq("k"), "version", dir,
      checkpoint = s"$dir-ckpt", trigger = Trigger.ProcessingTime(0), numBuckets = 4)
    in.addData((1L, "a", 1L))
    q.processAllAvailable()
    q.stop()
    // simulate a crash between the data write and the manifest publish
    val debris = new java.io.File(dir, "data/crashed-uuid/__b=0")
    assert(debris.mkdirs())
    assert(new java.io.File(debris, "part-00000.parquet").createNewFile())
    assert(SnapshotUpsert.latestVersion(dir) == 1, "debris must not affect versions")
    assert(SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap == Map(1L -> "a"))
    SnapshotUpsert.vacuum(spark, dir, keepVersions = 1): Unit
    assert(!new java.io.File(dir, "data/crashed-uuid").exists(),
      "vacuum must sweep unpublished data debris")
    assert(SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap == Map(1L -> "a"))
  }

  test("vacuum bounds the version history and GCs unreferenced data; retained versions still read") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val dir = java.nio.file.Files.createTempDirectory("snap-vacuum").toString
    val q = SnapshotUpsert.maintain(
      in.toDF().toDF("k", "v", "version"), Seq("k"), "version", dir,
      checkpoint = s"$dir-ckpt", trigger = Trigger.ProcessingTime(0), numBuckets = 4)
    // 60 keys over 4 buckets: every batch touches every bucket (the
    // P(empty bucket) tail is ~1e-7, so the GC count below is stable)
    (1 to 6).foreach { b =>
      in.addData((1L to 60L).map(k => (k, s"b$b-k$k", b.toLong)): _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(SnapshotUpsert.latestVersion(dir) == 6)
    val preVacuum = SnapshotUpsert.read(spark, dir)
      .as[(Long, String, Long)].collect().toSet
    val dataDirsBefore = Option(new java.io.File(s"$dir/data").listFiles()).get
      .count(_.isDirectory)
    assert(dataDirsBefore == 6, s"6 versions should hold 6 data generations, got $dataDirsBefore")
    val (deleted, _, _) = SnapshotUpsert.vacuum(spark, dir, keepVersions = 2)
    assert(deleted == 4, s"expected versions 1-4 pruned, got $deleted")
    // retained window still reads; pruned versions are gone
    assert(SnapshotUpsert.read(spark, dir).as[(Long, String, Long)].collect().toSet == preVacuum)
    assert(SnapshotUpsert.read(spark, dir, version = 5)
      .as[(Long, String, Long)].collect().forall(_._2.startsWith("b5-")))
    intercept[IllegalArgumentException](SnapshotUpsert.read(spark, dir, version = 3))
    // every batch rewrote all 4 buckets (20 keys), so only the 2 retained
    // generations' data survives GC
    val dataDirsAfter = Option(new java.io.File(s"$dir/data").listFiles()).get
      .count(_.isDirectory)
    assert(dataDirsAfter == 2, s"expected 2 retained data generations, got $dataDirsAfter")
  }

  test("rebucket rewrites the layout and maintenance continues pruning on the new bucket count") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snap-rebucket").toString
    val b0 = (1L to 30L).map(k => (k, s"a$k", 1L)).toDF("k", "v", "version")
    SnapshotUpsert.processBatch(b0, Seq("k"), "version", dir, batchId = Some(0L), numBuckets = 2)
    assert(CommitLog.currentFiles(dir).size <= 2)
    SnapshotUpsert.rebucket(spark, dir, Seq("k"), numBuckets = 8)
    val files = CommitLog.currentFiles(dir)
    assert(files.size > 2 && files.size <= 8, s"rebucket(8) should fan out, got ${files.size}")
    // a later batch prunes against the NEW layout (stored numBuckets wins
    // over the caller's stale value)
    val b1 = Seq((1L, "a1-new", 2L)).toDF("k", "v", "version")
    SnapshotUpsert.processBatch(b1, Seq("k"), "version", dir, batchId = Some(1L), numBuckets = 2)
    val after = CommitLog.currentFiles(dir).toSet
    assert((files.toSet -- after).size == 1, "narrow batch must rewrite one bucket post-rebucket")
    assert(SnapshotUpsert.read(spark, dir)
      .select($"k", $"v").as[(Long, String)].collect().toMap ==
      (2L to 30L).map(k => k -> s"a$k").toMap + (1L -> "a1-new"))
  }
}
