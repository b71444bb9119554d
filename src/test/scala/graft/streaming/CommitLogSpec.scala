package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class CommitLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(dir: String): Set[(Long, String)] =
    CommitLog.read(spark, dir).as[(Long, String)].collect().toSet

  test("append/read round-trip; empty table reads empty with the recorded schema") {
    val dir = java.nio.file.Files.createTempDirectory("clog1").toString
    CommitLog.init(dir, Seq((0L, "")).toDF("k", "v").schema)
    assert(CommitLog.read(spark, dir).isEmpty)
    assert(CommitLog.read(spark, dir).columns.toSeq == Seq("k", "v"))
    assert(CommitLog.append(Seq((1L, "a")).toDF("k", "v"), dir, batchId = 0L))
    assert(CommitLog.append(Seq((2L, "b")).toDF("k", "v"), dir, batchId = 1L))
    assert(rows(dir) == Set((1L, "a"), (2L, "b")))
  }

  test("a replayed batchId is skipped: append is exactly-once per batch") {
    val dir = java.nio.file.Files.createTempDirectory("clog2").toString
    assert(CommitLog.append(Seq((1L, "a")).toDF("k", "v"), dir, batchId = 7L))
    // crash-recovery replays the same micro-batch: nothing may duplicate
    assert(!CommitLog.append(Seq((1L, "a")).toDF("k", "v"), dir, batchId = 7L))
    assert(CommitLog.read(spark, dir).count() == 1)
    assert(CommitLog.committedBatchIds(dir) == Set(7L))
  }

  test("data files without a published manifest are invisible (crash window)") {
    val dir = java.nio.file.Files.createTempDirectory("clog3").toString
    assert(CommitLog.append(Seq((1L, "a")).toDF("k", "v"), dir, batchId = 0L))
    // simulate a crash between the data write and the manifest publish:
    // files land under data/ but no commit names them
    Seq((99L, "orphan")).toDF("k", "v").write.parquet(s"$dir/data/orphan-batch")
    assert(rows(dir) == Set((1L, "a")), "unpublished files must never be read")
  }

  test("sink: a stream lands exactly-once and survives checkpoint restart") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("clog-sink").toString
    val src = java.nio.file.Files.createTempDirectory("clog-src").toString
    val ckpt = s"$dir-ckpt"
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    a.write.mode("append").parquet(src)
    def stream() = spark.readStream.schema(a.schema).parquet(src)
    val q1 = CommitLog.sink(stream(), dir, ckpt)
    q1.awaitTermination()
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
    // restart from the same checkpoint: only the new file lands
    val q2 = CommitLog.sink(stream(), dir, ckpt)
    q2.awaitTermination()
    val got = rows(dir).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")), s"got $got")
  }

  test("compact publishes a replace commit: rows preserved, files bounded, appends continue") {
    val dir = java.nio.file.Files.createTempDirectory("clog4").toString
    (0 until 6).foreach { b =>
      assert(CommitLog.append(Seq((b.toLong, s"v$b")).toDF("k", "v"), dir, b.toLong))
    }
    val pre = rows(dir)
    val (before, after) = CommitLog.compact(spark, dir, targetRecordsPerFile = 100L)
    assert(before >= 6 && after == 1, s"expected >=6 -> 1 files, got $before -> $after")
    assert(rows(dir) == pre)
    // superseded data directories were vacuumed after the publish
    val dataDirs = Option(new java.io.File(s"$dir/data").listFiles()).get.count(_.isDirectory)
    assert(dataDirs == 1, s"expected 1 live data dir after compaction, got $dataDirs")
    // the log keeps accepting appends after a replace, and replay-skip
    // still sees pre-compaction batch ids
    assert(!CommitLog.append(Seq((0L, "dup")).toDF("k", "v"), dir, batchId = 0L))
    assert(CommitLog.append(Seq((10L, "post")).toDF("k", "v"), dir, batchId = 10L))
    assert(rows(dir) == pre + ((10L, "post")))
  }

  test("checkpointing bounds metadata: 200 commits leave O(interval) files, ids and rows survive") {
    val dir = java.nio.file.Files.createTempDirectory("clog-cp").toString
    val every = 20
    (0 until 200).foreach { b =>
      assert(CommitLog.append(Seq((b.toLong, s"v$b")).toDF("k", "v"), dir,
        batchId = b.toLong, checkpointEvery = every))
    }
    // every append reads checkpoint + tail only: the _commits listing is
    // the proxy — folded manifests are deleted, so at most one
    // checkpoint + (interval - 1) tail manifests ever exist
    val metaFiles = Option(new java.io.File(s"$dir/_commits").listFiles()).get
      .count(_.isFile)
    assert(metaFiles <= every + 1, s"metadata not bounded: $metaFiles files after 200 commits")
    // nothing was lost in the folds: every id replay-skips, every row reads
    assert(CommitLog.committedBatchIds(dir) == (0L until 200L).toSet)
    // range-encoded membership (the non-materializing hot path) agrees
    assert((0L until 200L).forall(CommitLog.isCommitted(dir, _)))
    assert(!CommitLog.isCommitted(dir, 200L) && !CommitLog.isCommitted(dir, -1L))
    assert(CommitLog.read(spark, dir).count() == 200)
    assert(!CommitLog.append(Seq((5L, "dup")).toDF("k", "v"), dir, batchId = 5L))
    assert(CommitLog.latestCommit(dir).exists(_._2.contains(199L)))
    // a crashed publish's .tmp debris is swept by the next checkpoint
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_commits", ".tmp-crashed"), "junk".getBytes)
    assert(CommitLog.append(Seq((500L, "x")).toDF("k", "v"), dir, batchId = 500L))
    (201 until 220).foreach { b =>
      CommitLog.append(Seq((b.toLong, s"v$b")).toDF("k", "v"), dir,
        batchId = b.toLong, checkpointEvery = every): Unit
    }
    assert(!new java.io.File(s"$dir/_commits/.tmp-crashed").exists(),
      "stale tmp manifest must be swept by checkpointing")
  }

  test("replace-chain time travel: filesAt reconstructs old versions until pruneBelow retention") {
    val dir = java.nio.file.Files.createTempDirectory("clog-tt").toString
    CommitLog.init(dir, Seq((0L, "")).toDF("k", "v").schema)
    (1 to 4).foreach { v =>
      val df = (1 to v).map(i => (i.toLong, s"v$v")).toDF("k", "v")
      val tmp = s"$dir/data/gen$v"
      df.repartition(1).write.parquet(tmp)
      val files = Option(new java.io.File(tmp).listFiles()).get
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => s"data/gen$v/${f.getName}").toSeq
      CommitLog.commitFiles(dir, files, replace = true, batchId = Some(v.toLong - 1)): Unit
    }
    def rowsAt(seq: Long) = spark.read
      .schema(CommitLog.schemaOf(dir))
      .parquet(CommitLog.filesAt(dir, seq).map(f => s"$dir/$f"): _*).count()
    assert(CommitLog.filesAt(dir, 0L).isEmpty)
    assert((1L to 4L).map(rowsAt) == Seq(1L, 2L, 3L, 4L))
    assert(CommitLog.latestCommit(dir).contains((4L, Some(3L))))
    assert(CommitLog.pruneBelow(dir, 3L) == 2)
    assert(rowsAt(3L) == 3L && rowsAt(4L) == 4L)
    intercept[IllegalArgumentException](CommitLog.filesAt(dir, 2L))
    intercept[IllegalArgumentException](CommitLog.pruneBelow(dir, 99L))
  }

  test("rowCount answers from parquet footers and matches read().count()") {
    val dir = java.nio.file.Files.createTempDirectory("clog-rows").toString
    assert(CommitLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, 0L))
    assert(CommitLog.append(Seq((3L, "c")).toDF("k", "v"), dir, 1L))
    assert(CommitLog.rowCount(spark, dir) == 3L)
    assert(CommitLog.rowCount(spark, dir) == CommitLog.read(spark, dir).count())
    CommitLog.compact(spark, dir, targetRecordsPerFile = 2L): Unit
    assert(CommitLog.rowCount(spark, dir) == 3L)
  }
}
