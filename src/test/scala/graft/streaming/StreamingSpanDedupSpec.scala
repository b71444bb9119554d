package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpanDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docsMap(work: String): Map[Long, String] =
    StreamingSpanDedup.docs(spark, work)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("earlier batches claim spans; within-batch keep-first; emptied docs vanish") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val work = java.nio.file.Files.createTempDirectory("sspan-spec").toString
    val q = StreamingSpanDedup.incrementalSpanDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", work, spanTokens = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      checkpoint = s"$work/ckpt")
    // batch 1: doc 5 and doc 2 share "a b" -> doc 2 (smaller id) keeps it
    in.addData((5L, "a b x y"), (2L, "a b c d"))
    q.processAllAvailable()
    // batch 2: doc 1 is all batch-1 text -> vanishes, despite smaller id
    // (arrival order outranks doc order); doc 9 keeps only its new tail
    in.addData((1L, "a b c d"), (9L, "x y q r"))
    q.processAllAvailable()
    q.stop()
    assert(docsMap(work) == Map(2L -> "a b c d", 5L -> "x y", 9L -> "q r"))
  }

  test("matches the batch operator when everything arrives in one batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "a b c d a b c d"), (1L, "a b c d x y"), (2L, "a b c d"))
    val in = MemoryStream[(Long, String)]
    val work = java.nio.file.Files.createTempDirectory("sspan-one").toString
    val q = StreamingSpanDedup.incrementalSpanDedup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", work, spanTokens = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      checkpoint = s"$work/ckpt")
    in.addData(corpus: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.SpanDedup
      .dedupSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docsMap(work) == batch)
  }

  test("compactIndex folds batch files; results and index behavior unchanged") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sspan-compact").toString
    StreamingSpanDedup.init(spark, work, "doc_id", "text")
    (0 to 2).foreach { b =>
      StreamingSpanDedup.processBatch(
        Seq((b * 10L, s"w$b x$b y$b z$b")).toDF("doc_id", "text"),
        "doc_id", "text", work, 2, Some(b.toLong))
    }
    val before = docsMap(work)
    val stats = StreamingSpanDedup.compactIndex(spark, work, targetRecordsPerFile = 1000000L)
    assert(stats("spans")._2 <= stats("spans")._1)
    assert(docsMap(work) == before)
    // the folded index still claims its spans: replayed text drops entirely
    StreamingSpanDedup.processBatch(
      Seq((99L, "w0 x0 y0 z0")).toDF("doc_id", "text"),
      "doc_id", "text", work, 2, Some(3L))
    assert(docsMap(work) == before)
  }

  test("tiered compaction: spans hash-partition, minor folds only the delta, pruned probe still claims") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sspan-tiered").toString
    StreamingSpanDedup.init(spark, work, "doc_id", "text")
    (0 to 2).foreach { b =>
      StreamingSpanDedup.processBatch(
        Seq((b * 10L, s"w$b x$b y$b z$b")).toDF("doc_id", "text"),
        "doc_id", "text", work, 2, Some(b.toLong))
    }
    val before = docsMap(work)
    val major = StreamingSpanDedup.compactIndexDetailed(spark, work,
      targetRecordsPerFile = 1L, indexPartitions = 8)
    assert(major("spans").mode == "major" && major("spans").layout == "p8", s"$major")
    assert(CommitLog.currentFiles(s"$work/spans").forall(_.contains("/__p8=")))
    val baseSpans = CommitLog.currentFiles(s"$work/spans").toSet
    // new batch appends, then a MINOR fold carries the base by reference
    StreamingSpanDedup.processBatch(
      Seq((50L, "a5 b5 c5 d5")).toDF("doc_id", "text"),
      "doc_id", "text", work, 2, Some(3L))
    val minor = StreamingSpanDedup.compactIndexDetailed(spark, work,
      targetRecordsPerFile = 1L, indexPartitions = 8)
    assert(minor("spans").mode == "minor" && minor("spans").tiers == 2, s"$minor")
    assert(baseSpans.subsetOf(CommitLog.currentFiles(s"$work/spans").toSet),
      "base spans tier not carried by reference")
    // the PRUNED probe against the tiered layout still claims base-tier
    // spans: replayed text from batch 0 must drop entirely
    StreamingSpanDedup.processBatch(
      Seq((99L, "w0 x0 y0 z0")).toDF("doc_id", "text"),
      "doc_id", "text", work, 2, Some(4L))
    assert(docsMap(work) == before + (50L -> "a5 b5 c5 d5"))
  }

  test("index probe plan flips past the broadcast budget (catch-up discipline)") {
    import spark.implicits._
    val exploded = graft.operators.SpanDedup.explodedSpans(
      Seq((1L, "a b c d e f g h"), (2L, "a b c d q r s t")).toDF("doc_id", "text"),
      "doc_id", "text", 4)
    val index = Seq(java.lang.Long.valueOf(42L)).toDF("sh")
    // inside the budget: the two-broadcast shape — the index streams
    // map-side through a LeftSemi against the broadcast batch hashes,
    // and is never a build side
    val small = StreamingSpanDedup.probeFresh(exploded, index, broadcastProbe = true)
    small.collect()
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("LeftSemi") && smallPlan.contains("BroadcastHashJoin"),
      s"expected the broadcast probe shape:\n$smallPlan")
    assert(!smallPlan.contains("SortMergeJoin"), s"unexpected sort in:\n$smallPlan")
    // past the budget: the plain anti-join — no semi stage, no forced
    // build of the unbounded side (AQE free to pick spillable sort-merge)
    val big = StreamingSpanDedup.probeFresh(exploded, index, broadcastProbe = false)
    big.collect()
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!bigPlan.contains("LeftSemi"), s"fallback must not semi-join:\n$bigPlan")
    // both plans return exactly the same fresh spans
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("__doc", "__idx", "__sh").collect().map(_.toString).sorted.toSeq
    assert(key(small) == key(big))
  }

  test("forced fallback probe yields exactly the default plan's documents") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d a b c d"), (1L, "a b c d x y z w"), (2L, "p q r s a b c d"))
    def run(conf: Option[String]): Map[Long, String] = {
      conf.foreach(v => spark.conf.set(StreamingSpanDedup.SpanProbeBroadcastConf, v))
      try {
        val work = java.nio.file.Files.createTempDirectory("sspan-flip").toString
        StreamingSpanDedup.init(spark, work, "doc_id", "text")
        corpus.zipWithIndex.foreach { case (d, b) =>
          StreamingSpanDedup.processBatch(
            Seq(d).toDF("doc_id", "text"), "doc_id", "text", work, 4, Some(b.toLong))
        }
        docsMap(work)
      } finally conf.foreach(_ => spark.conf.unset(StreamingSpanDedup.SpanProbeBroadcastConf))
    }
    val default = run(None)
    val forcedFallback = run(Some("-1")) // every batch exceeds a -1 budget
    assert(default == forcedFallback,
      s"probe plans diverged: $default vs $forcedFallback")
    assert(default.contains(0L) && default(1L).endsWith("x y z w"))
  }

  test("a malformed spanProbeBroadcastMaxRows conf fails") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sspan-conf").toString
    StreamingSpanDedup.init(spark, work, "doc_id", "text")
    val b = Seq((1L, "p q r s")).toDF("doc_id", "text")
    spark.conf.set(StreamingSpanDedup.SpanProbeBroadcastConf, "three")
    val e =
      try intercept[IllegalArgumentException](
        StreamingSpanDedup.processBatch(b, "doc_id", "text", work, 2, Some(0L)))
      finally spark.conf.unset(StreamingSpanDedup.SpanProbeBroadcastConf)
    assert(e.getMessage.contains(StreamingSpanDedup.SpanProbeBroadcastConf) &&
      e.getMessage.contains("'three'"), e.getMessage)
  }

  test("replaying a committed batch changes nothing (exactly-once)") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("sspan-replay").toString
    StreamingSpanDedup.init(spark, work, "doc_id", "text")
    val b = Seq((1L, "p q r s"), (2L, "p q z z")).toDF("doc_id", "text")
    StreamingSpanDedup.processBatch(b, "doc_id", "text", work, 2, Some(0L))
    val first = docsMap(work)
    StreamingSpanDedup.processBatch(b, "doc_id", "text", work, 2, Some(0L)) // replay
    assert(docsMap(work) == first)
    assert(first == Map(1L -> "p q r s", 2L -> "z z"))
  }
}
