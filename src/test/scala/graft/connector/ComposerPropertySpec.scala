package graft.connector

import graft.model._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style check (SURVEY.md §5): for randomized key universes
  * and filter combinations, scanning the composed ranges and then
  * applying the predicate (Spark's residual FilterExec role) must give
  * exactly the brute-force answer over every key — i.e. composed
  * ranges may over-fetch but can never under-fetch.
  */
class ComposerPropertySpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(20260812L)
  private val alphabet = Vector("a", "ab", "b", "ba", "c", "cc", "d", "z")

  private case class Case(
      cols: Seq[String],
      keys: Seq[Seq[String]], // universe: one Seq per key, component values
      eqIn: Map[String, Seq[String]], // per-col accepted values (Eq or In)
      tailRange: Option[(String, String)]
  )

  private def genCase(): Case = {
    val nCols = 1 + rnd.nextInt(3)
    val cols = (1 to nCols).map(i => s"c$i")
    val universe = Seq.fill(30)(cols.map(_ => alphabet(rnd.nextInt(alphabet.size))))
    val useTailRange = rnd.nextBoolean()
    val eqCols = if (useTailRange) cols.init else cols
    val eqIn = eqCols.map { c =>
      val n = 1 + rnd.nextInt(3)
      c -> Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size)))
    }.toMap
    val tailRange =
      if (useTailRange) {
        val a = alphabet(rnd.nextInt(alphabet.size))
        val b = alphabet(rnd.nextInt(alphabet.size))
        Some(if (RowRange.compareKeys(a, b) <= 0) (a, b) else (b, a))
      } else None
    Case(cols, universe.distinct, eqIn, tailRange)
  }

  private def matches(c: Case, key: Seq[String]): Boolean = {
    val eqOk = c.eqIn.forall { case (col, vals) => vals.contains(key(c.cols.indexOf(col))) }
    val tailOk = c.tailRange.forall { case (lo, hi) =>
      val v = key.last
      RowRange.compareKeys(v, lo) >= 0 && RowRange.compareKeys(v, hi) <= 0
    }
    eqOk && tailOk
  }

  test("composed ranges + residual filter == brute force over 300 random cases") {
    (1 to 300).foreach { i =>
      val c = genCase()
      val cfg = BigtableConfig(
        storeName = "s", table = "t", columnFamily = "f",
        partitionCols = c.cols, separator = "#",
        qualifiers = Seq(("q", StringType)),
        onlyReadLatest = true, allowFullScan = false)
      val filters: Seq[Filter] =
        c.eqIn.toSeq.map { case (col, vals) =>
          if (vals.size == 1 && rnd.nextBoolean()) EqualTo(col, vals.head)
          else In(col, vals.toArray[Any])
        } ++ c.tailRange.toSeq.flatMap { case (lo, hi) =>
          Seq(GreaterThanOrEqual(c.cols.last, lo), LessThanOrEqual(c.cols.last, hi))
        }
      val ranges = RowRangeComposer.composeRanges(cfg, rnd.shuffle(filters))
      val expected = c.keys.filter(matches(c, _)).map(_.mkString("#")).toSet
      val fetched = c.keys.map(_.mkString("#")).filter(k => ranges.exists(_.contains(k))).toSet
      // never under-fetch:
      val missing = expected -- fetched
      assert(missing.isEmpty, s"case $i under-fetched: $missing\nranges=$ranges\ncase=$c")
      // residual filter (brute predicate on fetched) recovers exactly expected:
      val residual = fetched.filter(k => matches(c, k.split("#", -1).toSeq))
      assert(residual == expected, s"case $i residual mismatch\nranges=$ranges\ncase=$c")
    }
  }

  test("range normalization is lossless over 200 random range sets") {
    (1 to 200).foreach { i =>
      val n = 1 + rnd.nextInt(6)
      val ranges = Seq.fill(n) {
        val a = alphabet(rnd.nextInt(alphabet.size))
        val b = alphabet(rnd.nextInt(alphabet.size))
        val (lo, hi) = if (RowRange.compareKeys(a, b) <= 0) (a, b) else (b, a)
        if (rnd.nextBoolean()) RowRange.closed(lo, hi)
        else if (lo != hi) RowRange.closedOpen(lo, hi)
        else RowRange.point(lo)
      }
      val normalized = RowRange.normalize(ranges)
      // same membership for every candidate key
      alphabet.foreach { k =>
        val before = ranges.exists(_.contains(k))
        val after = normalized.exists(_.contains(k))
        assert(before == after, s"case $i key $k: before=$before after=$after\n$ranges\n$normalized")
      }
      // normalized ranges are sorted and pairwise disjoint
      normalized.sliding(2).foreach {
        case Vector(x, y) =>
          assert(RowRange.compareKeys(x.startKey, y.startKey) < 0)
          x.endKey.foreach { e =>
            val c = RowRange.compareKeys(e, y.startKey)
            assert(c < 0 || (c == 0 && !x.endInclusive), s"overlap: $x $y")
          }
        case _ => ()
      }
    }
  }

  test("partitions planned with the point-range shortcut == split-at-samples over 300 random cases") {
    // the sizing rule reads Spark's file-source settings from the session
    val spark = graft.SparkTestSession.spark
    val name = "prop-samples"
    try {
      (1 to 300).foreach { i =>
        val keys = Seq.fill(1 + rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size)))
        // every third case is points only: the shortcut path
        val ranges = RowRange.normalize(keys.map { a =>
          val b = alphabet(rnd.nextInt(alphabet.size))
          val (lo, hi) = if (RowRange.compareKeys(a, b) <= 0) (a, b) else (b, a)
          if (i % 3 == 0 || rnd.nextInt(3) == 0) RowRange.point(a)
          else if (rnd.nextBoolean() || lo == hi) RowRange.closed(lo, hi)
          else RowRange.closedOpen(lo, hi)
        })
        val samples = alphabet.filter(_ => rnd.nextBoolean())
        val bytes = rnd.nextInt(1 << 20).toLong
        val sampleCalls = new java.util.concurrent.atomic.AtomicInteger()
        val estimateCalls = new java.util.concurrent.atomic.AtomicInteger()
        graft.store.BigtableStores.register(name, new graft.store.BigtableStore {
          override def readRows(t: String, r: Seq[RowRange], f: Seq[RowFilter]): Iterator[BtRow] =
            Iterator.empty
          override def sampleRowKeys(t: String): Seq[String] = {
            sampleCalls.incrementAndGet()
            samples
          }
          override def estimateSize(t: String, r: Seq[RowRange]): Option[(Long, Long)] = {
            estimateCalls.incrementAndGet()
            Some((1L, bytes))
          }
        })
        val parallelism = 1 + rnd.nextInt(4)
        val maxPartitionBytes = 1L + rnd.nextInt(1 << 18)
        spark.conf.set("spark.sql.files.minPartitionNum", parallelism.toString)
        spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
        val cfg = BigtableConfig(
          storeName = name, table = "t", columnFamily = "f",
          partitionCols = Seq("_row_key"), separator = "#",
          qualifiers = Seq(("q", StringType)),
          onlyReadLatest = true, allowFullScan = false)
        val scan = new BigtableScan(cfg, cfg.schema, RowRangeComposer.Composition(ranges, Vector.empty))
        val planned = scan.planInputPartitions().toVector
          .map(_.asInstanceOf[BigtableInputPartition].ranges.toVector)
        val allPoints = ranges.forall(_.isPoint)
        val pieces = BigtableScan.splitRanges(ranges, samples)
        val sized = pieces.size > parallelism
        val expected =
          if (allPoints) Vector(ranges)
          else if (!sized) pieces.map(Vector(_))
          else {
            val bySize = (bytes + maxPartitionBytes - 1) / maxPartitionBytes
            BigtableScan.chunkContiguous(pieces, math.min(pieces.size.toLong, math.max(parallelism.toLong, bySize)).toInt)
          }
        assert(planned == expected, s"case $i p=$parallelism\nranges=$ranges\nsamples=$samples")
        // the groups are contiguous and together cover the pieces
        assert(planned.flatten == (if (allPoints) ranges else pieces), s"case $i")
        scan.planInputPartitions(): Unit
        assert(sampleCalls.get == (if (allPoints) 0 else 1),
          s"case $i: ${sampleCalls.get} sampleRowKeys calls for ranges=$ranges")
        assert(estimateCalls.get == (if (!allPoints && sized) 1 else 0),
          s"case $i: ${estimateCalls.get} estimateSize calls for ranges=$ranges")
      }
    } finally {
      graft.store.BigtableStores.unregister(name)
      spark.conf.unset("spark.sql.files.minPartitionNum")
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}
