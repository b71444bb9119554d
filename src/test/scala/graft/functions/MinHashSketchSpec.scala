package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The 1-byte-per-component signature sketch + agreement estimator that
  * prefilters LSH candidate pairs before exact verification
  * (Dedup.estimateCut).
  */
class MinHashSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pack_low_bytes keeps exactly the low byte of each component") {
    val df = Seq(Seq(0L, 255L, 256L, -1L, 0x1234abcdL)).toDF("sig")
    val packed = df.select(ColumnBridge.column(
      PackLowBytes(ColumnBridge.expression($"sig")))).collect().head.getAs[Array[Byte]](0)
    assert(packed.toSeq == Seq(0, -1, 0, -1, 0xcd.toByte).map(_.toByte))
  }

  test("bytes_fraction_equal is the fraction of matching positions") {
    val df = Seq((Array[Byte](1, 2, 3, 4), Array[Byte](1, 9, 3, 9))).toDF("a", "b")
    val f = df.select(ColumnBridge.column(BytesFractionEqual(
      ColumnBridge.expression($"a"), ColumnBridge.expression($"b")))).collect().head.getDouble(0)
    assert(f == 0.5)
  }

  test("bytes_fraction_equal is 0.0 on length mismatch or empty input") {
    val df = Seq(
      (Array[Byte](1, 2), Array[Byte](1, 2, 3)),
      (Array.empty[Byte], Array.empty[Byte])).toDF("a", "b")
    val fs = df.select(ColumnBridge.column(BytesFractionEqual(
      ColumnBridge.expression($"a"), ColumnBridge.expression($"b")))).collect().map(_.getDouble(0))
    assert(fs.toSeq == Seq(0.0, 0.0))
  }

  test("sketch agreement tracks true jaccard within binomial noise (identical and disjoint docs)") {
    // identical signatures agree exactly; signatures of disjoint shingle
    // sets agree only by the 1/256 byte-collision rate (upward bias — the
    // safe direction for a lower-bound filter)
    val a = Seq.tabulate(120)(i => XXH64.hashLong(i.toLong, 1))
    val b = Seq.tabulate(120)(i => XXH64.hashLong(i + 5000L, 2))
    val df = Seq((a, a), (a, b)).toDF("x", "y")
    def pack(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(PackLowBytes(ColumnBridge.expression(c)))
    val fs = df.select(ColumnBridge.column(BytesFractionEqual(
      ColumnBridge.expression(pack($"x")), ColumnBridge.expression(pack($"y")))))
      .collect().map(_.getDouble(0))
    assert(fs(0) == 1.0)
    assert(fs(1) < 0.1, s"disjoint sketches should agree rarely, got ${fs(1)}")
  }

  // ascii, 2- and 3-byte UTF-8, and 4-byte code points (surrogate pairs),
  // at lengths around k, plus the empty string and text shorter than k
  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(1111)
    val alphabet = "abcde fghij".map(_.toString) ++ Seq("é", "ß", "日", "本", "語",
      new String(Character.toChars(0x1F600)), new String(Character.toChars(0x1D11E)))
    val rand = (0 until 80).map(_ => Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    rand ++ Seq("", "a", "ab", "abcd", "abcde", "日本語", new String(Character.toChars(0x1F600)),
      "the quick brown fox jumps over the lazy dog " * 5)
  }

  private def expr(e: org.apache.spark.sql.catalyst.expressions.Expression) = ColumnBridge.column(e)
  private def ex(c: org.apache.spark.sql.Column) = ColumnBridge.expression(c)

  test("the sketch kernel equals Spark's shingle, signature, sketch and band expressions") {
    Seq((5, 120, 20), (3, 128, 32), (4, 16, 2)).foreach { case (k, numHashes, bands) =>
      val r = numHashes / bands
      val sh = texts.toDF("text").select($"text",
        expr(ShingleHashes(ex($"text"), k, ShingleHashesImpl.XxhDistinctSorted)).as("sh"))
        .collect().map(row => row.getString(0) -> row.getSeq[Long](1)).toMap
      // the signature's definition: component i is min over s of XXH64(s, seed i)
      val refSig = texts.map(t => t -> Seq.tabulate(numHashes)(i => sh(t).map(XXH64.hashLong(_, i.toLong)).min))
      val evaluated = refSig.toDF("text", "sig").select($"text",
        expr(PackLowBytes(ex($"sig"))).as("sigb"),
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice($"sig", b * r + 1, lit(r)))).as("buckets"),
        expr(MinHashBands(ex($"sig"), bands)).as("bands"),
        expr(MinHashSignature(ex(expr(ShingleHashes(ex($"text"), k,
          ShingleHashesImpl.XxhDistinctSorted))), numHashes)).as("batchSig"))
        .collect().map(row => row.getString(0) -> row).toMap
      refSig.foreach { case (t, sig) =>
        val got = MinHashSketch.sketch(UTF8String.fromString(t), k, numHashes, bands)
        val want = evaluated(t)
        val ctx = s"k=$k numHashes=$numHashes bands=$bands text='$t'"
        assert(got.sh.toSeq == sh(t), ctx)
        assert(MinHashImpl.signature(got.sh, numHashes).toSeq == sig, ctx)
        assert(want.getSeq[Long](4) == sig, ctx)
        assert(got.sigb.toSeq == want.getAs[Array[Byte]](1).toSeq, ctx)
        assert(got.buckets.toSeq == want.getSeq[Long](2), ctx)
        assert(want.getSeq[Long](3) == want.getSeq[Long](2), ctx)
      }
    }
  }

  test("minhash_bands of a null signature is the seed in every band, as xxhash64 of a null slice") {
    val df = Seq((1, Option.empty[Seq[Long]]), (2, Some(Seq.tabulate(12)(_.toLong)))).toDF("i", "sig")
    val rows = df.select($"i",
      expr(MinHashBands(ex($"sig"), 4)).as("bands"),
      transform(sequence(lit(0), lit(3)), b => xxhash64(slice($"sig", b * 3 + 1, lit(3)))).as("old"))
      .orderBy("i").collect()
    rows.foreach(row => assert(row.getSeq[Long](1) == row.getSeq[Long](2), row))
    assert(rows(0).getSeq[Long](1) == Seq.fill(4)(42L))
    assert(MinHashImpl.bandHashes(null: Array[Long], 4).toSeq == Seq.fill(4)(42L))
  }

  private object XXH64 {
    def hashLong(v: Long, seed: Long): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, seed)
  }
}
