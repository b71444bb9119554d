package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature, LSH band hashes and the per-document sketch
  * kernel, all over primitive `long[]` loops.
  *
  * The naive signature — `transform(sequence(0, k-1), i ->
  * array_min(transform(hashes, h -> xxhash64(h, i))))` — evaluates
  * k × |shingles| interpreted lambda calls per row (Spark's higher-order
  * functions don't participate in codegen): ~240 s for 5000 docs × 128
  * hashes at sf0.1. [[MinHashImpl.signature]] runs the same double loop
  * as compiled code, h_i(s) = XXH64(shingleHash_s, seed = i), with the
  * input-only half of XXH64 hoisted out of the per-seed loop. The band
  * hashes replace the interpreted `transform(sequence(0, bands-1), b ->
  * xxhash64(slice(sig, b·r+1, r)))` lambda with the same fold. Every
  * caller — the [[MinHashSignature]] and [[MinHashBands]] expressions
  * the batch operators plan, and the [[MinHashSketch]] kernel the
  * streaming ingest runs inside its tasks — shares these loops, so batch
  * and incremental dedup compute bit-identical signatures and buckets.
  */
object MinHashImpl {
  // XXH64 primes (org.apache.spark.sql.catalyst.expressions.XXH64)
  private final val Prime1 = 0x9E3779B185EBCA87L
  private final val Prime2 = 0xC2B2AE3D27D4EB4FL
  private final val Prime3 = 0x165667B19E3779F9L
  private final val Prime4 = 0x85EBCA77C2B2AE63L
  private final val Prime5 = 0x27D4EB2F165667C5L

  // Spark's `xxhash64` seed: the fold start of every band hash
  private final val BandSeed = 42L

  /** Signature over the non-null elements of `hashes`. */
  def signature(hashes: ArrayData, numHashes: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(signature(nonNullLongs(hashes), numHashes))

  /** Component i is min over s of `XXH64.hashLong(s, i)`, Long.MaxValue
    * for an empty set. `hashLong(s, i)` is
    * `fmix(rotl((i + P5 + 8) ^ (rotl(s·P2, 31)·P1), 27)·P1 + P4)`: the
    * `rotl(s·P2, 31)·P1` half depends on the input only, so it is
    * computed once per element instead of once per (element, seed).
    */
  def signature(hashes: Array[Long], numHashes: Int): Array[Long] = {
    val n = hashes.length
    val mixed = new Array[Long](n)
    var j = 0
    while (j < n) {
      mixed(j) = java.lang.Long.rotateLeft(hashes(j) * Prime2, 31) * Prime1
      j += 1
    }
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seeded = i.toLong + Prime5 + 8L
      var mn = Long.MaxValue
      j = 0
      while (j < n) {
        var h = java.lang.Long.rotateLeft(seeded ^ mixed(j), 27) * Prime1 + Prime4
        h ^= h >>> 33
        h *= Prime2
        h ^= h >>> 29
        h *= Prime3
        h ^= h >>> 32
        if (h < mn) mn = h
        j += 1
      }
      out(i) = mn
      i += 1
    }
    out
  }

  /** Band hashes of a null-free signature: band b is Spark's
    * `xxhash64(slice(sig, b·r+1, r))` with r = |sig| / bands, the fold
    * `hashLong(sig(b·r + t), acc)` from acc = 42. A null signature
    * hashes every band to the seed, as `xxhash64(null)` does.
    */
  def bandHashes(sig: Array[Long], bands: Int): Array[Long] = {
    val out = new Array[Long](bands)
    if (sig == null) {
      java.util.Arrays.fill(out, BandSeed)
      return out
    }
    val r = sig.length / bands
    var b = 0
    while (b < bands) {
      var acc = BandSeed
      var t = b * r
      val end = t + r
      while (t < end) {
        acc = XXH64.hashLong(sig(t), acc)
        t += 1
      }
      out(b) = acc
      b += 1
    }
    out
  }

  def bandHashes(sig: ArrayData, bands: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      bandHashes(if (sig == null) null else nonNullLongs(sig), bands))

  private def nonNullLongs(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    var nulls = 0
    var j = 0
    while (j < n) { if (a.isNullAt(j)) nulls += 1; j += 1 }
    if (nulls == 0) return a.toLongArray()
    val out = new Array[Long](n - nulls)
    var w = 0
    j = 0
    while (j < n) {
      if (!a.isNullAt(j)) { out(w) = a.getLong(j); w += 1 }
      j += 1
    }
    out
  }
}

/** One document's LSH sketch, computed in one pass over its text: the
  * sorted distinct shingle hashes, the 1-byte-per-component signature
  * sketch and the band hashes. The signature itself stays inside the
  * kernel. Each output equals the expression chain the batch operators
  * plan: `shingle_hash_set(text, k)`, `pack_low_bytes(minhash_signature(
  * sh, numHashes))` and `minhash_bands(minhash_signature(sh, numHashes),
  * bands)`.
  */
object MinHashSketch {
  final case class Sketch(sh: Array[Long], sigb: Array[Byte], buckets: Array[Long])

  def sketch(text: UTF8String, shingleK: Int, numHashes: Int, bands: Int): Sketch = {
    val sh = ShingleHashesImpl.hashArray(text, shingleK, ShingleHashesImpl.XxhDistinctSorted)
    val sig = MinHashImpl.signature(sh, numHashes)
    Sketch(sh, MinHashBytesImpl.packLowBytes(sig), MinHashImpl.bandHashes(sig, bands))
  }
}

object MinHashBytesImpl {
  /** Low byte of every signature component, packed into a binary — the
    * compact pair-similarity sketch. 1 byte/component instead of the
    * 8-byte long (and ~16 bytes/element once inside UnsafeArrayData), so
    * carrying it through a bucket self-join costs ~1/16th of carrying
    * the signature itself.
    */
  def packLowBytes(sig: ArrayData): Array[Byte] = packLowBytes(sig.toLongArray())

  def packLowBytes(sig: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](sig.length)
    var i = 0
    while (i < sig.length) {
      out(i) = (sig(i) & 0xffL).toByte
      i += 1
    }
    out
  }

  /** Fraction of equal positions between two equal-length byte sketches
    * (0.0 on length mismatch — defensive, never happens for signatures
    * built with one numHashes). Estimates pair Jaccard: each MinHash
    * component matches with probability j, and the byte truncation can
    * only ADD spurious matches (p = j + (1-j)/256), so thresholding the
    * fraction from below admits extras but biases against drops.
    */
  def fractionEqual(a: Array[Byte], b: Array[Byte]): Double = {
    if (a.length != b.length || a.length == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < a.length) {
      if (a(i) == b(i)) eq += 1
      i += 1
    }
    eq.toDouble / a.length
  }
}

/** `pack_low_bytes(array<long>) -> binary`: 1-byte-per-component MinHash
  * sketch (see [[MinHashBytesImpl.packLowBytes]]). Codegen'd static call.
  */
case class PackLowBytes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"pack_low_bytes requires array<long>, got ${other.sql}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_low_bytes"

  override def nullSafeEval(input: Any): Any =
    MinHashBytesImpl.packLowBytes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashBytesImpl.packLowBytes($c)")

  override protected def withNewChildInternal(newChild: Expression): PackLowBytes =
    copy(child = newChild)
}

/** `bytes_fraction_equal(binary, binary) -> double`: fraction of equal
  * positions — the MinHash-sketch similarity estimator evaluated inline
  * in LSH bucket joins (codegen'd, so the join filter stays inside
  * whole-stage codegen over hundreds of millions of bucket-pair rows).
  */
case class BytesFractionEqual(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"bytes_fraction_equal requires (binary, binary), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "bytes_fraction_equal"

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashBytesImpl.fractionEqual(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashBytesImpl.fractionEqual($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BytesFractionEqual =
    copy(left = newLeft, right = newRight)
}

/** `minhash_signature(array<long>) -> array<long>` of length `numHashes`,
  * with codegen via a static call (stays inside whole-stage codegen).
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"minhash_signature requires array<long>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    MinHashImpl.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashImpl.signature($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `minhash_bands(array<long>, bands) -> array<long>`: the LSH band
  * hashes of a signature ([[MinHashImpl.bandHashes]]), one codegen'd
  * static call in place of the interpreted `transform(sequence(0,
  * bands-1), b -> xxhash64(slice(sig, b·r+1, r)))` lambda. Never null:
  * a null signature bands to the seed, exactly as that lambda did.
  */
case class MinHashBands(child: Expression, bands: Int) extends UnaryExpression {
  require(bands >= 1, s"bands must be >= 1, got $bands")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"minhash_bands requires array<long>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_bands"

  override def eval(input: InternalRow): Any =
    MinHashImpl.bandHashes(child.eval(input).asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.MinHashImpl.bandHashes(
        ${c.isNull} ? null : ${c.value}, $bands);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}
