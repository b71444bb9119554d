package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Character k-shingle hashing as ONE compiled loop per document —
  * the r18 replacement for the interpreted
  * `transform(sequence(...), i -> hash(text.substr(i, k)))` chains that
  * opened every near-dup / winnowing / quality plan. Higher-order
  * array functions are `CodegenFallback`: per shingle the old chain
  * paid an interpreted lambda dispatch, a UTF8String substring
  * ALLOCATION, and (on the md5 path) a hex-encode + string `conv`
  * round-trip — for a 2 KB document that is ~2k allocations before the
  * signature/winnow loop even starts. This expression walks the
  * document's UTF-8 bytes once, computes each window's hash straight
  * from the parent byte array (zero copies on the xxh64 path, one
  * digest update on the md5 path), and is codegen-friendly (static
  * call), so it fuses into the surrounding whole-stage-codegen project.
  *
  * Three modes, each bit-for-bit the column expression it replaces:
  *
  *  - XxhPositional: `transform(sequence(1, greatest(len-k+1, 1)),
  *    i -> xxhash64(substr(i, k)))` — positional (duplicates kept,
  *    document order), the winnowing input. xxhash64 = XXH64 over the
  *    shingle's UTF-8 bytes, seed 42 (Spark's literal seed).
  *  - Md5Positional: same windows, hash =
  *    `conv(substring(md5(shingle), 1, 15), 16, 10)::long` — the first
  *    15 hex nibbles of the MD5 digest, i.e. the big-endian first-8-
  *    bytes long >>> 4 (60 bits, always non-negative) — the
  *    cross-engine-verifiable variant.
  *  - XxhDistinctSorted: `array_sort(transform(array_distinct(
  *    charShingles(text, k)), s -> xxhash64(s)))` — the set
  *    representation `sortedShingleHashes`/`minhashSignature` consume.
  *    Distinctness is by HASH here (sort + adjacent-dedup), where the
  *    old chain deduped the shingle STRINGS first: the two differ only
  *    when two DISTINCT shingles of ONE document collide in 64 bits
  *    (~|doc|²/2⁶⁴ ≈ 1e-13 — and the downstream merge-walk jaccard
  *    already documents that regime as out of contract, since a
  *    duplicated value would break its sorted-distinct assumption
  *    either way).
  *
  * Window semantics shared by all modes (and by the chains replaced):
  * windows slide by CODE POINT (UTF8String character steps — identical
  * to `substr`); a text shorter than k yields the whole text as its
  * single shingle; the empty string yields one empty shingle, hashing
  * the empty byte array.
  */
object ShingleHashesImpl {
  final val XxhPositional = 0
  final val Md5Positional = 1
  final val XxhDistinctSorted = 2

  private val Xxh64Seed = 42L

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Byte offset of each code-point start, plus the end offset. */
  private def charOffsets(bytes: Array[Byte]): Array[Int] = {
    val offs = new Array[Int](bytes.length + 1)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      offs(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(n) = bytes.length
    java.util.Arrays.copyOf(offs, n + 1)
  }

  def hashes(text: UTF8String, k: Int, mode: Int): ArrayData =
    new GenericArrayData(hashArray(text, k, mode))

  /** [[hashes]] as a primitive array — the input of
    * [[MinHashSketch.sketch]], which never boxes an element.
    */
  def hashArray(text: UTF8String, k: Int, mode: Int): Array[Long] = {
    val bytes = text.getBytes
    val offs = charOffsets(bytes)
    val nChars = offs.length - 1
    val n = math.max(nChars - k + 1, 1)
    val out = new Array[Long](n)
    val md = if (mode == Md5Positional) md5Local.get() else null
    var i = 0
    while (i < n) {
      val s = offs(i)
      val e = offs(math.min(i + k, nChars))
      out(i) =
        if (mode == Md5Positional) {
          md.reset()
          md.update(bytes, s, e - s)
          val d = md.digest()
          // first 15 hex nibbles == big-endian first-8-bytes >>> 4
          (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
            ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
        } else {
          XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + s, e - s, Xxh64Seed)
        }
      i += 1
    }
    if (mode == XxhDistinctSorted) {
      java.util.Arrays.sort(out)
      var w = 0
      var r = 0
      while (r < n) {
        if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
        r += 1
      }
      if (w == n) out else java.util.Arrays.copyOf(out, w)
    } else out
  }
}

/** `shingle_hashes(string, k, mode) -> array<long>` — see
  * [[ShingleHashesImpl]]; codegen'd static call.
  */
case class ShingleHashes(child: Expression, shingleK: Int, mode: Int) extends UnaryExpression {
  require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
  require(mode >= 0 && mode <= 2, s"unknown shingle-hash mode $mode")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = mode match {
    case ShingleHashesImpl.Md5Positional => "shingle_hashes_md5"
    case ShingleHashesImpl.XxhDistinctSorted => "shingle_hash_set"
    case _ => "shingle_hashes"
  }

  override def nullSafeEval(input: Any): Any =
    ShingleHashesImpl.hashes(input.asInstanceOf[UTF8String], shingleK, mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashesImpl.hashes($c, $shingleK, $mode)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}
