package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable k-lane MinHash over character n-grams — the hot
  * kernel of [[graft.ops.Dedup.minhashLshChars]]'s md5 signature
  * path. For an already-whitespace-stripped text it slides
  * the n-code-point gram window once and keeps, per lane s ∈ [0, k),
  * the minimum md5 digest of `s ‖ "|" ‖ gram` — exactly the family the
  * SQL formulation computes per exploded gram
  * (`min(md5(concat(lit(s), lit("|"), w)))`), returned as the array of
  * k lowercase-hex strings in lane order. Bit-identical because:
  * grams are the same code-point windows Spark's `substr` takes (md5
  * hashes their UTF-8 bytes); min over occurrences ≡ min over the
  * distinct gram set; and the 32-hex-char rendering of md5 is
  * order-isomorphic to unsigned byte-wise comparison of the raw
  * digests (nibble→hex-char is monotone in ASCII), so comparing raw
  * digests and hexing only the winners reproduces the string min.
  * Pinned by CharMinhashSpec against the original explode→distinct→
  * groupBy formulation, verbatim.
  *
  * What it buys (r10): the signature pipeline — corpus-gram explode,
  * gram `distinct()` exchange, per-gram k-way hex-string building, and
  * the k-min aggregation exchange — collapses to a per-row projection:
  * zero shuffles and zero per-gram string allocations on the signature
  * side at any scale (the gram frame survives only for the
  * exact-Jaccard verify, which needs it regardless).
  */
case class CharMinhash(child: Expression, n: Int, k: Int)
    extends UnaryKernel {

  require(n >= 1, s"gram size must be positive: n=$n")
  require(k >= 1 && k <= 64, s"unreasonable lane count: k=$k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_minhash"

  override protected def nullSafeEval(s: Any): Any =
    CharMinhash.compute(s.asInstanceOf[UTF8String], n, k)

  override protected def call(ctx: CodegenContext, s: String): String =
    s"graft.sql.expressions.CharMinhash.compute($s, $n, $k)"

  override protected def withNewChildInternal(
      newChild: Expression): CharMinhash = copy(child = newChild)
}

object CharMinhash {
  private[expressions] val md5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private val HexChars = "0123456789abcdef".toCharArray

  /** a < b, unsigned byte-wise lexicographic (both length 16). */
  private[expressions] def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  private[expressions] def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Lane prefixes "0|".."{k-1}|" — the md5 family salts. */
  private[expressions] def lanePrefixes(k: Int): Array[Array[Byte]] =
    Array.tabulate(k)(s =>
      (s.toString + "|").getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Full k-lane gram scan. Called from generated code — keep the
    * signature stable. Returns an EMPTY array when the text is shorter
    * than one gram (callers filter those docs out before the kernel,
    * matching the original pipeline where such docs produce no grams
    * and hence no signature row).
    */
  def compute(s: UTF8String, n: Int, k: Int): GenericArrayData = {
    val bytes = s.getBytes
    val numChars = s.numChars()
    if (numChars < n)
      return new GenericArrayData(Array.empty[Any])
    // byte offset of each code point: gram g covers bytes
    // offs(g) until offs(g + n) — the UTF-8 slice Spark's
    // md5(substr(...)) hashes
    val offs = new Array[Int](numChars + 1)
    var c = 0
    var bo = 0
    while (c < numChars) {
      offs(c) = bo
      bo += UTF8String.numBytesForFirstByte(bytes(bo))
      c += 1
    }
    offs(numChars) = bytes.length
    val prefixes = lanePrefixes(k)
    val mins = Array.fill(k)(Array.fill[Byte](16)(-1)) // 0xFF.. = max
    val dig = md5.get()
    val digOut = new Array[Byte](16) // reused digest buffer
    var g = 0
    val lastGram = numChars - n
    while (g <= lastGram) {
      val from = offs(g)
      val len = offs(g + n) - from
      var lane = 0
      while (lane < k) {
        dig.reset()
        dig.update(prefixes(lane))
        dig.update(bytes, from, len)
        dig.digest(digOut, 0, 16)
        if (less(digOut, mins(lane)))
          System.arraycopy(digOut, 0, mins(lane), 0, 16)
        lane += 1
      }
      g += 1
    }
    new GenericArrayData(mins.map(hex(_): Any))
  }
}
