package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable k-lane MinHash over word n-grams — the
  * [[CharMinhash]] twin behind [[graft.ops.Dedup.minhashSignaturesKernel]],
  * the md5 word signature path. For raw document text it keeps, per lane
  * s ∈ [0, k), the minimum md5 digest of `s ‖ "|" ‖ gram` over every
  * n-token gram, where tokens are the `split(text, " ")` fields
  * (single-space regex, limit −1: consecutive spaces yield EMPTY
  * tokens, trailing/leading empties kept — Java split semantics,
  * replicated here as token boundaries at every 0x20 byte, which in
  * UTF-8 encodes U+0020 and nothing else). A gram is
  * `concat_ws(" ", tok_i..tok_{i+n-1})`, and joining n consecutive
  * single-space-split tokens with single spaces reconstructs the
  * ORIGINAL byte span from the start of token i to the end of token
  * i+n−1 — so each gram is hashed directly as a (from, len) slice of
  * the text's UTF-8 bytes, no token/gram strings are ever built. Min
  * over occurrences ≡ min over the distinct gram set, and raw-digest
  * comparison reproduces the hex-string min (see [[CharMinhash]]).
  * Pinned bit-identical to the explode→distinct→vocab-md5→join→groupBy
  * formulation by WordMinhashSpec.
  *
  * What it buys (r10): the md5 signature pipeline — gram explode,
  * vocabulary `distinct()` exchange, the vocabulary join back, and the
  * k-min aggregation exchange — collapses to a per-row projection:
  * zero shuffles on the signature side at any scale. The r8 finding
  * that per-occurrence hashing loses to vocabulary amortization was an
  * EXPRESSION-LAYER result (per-gram concat + hex-string building per
  * lane); this kernel hashes byte slices with no allocations, which
  * flips the trade (measured r10).
  */
case class WordMinhash(child: Expression, n: Int, k: Int)
    extends UnaryKernel {

  require(n >= 1, s"gram size must be positive: n=$n")
  require(k >= 1 && k <= 64, s"unreasonable lane count: k=$k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_minhash"

  override protected def nullSafeEval(s: Any): Any =
    WordMinhash.compute(s.asInstanceOf[UTF8String], n, k)

  override protected def call(ctx: CodegenContext, s: String): String =
    s"graft.sql.expressions.WordMinhash.compute($s, $n, $k)"

  override protected def withNewChildInternal(
      newChild: Expression): WordMinhash = copy(child = newChild)
}

object WordMinhash {
  /** Full k-lane gram scan. Called from generated code — keep the
    * signature stable. Returns an EMPTY array when the text has fewer
    * than n tokens (such docs produce no grams and hence no signature
    * row in the original pipeline — callers filter on size).
    */
  def compute(s: UTF8String, n: Int, k: Int): GenericArrayData = {
    val bytes = s.getBytes
    // token separators: every 0x20 byte (UTF-8 encodes U+0020 as 0x20
    // and never uses 0x20 in multi-byte sequences)
    var m = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) m += 1
      i += 1
    }
    val numTokens = m + 1
    if (numTokens < n)
      return new GenericArrayData(Array.empty[Any])
    val sp = new Array[Int](m)
    var j = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { sp(j) = i; j += 1 }
      i += 1
    }
    val prefixes = CharMinhash.lanePrefixes(k)
    val mins = Array.fill(k)(Array.fill[Byte](16)(-1)) // 0xFF.. = max
    val dig = CharMinhash.md5.get()
    val digOut = new Array[Byte](16) // reused digest buffer
    var g = 0
    val lastGram = numTokens - n
    while (g <= lastGram) {
      // gram g covers tokens g..g+n-1: bytes from the start of token g
      // to the end of token g+n-1 (the single-space separators inside
      // the span ARE the concat_ws(" ") joints)
      val from = if (g == 0) 0 else sp(g - 1) + 1
      val end = if (g + n - 1 < m) sp(g + n - 1) else bytes.length
      var lane = 0
      while (lane < k) {
        dig.reset()
        dig.update(prefixes(lane))
        dig.update(bytes, from, end - from)
        dig.digest(digOut, 0, 16)
        if (CharMinhash.less(digOut, mins(lane)))
          System.arraycopy(digOut, 0, mins(lane), 0, 16)
        lane += 1
      }
      g += 1
    }
    new GenericArrayData(mins.map(CharMinhash.hex(_): Any))
  }
}
