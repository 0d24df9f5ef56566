package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable 64-bit perceptual average-hash over a decoded
  * payload string — the hot kernel of [[graft.ops.Multimodal]]'s
  * `aHashBits` core (aHashWide, frameAHash, and everything above them:
  * phash pairs, shot boundaries, keyframes, video near-dup).
  * Bit-identical to the explode→aggregate pipeline it replaces: the
  * payload is cut into 64 equal code-point segments (`seg = pos·64 div
  * n`), bit (63 − seg) is set iff `segSum·n > totalSum·segLen`
  * (cross-multiplied BIGINT, no doubles), segments empty under n < 64
  * vote 0 exactly like the absent rows of the old groupBy. Replaces a
  * per-CHARACTER posexplode plus two aggregation exchanges and a join
  * PER HASH with one fused per-row loop inside whole-stage codegen
  * (the DctHash64/LcsLength precedent) — the operator family becomes a
  * pure projection, zero shuffle.
  *
  * Characters are CODE POINTS (the `length`/`substring`/`ascii`
  * convention of the SQL formulation and the DuckDB twin); the segment
  * comparison's BIGINT headroom bound (n²·0x10FFFF < 2⁶³ → n ≤ 2.8·10⁶
  * code points per payload) is the old pipeline's own bound, unchanged.
  *
  * Returns the hash as a LONG (nibble p of the classic d1..d16 layout
  * = bits 4·(16−p)..4·(16−p)+3); callers derive d1..d16 and the hex
  * render with plain shift/mask projections. Null for an empty string
  * (callers filter empties first).
  */
case class AHash64(child: Expression) extends UnaryKernel {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ahash64"

  override protected def nullSafeEval(s: Any): Any =
    AHash64.compute(s.asInstanceOf[UTF8String])

  // null also on EMPTY input (not just null input)
  override protected def nullOnEmpty: Boolean = true

  override protected def call(ctx: CodegenContext, s: String): String =
    s"graft.sql.expressions.AHash64.compute($s)"

  override protected def withNewChildInternal(
      newChild: Expression): AHash64 = copy(child = newChild)
}

object AHash64 {
  /** Full hash fold. Called from generated code — keep the signature
    * stable. Returns a boxed Long, or null for an empty string.
    */
  def compute(s: UTF8String): java.lang.Long = {
    val str = s.toString
    val n = str.codePointCount(0, str.length).toLong
    if (n == 0L) return null
    val segSum = new Array[Long](64)
    val segLen = new Array[Long](64)
    var totalSum = 0L
    var ci = 0
    var pos = 0L
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      val seg = ((pos * 64L) / n).toInt
      segSum(seg) += cp
      segLen(seg) += 1L
      totalSum += cp
      ci += Character.charCount(cp)
      pos += 1L
    }
    var h = 0L
    var seg = 0
    while (seg < 64) {
      // empty segments (n < 64) have segSum = segLen = 0: 0 > 0 is
      // false, matching the old pipeline's absent rows
      if (segSum(seg) * n > totalSum * segLen(seg))
        h |= 1L << (63 - seg)
      seg += 1
    }
    java.lang.Long.valueOf(h)
  }
}
