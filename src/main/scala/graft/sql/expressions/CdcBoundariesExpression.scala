package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable content-defined-chunking boundary scan — the hot
  * kernel of [[graft.ops.Substring.cdcChunks]]. Emits the ascending
  * 1-based positions `i ∈ [w, numChars]` whose trailing `w`-code-point
  * window satisfies the 1-in-64 mask rule of the SQL formulation it
  * replaces: `md5(substr(text, i−w+1, w))` starts with hex digit '0'
  * and a second digit in '0'..'3' — equivalently, the digest's first
  * BYTE is ≤ 0x03 (md5 runs over the window's UTF-8 bytes, exactly
  * what Spark's `md5(substr(...))` binary cast hashes; windows are
  * code-point aligned, the `substr` convention). Bit-identical
  * positions, pinned by CdcSpec against the original
  * explode→filter→collect_list formulation.
  *
  * What it buys (r9): the boundary scan becomes a pure per-row
  * projection — the explode of one row per character position, the
  * boundary-row aggregation exchange (collect_list) and the
  * boundaries→docs join-back all disappear; an op that was
  * explode+shuffle+join is now zero-shuffle. The O(len·w) hashing cost
  * itself is the documented price of the stateless replayable mask
  * rule and is unchanged.
  */
case class CdcBoundaries(child: Expression, w: Int)
    extends UnaryKernel {

  require(w >= 4, s"window too small for a stable mask rule: w=$w")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"

  override protected def nullSafeEval(s: Any): Any =
    CdcBoundaries.compute(s.asInstanceOf[UTF8String], w)

  override protected def call(ctx: CodegenContext, s: String): String =
    s"graft.sql.expressions.CdcBoundaries.compute($s, $w)"

  override protected def withNewChildInternal(
      newChild: Expression): CdcBoundaries = copy(child = newChild)
}

object CdcBoundaries {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Full boundary scan. Called from generated code — keep the
    * signature stable. Returns an ascending int array (empty when the
    * text is shorter than the window).
    */
  def compute(s: UTF8String, w: Int): GenericArrayData = {
    val bytes = s.getBytes
    // byte offset of each code point (offs(k) = start of code point k;
    // offs(n) = total length), so window (i−w+1..i) in 1-based chars is
    // bytes offs(i−w) until offs(i) — the UTF-8 slice Spark's
    // md5(substr(...)) hashes
    val n = s.numChars()
    if (n < w) return new GenericArrayData(Array.emptyIntArray)
    val offs = new Array[Int](n + 1)
    var k = 0
    var bo = 0
    while (k < n) {
      offs(k) = bo
      bo += UTF8String.numBytesForFirstByte(bytes(bo))
      k += 1
    }
    offs(n) = bytes.length
    val dig = md5.get()
    val digOut = new Array[Byte](16) // reused digest buffer
    val out = new java.util.ArrayList[Integer](n / 32)
    var i = w // 1-based end position of the trailing window
    while (i <= n) {
      dig.reset()
      dig.update(bytes, offs(i - w), offs(i) - offs(i - w))
      dig.digest(digOut, 0, 16)
      // hex digit1 == '0' && digit2 in '0'..'3'  ⟺  first byte ≤ 0x03
      if ((digOut(0) & 0xff) <= 0x03) out.add(i)
      i += 1
    }
    val arr = new Array[Int](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }
}
