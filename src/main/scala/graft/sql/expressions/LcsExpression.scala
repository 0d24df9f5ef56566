package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen-capable longest-common-subsequence LENGTH over two
  * array<string> columns — the hot kernel of [[graft.ops.TextAnalysis
  * .rougeL]]. Bitwise-identical to the nested-`aggregate` HOF DP it
  * replaces (max-of-three recurrence; a null ELEMENT never matches
  * anything, including another null — the `when(c === r, …)` semantics),
  * but runs as a tight two-row int DP inside whole-stage codegen instead
  * of interpreted per-cell lambdas that copy the accumulator array per
  * cell (the FloatVecDot precedent: HOF lambdas are interpreted and
  * allocate; this is a fused loop).
  *
  * Cost is |a|·|b| integer steps per row — callers bound both sides
  * (rougeL cuts to maxLen ≤ 64), so the kernel is O(1) per pair and
  * embarrassingly parallel at any corpus size.
  */
case class LcsLength(left: Expression, right: Expression)
    extends BinaryKernel {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lcs_length"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override protected def nullSafeEval(l: Any, r: Any): Any =
    LcsLength.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def call(a: String, b: String): String =
    s"graft.sql.expressions.LcsLength.compute($a, $b)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsLength =
    copy(left = newLeft, right = newRight)
}

object LcsLength {
  /** Rolling two-row LCS DP; null elements never match (not even each
    * other). Called from generated code — keep the signature stable.
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    // ref tokens materialized once (getUTF8String allocates a holder)
    val bs = new Array[org.apache.spark.unsafe.types.UTF8String](m)
    var j = 0
    while (j < m) {
      bs(j) = if (b.isNullAt(j)) null else b.getUTF8String(j)
      j += 1
    }
    var prev = new Array[Int](m + 1)
    var curr = new Array[Int](m + 1)
    var i = 0
    while (i < n) {
      val ai = if (a.isNullAt(i)) null else a.getUTF8String(i)
      var k = 0
      while (k < m) {
        val eq = ai != null && bs(k) != null && ai.equals(bs(k))
        val diag = prev(k) + (if (eq) 1 else 0)
        val up = prev(k + 1)
        val lft = curr(k)
        curr(k + 1) = math.max(diag, math.max(up, lft))
        k += 1
      }
      val t = prev; prev = curr; curr = t
      curr(0) = 0
      i += 1
    }
    prev(m).toLong
  }
}
