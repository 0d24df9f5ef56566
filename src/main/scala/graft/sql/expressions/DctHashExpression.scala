package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable 64-bit DCT perceptual hash over a decoded payload
  * string — the hot kernel of [[graft.ops.Multimodal.dctHashWide]].
  * Bitwise-identical to the HOF-fold pipeline it replaces (same gray
  * matrix `g(p) = codepoint(p mod n) mod 256`, same quantized BIGINT
  * DCT basis, same rank-32 AC median threshold, same (u, v) nibble
  * render — the equality is pinned per element by DctHashSpec against
  * an independent reference fold), but runs as one fused integer loop
  * inside whole-stage codegen instead of four interpreted
  * `transform`/`aggregate` lambdas whose 1024/256/64-cell accumulator
  * arrays are rebuilt per element (the LcsLength precedent). The
  * replaced HOF tree was also ~2.8 s of ANALYSIS/interpreted overhead
  * per run even on a 200-row input — flat across scale factors — where
  * this node costs the optimizer nothing.
  *
  * Cost is a constant ~41k multiply-adds per row (1024-cell matrix,
  * 256·32 row stage, 64·32 column stage): O(1) per media document and
  * embarrassingly parallel at any corpus size. ZERO shuffle, zero
  * joins — the operator stays a pure per-row projection.
  */
case class DctHash64(child: Expression) extends UnaryKernel {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_dct_hash64"

  override protected def nullSafeEval(s: Any): Any =
    DctHash64.compute(s.asInstanceOf[UTF8String])

  // null also on EMPTY input (not just null input)
  override protected def nullOnEmpty: Boolean = true

  override protected def call(ctx: CodegenContext, s: String): String =
    s"graft.sql.expressions.DctHash64.compute($s)"

  override protected def withNewChildInternal(
      newChild: Expression): DctHash64 = copy(child = newChild)
}

object DctHash64 {
  /** Quantized DCT-II basis: cq(x, u) = floor(cos(π(2x+1)u/64)·10⁶),
    * x ∈ 0..31, u ∈ 0..7 — the SINGLE definition; `Multimodal.
    * dctBasisQ` (which the DuckDB oracle twin renders as literals)
    * re-exports this seq, so kernel and oracle can never drift.
    */
  val basisQ: Seq[(Int, Int, Long)] =
    for (x <- 0 until 32; u <- 0 until 8) yield (x, u,
      math.floor(math.cos(math.Pi * (2 * x + 1) * u / 64.0) * 1e6).toLong)

  /** basis flattened to index x*8 + u, exactly the literal-array layout
    * the HOF pipeline used */
  private val CQ: Array[Long] = {
    val arr = new Array[Long](256)
    basisQ.foreach { case (x, u, c) => arr(x * 8 + u) = c }
    arr
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Full hash fold. Called from generated code — keep the signature
    * stable. Character indexing is by CODE POINT (`substring`/`ascii`
    * semantics of the replaced SQL fold: Spark counts string positions
    * in code points and `ascii` yields the leading code point), and
    * every code point is clamped `mod 256` (the documented non-ASCII
    * headroom guard — identity for the ASCII decode stub). Returns
    * null for an empty string (callers filter empties; the SQL fold's
    * `p % 0` would have errored instead, but no caller can reach it).
    */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numChars()
    if (n == 0) return null
    // first min(n, 1024) code points: p mod n never reads past either
    val need = math.min(n, 1024)
    val cp = new Array[Int](need)
    val str = s.toString
    var ci = 0 // char index into the Java string (UTF-16)
    var k = 0
    while (k < need) {
      val c = str.codePointAt(ci)
      cp(k) = c & 0xff // == codepoint mod 256, codepoints are >= 0
      ci += Character.charCount(c)
      k += 1
    }
    // gray matrix g(p) = cp(p mod n), flat p = 32x + y. `p % need` IS
    // `p mod n`: for n < 1024, need == n; for n >= 1024, p < 1024 <= n
    // so both reduce to p.
    val g = new Array[Long](1024)
    var p = 0
    while (p < 1024) {
      g(p) = cp(p % need).toLong
      p += 1
    }
    // row stage: r(u*32 + y) = Σ_x g(32x + y)·cq(x*8 + u)
    val r = new Array[Long](256)
    var i = 0
    while (i < 256) {
      val u = i >> 5
      val y = i & 31
      var acc = 0L
      var x = 0
      while (x < 32) {
        acc += g(x * 32 + y) * CQ(x * 8 + u)
        x += 1
      }
      r(i) = acc
      i += 1
    }
    // column stage: c(u*8 + v) = Σ_y r(u*32 + y)·cq(y*8 + v)
    val c = new Array[Long](64)
    i = 0
    while (i < 64) {
      val u = i >> 3
      val v = i & 7
      var acc = 0L
      var y = 0
      while (y < 32) {
        acc += r(u * 32 + y) * CQ(y * 8 + v)
        y += 1
      }
      c(i) = acc
      i += 1
    }
    // exact rank-32 median of the 63 AC coefficients (ascending value
    // sort, 32nd value — ties cannot move the 32nd VALUE)
    val ac = new Array[Long](63)
    System.arraycopy(c, 1, ac, 0, 63)
    java.util.Arrays.sort(ac)
    val m = ac(31)
    // 16 hex nibbles in (u, v) order, DC included in the vote
    val hex = new Array[Char](16)
    var d = 0
    while (d < 16) {
      var nib = 0
      if (c(d * 4) > m) nib |= 8
      if (c(d * 4 + 1) > m) nib |= 4
      if (c(d * 4 + 2) > m) nib |= 2
      if (c(d * 4 + 3) > m) nib |= 1
      hex(d) = HexDigits(nib)
      d += 1
    }
    UTF8String.fromString(new String(hex))
  }
}
