package graft.sql.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable constellation-fingerprint fold — the hot kernel of
  * [[graft.ops.Multimodal.audioFingerprints]]. Emits every
  * `(w, token)` landmark pair of one sample stream as an array of
  * structs, bit-identical to the SQL pipeline it replaces:
  *
  *   - frames of `window` code points (`w = pos div window`, the
  *     DuckDB twin's framing; the old `(?<=\G.{w})` regex split agrees
  *     on the newline-free payloads both engines see);
  *   - band b's energy = Σ of the frame's code points at comb
  *     positions b, b+bands, … (absent positions past the stream end
  *     contribute 0, exactly like the old `ascii('') = 0`);
  *   - the frame's landmark = first-max argmax over bands (ties →
  *     lowest band);
  *   - tokens pair landmark w with landmark w+Δ for each Δ:
  *     `peak·(bands·4) + peakΔ·4 + Δ` — pairs that would read past the
  *     last frame are absent, exactly like the old `lead()` nulls.
  *
  * What it buys (r9): the per-media `lead()` WINDOW EXCHANGE (the only
  * shuffle in the old fingerprint plan), the regex frame split, the
  * frame posexplode, the window-wide unrolled energy/argmax expression
  * chain and the 3-way token explode all fuse into one per-row loop —
  * fingerprinting becomes a pure zero-shuffle projection feeding the
  * match join directly. AudioTokensSpec pins row-set equality against
  * the original formulation. A real FFT frontend replaces this kernel
  * at the same seam (its |FFT| landmark per frame lands in the same
  * (w, token) contract).
  */
case class AudioTokens(child: Expression, window: Int, bands: Int,
    deltas: Seq[Int]) extends UnaryKernel {

  require(deltas.nonEmpty && deltas.forall(d => d >= 1 && d < 4),
    s"delta codes are packed into 2 bits: $deltas")
  require(window % bands == 0,
    s"band comb must tile the frame: window=$window bands=$bands")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("w", LongType, nullable = false),
      StructField("token", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_audio_tokens"

  private lazy val deltaArr: Array[Int] = deltas.toArray

  override protected def nullSafeEval(s: Any): Any =
    AudioTokens.compute(s.asInstanceOf[UTF8String], window, bands, deltaArr)

  override protected def call(ctx: CodegenContext, s: String): String = {
    val dRef = ctx.addReferenceObj("deltas", deltaArr, "int[]")
    s"graft.sql.expressions.AudioTokens.compute($s, $window, $bands, $dRef)"
  }

  override protected def withNewChildInternal(
      newChild: Expression): AudioTokens = copy(child = newChild)
}

object AudioTokens {
  /** Full fingerprint fold. Called from generated code — keep the
    * signature stable.
    */
  def compute(s: UTF8String, window: Int, bands: Int,
      deltas: Array[Int]): GenericArrayData = {
    val str = s.toString
    // code points, materialized once (frames/energies index into it)
    val n = str.codePointCount(0, str.length)
    val cp = new Array[Int](n)
    var ci = 0
    var k = 0
    while (ci < str.length) {
      val c = str.codePointAt(ci)
      cp(k) = c
      ci += Character.charCount(c)
      k += 1
    }
    // an empty stream is one empty frame (the old split-of-"" row):
    // a single landmark, which pairs with nothing
    val nFrames = if (n == 0) 1 else (n + window - 1) / window
    val peaks = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      val base = f * window
      // first-max argmax: strictly-greater replaces, ties keep the
      // earlier (lower) band
      var best = 0
      var bestE = -1L
      var b = 0
      while (b < bands) {
        var e = 0L
        var p = base + b
        val end = math.min(base + window, n)
        while (p < end) {
          e += cp(p)
          p += bands
        }
        if (e > bestE) { bestE = e; best = b }
        b += 1
      }
      peaks(f) = best
      f += 1
    }
    val out = new java.util.ArrayList[InternalRow](nFrames * deltas.length)
    var w = 0
    while (w < nFrames) {
      var di = 0
      while (di < deltas.length) {
        val d = deltas(di)
        if (w + d < nFrames) {
          val token = peaks(w).toLong * (bands * 4) + peaks(w + d) * 4L + d
          out.add(InternalRow(w.toLong, token))
        }
        di += 1
      }
      w += 1
    }
    new GenericArrayData(out.toArray(new Array[InternalRow](out.size())))
  }
}
