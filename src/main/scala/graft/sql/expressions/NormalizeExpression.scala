package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable Unicode normalization (NFC / NFKC) — the canonical
  * pre-tokenization step Spark has no built-in for: a crawl carries the
  * same text as précomposed é and as e+COMBINING ACUTE, and every
  * downstream exact-hash dedup, gram join, and vocab count treats them
  * as different strings unless normalization runs first. NFKC further
  * folds compatibility forms (ﬁ → fi, fullwidth → ASCII) — the
  * SentencePiece default.
  *
  * A native Expression (not a UDF) so the projection stays inside
  * whole-stage codegen with the rest of the cleaning pipeline; the JVM's
  * `java.text.Normalizer` implements the same Unicode standard DuckDB's
  * `nfc_normalize` does, which is what lets q_text_nfc_audit value-check
  * the output cross-engine.
  */
case class NfcNormalize(child: Expression, nfkc: Boolean = false)
    extends UnaryKernel {

  override def dataType: DataType = StringType
  override def prettyName: String = if (nfkc) "graft_nfkc" else "graft_nfc"

  override protected def nullSafeEval(s: Any): Any =
    NfcNormalize.compute(s.asInstanceOf[UTF8String], nfkc)

  override protected def call(ctx: CodegenContext, s: String): String =
    s"graft.sql.expressions.NfcNormalize.compute($s, $nfkc)"

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** NFKC when `nfkc`, else NFC. Called from generated code — keep the
    * signature stable.
    */
  def compute(s: UTF8String, nfkc: Boolean): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString,
      if (nfkc) java.text.Normalizer.Form.NFKC
      else java.text.Normalizer.Form.NFC))
}
