package graft.sql

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.core.Hashers
import graft.sql.expressions.{Digest, FloatVecDot, NfcNormalize}

/** SQL-surface registration of the engine's expressions, so plain
  * `spark.sql` text can use them:
  *
  *   spark.sql("SELECT graft_keccak256(word) FROM words")
  *   spark.sql("SELECT graft_vec_dot(a.embedding, b.embedding) FROM …")
  *
  * Enable per-session via
  * `.config("spark.sql.extensions", "graft.sql.GraftExtensions")`, or on an
  * existing session with `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (GraftExtensions.functions ++ GraftExtensions.textFunctions)
      .foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Registration =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** `name`, taking exactly `arity` arguments, built by `f`; its
    * `DESCRIBE FUNCTION` class is the class `f` builds.
    */
  private def one[E <: Expression: ClassTag](name: String, usage: String,
      arity: Int = 1)(f: Seq[Expression] => E): Registration =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, null, name, usage,
        "", "", "", "hash_funcs", "4.0.0", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == arity, s"$name takes exactly " +
          (if (arity == 1) "one argument" else "two arguments"))
        f(children)
      })

  private[sql] val functions: Seq[Registration] =
    Hashers.names.map { algo =>
      val name = s"graft_$algo"
      one(name, s"$name(expr) - $algo digest of a string/binary column as binary.") {
        case Seq(e) => Digest(e, algo)
      }
    } ++ Seq(
      one("graft_vec_dot",
        "graft_vec_dot(a, b) - double dot product of two numeric arrays.", arity = 2) {
        case Seq(a, b) => FloatVecDot(a, b)
      },
      one("graft_nfc", "graft_nfc(text) - Unicode NFC normalization.") {
        case Seq(e) => NfcNormalize(e)
      },
      one("graft_nfkc",
        "graft_nfkc(text) - Unicode NFKC (compatibility) normalization.") {
        case Seq(e) => NfcNormalize(e, nfkc = true)
      })

  /** Text-cleaning ops surfaced as SQL functions. Built from raw Catalyst
    * expression classes (Lower/StringTrim/RegExpReplace) because a
    * function builder must return a REAL expression tree — the Column API
    * produces unresolved ColumnNodes that never pass through the
    * analyzer's node converter on this path. The regex constants are the
    * same ones the Column API uses, so both surfaces stay in lockstep
    * (asserted in GraftExtensionsSpec).
    */
  private[sql] val textFunctions: Seq[Registration] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower, RegExpReplace, StringTrim}
    Seq(
      one("graft_normalize",
        "graft_normalize(text) - canonical lowercase/whitespace-collapsed form.") {
        case Seq(e) =>
          StringTrim(RegExpReplace(
            RegExpReplace(Lower(e), Literal("[\\x00-\\x1f\\x7f]"), Literal(" ")),
            Literal(" {2,}"), Literal(" ")))
      },
      one("graft_redact_pii",
        "graft_redact_pii(text) - emails/IPv4/phones replaced by placeholders.") {
        case Seq(e) =>
          import graft.ops.TextClean.{EmailRe, Ipv4Re, PhoneRe}
          RegExpReplace(
            RegExpReplace(
              RegExpReplace(e, Literal(PhoneRe), Literal("<PHONE>")),
              Literal(EmailRe), Literal("<EMAIL>")),
            Literal(Ipv4Re), Literal("<IP>"))
      })
  }

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    (functions ++ textFunctions).foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
