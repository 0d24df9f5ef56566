package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("SQL text can call the digest registry after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT lower(hex(graft_keccak256('hello'))) AS k,
        |       lower(hex(graft_blake3('hello'))) AS b,
        |       lower(hex(graft_hash160('hello'))) AS h160""".stripMargin).head()
    assert(r.getString(0) ==
      "1c8aff950685c2ed4bc3174f3472287b56d9517b9c948127319a09a7a36deac8")
    assert(r.getString(1) ==
      "ea8f163db38682925e4491c5e58d4bb3506ef8c14eb78a86e908c5624a67200f")
    assert(r.getString(2) == "b6a9c8c230722b7c748331a8b450f05566dc7d0f")
  }

  test("graft_vec_dot works over SQL arrays and matches the Column API") {
    GraftExtensions.register(spark)
    val sqlVal = spark.sql(
      "SELECT graft_vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .head().getDouble(0)
    assert(sqlVal == 32.0)
    val err = intercept[Exception](
      spark.sql("SELECT graft_vec_dot(array(1.0D))").head())
    assert(err.getMessage.contains("exactly two"))
  }

  test("text ops are callable from SQL and agree with the Column API") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_normalize(concat('  MiXeD', char(9), ' text ')) AS n,
        |  graft_redact_pii('mail me x@y.io from 10.0.0.1 now') AS p""".stripMargin)
      .head()
    assert(r.getString(0) == "mixed text")
    assert(r.getString(1) == "mail me <EMAIL> from <IP> now")
    // lockstep with the Column API implementations on the same inputs
    val viaCols = Seq(("  MiXeD\t text ", "mail me x@y.io from 10.0.0.1 now"))
      .toDF("a", "b")
      .select(graft.ops.TextClean.normalize(col("a")),
        graft.ops.TextClean.redactPii(col("b")))
      .head()
    assert(viaCols.getString(0) == r.getString(0))
    assert(viaCols.getString(1) == r.getString(1))
  }

  test("graft_vec_dot returns null, not a wrong product, on null elements") {
    GraftExtensions.register(spark)
    // array(1.0D, NULL) has containsNull=true → per-element guard active,
    // both in the interpreted path and in codegen
    val r = spark.sql(
      """SELECT graft_vec_dot(array(1.0D, CAST(NULL AS DOUBLE)),
        |                     array(2.0D, 3.0D)) AS d,
        |       graft_vec_dot(array(1.0D, 2.0D),
        |                     array(2.0D, CAST(NULL AS DOUBLE))) AS e""".stripMargin)
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // null-free values inside a nullable-element array still compute
    val ok = spark.sql(
      """SELECT graft_vec_dot(array(1.0D, CAST(2.0D AS DOUBLE)),
        |  CASE WHEN rand() >= 0 THEN array(3.0D, 4.0D) END)""".stripMargin)
      .head().getDouble(0)
    assert(ok == 11.0)
  }

  test("SQL queries over a built hash db through registered functions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ext-db").toString + "/db"
    graft.pipeline.BuildJob.run(spark, Seq("password", "hello").toDS(), dir,
      graft.pipeline.BuildJob.Config(Seq("blake3"), sourceName = "w"))
    GraftExtensions.register(spark)
    spark.read.parquet(dir).createOrReplaceTempView("hashdb")
    val rows = spark.sql(
      """SELECT preimage FROM hashdb
        |WHERE hash = graft_blake3('password')""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("password"))
  }

  test("graft_nfc/graft_nfkc: combining sequences compose, compatibility " +
    "forms fold, idempotent, null-safe, and inside codegen") {
    GraftExtensions.register(spark)
    // e + COMBINING ACUTE (2 codepoints) -> precomposed e-acute (1);
    // LATIN SMALL LIGATURE FI (U+FB01) folds only under NFKC. Explicit
    // escapes so nothing depends on this source file's own encoding.
    val decomposed = "cafe\u0301 \ufb01le" // 9 codepoints
    val nfc = "caf\u00e9 \ufb01le"          // 8
    val nfkc = "caf\u00e9 file"             // 9
    val r = spark.sql(
      s"""SELECT length(s) AS raw_len,
         |  length(graft_nfc(s)) AS nfc_len,
         |  graft_nfc(s) = '$nfc' AS nfc_keeps_ligature,
         |  graft_nfkc(s) = '$nfkc' AS nfkc_folds,
         |  graft_nfc(graft_nfc(s)) = graft_nfc(s) AS idempotent,
         |  graft_nfc(CAST(NULL AS STRING)) IS NULL AS null_safe
         |FROM (SELECT '$decomposed' AS s)""".stripMargin).head()
    assert(r.getAs[Int]("raw_len") == 9 && r.getAs[Int]("nfc_len") == 8)
    assert(r.getAs[Boolean]("nfc_keeps_ligature") &&
      r.getAs[Boolean]("nfkc_folds") && r.getAs[Boolean]("idempotent") &&
      r.getAs[Boolean]("null_safe"))
    // the dedup payoff: the two encodings of cafe-acute hash apart raw,
    // together after NFC
    val h = spark.sql(
      s"""SELECT md5('cafe\u0301') = md5('caf\u00e9') AS raw_eq,
         |  md5(graft_nfc('cafe\u0301')) = md5(graft_nfc('caf\u00e9'))
         |    AS nfc_eq""".stripMargin).head()
    assert(!h.getAs[Boolean]("raw_eq") && h.getAs[Boolean]("nfc_eq"))
  }

  test("DESCRIBE FUNCTION EXTENDED names each function's own class") {
    GraftExtensions.register(spark)
    Seq("graft_md5" -> "graft.sql.expressions.Digest",
      "graft_vec_dot" -> "graft.sql.expressions.FloatVecDot",
      "graft_nfc" -> "graft.sql.expressions.NfcNormalize",
      "graft_nfkc" -> "graft.sql.expressions.NfcNormalize",
      "graft_normalize" -> "org.apache.spark.sql.catalyst.expressions.StringTrim",
      "graft_redact_pii" ->
        "org.apache.spark.sql.catalyst.expressions.RegExpReplace").foreach {
      case (fn, cls) =>
        val lines = spark.sql(s"DESCRIBE FUNCTION EXTENDED $fn")
          .collect().map(_.getString(0))
        assert(lines.contains(s"Class: $cls"), s"$fn: ${lines.mkString(" | ")}")
    }
  }
}
