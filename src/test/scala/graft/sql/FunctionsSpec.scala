package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.core.Hashers
import graft.sql.functions._

class FunctionsSpec extends AnyFunSuite with SparkTestBase {

  test("digest() matches reference vectors through a real plan (codegen path)") {
    import spark.implicits._
    val df = Seq("hello", "password").toDF("w")
    val cols = col("w") +: Hashers.names.map(a => digestHex(a, col("w")).as(a))
    val out = df.select(cols: _*).collect().map(r => r.getString(0) -> r).toMap
    assert(out("hello").getAs[String]("md5") == "5d41402abc4b2a76b9719d911017c592")
    assert(out("hello").getAs[String]("keccak256") ==
      "1c8aff950685c2ed4bc3174f3472287b56d9517b9c948127319a09a7a36deac8")
    assert(out("hello").getAs[String]("blake3") ==
      "ea8f163db38682925e4491c5e58d4bb3506ef8c14eb78a86e908c5624a67200f")
    assert(out("hello").getAs[String]("ripemd160") ==
      "108f07b8382412612c048d07d13f814118445acd")
    assert(out("password").getAs[String]("sha256") ==
      "5e884898da28047151d0e56f8dc6292773603d0d6aabbdd62a11ef721d1542d8")
  }

  test("digest() interpreted path (codegen off) agrees with codegen path") {
    import spark.implicits._
    // RDD rows: over a Seq.toDF relation ConvertToLocalRelation folds the
    // projection interpretively, and both runs would be eval (as in
    // KernelEvalArmSpec). The pure-Scala digests are the ones at risk.
    val words = spark.sparkContext.parallelize(Seq("a", "", "unicode-é-字"), 2)
      .toDF("w")
    def run() = words
      .select(Seq("blake3", "keccak256", "ripemd160")
        .map(a => digestHex(a, col("w"))): _*)
      .collect().map(_.toSeq).toSeq
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val previous = keys.map(k => k -> spark.conf.getOption(k))
    val codegen = run()
    val eval =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        run()
      } finally previous.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(codegen.size == 3)
    assert(codegen == eval)
  }

  test("digest() of binary column and null handling") {
    import spark.implicits._
    val df = Seq(Some("hello"), None).toDF("w")
      .select(digest("sha256", col("w")).as("h"))
    val rows = df.collect()
    assert(Hashers.hex(rows(0).getAs[Array[Byte]]("h")) ==
      "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824")
    assert(rows(1).isNullAt(0))
    // binary input: digest(digest(x)) == hash256(x)
    val comp = Seq("hello").toDF("w")
      .select(hexLower(digest("sha256", digest("sha256", col("w")))).as("h2"))
      .head().getString(0)
    assert(comp == "9595c9df90075148eb06860365df33584b75bff782a510c6cd4883a419833d50")
  }

  test("digest() rejects unsupported algorithms and input types") {
    import spark.implicits._
    intercept[IllegalArgumentException](digest("sha3", col("x")))
    val err = intercept[Exception] {
      Seq(1).toDF("n").select(digest("md5", col("n"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string or binary"))
  }

  test("hashPrefixPredicate filters correctly and pushes down as a range") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pred").toString
    val db = Seq("apple", "banana", "cherry", "hello", "world")
      .toDF("w")
      .select(digest("sha256", col("w")).as("hash"), col("w").as("preimage"))
    db.write.mode("overwrite").parquet(s"$dir/db")
    val read = spark.read.parquet(s"$dir/db")

    // exact lookup
    val helloHex = "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824"
    val exact = read.filter(hashPrefixPredicate(col("hash"), helloHex))
    assert(exact.select("preimage").as[String].collect().toSeq == Seq("hello"))

    // prefix lookup (first byte of hello's sha256)
    val pre = read.filter(hashPrefixPredicate(col("hash"), "2c"))
      .select("preimage").as[String].collect().toSet
    assert(pre.contains("hello"))

    // empty prefix matches all (reference tests/integration.rs:395-396)
    assert(read.filter(hashPrefixPredicate(col("hash"), "")).count() == 5)

    // the physical plan must show pushed filters on `hash` (range form)
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(hash") || plan.contains("EqualTo(hash")),
      s"no pushed hash filter in:\n$plan")
  }
}
