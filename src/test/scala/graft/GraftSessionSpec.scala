package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point runs on [[GraftSession]]'s confs: the shared test
  * session reports them, reusing a live session leaves it as it is, and
  * no second `SparkSession.builder` chain exists in the program.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  test("the shared test session reports the shared confs at local[4]") {
    assert(spark.sparkContext.master == s"local[${SparkTestBase.Cpus}]")
    val confs = GraftSession.confs(SparkTestBase.Cpus)
    assert(confs("spark.sql.shuffle.partitions") == "4")
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.ui.enabled").foreach { k =>
      assert(spark.conf.get(k) == confs(k), k)
    }
  }

  test("a live session is reused without rewriting its partition count") {
    // Main.run builds its session inside the specs' live one
    assert(GraftSession.build(cpus = 7, logLevel = "ERROR") eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("SparkSession.builder appears in one file under src/main, and the " +
    "test session comes from GraftSession") {
    val main = Paths.get("src/main/scala")
    assume(Files.isDirectory(main), "source tree present")
    def read(p: Path) = new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    val builders = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => read(p).contains("SparkSession.builder"))
      .map(main.relativize(_).toString).toSeq
    assert(builders == Seq("graft/GraftSession.scala"))
    val base = read(Paths.get("src/test/scala/graft/SparkTestBase.scala"))
    assert(base.contains("GraftSession.build(") &&
      !base.contains("SparkSession.builder"))
  }
}
