package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for specs (one JVM-wide session). */
trait SparkTestBase { this: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkTestBase {
  /** Specs run on [[GraftSession]]'s confs at a fixed `local[4]`. */
  val Cpus = 4
  lazy val session: SparkSession = GraftSession.build(Cpus, logLevel = "ERROR")
}
