package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Bucketed hash-db tables: pre-shuffled on (hash) so repeated joins and
  * aggregations on the key are Exchange-free — the co-located-join
  * strategy SCALING.md prescribes for repeated 100 TB merge workloads.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed-by-hash tables join without a shuffle") {
    import spark.implicits._
    // default ./spark-warehouse (gitignored); warehouse.dir is static conf
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

    try {
      def hashdb(words: Seq[String]) =
        words.toDF("preimage")
          .select(graft.sql.functions.digest("sha256", col("preimage")).as("hash"),
            col("preimage"))

      hashdb((1 to 2000).map(i => s"w$i")).write
        .bucketBy(8, "hash").sortBy("hash")
        .mode("overwrite").saveAsTable("db_a")
      hashdb((1000 to 3000).map(i => s"w$i")).write
        .bucketBy(8, "hash").sortBy("hash")
        .mode("overwrite").saveAsTable("db_b")

      val joined = spark.table("db_a").join(spark.table("db_b"), "hash")
      val plan = joined.queryExecution.executedPlan.toString

      // both sides arrive pre-bucketed: no Exchange anywhere in the join
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 1001) // w1000..w2000 overlap

      // un-bucketed equivalent shuffles both sides — the cost we avoided
      val flat = hashdb((1 to 2000).map(i => s"w$i"))
        .join(hashdb((1000 to 3000).map(i => s"w$i")), "hash")
      assert(flat.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS db_a")
      spark.sql("DROP TABLE IF EXISTS db_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }
}
