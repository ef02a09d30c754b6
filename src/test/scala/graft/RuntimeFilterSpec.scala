package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime bloom-filter join pruning — the optimizer injects a bloom filter
  * built from the selective (dim) side into the fact scan, so fact rows that
  * cannot join are dropped BEFORE the shuffle. At 100 TB this is the
  * difference between shuffling the whole fact table and shuffling the ~0.1%
  * that survives a selective dim filter — complementary to static partition
  * pruning (BucketingSpec) and AQE skew handling (AqeSkewSpec).
  *
  * Thresholds are dropped to test scale on the SHARED session and restored
  * afterwards; production plans rely on the defaults.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("selective dim join injects a bloom filter on the fact side") {
    val knobs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    )
    SparkTestSession.withConf(knobs: _*) {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
      (1 to 200000).map(i => (i.toLong % 10000, i.toLong)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$dir/fact.parquet")
      (1L to 500L).map(i => (i, s"dim$i")).toDF("k", "d")
        .write.mode("overwrite").parquet(s"$dir/dim.parquet")

      val fact = spark.read.parquet(s"$dir/fact.parquet")
      val dim = spark.read.parquet(s"$dir/dim.parquet").filter(col("k") < 100)
      val q = fact.join(dim, "k").groupBy(col("d")).agg(count(lit(1)).as("n"))
      val rows = q.collect()

      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloom") || plan.contains("might_contain"),
        s"no runtime bloom filter in plan:\n$plan")
      // and it must not change results: keys 1..99 x 20 fact rows each
      assert(rows.length == 99 && rows.forall(_.getLong(1) == 20L))
    }
  }
}
