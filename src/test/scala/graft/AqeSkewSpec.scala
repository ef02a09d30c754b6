package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join splitting — the runtime complement to the manual salting
  * utility (`ops/Salting`, oracle-checked by x1): at 100 TB a hot key is
  * first AQE's problem (skewed partitions split automatically at shuffle
  * boundaries), and only becomes salting's problem where AQE can't reach
  * (non-shuffle stages, aggregate-before-join keys). This spec drops the
  * skew thresholds to test scale and proves the splitting actually fires.
  *
  * All knobs are runtime SQL confs, set/restored on the SHARED test session
  * — never stop a shared SparkContext from a suite.
  */
class AqeSkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    val knobs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    )
    SparkTestSession.withConf(knobs: _*) {
      import spark.implicits._
      // 95% of the probe side lands on one key → one shuffle partition
      // dwarfs the rest
      val probe = (1 to 200000)
        .map(i => (if (i % 20 != 0) 7L else i.toLong % 1000, s"payload-$i"))
        .toDF("k", "payload")
      val build = (0L until 1000L).map(k => (k, s"dim-$k")).toDF("k", "dim")

      val joined = probe.join(build, "k").groupBy("dim").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE skew split did not fire:\n$plan")
    }
  }
}
