package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native per-group top-k operator (graft.plans.TopKPerGroup*): the
  * generic `row_number <= k` window rewrites to bounded-heap physical
  * operators, results stay identical to the WindowExec formulation, and the
  * shuffle input is capped at k rows per (group, partition).
  *
  * The shared test session carries GraftExtensions, so the rewrite is live
  * here; the window baseline is obtained by excluding the rule via
  * spark.sql.optimizer.excludedRules — a same-session differential.
  */
class TopKPerGroupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withRuleDisabled[A](f: => A): A =
    SparkTestSession.withConf("spark.sql.optimizer.excludedRules" -> "graft.plans.TopKToNative")(f)

  private def sample = (0 until 1000)
    .map(i => (s"g${i % 7}", (i * 131) % 997, i.toLong))
    .toDF("grp", "score", "id")
    .repartition(8)

  private def topk = {
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id"))
    sample.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
  }

  test("rewrite produces the native operators and drops WindowExec") {
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupMerge") && plan.contains("TopKPerGroupLocal"),
      s"expected native top-k operators:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"WindowExec should be gone:\n$plan")
    // the partial stage sits BELOW the exchange (shuffle carries <= k rows
    // per group per input partition)
    val lines = plan.linesIterator.toSeq
    val iMerge = lines.indexWhere(_.contains("TopKPerGroupMerge"))
    val iEx = lines.indexWhere(_.contains("Exchange hashpartitioning"), iMerge)
    val iLocal = lines.indexWhere(_.contains("TopKPerGroupLocal"), iEx)
    assert(iMerge >= 0 && iEx > iMerge && iLocal > iEx,
      s"expected Merge > Exchange > Local layering:\n$plan")
  }

  test("native results equal the WindowExec formulation (rank included)") {
    val native = topk.orderBy("grp", "rn").collect().toSeq
    val baseline = withRuleDisabled {
      val df = topk
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerGroupMerge"), s"rule not excluded:\n$plan")
      df.orderBy("grp", "rn").collect().toSeq
    }
    assert(native == baseline)
    assert(native.size == 21) // 7 groups x top-3
    // ranks are 1..3 in strict sort order per group
    native.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(3)).sorted == Seq(1, 2, 3))
      val scores = rows.sortBy(_.getInt(3)).map(_.getInt(1))
      assert(scores == scores.sorted.reverse)
    }
  }

  test("k = 1 keep-first shape and rank-in-projection both survive") {
    val w = Window.partitionBy(col("grp")).orderBy(col("id"))
    val first = sample.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("grp"), col("id"), col("rn"))
    assert(first.queryExecution.executedPlan.toString.contains("TopKPerGroupMerge"))
    val rows = first.orderBy("grp").collect()
    assert(rows.length == 7 && rows.forall(_.getInt(2) == 1))
    // keep-first = min id per group
    val expect = sample.groupBy("grp").agg(min("id")).orderBy("grp")
      .collect().map(_.getLong(1)).toSeq
    assert(rows.map(_.getLong(1)).toSeq == expect)
  }

  test("guardrails: compound filters and non-row_number windows stay on WindowExec") {
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id"))
    // rank filter AND an extra predicate — rewrite declines (the extra
    // predicate must apply AFTER ranking, which the native node cannot honor)
    val compound = sample.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("score") > 100)
    assert(!compound.queryExecution.executedPlan.toString.contains("TopKPerGroupMerge"))
    // rank() is not row_number() — declined
    val rk = sample.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
    assert(!rk.queryExecution.executedPlan.toString.contains("TopKPerGroupMerge"))
  }

  test("the shuffle reads at most k rows per (group, input partition)") {
    // 8 input partitions x 7 groups x k=3 = at most 168 rows ever shuffled
    // (vs 1000 for the window formulation). Observe via the local stage's
    // output: run just the local operator's semantics — every group
    // contributes <= k rows per partition. (AQE off so the physical tree is
    // directly inspectable.)
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val local = topk.queryExecution.executedPlan.collectFirst {
        case l: graft.plans.TopKPerGroupLocalExec => l
      }
      assert(local.isDefined, "local stage present")
      val perPartition = local.get.execute().mapPartitions { it =>
        Iterator.single(it.size)
      }.collect()
      assert(perPartition.sum <= 8 * 7 * 3)
      assert(perPartition.forall(_ <= 7 * 3))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }
}
