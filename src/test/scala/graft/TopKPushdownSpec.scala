package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.arcgis._

/** The custom optimizer rule (SURVEY §4 stretch): window top-k over an
  * ArcGIS scan rewrites to the remote queryTopFeatures endpoint.
  */
class TopKPushdownSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def register(key: String): MockArcGisClient = {
    val fields = Seq(
      ArcGisField("objectid", "esriFieldTypeOID"),
      ArcGisField("grp", "esriFieldTypeString"),
      ArcGisField("rank_key", "esriFieldTypeString")
    )
    val rows = (0 until 40).map { i =>
      EsriFeature(
        Map("objectid" -> i.toLong, "grp" -> s"g${i % 4}", "rank_key" -> f"r${i}%03d"),
        Some((i * 1.0, i * 1.0))
      )
    }
    val c = new MockArcGisClient(fields, rows, 100)
    ArcGisClientRegistry.register(key, c)
    c
  }

  test("window top-k over arcgis scan rewrites to queryTopFeatures") {
    val client = register("topkrule")
    val scan = spark.read.format("arcgis").option("client", "topkrule").load()
    val w = Window.partitionBy(col("grp")).orderBy(col("rank_key"))
    val topk = scan
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("objectid", "grp", "rank_key")

    val rows = topk.collect()
    // correct top-3 per group (rank_key ascending = objectid ascending here)
    assert(rows.length == 12)
    val expect = (0 until 40).groupBy(_ % 4).values.flatMap(_.sorted.take(3)).map(_.toLong).toSet
    assert(rows.map(_.getLong(0)).toSet == expect)

    // and the plan really delegated: no Window/Sort, scan in topFeatures mode
    val plan = topk.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort"), plan)
    // single partition (the remote endpoint call), not offset windows
    assert(topk.rdd.getNumPartitions == 1)
  }

  test("rank column still referenced -> rule declines, window runs in Spark") {
    register("topkrule2")
    val scan = spark.read.format("arcgis").option("client", "topkrule2").load()
    val w = Window.partitionBy(col("grp")).orderBy(col("rank_key"))
    val withRn = scan
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("objectid", "rn") // keeps rn -> not rewritable
    val rows = withRn.collect()
    assert(rows.length == 8)
    assert(rows.map(_.getInt(1)).toSet == Set(1, 2))
    assert(withRn.queryExecution.executedPlan.toString.contains("Window"))
  }
}
