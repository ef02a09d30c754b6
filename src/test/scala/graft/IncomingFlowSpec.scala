package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{IncomingFlow, MockTakClient, TakClientRegistry}
import graft.sources.arcgis._

/** §3.1 end-to-end: ArcGIS scan → T1/T2/T3 normalization → TAK submit,
  * matching the FIXTURES.md expected shapes (id `layer-19-42`, properties
  * nested under `metadata`).
  */
class IncomingFlowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkClient(): MockArcGisClient = {
    val fields = Seq(
      ArcGisField("objectid", "esriFieldTypeOID"),
      ArcGisField("NAME", "esriFieldTypeString"),
      ArcGisField("STATUS", "esriFieldTypeString")
    )
    val rows = (0 until 25).map { i =>
      EsriFeature(
        Map("objectid" -> i.toLong, "NAME" -> s"Station $i",
          "STATUS" -> (if (i % 2 == 0) "Active" else "Closed")),
        if (i == 13) None else Some((-105.0 - i * 0.1, 39.0 + i * 0.1))
      )
    }
    new MockArcGisClient(fields, rows, 10)
  }

  test("incoming flow normalizes features per the fixture contract") {
    ArcGisClientRegistry.register("inc1", mkClient())
    val fc = IncomingFlow.features(spark, "inc1", "19")
    val rows = fc.collect()
    // feature 13 had no geometry → dropped (P4)
    assert(rows.length == 24)
    val f42 = fc.filter(col("id") === "layer-19-7").head()
    // T2: dynamic attrs nested under properties.metadata
    val meta = f42.getStruct(f42.fieldIndex("properties"))
      .getMap[String, String](0)
    assert(meta("NAME") == "Station 7" && meta("STATUS") == "Closed")
    val geom = f42.getStruct(f42.fieldIndex("geometry"))
    assert(geom.getString(0) == "Point")
  }

  test("incoming flow submits GeoJSON to the TAK sink with count (A1+S7)") {
    ArcGisClientRegistry.register("inc2", mkClient())
    val tak = new MockTakClient
    TakClientRegistry.register("tak2", tak)
    val n = IncomingFlow.run(spark, "inc2", "tak2", "19", where = Some("STATUS = 'Active'"))
    assert(n == 13) // actives = even ids 0,2,...,24; the null-geometry row (13) is odd/closed
    assert(tak.submitted.size() == n)
    val one = tak.submitted.toArray.map(_.toString).find(_.contains("layer-19-0")).get
    assert(one.contains(""""type":"Feature""""))
    assert(one.contains(""""metadata""""))
    assert(one.contains(""""coordinates""""))
  }

  test("feature ids come from the layer's OID field whatever its name (FID)") {
    // hosted layers published from shapefiles name their OID field FID;
    // the id must come from that field, never a hard-coded `objectid`
    val fields = Seq(
      ArcGisField("FID", "esriFieldTypeOID"),
      ArcGisField("NAME", "esriFieldTypeString"))
    val rows = (1 to 5).map { i =>
      EsriFeature(Map("FID" -> i.toLong, "NAME" -> s"Site $i"), Some((-100.0 - i, 40.0)))
    }
    ArcGisClientRegistry.register("inc-fid", new MockArcGisClient(fields, rows, 10))
    val ids = IncomingFlow.features(spark, "inc-fid", "7")
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == (1 to 5).map(i => s"layer-7-$i"))
  }
}
