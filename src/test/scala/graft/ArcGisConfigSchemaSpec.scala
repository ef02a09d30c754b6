package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.arcgis._
import graft.sources.arcgis.ArcGisConfigSchema._

/** The reference's `schema(type, flow)` 4-way matrix
  * (`/root/reference/task.ts:53-90`) + plan-time option validation.
  */
class ArcGisConfigSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("(Incoming, Input): static IncomingInput with enum + default metadata") {
    val s = ArcGisConfigSchema.schema(Incoming, Input)
    assert(s.fieldNames.toSeq == Seq("ARCGIS_URL", "ARCGIS_QUERY", "ARCGIS_QUERY_STRATEGY",
      "ARCGIS_PARAMS", "ARCGIS_PORTAL", "ARCGIS_USERNAME", "ARCGIS_PASSWORD"))
    assert(!s("ARCGIS_URL").nullable) // required, like Type.String()
    assert(s("ARCGIS_QUERY").nullable) // Type.Optional
    val strat = s("ARCGIS_QUERY_STRATEGY").metadata
    assert(strat.getString("enum").split(",").toSeq == Strategies)
    assert(strat.getString("default") == "query")
    // ARCGIS_PARAMS is the Key/Value array of task.ts:20-23
    val params = s("ARCGIS_PARAMS").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(params.elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("Key", "Value"))
  }

  test("(Outgoing, Input): static OutgoingInput; PRESERVE_HISTORY defaults false") {
    val s = ArcGisConfigSchema.schema(Outgoing, Input)
    assert(!s("ARCGIS_PORTAL").nullable && !s("ARCGIS_USERNAME").nullable &&
      !s("ARCGIS_PASSWORD").nullable)
    assert(s("ARCGIS_POINTS_URL").nullable && s("ARCGIS_LINES_URL").nullable &&
      s("ARCGIS_POLYS_URL").nullable)
    assert(s("PRESERVE_HISTORY").metadata.getString("default") == "false")
  }

  test("(Incoming, Output): remote layer schema when configured, EMPTY when not") {
    // unconfigured → empty schema, never an error (task.ts:64,69)
    assert(ArcGisConfigSchema.schema(Incoming, Output, None).isEmpty)
    val client = new MockArcGisClient(
      Seq(ArcGisField("objectid", "esriFieldTypeOID"),
        ArcGisField("name", "esriFieldTypeString")),
      Seq.empty)
    ArcGisClientRegistry.register("cfgschema", client)
    val s = ArcGisConfigSchema.schema(Incoming, Output, Some("cfgschema"))
    assert(s.fieldNames.toSeq == Seq("objectid", "name", "geom_x", "geom_y"))
  }

  test("(Outgoing, Output): empty") {
    assert(ArcGisConfigSchema.schema(Outgoing, Output).isEmpty)
  }

  test("JSON-Schema document converts to a Catalyst StructType (TypeBox shape)") {
    import org.apache.spark.sql.types._
    // the IncomingInput-style TypeBox document the reference's schema() emits
    val doc = """{
      "type": "object",
      "required": ["ARCGIS_URL"],
      "properties": {
        "ARCGIS_URL": {"type": "string"},
        "ARCGIS_QUERY": {"type": "string"},
        "RETRIES": {"type": "integer"},
        "SCORE": {"type": "number"},
        "PRESERVE_HISTORY": {"type": "boolean", "default": false},
        "ARCGIS_PARAMS": {"type": "array", "items": {
          "type": "object", "required": ["Key", "Value"],
          "properties": {"Key": {"type": "string"}, "Value": {"type": "string"}}}}
      }
    }"""
    val s = ArcGisSchema.fromJsonSchema(doc)
    assert(s("ARCGIS_URL").dataType == StringType && !s("ARCGIS_URL").nullable)
    assert(s("ARCGIS_QUERY").nullable)
    assert(s("RETRIES").dataType == LongType)
    assert(s("SCORE").dataType == DoubleType)
    assert(s("PRESERVE_HISTORY").dataType == BooleanType)
    val params = s("ARCGIS_PARAMS").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(params.fieldNames.toSeq == Seq("Key", "Value"))
    assert(params.fields.forall(!_.nullable))
  }

  test("strategy enum is enforced at PLAN time, before any partition fans out") {
    val client = new MockArcGisClient(
      Seq(ArcGisField("objectid", "esriFieldTypeOID")), Seq.empty)
    ArcGisClientRegistry.register("cfgbad", client)
    val e = intercept[Exception] {
      spark.read.format("arcgis").option("client", "cfgbad")
        .option("strategy", "queryTopFeture") // typo
        .load().count()
    }
    assert(e.getMessage.contains("invalid strategy"), e.getMessage)
    // legal values pass validation case-insensitively
    Seq("query", "QUERYTOPFEATURES", "oidrange").foreach { s =>
      ArcGisConfigSchema.validateOptions(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("client", "cfgbad", "strategy", s,
            "groupByField", "g", "orderByField", "o")))
    }
    val bad = intercept[IllegalArgumentException] {
      ArcGisConfigSchema.validateOptions(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("pageSize", "ten")))
    }
    assert(bad.getMessage.contains("pageSize"))
  }

  test("strategy=queryTopFeatures: group/order fields and topCount are checked at PLAN time") {
    def validate(kv: (String, String)*): Unit =
      ArcGisConfigSchema.validateOptions(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          (("strategy" -> "queryTopFeatures") +: kv).toMap.asJava))
    def failure(kv: (String, String)*): String =
      intercept[IllegalArgumentException](validate(kv: _*)).getMessage
    val both = Seq("groupByField" -> "status", "orderByField" -> "name")
    validate(both: _*)
    validate(both :+ ("topCount" -> "3"): _*)
    assert(failure("orderByField" -> "name").contains("groupByField"))
    assert(failure("groupByField" -> "status").contains("orderByField"))
    assert(failure("groupByField" -> "", "orderByField" -> "name").contains("groupByField"))
    assert(failure(both :+ ("topCount" -> "two"): _*).contains("topCount must be an integer"))
    assert(failure(both :+ ("topCount" -> "0"): _*).contains("topCount must be positive"))
    // other strategies ignore the topFeatures options
    ArcGisConfigSchema.validateOptions(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("strategy", "query", "topCount", "two")))

    // and a scan fails when it is built, not inside a task
    val client = new MockArcGisClient(
      Seq(ArcGisField("objectid", "esriFieldTypeOID")), Seq.empty)
    ArcGisClientRegistry.register("cfgtop", client)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("arcgis").option("client", "cfgtop")
        .option("strategy", "queryTopFeatures").option("orderByField", "objectid")
        .load()
    }
    assert(e.getMessage.contains("groupByField"), e.getMessage)
  }
}
