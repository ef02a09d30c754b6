package graft.sources.arcgis

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the streaming `/query` page decoder: on generated
  * pages, rows and features must equal what the tree path makes of the same
  * bytes — [[MiniJson.parse]], the `features[]` walk, then
  * [[ArcGisValues.toRow]]. Values are compared with their boxed classes, so
  * a long decoded as a double (or an int as a long) is caught even where
  * Scala's `==` would call them equal.
  */
class FeatureDecoderSpec extends AnyFunSuite {

  /** The tree path: the whole body as a MiniJson tree, then features. */
  private def oracleFeatures(body: String): Seq[EsriFeature] =
    MiniJson.parse(body).arr("features").map { f =>
      val attrs = f.obj("attributes").map(_.fields).getOrElse(Map.empty)
      val geom = for {
        g <- f.obj("geometry")
        x <- g.num("x"); y <- g.num("y")
      } yield (x, y)
      EsriFeature(attrs.collect { case (k, v: Any) => k -> v }, geom)
    }

  private def typed(v: Any): String = if (v == null) "null" else s"${v.getClass.getName}:$v"

  private def rowKey(schema: StructType)(r: InternalRow): Seq[String] =
    schema.fields.indices.map(i => typed(r.get(i, schema(i).dataType)))

  private def featureKey(f: EsriFeature): (Seq[(String, String)], Option[(Double, Double)]) =
    (f.attributes.toSeq.map { case (k, v) => k -> typed(v) }.sortBy(_._1), f.geometry)

  // ------------------------------------------------------------ generators
  private val ws = Gen.frequency(6 -> "", 2 -> " ", 1 -> "\n  ", 1 -> "\t", 1 -> "\r\n")

  /** One character of a JSON string: raw, or one of the escape forms. */
  private val strChar: Gen[String] = Gen.frequency(
    10 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("é", "中", "ß", " "),
    2 -> Gen.oneOf("\\\"", "\\\\", "\\/", "\\n", "\\t", "\\r", "\\b", "\\f"),
    2 -> Gen.choose(0, 0xd7ff).map(c => f"\\u$c%04x"),
    1 -> Gen.oneOf("\\u00E9", "\\uD83D\\uDE00", "\\ud83d\\ude00", "😀", "\\uD800"),
    1 -> Gen.const(" "))
  private val jsonString = Gen.listOfN(6, strChar).flatMap(cs =>
    Gen.choose(0, 6).map(n => cs.take(n).mkString("\"", "", "\"")))

  private val jsonNumber: Gen[String] = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(_.toString),
    Gen.choose(-1e6, 1e6).map(_.toString),
    Gen.choose(-180.0, 180.0).map(d => java.lang.Double.toString(d)),
    Gen.oneOf("0", "-0", "0.0", "-0.0", "1.5e3", "-2E-5", "3e0", "1E+2", "12.50",
      "0.1", "9007199254740993", "9007199254740993.0", "123456789012345678.5",
      "1700000000000", "2147483648", "-2147483649", "1e20", "-1e20", "4.9e-324"))

  private val scalar: Gen[String] = Gen.frequency(
    4 -> jsonString, 5 -> jsonNumber, 1 -> Gen.oneOf("true", "false"), 2 -> Gen.const("null"))

  private def list(g: Gen[String], open: String, close: String): Gen[String] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, g)).flatMap(xs =>
      ws.map(w => xs.mkString(open + w, w + "," + w, w + close)))

  private val nested: Gen[String] = Gen.oneOf(
    list(scalar, "[", "]"),
    list(Gen.zip(Gen.oneOf("a", "b", "c"), scalar).map { case (k, v) => s""""$k":$v""" }, "{", "}"))

  private val value: Gen[String] = Gen.frequency(10 -> scalar, 1 -> nested)

  /** Layer fields, the synthetic columns and strangers, some keys escaped. */
  private val keys = Seq("objectid", "name", "score", "level", "reading", "flag", "note",
    "geom_x", "_deleted", "extra", "Name", "n\\u0061me", "sc\\u006fre", "caf\\u00e9", "café")

  private def member(k: Gen[String], v: Gen[String]): Gen[String] =
    for (k <- k; v <- v; a <- ws; b <- ws) yield s""""$k"$a:$b$v"""

  private val attributes: Gen[String] = Gen.frequency(
    12 -> Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, member(Gen.oneOf(keys), value)))
      .flatMap(ms => ws.map(w => ms.mkString("{" + w, "," + w, w + "}"))),
    1 -> Gen.const("null"),
    1 -> Gen.const("[]"))

  private val coord: Gen[String] = Gen.frequency(8 -> jsonNumber, 1 -> jsonString, 1 -> Gen.const("null"))

  private val geometry: Gen[String] = Gen.frequency(
    8 -> Gen.zip(coord, coord).map { case (x, y) => s"""{"x":$x,"y":$y}""" },
    2 -> Gen.zip(coord, coord).map { case (x, y) =>
      s"""{"y" : $y, "spatialReference":{"wkid":4326,"latestWkid":4326}, "x":$x}""" },
    1 -> coord.map(x => s"""{"x":$x}"""),
    1 -> Gen.const("{}"),
    1 -> Gen.const("null"))

  private val feature: Gen[String] = Gen.frequency(
    20 -> (for {
      a <- Gen.option(attributes)
      g <- Gen.option(geometry)
      dup <- Gen.frequency(9 -> Option.empty[String], 1 -> Gen.some(attributes))
      order <- Gen.oneOf(true, false)
      w <- ws
    } yield {
      val ms = a.map(x => s""""attributes":$x""").toSeq ++ g.map(x => s""""geometry":$x""") ++
        dup.map(x => s""""attributes":$x""")
      (if (order) ms else ms.reverse).mkString("{" + w, "," + w, w + "}")
    }),
    1 -> Gen.const("null"))

  private val page: Gen[String] = for {
    n <- Gen.choose(0, 12)
    fs <- Gen.listOfN(n, feature)
    w <- ws
    trailer <- Gen.oneOf("", ""","exceededTransferLimit":true""", ""","fields":[{"name":"a","type":"t"}]""")
  } yield fs.mkString(s"""{"objectIdFieldName":"objectid",$w"features":$w[$w""", "," + w, s"$w]$trailer}$w")

  private val allFields = Seq(
    StructField("objectid", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("level", IntegerType),
    StructField("reading", FloatType), StructField("flag", BooleanType),
    StructField("note", StringType), StructField("café", StringType),
    StructField("geom_x", DoubleType), StructField("geom_y", DoubleType),
    StructField("_deleted", BooleanType, nullable = false))

  /** A pruned, reordered read schema. */
  private val schema: Gen[StructType] =
    Gen.someOf(allFields).flatMap(fs => Gen.pick(fs.size, fs)).map(fs => StructType(fs.toSeq))

  private def check(p: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(400).withInitialSeed(20261017L), p)
    assert(res.passed, Pretty.pretty(res))
  }

  test("scanPage rows equal toRow over the MiniJson tree on generated pages") {
    check(Prop.forAll(page, schema) { (body, s) =>
      val bytes = body.getBytes(UTF_8)
      val got = FeatureDecoder.rows(bytes, s, "test").toSeq.map(rowKey(s))
      val want = oracleFeatures(body).map(f => rowKey(s)(ArcGisValues.toRow(s, f)))
      Prop(got == want) :| s"body: $body\nschema: ${s.simpleString}\ngot:  $got\nwant: $want"
    })
  }

  test("queryPage features equal the MiniJson tree's on generated pages") {
    check(Prop.forAll(page) { body =>
      val got = FeatureDecoder.features(body.getBytes(UTF_8), "test").map(featureKey)
      val want = oracleFeatures(body).map(featureKey)
      Prop(got == want) :| s"body: $body\ngot:  $got\nwant: $want"
    })
  }

  test("a truncated body fails as malformed exactly where MiniJson does") {
    val body =
      """{"features":[{"attributes":{"objectid":7,"name":"a \"q\" é","score":-1.5e2,""" +
        """"flag":true,"note":null,"x":[1,{"a":2}]},"geometry":{"x":1.25,"y":-2}}],"more":false}"""
    val s = StructType(allFields)
    for (n <- 0 until body.length) {
      val cut = body.take(n)
      val treeFails = scala.util.Try(MiniJson.parse(cut)).isFailure
      val bytes = cut.getBytes(UTF_8)
      if (treeFails) {
        val e = intercept[RuntimeException](FeatureDecoder.rows(bytes, s, "test"))
        assert(e.getMessage.startsWith("malformed ArcGIS JSON response"), s"cut at $n: ${e.getMessage}")
        val f = intercept[RuntimeException](FeatureDecoder.features(bytes, "test"))
        assert(f.getMessage.startsWith("malformed ArcGIS JSON response"), s"cut at $n: ${f.getMessage}")
      } else
        assert(FeatureDecoder.features(bytes, "test").map(featureKey) == oracleFeatures(cut).map(featureKey),
          s"cut at $n")
    }
  }

  test("malformed bodies fail as malformed ArcGIS JSON response") {
    val s = StructType(allFields)
    for (body <- Seq("", "   ", """{"features":[{"attributes":{"score":1.2.3}}]}""",
        """{"features":[1,]}""", """{"features":[{"attributes":{"name":"\""" + """u12"}}]}""",
        """{"features":[{"attributes":{"objectid":99999999999999999999}}]}""",
        """{"features":[{"attributes":{,}}]}""", """{"features" [] }""")) {
      assert(scala.util.Try(MiniJson.parse(body)).isFailure, body)
      val e = intercept[RuntimeException](FeatureDecoder.rows(body.getBytes(UTF_8), s, "test"))
      assert(e.getMessage.startsWith("malformed ArcGIS JSON response"), s"$body: ${e.getMessage}")
    }
  }

  test("a top-level error object throws ArcGisServerError with its code") {
    val e = intercept[ArcGisServerError](FeatureDecoder.rows(
      """{"error":{"code":498,"message":"Invalid token","details":[]}}""".getBytes(UTF_8),
      StructType(allFields), "GET /query"))
    assert(e.code == 498 && e.authFailure)
    assert(e.getMessage.contains("error envelope") && e.getMessage.contains("Invalid token"))
    // a non-object `error` member is just another member
    assert(FeatureDecoder.features("""{"error":"none","features":[]}""".getBytes(UTF_8), "t").isEmpty)
  }
}
