package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SafeParse

/** The engine is also consumable through plain `spark.sql` — temp views over
  * the corpus plus the SQL-registered custom functions.
  */
class SqlApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("spark.sql over registered views matches the DataFrame plan") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    val viaSql = spark.sql(
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ).collect()
    val viaDf = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
      .collect()
    assert(viaSql.toSeq == viaDf.toSeq)
  }

  test("mercator_x/mercator_y callable from SQL via GraftExtensions") {
    val r = spark.sql("SELECT mercator_x(CAST(10.0 AS DOUBLE)) AS x, mercator_y(CAST(45.0 AS DOUBLE)) AS y").head()
    assert(r.getDouble(0) == graft.functions.WebMercator.x(10.0))
    assert(r.getDouble(1) == graft.functions.WebMercator.y(45.0))
    // vector + text kernels are SQL-callable through the same catalog
    val v = spark.sql(
      """SELECT vec_dot(a, b) AS d, vec_norm(a) AS n,
        |  shingle_array('x y z w', 3) AS sh
        |FROM VALUES (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS t(a, b)""".stripMargin
    ).head()
    assert(v.getDouble(0) == 11.0)
    assert(v.getDouble(1) == Math.sqrt(5.0))
    assert(v.getSeq[String](2) == Seq("x y z", "y z w"))
    // set-intersection merge kernels (string / int / long element types)
    val si = spark.sql(
      """SELECT set_intersect_size(array('a','b','c'), array('b','c','d')) AS s,
        |  set_intersect_size_int(array(1, 2, 3), array(2, 3, 9)) AS i,
        |  set_intersect_size_long(array(1L, 5L), array(5L, 7L)) AS l""".stripMargin
    ).head()
    assert((si.getInt(0), si.getInt(1), si.getInt(2)) == ((2, 2, 1)))
    // fingerprint, PQ and binary-codec kernels through the same catalog
    val fp = spark.sql(
      """SELECT simhash60('a b c') AS sh,
        |  element_at(pq_dists(array_repeat(CAST(0.5 AS FLOAT), 64)), 1) AS pd,
        |  pcm_stats(wav_pack(8000, 1, 16, CAST('ab' AS BINARY))) AS st,
        |  wav_meta(wav_pack(8000, 1, 16, CAST('ab' AS BINARY))).sample_rate AS sr""".stripMargin
    ).head()
    assert(fp.getLong(0) == graft.functions.TextExpressions.simHash60Eval(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    assert(fp.getDouble(1) >= 0.0)
    assert(fp.getStruct(2).getLong(0) == 1L) // one 16-bit sample from "ab"
    assert(fp.getInt(3) == 8000)
    // plan-time integer args coerce from any numeric literal type: a
    // BIGINT literal must not ClassCastException in the builder
    val co = spark.sql(
      """SELECT pcm_fingerprint(wav_pack(8000, 1, 16, CAST('abcd' AS BINARY)),
        |                       CAST(8 AS BIGINT)) AS f,
        |  shingle_array('x y z w', CAST(3 AS BIGINT)) AS sh""".stripMargin
    ).head()
    assert(!co.isNullAt(0))
    assert(co.getSeq[String](1) == Seq("x y z", "y z w"))
    // a non-foldable scalar arg fails with a named, actionable error
    val nf = intercept[Exception] {
      spark.sql("SELECT shingle_array(c, k) FROM VALUES ('a b c', 2) AS t(c, k)").head()
    }
    assert(nf.getMessage.contains("shingle_array") &&
      nf.getMessage.contains("literal integer"), nf.getMessage)
    // out-of-range bins surfaces the plan-time range check, not a wrap
    val oob = intercept[Exception] {
      spark.sql("SELECT pcm_fingerprint(CAST('x' AS BINARY), 65)").head()
    }
    assert(oob.getMessage.contains("bins must be in [1, 64]"), oob.getMessage)
  }

  test("T8 SafeParse splits good rows from corrupt records without failing") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", LongType)))
    val df = Seq(
      """{"id":"a","v":1}""",
      """{"id":"b","v":2}""",
      """{not json at all""",
      """{"id":"c","v":"not-a-number"}"""
    ).toDF("body")
    val (good, bad) = SafeParse.parseJson(df, "body", schema)
    val g = good.select("id", "v").as[(String, Option[Long])].collect().sortBy(_._1)
    assert(g.map(_._1).toSeq == Seq("a", "b"))
    assert(g.collect { case (_, Some(v)) => v }.toSeq == Seq(1L, 2L))
    // both the unparseable row AND the type-mismatched row land on the side
    // channel with their raw payloads intact for replay
    val b = bad.as[String].collect().sorted
    assert(b.length == 2)
    assert(b.exists(_.contains("not json")) && b.exists(_.contains("not-a-number")))
  }
}
