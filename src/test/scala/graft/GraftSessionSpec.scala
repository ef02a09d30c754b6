package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: the engine configuration every entry point
  * runs under, the SPARK_GRAFT_CONF parser, and a guard that keeps session
  * construction inside GraftSession.scala.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // what Verify certified the oracle results under before the factory
  private def certified(cores: Int) = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "8")

  test("pinned keys equal what Verify certified under, in the settings and the live session") {
    assert(certified(7).toSet.subsetOf(GraftSession.settings(7).toSet))
    assert(GraftSession.Pinned.subsetOf(certified(7).keySet))
    certified(4).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
  }

  test("the TopK rewrite fires and vec_dot resolves from SQL") {
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
    val topk = (0 until 100).map(i => (i % 5, i)).toDF("g", "v")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    assert(topk.queryExecution.executedPlan.toString.contains("TopKPerGroupMerge"))
    val d = spark.sql("SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
    assert(d == 11.0)
  }

  test("an override string is applied after the defaults") {
    val s = GraftSession.settings(4,
      "spark.sql.files.maxPartitionBytes=1048576;;spark.shuffle.sort.bypassMergeThreshold=200").toMap
    assert(s("spark.sql.files.maxPartitionBytes") == "1048576")
    assert(s("spark.shuffle.sort.bypassMergeThreshold") == "200")
    assert(s("spark.sql.shuffle.partitions") == "4")
    assert(GraftSession.overrides("") == Nil)
  }

  test("an override of a pinned key is logged with the warning, others without") {
    val buf = new java.io.ByteArrayOutputStream()
    val prior = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try GraftSession.overrides("spark.sql.shuffle.partitions=3;spark.sql.adaptive.enabled=false")
    finally System.setErr(prior)
    val log = buf.toString("UTF-8").linesIterator.filter(_.contains("SPARK_GRAFT_CONF override")).toSeq
    assert(log.size == 2, log)
    assert(log.head.contains("spark.sql.shuffle.partitions=3") && log.head.contains("** WARNING"), log)
    assert(log(1).contains("spark.sql.adaptive.enabled=false") && !log(1).contains("WARNING"), log)
  }

  test("a malformed override entry fails the require") {
    Seq("spark.sql.adaptive.enabled", "=false").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.overrides(s"a=b;$bad"))
      assert(e.getMessage.contains("needs k=v"), e.getMessage)
    }
  }

  test("no session builder outside GraftSession.scala") {
    val needle = "SparkSession" + ".builder"
    val src = new java.io.File("src")
    assert(src.isDirectory, s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = sources(src)
    assert(files.exists(_.getName == "GraftSession.scala"))
    val offenders = files.filter(f => f.getName != "GraftSession.scala" &&
      java.nio.file.Files.readString(f.toPath).contains(needle))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
