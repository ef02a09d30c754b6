package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: its correctness gates must catch the
  * defects they exist for, its inputs must repeat for a seed, and a run
  * must end by itself. Run with `sbt test` in this directory.
  */
class SelfCheckSpec extends AnyFunSuite {
  private lazy val work =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "selfcheck")
  private lazy val spark = Session.create(2, work)

  test("the digest catches a changed row and ignores row order") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 7 % 13).as("v"), lit("x").as("s"))
    val d = Digest.sweep(df)
    assert(d.rows == 1000)
    assert(Digest.sweep(df.orderBy(col("id").desc).repartition(3)) == d)
    val changed = df.withColumn("v", when(col("id") === 421, col("v") + 1).otherwise(col("v")))
    val d2 = Digest.sweep(changed)
    assert(d2.rows == d.rows && d2 != d)
  }

  test("the exact-state check catches a dropped update") {
    val w = new Outgoing(seed = 5, batchSize = 300, units = 60, delayMs = 0, threads = 2, work)
    w.setUp(spark)
    try {
      (0 until 4).foreach(i => assert(w.op(i).ok))
      assert(w.finalCheck() == (0L, 0L))
      // undo the last update one feature received: its time goes back
      val s = w.layer.snapshot.head
      val old = s.attrs("time").asInstanceOf[Long] - 1
      w.layer.update(s"""[{"attributes":{"objectid":${s.oid},"time":$old}}]""")
      assert(w.finalCheck()._2 == 1L)
    } finally w.tearDown()
  }

  test("the same seed gives identical stub request counts across two runs") {
    def outgoingCounts(): Map[String, Long] = {
      val w = new Outgoing(seed = 11, batchSize = 400, units = 100, delayMs = 0, threads = 2, work)
      w.setUp(spark)
      try {
        (0 until 6).foreach(i => assert(w.op(i).ok))
        assert(w.finalCheck()._2 == 0L)
        w.requestTotals.toMap
      } finally w.tearDown()
    }
    val a = outgoingCounts()
    assert(a("requests.token") >= 2, "the token expiry must force a second token")
    assert(a == outgoingCounts())

    def incomingCounts(): Map[String, Long] = {
      val w = new Incoming(seed = 11, features = 9000, delayMs = 0, threads = 2)
      w.setUp(spark)
      try {
        assert(w.op(0).ok)
        w.stub.counters.filter(_._1.startsWith("requests."))
      } finally w.tearDown()
    }
    val b = incomingCounts()
    assert(b("requests.query") == 5) // 9000 features in pages of 2000
    assert(b == incomingCounts())
  }

  test("a run exits by itself, correct, with every end-to-end metric") {
    val out = work.resolve("run.json")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    cmd.addAll(jvmArgs)
    Seq("-cp", System.getProperty("java.class.path"), "graft.perfbench.Main",
      "--workload", "arcgis-outgoing", "--seed", "3", "--seconds", "2", "--trace", "0",
      "--root", Paths.get("..").toAbsolutePath.normalize.toString, "--out", out.toString)
      .foreach(cmd.add)
    val p = new ProcessBuilder(cmd).redirectErrorStream(true)
      .redirectOutput(work.resolve("run.log").toFile).start()
    assert(p.waitFor(150, java.util.concurrent.TimeUnit.SECONDS), "the run did not end by itself")
    assert(p.exitValue() == 0, Files.readString(work.resolve("run.log")).takeRight(3000))
    val result = Files.readString(out)
    assert(result.contains("\"correct\":true"))
    Seq("setup_s", "op_p50_ms", "items_per_s").foreach(m => assert(result.contains(s"\"$m\":")))
  }
}
