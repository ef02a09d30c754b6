package graft.sources.arcgis

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import scala.jdk.CollectionConverters._

/** The offset-mode scan: how pages are packed into partitions and how the
  * pipelined reader walks them (order, prefetch depth, errors, cancel).
  */
class ArcGisPageReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val fields = Seq(ArcGisField("objectid", "esriFieldTypeOID"),
    ArcGisField("name", "esriFieldTypeString"))
  private val schema = StructType(Seq(StructField("objectid", LongType), StructField("name", StringType)))

  private def rows(n: Int): Seq[EsriFeature] =
    (0 until n).map(i => EsriFeature(Map("objectid" -> i.toLong, "name" -> s"feat-$i"), None))

  private def reader(client: ArcGisClient, key: String, windows: Seq[(Long, Int)]): ArcGisPageReader = {
    ArcGisClientRegistry.register(key, client)
    new ArcGisPageReader(schema, Map("client" -> key), ArcGisInputPartition(windows, "1=1"))
  }

  private def drain(r: ArcGisPageReader): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    while (r.next()) out += r.get().getLong(0)
    r.close()
    out.result()
  }

  test("pages pack into min(pages, slots) contiguous runs of near-equal size") {
    for (pages <- 1 to 60; slots <- Seq(1, 2, 3, 4, 7, 16, 64)) {
      val runs = OffsetPages.pack(pages, slots)
      assert(runs.size == math.min(pages, slots), s"$pages pages, $slots slots")
      assert(runs.flatten == (0 until pages), s"$pages pages, $slots slots: $runs")
      assert(runs.forall(_.nonEmpty))
      val sizes = runs.map(_.size)
      assert(sizes.max - sizes.min <= 1 && sizes == sizes.sorted.reverse, s"$pages/$slots: $sizes")
    }
  }

  test("partition count follows spark.sql.leafNodeDefaultParallelism; collect() order is unchanged") {
    val client = new MockArcGisClient(fields, rows(95), pageSize = 10)
    ArcGisClientRegistry.register("pack95", client)
    def read(slots: Int): (Int, Seq[Long]) =
      SparkTestSession.withConf("spark.sql.leafNodeDefaultParallelism" -> slots.toString) {
        val df = spark.read.format("arcgis").option("client", "pack95").load()
        (df.rdd.getNumPartitions, df.select("objectid").collect().map(_.getLong(0)).toSeq)
      }
    val (perPage, expected) = read(100)
    assert(perPage == 10 && expected == (0L until 95L))
    for (slots <- Seq(1, 3, 4)) {
      client.pageLog.clear()
      val (parts, got) = read(slots)
      assert(parts == slots && got == expected, s"$slots slots")
      // every window fetched once, none beyond the planned set
      val pages = client.pageLog.asScala.toSeq.sortBy(_._1)
      assert(pages == (0 until 10).map(i => (i * 10L, if (i == 9) 5 else 10)), s"$slots slots: $pages")
    }
  }

  test("one request in flight per reader, ahead of the consumer; windows in order") {
    val inflight = new AtomicInteger()
    val peak = new AtomicInteger()
    val order = new ConcurrentLinkedQueue[Long]()
    val client = new MockArcGisClient(fields, rows(50), pageSize = 10) {
      override def queryPage(offset: Long, count: Int, where: String, outFields: Seq[String],
          envelope: Option[Envelope], outSR: Option[String]): Seq[EsriFeature] = {
        peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
        order.add(offset)
        try { Thread.sleep(20); super.queryPage(offset, count, where, outFields, envelope, outSR) }
        finally inflight.decrementAndGet()
      }
    }
    val r = reader(client, "depth50", (0 until 5).map(i => (i * 10L, 10)))
    assert(r.next() && r.get().getLong(0) == 0L)
    // the first page is in hand and the second is already requested
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while (order.size < 2 && System.nanoTime() < deadline) Thread.sleep(5)
    assert(order.asScala.toSeq == Seq(0L, 10L))
    assert(0L +: drain(r) == (0L until 50L))
    assert(peak.get == 1 && order.asScala.toSeq == Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("a failing page rethrows its own exception, not an ExecutionException") {
    val client = new MockArcGisClient(fields, rows(30), pageSize = 10) {
      override def queryPage(offset: Long, count: Int, where: String, outFields: Seq[String],
          envelope: Option[Envelope], outSR: Option[String]): Seq[EsriFeature] =
        if (offset == 10L) throw new IllegalStateException("page 10 refused")
        else super.queryPage(offset, count, where, outFields, envelope, outSR)
    }
    val r = reader(client, "fail30", Seq((0L, 10), (10L, 10), (20L, 10)))
    val seen = Seq.newBuilder[Long]
    val e = intercept[IllegalStateException] { while (r.next()) seen += r.get().getLong(0) }
    r.close()
    assert(e.getMessage == "page 10 refused")
    assert(seen.result() == (0L until 10L))
    // through Spark the task fails with that page's message
    val ex = intercept[Exception](spark.read.format("arcgis").option("client", "fail30").load().collect())
    def chain(t: Throwable): Seq[Throwable] = Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(ex).exists(t => Option(t.getMessage).exists(_.contains("page 10 refused"))),
      chain(ex).mkString("\n"))
  }

  test("close() after an early take cancels the in-flight page; later windows are never requested") {
    val interrupted = new CountDownLatch(1)
    val requested = new ConcurrentLinkedQueue[Long]()
    val client = new MockArcGisClient(fields, rows(30), pageSize = 10) {
      override def queryPage(offset: Long, count: Int, where: String, outFields: Seq[String],
          envelope: Option[Envelope], outSR: Option[String]): Seq[EsriFeature] = {
        requested.add(offset)
        if (offset == 10L)
          try { Thread.sleep(60000); Seq.empty }
          catch { case e: InterruptedException => interrupted.countDown(); throw e }
        else super.queryPage(offset, count, where, outFields, envelope, outSR)
      }
    }
    val r = reader(client, "cancel30", Seq((0L, 10), (10L, 10), (20L, 10)))
    assert(r.next() && r.get().getLong(0) == 0L)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while (requested.size < 2 && System.nanoTime() < deadline) Thread.sleep(5)
    r.close()
    assert(interrupted.await(10, TimeUnit.SECONDS), "the pending request was not cancelled")
    assert(requested.asScala.toSeq == Seq(0L, 10L))
  }

  test("a task interrupted while waiting on a page leaves it for close() to cancel") {
    val interrupted = new CountDownLatch(1)
    val requested = new ConcurrentLinkedQueue[Long]()
    val client = new MockArcGisClient(fields, rows(20), pageSize = 10) {
      override def queryPage(offset: Long, count: Int, where: String, outFields: Seq[String],
          envelope: Option[Envelope], outSR: Option[String]): Seq[EsriFeature] = {
        requested.add(offset)
        try { Thread.sleep(60000); Seq.empty }
        catch { case e: InterruptedException => interrupted.countDown(); throw e }
      }
    }
    val r = reader(client, "interrupt20", Seq((0L, 10), (10L, 10)))
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val task = new Thread(() =>
      try r.next()
      catch { case e: Throwable => outcome.set(e) }
      finally r.close())
    task.start()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    while (requested.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    task.interrupt()
    task.join(10000)
    assert(outcome.get.isInstanceOf[InterruptedException], outcome.get)
    assert(interrupted.await(10, TimeUnit.SECONDS), "the pending request was not cancelled")
    assert(requested.asScala.toSeq == Seq(0L))
  }

  test("prefetch threads are daemon threads") {
    val r = reader(new MockArcGisClient(fields, rows(20), pageSize = 10), "daemon20",
      Seq((0L, 10), (10L, 10)))
    assert(drain(r).size == 20)
    val prefetch = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("arcgis-prefetch-"))
    assert(prefetch.nonEmpty && prefetch.forall(_.isDaemon))
  }
}
