package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.ops.{IncomingFlow, TakClient, TakClientRegistry}
import graft.sources.arcgis._

/** TAK sink that counts what it receives: features, batches, and an
  * order-insensitive sum over the feature ids (the first field of every
  * GeoJSON feature the flow serializes). */
final class CountingTakClient extends TakClient {
  val features = new AtomicLong()
  val batches = new AtomicLong()
  val idSum = new AtomicLong()
  override def submit(fs: Seq[String]): Unit = {
    var s = 0L
    fs.foreach { f =>
      val a = f.indexOf("\"id\":\"") + 6
      s += CountingTakClient.idHash(f.substring(a, f.indexOf('"', a)))
    }
    idSum.addAndGet(s)
    features.addAndGet(fs.size)
    batches.incrementAndGet()
  }
  def reset(): Unit = { features.set(0); batches.set(0); idSum.set(0) }
}

object CountingTakClient {
  def idHash(id: String): Long = Rng.mix(id.hashCode.toLong)
}

/** Builds a seeded ArcGIS client against a stub: token via the portal's
  * generateToken (cached by the program's AuthCache), Referer on every
  * request, the program's retry policy with a short backoff. */
object BenchClient {
  def apply(stub: FeatureServerStub): HttpArcGisClient =
    new HttpArcGisClient(stub.layerUrl,
      auth = Some(new AuthCache(PortalAuth.fetcher(stub.tokenUrl, "bench", "bench", "perfbench"))),
      referer = Some("perfbench"), backoffMs = 20)
}

/** `arcgis-incoming`: repeated full-layer pulls, `IncomingFlow.run` →
  * `HttpArcGisClient` → the loopback stub → a counting TAK client. The
  * seeded point layer has `features` rows, 9 attributes of mixed type, about
  * 2% null geometry and maxRecordCount 2000; the stub adds a fixed service
  * delay per request.
  */
final class Incoming(seed: Long, features: Int, delayMs: Int, threads: Int) extends Workload {
  val layerId = "bench"
  val clientKey = s"perfbench-in-$seed"
  val takKey = s"perfbench-tak-$seed"
  private var spark: SparkSession = _
  private[perfbench] var stub: FeatureServerStub = _
  private var layer: PointLayer = _
  private var client: HttpArcGisClient = _
  private val tak = new CountingTakClient
  private var expectedCount = 0L
  private var expectedIdSum = 0L
  private var tracing = false
  private val decomposition = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
  private val stubPerOp = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  private val fields = Seq(
    "objectid" -> "esriFieldTypeOID", "name" -> "esriFieldTypeString",
    "status" -> "esriFieldTypeString", "score" -> "esriFieldTypeDouble",
    "reading" -> "esriFieldTypeSingle", "level" -> "esriFieldTypeInteger",
    "rank" -> "esriFieldTypeSmallInteger", "updated" -> "esriFieldTypeDate",
    "globalid" -> "esriFieldTypeGlobalID")

  /** The seeded layer rows, in objectid order. */
  def rows(): Array[(Array[Any], Option[(Double, Double)])] = {
    val statuses = Array("active", "idle", "stale", "unknown")
    Array.tabulate(features) { i =>
      val h = Rng.mix(seed * 1000003L + i)
      val oid = i + 1L
      val attrs = Array[Any](
        oid,
        if ((h & 0x3f) == 0) null else s"unit-${(h >>> 8) & 0xffff}",
        statuses(((h >>> 24) & 3).toInt),
        ((h >>> 28) & 0xfffff) / 100.0,
        ((h >>> 48) & 0xff) / 8.0,
        ((h >>> 12) & 0x3ff).toInt - 512,
        ((h >>> 40) & 0x7f).toInt,
        1700000000000L + ((h >>> 20) & 0xfffffff),
        f"{${h & 0xffffffffL}%08x-${(h >>> 32) & 0xffff}%04x-4000-8000-${Rng.mix(h) & 0xffffffffffffL}%012x}")
      val geom =
        if (((h >>> 56) & 0xff) < 5) None
        else Some((-180.0 + ((h >>> 4) & 0xffffff) * (360.0 / 0x1000000), -85.0 + ((h >>> 30) & 0xffffff) * (170.0 / 0x1000000)))
      (attrs, geom)
    }
  }

  override def setUp(s: SparkSession): Unit = {
    spark = s
    if (stub != null) stub.close()
    layer = new PointLayer(fields, rows(), 2000)
    stub = new FeatureServerStub(layer, threads, delayMs)
    client = BenchClient(stub)
    ArcGisClientRegistry.register(clientKey, client)
    TakClientRegistry.register(takKey, tak)
    val kept = layer.rows.iterator.filter(_._2.isDefined).map(r => s"layer-$layerId-${r._1(0)}").toVector
    expectedCount = kept.size.toLong
    expectedIdSum = kept.iterator.map(CountingTakClient.idHash).sum
  }

  /** Two pulls: the two warm-up rounds then pull the layer four times,
    * which the JIT needs before pull times level off. */
  override def round: Int = 2

  override def traced(on: Boolean): Unit = {
    tracing = on
    ArcGisClientRegistry.register(clientKey, if (on) new TimedArcGisClient(client) else client)
    TakClientRegistry.register(takKey, if (on) new TimedTakClient(tak) else tak)
  }

  override def op(i: Int): OpOutcome = {
    tak.reset()
    stub.resetCounters()
    val n = IncomingFlow.run(spark, clientKey, takKey, layerId)
    val ok = n == expectedCount && tak.features.get == expectedCount && tak.idSum.get == expectedIdSum
    if (tracing) stubPerOp.add(stub.counters ++ Map("tak.batches" -> tak.batches.get))
    OpOutcome(n, ok, if (ok) "" else s"pull returned $n of $expectedCount features (tak saw ${tak.features.get})")
  }

  /** The traced split of one pull, timed right after it: planning the raw
    * `arcgis` scan, sweeping it, sweeping the normalized features, and
    * re-parsing the layer's page bodies with the program's JSON codec. */
  override def traceExtras(i: Int, opMs: Double): Unit = {
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    def sweep(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreachPartition((it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        while (it.hasNext) it.next())
    var raw: org.apache.spark.sql.DataFrame = null
    val planMs = timed {
      raw = spark.read.format("arcgis").option("client", clientKey).load()
      raw.queryExecution.executedPlan
    }
    val scanMs = timed(sweep(raw))
    val featMs = timed(sweep(IncomingFlow.features(spark, clientKey, layerId)))
    val parseMs = timed(layer.pages.foreach(p => MiniJson.parse(new String(p, java.nio.charset.StandardCharsets.UTF_8))))
    decomposition.add(Map("arcgis.scan.plan_ms" -> planMs, "incoming.scan_s" -> scanMs / 1000,
      "incoming.normalize_s" -> (featMs - scanMs) / 1000, "incoming.submit_s" -> (opMs - featMs) / 1000,
      "arcgis.json.parse_ms" -> parseMs))
  }

  override def layerMetrics(ops: Seq[OpSample], obs: SparkObserver): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val n = ops.size.toDouble
    val dec = decomposition.asScala.toSeq
    val st = stubPerOp.asScala.toSeq
    def stubSum(k: String) = st.map(_.getOrElse(k, 0L)).sum.toDouble
    val feats = ops.map(_.items).sum.toDouble
    val queries = stubSum("requests.query")
    val calls = Trace.spans.asScala.filter(_.name == "arcgis.http.query").map(_.ms).toSeq
    val callMs = if (calls.isEmpty) 0.0 else calls.sum / calls.size
    val serviceMs = if (queries == 0) 0.0 else stubSum("service_ns.query") / 1e6 / queries
    val tasks = ops.map(o => obs.tasks.asScala.filter(t => t.end >= o.start && t.end <= o.end).toSeq)
    dec.head.keys.map(k => k -> Stats.median(dec.map(_(k)))).toMap ++ Map(
      "stub.requests.metadata" -> stubSum("requests.metadata") / n,
      "stub.requests.count" -> stubSum("requests.count") / n,
      "stub.requests.query" -> queries / n,
      "stub.max_inflight" -> st.map(_.getOrElse("max_inflight", 0L)).max.toDouble,
      "stub.bytes_out_per_feature" -> stubSum("bytes_out") / feats,
      "stub.service_ms" -> serviceMs,
      "arcgis.http.call_ms" -> callMs,
      "arcgis.http.overhead_ms" -> (callMs - serviceMs),
      "arcgis.scan.tasks" -> tasks.map(_.size).sum / n,
      "arcgis.scan.task_ms" -> tasks.map(_.map(_.durationMs).sum).sum / n,
      "tak.batches" -> stubSum("tak.batches") / n,
      "stub.requests_per_feature" -> st.map(_.filter(_._1.startsWith("requests.")).values.sum).sum / feats)
  }

  override def tearDown(): Unit = if (stub != null) { stub.close(); stub = null }
}
