package graft.perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.arcgis.MiniJson

/** A layer the stub serves: metadata, count, `/query`, and (when writable)
  * `addFeatures` / `updateFeatures`. Bodies are UTF-8 JSON bytes.
  */
trait StubLayer {
  def metadataJson: String
  def count: Long
  def query(p: Map[String, String]): Array[Byte]
  def add(featuresJson: String): Array[Byte] = throw new UnsupportedOperationException("read-only layer")
  def update(featuresJson: String): Array[Byte] = throw new UnsupportedOperationException("read-only layer")
}

object StubLayer {
  def metadata(fields: Seq[(String, String)], maxRecordCount: Int): String =
    fields.map { case (n, t) => s"""{"name":"$n","type":"$t"}""" }
      .mkString("""{"fields":[""", ",",
        s"""],"maxRecordCount":$maxRecordCount,"geometryType":"esriGeometryPoint",""" +
          """"advancedQueryCapabilities":{"supportsPagination":true}}""")

  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => other.toString
  }

  def featureJson(attrs: Seq[(String, Any)], geom: Option[(Double, Double)]): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"attributes\":{")
    var first = true
    attrs.foreach { case (k, v) =>
      if (!first) sb.append(','); first = false
      sb.append('"').append(k).append("\":").append(jsonValue(v))
    }
    sb.append('}')
    geom.foreach { case (x, y) => sb.append(",\"geometry\":{\"x\":").append(x).append(",\"y\":").append(y).append('}') }
    sb.append('}').toString
  }
}

/** Seeded fault schedule for the write side: a fault hits the FIRST time a
  * request with given content arrives (the client's retry of the same
  * content then succeeds), so which requests fault depends only on the seed
  * and on what the program sends — never on thread timing.
  */
final case class FaultPlan(seed: Long, probe503: Double, write429: Double) {
  private val seen = ConcurrentHashMap.newKeySet[Long]()
  def strikes(kind: String, content: String, rate: Double): Boolean = {
    val h = Rng.mix(seed ^ (kind.hashCode.toLong << 32) ^ content.hashCode.toLong ^ content.length.toLong * 0x9E3779B97F4A7C15L)
    (h >>> 11).toDouble / (1L << 53) < rate && seen.add(h)
  }
}

/** Loopback ArcGIS Feature Server: one layer at `/rest/services/bench/
  * FeatureServer/0` plus the portal's `generateToken`. Every layer request
  * must carry a token the stub issued and a Referer. Handler threads are daemon
  * threads, at most `threads` of them, so the stub never keeps a JVM alive.
  *
  * Server-side counters: requests per kind (`token` counts tokens issued),
  * bytes in and out, peak requests in flight, service time per kind
  * (handler entry to response written, including the fixed
  * `serviceDelayMs`) and error responses served.
  */
final class FeatureServerStub(layer: StubLayer, threads: Int, serviceDelayMs: Int,
    faults: Option[FaultPlan] = None) extends AutoCloseable {
  val layerPath = "/rest/services/bench/FeatureServer/0"
  val tokenPath = "/sharing/rest/generateToken"

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"stub-handler-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  val requests = new ConcurrentHashMap[String, AtomicLong]()
  val bytesIn = new AtomicLong()
  val bytesOut = new AtomicLong()
  val serviceNanos = new ConcurrentHashMap[String, AtomicLong]()
  val faultsServed = new AtomicLong()
  private val inflight = new AtomicInteger()
  val maxInflight = new AtomicInteger()

  private val tokens = new AtomicInteger()
  private val expiring = new java.util.concurrent.atomic.AtomicBoolean()

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def layerUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}$layerPath"
  def tokenUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}$tokenPath"

  /** The next layer request gets a 401, as when a portal token expires
    * early; the client must fetch a new token and retry. Requests already
    * carrying the old token are still served (a grace period), so one
    * expiry costs exactly one 401 and one token fetch at any concurrency.
    */
  def expireToken(): Unit = expiring.set(true)

  def counters: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    requests.asScala.map { case (k, v) => s"requests.$k" -> v.get }.toMap ++
      serviceNanos.asScala.map { case (k, v) => s"service_ns.$k" -> v.get } ++ Map(
      "bytes_in" -> bytesIn.get, "bytes_out" -> bytesOut.get,
      "max_inflight" -> maxInflight.get.toLong,
      "faults" -> faultsServed.get)
  }

  def resetCounters(): Unit = {
    requests.clear(); bytesIn.set(0); bytesOut.set(0); serviceNanos.clear()
    faultsServed.set(0); maxInflight.set(0)
  }

  private def bump(m: ConcurrentHashMap[String, AtomicLong], kind: String, n: Long): Unit =
    m.computeIfAbsent(kind, _ => new AtomicLong()).addAndGet(n)

  private def params(query: String, body: String): Map[String, String] =
    Seq(query, body).filter(s => s != null && s.nonEmpty).flatMap(_.split("&"))
      .filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        URLDecoder.decode(kv.substring(0, i), UTF_8) -> URLDecoder.decode(kv.substring(i + 1), UTF_8)
      }.toMap

  private def kindOf(path: String, p: Map[String, String]): String =
    if (path == tokenPath) "token"
    else if (path == layerPath) "metadata"
    else if (path == layerPath + "/query") {
      if (p.get("returnCountOnly").contains("true")) "count"
      else if (p.getOrElse("where", "").contains(" IN (")) "probe"
      else "query"
    } else if (path == layerPath + "/addFeatures") "add"
    else if (path == layerPath + "/updateFeatures") "update"
    else "other"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    var kind = "other"
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val rawQuery = ex.getRequestURI.getRawQuery
      bytesIn.addAndGet(body.length + Option(rawQuery).map(_.length).getOrElse(0))
      val p = params(rawQuery, body)
      kind = kindOf(ex.getRequestURI.getPath, p)
      bump(requests, kind, 1)
      if (serviceDelayMs > 0) Thread.sleep(serviceDelayMs)
      val (code, bytes) = respond(kind, p, ex)
      if (code != 200) faultsServed.incrementAndGet()
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      bytesOut.addAndGet(bytes.length)
    } catch {
      case e: Exception =>
        System.err.println(s"[stub] ${ex.getRequestURI.getPath}: $e")
        try ex.sendResponseHeaders(500, -1) catch { case _: Exception => () }
    } finally {
      ex.close()
      inflight.decrementAndGet()
      bump(serviceNanos, kind, System.nanoTime() - t0)
    }
  }

  private val none = Array.emptyByteArray

  private def issued(t: Option[String]): Boolean =
    t.exists(s => s.startsWith("tok-") && s.drop(4).toIntOption.exists(n => n >= 1 && n <= tokens.get))

  private def respond(kind: String, p: Map[String, String], ex: HttpExchange): (Int, Array[Byte]) =
    kind match {
      case "token" =>
        val t = s"tok-${tokens.incrementAndGet()}"
        (200, s"""{"token":"$t","expires":${System.currentTimeMillis() + 3600000L}}""".getBytes(UTF_8))
      case "other" => (404, none)
      case _ if ex.getRequestHeaders.getFirst("Referer") == null => (403, none)
      case _ if !issued(p.get("token")) || expiring.getAndSet(false) => (401, none)
      case "probe" if faults.exists(f => f.strikes("probe", p("where"), f.probe503)) => (503, none)
      case "add" | "update" if faults.exists(f => f.strikes(kind, p("features"), f.write429)) =>
        (429, none)
      case "metadata" => (200, layer.metadataJson.getBytes(UTF_8))
      case "count" => (200, s"""{"count":${layer.count}}""".getBytes(UTF_8))
      case "probe" | "query" => (200, layer.query(p))
      case "add" => (200, layer.add(p("features")))
      case "update" => (200, layer.update(p("features")))
    }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

/** Read-only point layer for the incoming pull. Every full page the scan
  * asks for (`where=1=1`, all fields, offset on a page boundary) is
  * serialized once at set-up; any other query is answered on the fly.
  */
final class PointLayer(val fields: Seq[(String, String)], val rows: Array[(Array[Any], Option[(Double, Double)])],
    val maxRecordCount: Int) extends StubLayer {
  private val names = fields.map(_._1)
  val metadataJson: String = StubLayer.metadata(fields, maxRecordCount)
  def count: Long = rows.length.toLong

  private def page(from: Int, until: Int, keep: Seq[Int]): Array[Byte] =
    (from until until).iterator.map { i =>
      val (vals, g) = rows(i)
      StubLayer.featureJson(keep.map(j => names(j) -> vals(j)), g)
    }.mkString("""{"features":[""", ",", "]}").getBytes(UTF_8)

  val pages: Array[Array[Byte]] = (0 until rows.length by maxRecordCount).map { off =>
    page(off, math.min(rows.length, off + maxRecordCount), names.indices)
  }.toArray

  def query(p: Map[String, String]): Array[Byte] = {
    val where = p.getOrElse("where", "1=1").trim
    require(where == "1=1", s"point layer serves only where=1=1, got '$where'")
    val off = p.get("resultOffset").map(_.toInt).getOrElse(0)
    val cnt = math.min(p.get("resultRecordCount").map(_.toInt).getOrElse(maxRecordCount), maxRecordCount)
    val out = p.getOrElse("outFields", "*").split(",").map(_.trim).toSeq
    val all = out == Seq("*") || out.toSet == names.toSet
    if (all && off % maxRecordCount == 0 && (cnt == maxRecordCount || off + cnt >= rows.length) &&
      off / maxRecordCount < pages.length) pages(off / maxRecordCount)
    else page(math.min(off, rows.length), math.min(rows.length, off + cnt),
      if (all) names.indices else out.map(names.indexOf).filter(_ >= 0))
  }
}

/** Stateful layer for the outgoing upsert: `key IN (...)` probes, add and
  * update by objectid. Adding a key that already exists is stored as a
  * second feature, as a real server would; the final-state check counts it.
  */
final class UpsertLayer(val fields: Seq[(String, String)], key: String, val maxRecordCount: Int)
    extends StubLayer {
  val metadataJson: String = StubLayer.metadata(fields, maxRecordCount)
  final case class Stored(oid: Long, attrs: Map[String, Any], geom: Option[(Double, Double)])
  private val byOid = new java.util.LinkedHashMap[Long, Stored]()
  private var nextOid = 1L

  def count: Long = synchronized(byOid.size.toLong)
  def snapshot: Seq[Stored] = synchronized {
    import scala.jdk.CollectionConverters._
    byOid.values().asScala.toVector
  }

  private val inList = "(?s)\\s*\"?(\\w+)\"?\\s+IN\\s*\\((.*)\\)\\s*".r

  def query(p: Map[String, String]): Array[Byte] = {
    val keys = p.getOrElse("where", "") match {
      case inList(k, list) if k == key =>
        list.split(",").map(_.trim.stripPrefix("'").stripSuffix("'").replace("''", "'")).toSet
      case other => throw new IllegalArgumentException(s"upsert layer serves only '$key IN (...)', got '$other'")
    }
    val out = p.getOrElse("outFields", "*").split(",").map(_.trim).toSet
    val hits = synchronized {
      import scala.jdk.CollectionConverters._
      byOid.values().asScala.filter(s => s.attrs.get(key).exists(v => keys(String.valueOf(v)))).toVector
    }
    hits.map { s =>
      val attrs = (s.attrs + ("objectid" -> s.oid)).toSeq.filter(kv => out("*") || out(kv._1))
      StubLayer.featureJson(attrs, None)
    }.mkString("""{"features":[""", ",", "]}").getBytes(UTF_8)
  }

  private def parse(featuresJson: String): Seq[(Map[String, Any], Option[(Double, Double)])] =
    MiniJson.parse(s"""{"f":$featuresJson}""").arr("f").map { f =>
      val attrs = f.obj("attributes").map(_.fields).getOrElse(Map.empty)
      val g = for (g <- f.obj("geometry"); x <- g.num("x"); y <- g.num("y")) yield (x, y)
      (attrs, g)
    }

  override def add(featuresJson: String): Array[Byte] = {
    val results = synchronized {
      parse(featuresJson).map { case (attrs, g) =>
        val oid = nextOid; nextOid += 1
        byOid.put(oid, Stored(oid, attrs - "objectid", g))
        s"""{"objectId":$oid,"success":true}"""
      }
    }
    results.mkString("""{"addResults":[""", ",", "]}").getBytes(UTF_8)
  }

  override def update(featuresJson: String): Array[Byte] = {
    val results = synchronized {
      parse(featuresJson).map { case (attrs, g) =>
        attrs.get("objectid") match {
          case Some(n: Number) if byOid.containsKey(n.longValue()) =>
            val oid = n.longValue()
            val old = byOid.get(oid)
            byOid.put(oid, Stored(oid, old.attrs ++ (attrs - "objectid"), g.orElse(old.geom)))
            s"""{"objectId":$oid,"success":true}"""
          case _ => """{"success":false,"error":{"code":1019,"description":"unknown objectid"}}"""
        }
      }
    }
    results.mkString("""{"updateResults":[""", ",", "]}").getBytes(UTF_8)
  }
}

/** Small deterministic generator helpers (SplitMix64). */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
