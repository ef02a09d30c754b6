package graft

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.arcgis._

/** Integration test for the REAL HTTP transport ([[HttpArcGisClient]]):
  * a JDK HttpServer plays a minimal ArcGIS Feature Server on 127.0.0.1
  * (no egress needed), and the full DSv2 read path plus the write
  * endpoints run through actual java.net.http requests — URL encoding,
  * token/referer attachment, pagination, JSON envelope parsing and all.
  */
class HttpArcGisClientSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 37
  private case class Feat(id: Int) {
    def status: String = if (id % 3 == 0) "active" else "idle"
    def json: String =
      s"""{"attributes":{"objectid":$id,"name":"feat-$id","status":"${status}","score":${id * 1.5}},
         |"geometry":{"x":${id * 1.0},"y":${-id * 1.0}}}""".stripMargin.replace("\n", "")
  }

  private def params(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("") match {
      case "" => new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      case q  => q
    }
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  private def reply(ex: HttpExchange, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("DSv2 scan, pushdown, auth and writes run through real HTTP") {
    val seenTokens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seenReferers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seenWheres = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seenOutSrs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/layer", (ex: HttpExchange) => {
      val p = params(ex)
      p.get("token").foreach(seenTokens.add)
      Option(ex.getRequestHeaders.getFirst("Referer")).foreach(seenReferers.add)
      val path = ex.getRequestURI.getPath
      def matching: Seq[Feat] = {
        val where = p.getOrElse("where", "1=1")
        seenWheres.add(where)
        val idEq = "objectid = (\\d+)".r.findFirstMatchIn(where).map(_.group(1).toInt)
        (0 until N).map(Feat.apply)
          .filter(f => !where.contains("status = 'active'") || f.status == "active")
          .filter(f => idEq.forall(_ == f.id))
      }
      path match {
        case "/layer" =>
          reply(ex,
            """{"fields":[
              |{"name":"objectid","type":"esriFieldTypeOID"},
              |{"name":"name","type":"esriFieldTypeString"},
              |{"name":"status","type":"esriFieldTypeString"},
              |{"name":"score","type":"esriFieldTypeDouble"}],
              |"maxRecordCount":10}""".stripMargin.replace("\n", ""))
        case "/layer/query" if p.get("returnCountOnly").contains("true") =>
          reply(ex, s"""{"count":${matching.size}}""")
        case "/layer/query" if p.contains("outStatistics") =>
          // minimal outStatistics evaluator: count(objectid) + sum(score),
          // optionally grouped by status — enough to prove the wire format
          val grouped =
            if (p.get("groupByFieldsForStatistics").contains("status"))
              matching.groupBy(_.status).toSeq
            else Seq("" -> matching)
          val feats = grouped.map { case (st, fs) =>
            val gb = if (st.nonEmpty) s""""status":"$st",""" else ""
            s"""{"attributes":{$gb"stat_0":${fs.size},"stat_1":${fs.map(_.id * 1.5).sum}}}"""
          }
          reply(ex, feats.mkString("""{"features":[""", ",", "]}"))
        case "/layer/query" =>
          seenOutSrs.add(p.getOrElse("outSR", "<missing>"))
          val off = p.getOrElse("resultOffset", "0").toInt
          val cnt = p.getOrElse("resultRecordCount", "1000").toInt
          reply(ex, matching.slice(off, off + cnt).map(_.json).mkString("""{"features":[""", ",", "]}"))
        case "/layer/addFeatures" =>
          // one success + echo shape the reference checks (task.ts:263)
          reply(ex, """{"addResults":[{"objectId":101,"success":true},{"success":false,"error":{"description":"dup key"}}]}""")
        case "/layer/updateFeatures" =>
          reply(ex, """{"updateResults":[{"objectId":55,"success":true}]}""")
        case other =>
          ex.sendResponseHeaders(404, -1); ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/layer"
      val auth = new AuthCache(() => ("tok-42", System.currentTimeMillis() + 3600000L))
      val client = new HttpArcGisClient(base, auth = Some(auth), referer = Some("graft-test"))
      ArcGisClientRegistry.register("http-it", client)

      // S1: full paginated scan over real HTTP (37 rows / page 10 → 4 pages)
      val df = spark.read.format("arcgis").option("client", "http-it").load()
      assert(df.count() == N)
      assert(df.rdd.getNumPartitions == 4)
      val r5 = df.filter(col("objectid") === 5).select("name", "geom_x", "geom_y").head()
      assert(r5.getString(0) == "feat-5" && r5.getDouble(1) == 5.0 && r5.getDouble(2) == -5.0)

      // S3: pushdown travels the wire and the server applies it
      val active = spark.read.format("arcgis").option("client", "http-it").load()
        .filter(col("status") === "active")
      val got = active.select("objectid").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0 until N).filter(_ % 3 == 0).map(_.toLong))
      assert(seenWheres.toArray.exists(_.toString.contains("status = 'active'")))

      // auth token and referer attached to every request
      assert(seenTokens.toArray.forall(_ == "tok-42") && !seenTokens.isEmpty)
      assert(seenReferers.toArray.forall(_ == "graft-test") && !seenReferers.isEmpty)

      // SR discipline: every feature read pins outSR=4326, so geometry
      // units always match the 4326 envelope inSR (a non-4326 layer would
      // otherwise ship native-SR coords against a reprojected envelope)
      assert(seenOutSrs.toArray.nonEmpty && seenOutSrs.toArray.forall(_ == "4326"),
        seenOutSrs.toArray.mkString(","))

      // outSR read option (reference parity: proj4 transforms arbitrary CRS
      // pairs, package-lock.json:3233 — Feature Services reproject
      // server-side, so the option rides the wire instead of a client-side
      // transform): the requested wkid replaces 4326 on every page request
      // and the schema is unchanged (still geom_x/geom_y doubles — only the
      // units change, server-side)
      seenOutSrs.clear()
      val mercator = spark.read.format("arcgis").option("client", "http-it")
        .option("outSR", "3857").load()
      assert(mercator.schema == df.schema)
      // row fetch, not count(): count() aggregate-pushes to outStatistics
      // and would never hit the /query page path this case asserts on
      assert(mercator.select("objectid", "geom_x").collect().length == N)
      assert(seenOutSrs.toArray.nonEmpty && seenOutSrs.toArray.forall(_ == "3857"),
        seenOutSrs.toArray.mkString(","))
      seenOutSrs.clear()

      // aggregate pushdown travels the wire as outStatistics +
      // groupByFieldsForStatistics and returns one row per group
      val agg = spark.read.format("arcgis").option("client", "http-it").load()
        .groupBy("status").agg(count(lit(1)).as("n"), sum(col("score")).as("sm"))
      val byStatus = agg.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val activeScores = (0 until N).filter(_ % 3 == 0).map(_ * 1.5)
      val idleScores = (0 until N).filterNot(_ % 3 == 0).map(_ * 1.5)
      assert(byStatus("active") == ((activeScores.size.toLong, activeScores.sum)))
      assert(byStatus("idle") == ((idleScores.size.toLong, idleScores.sum)))

      // S8/S9: write endpoints parse per-result success/error envelopes
      val feats = Seq(EsriFeature(Map("cotuid" -> "u-1", "callsign" -> "A"), Some((1.0, 2.0))))
      assert(client.addFeatures(feats) == Seq(Right(101L), Left("dup key")))
      assert(client.updateFeatures(feats) == Seq(Right(55L)))
    } finally {
      server.stop(0)
    }
  }

  test("non-paginating server over real HTTP: OID-range fallback, no pagination params ever sent") {
    val N2 = 37
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val badParams = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    server.createContext("/np", (ex: HttpExchange) => {
      val p = params(ex)
      ex.getRequestURI.getPath match {
        case "/np" =>
          reply(ex,
            """{"fields":[
              |{"name":"objectid","type":"esriFieldTypeOID"},
              |{"name":"name","type":"esriFieldTypeString"}],
              |"maxRecordCount":10,
              |"advancedQueryCapabilities":{"supportsPagination":false}}"""
              .stripMargin.replace("\n", ""))
        case "/np/query" if p.get("returnCountOnly").contains("true") =>
          reply(ex, s"""{"count":$N2}""")
        case "/np/query" if p.contains("outStatistics") =>
          // the plan-time OID bounds probe
          reply(ex, s"""{"features":[{"attributes":{"__lo":0,"__hi":${N2 - 1}}}]}""")
        case "/np/query" =>
          // a strict server: pagination params are UNSUPPORTED — reject them
          if (p.contains("resultOffset") || p.contains("resultRecordCount")) {
            badParams.add(p.toString)
            ex.sendResponseHeaders(400, -1); ex.close()
          } else {
            val where = p.getOrElse("where", "1=1")
            val rng = "objectid >= (\\d+) AND objectid < (\\d+)".r.findFirstMatchIn(where)
            val (lo, hi) = rng.map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse((0, N2))
            // response capped at maxRecordCount, as a real server does
            val feats = (lo until math.min(hi, N2)).take(10)
              .map(i => s"""{"attributes":{"objectid":$i,"name":"feat-$i"}}""")
            reply(ex, feats.mkString("""{"features":[""", ",", "]}"))
          }
        case _ => ex.sendResponseHeaders(404, -1); ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/np"
      ArcGisClientRegistry.register("http-np", new HttpArcGisClient(base))
      val df = spark.read.format("arcgis").option("client", "http-np").load()
      val ids = df.select("objectid").collect().map(_.getLong(0)).sorted
      // exactly-once rows through range halving against the capped server
      assert(ids.toSeq == (0L until N2.toLong), ids.toSeq.toString)
      assert(badParams.isEmpty, s"pagination params sent to a non-paginating server: $badParams")
    } finally {
      server.stop(0)
    }
  }

  test("transient 503s are retried with backoff; permanent 400 fails fast; 401 re-auths") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val tokens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val ok = """{"features":[{"attributes":{"objectid":7},"geometry":{"x":1.0,"y":2.0}}]}"""
    server.createContext("/flaky", (ex: HttpExchange) => {
      val n = hits.incrementAndGet()
      if (n <= 2) { ex.sendResponseHeaders(503, -1); ex.close() }
      else reply(ex, ok)
    })
    server.createContext("/bad", (ex: HttpExchange) => {
      hits.incrementAndGet(); ex.sendResponseHeaders(400, -1); ex.close()
    })
    server.createContext("/guarded", (ex: HttpExchange) => {
      val p = params(ex)
      p.get("token").foreach(tokens.add)
      if (p.get("token").contains("tok-1")) { ex.sendResponseHeaders(401, -1); ex.close() }
      else reply(ex, ok)
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      // 503 x2 then success: exactly 3 requests, exponential backoff recorded
      val flaky = new HttpArcGisClient(s"$base/flaky", maxAttempts = 4,
        backoffMs = 10, sleep = slept += _)
      assert(flaky.queryByKey("objectid", "7").head.attributes("objectid") == 7L)
      assert(hits.get() == 3)
      assert(slept.size == 2 && slept(1) > slept(0)) // backoff grows

      // permanent 4xx: one request, no retries
      hits.set(0); slept.clear()
      val bad = new HttpArcGisClient(s"$base/bad", maxAttempts = 4,
        backoffMs = 10, sleep = slept += _)
      val e = intercept[RuntimeException](bad.queryByKey("objectid", "7"))
      assert(e.getMessage.contains("HTTP 400") && hits.get() == 1 && slept.isEmpty)

      // non-idempotent writes: a 5xx after the server may have applied the
      // edit is NOT retried (a blind re-submit would duplicate features) —
      // one request, fail fast; throttling (429 = rejected before the edit
      // ran) IS still retried
      hits.set(0); slept.clear()
      val feats = Seq(EsriFeature(Map("k" -> "v"), None))
      server.createContext("/w500/addFeatures", (ex: HttpExchange) => {
        hits.incrementAndGet(); ex.sendResponseHeaders(500, -1); ex.close()
      })
      val w500 = new HttpArcGisClient(s"$base/w500", maxAttempts = 4,
        backoffMs = 10, sleep = slept += _)
      val we = intercept[RuntimeException](w500.addFeatures(feats))
      assert(we.getMessage.contains("HTTP 500") && hits.get() == 1 && slept.isEmpty)

      hits.set(0)
      server.createContext("/w429/addFeatures", (ex: HttpExchange) => {
        if (hits.incrementAndGet() == 1) { ex.sendResponseHeaders(429, -1); ex.close() }
        else reply(ex, """{"addResults":[{"objectId":9,"success":true}]}""")
      })
      val w429 = new HttpArcGisClient(s"$base/w429", maxAttempts = 4,
        backoffMs = 1, sleep = _ => ())
      assert(w429.addFeatures(feats) == Seq(Right(9L)) && hits.get() == 2)

      // 401 invalidates the token cache so the retry carries a fresh token
      var issued = 0
      val auth = new AuthCache(
        fetchToken = () => { issued += 1; (s"tok-$issued", Long.MaxValue) },
        refreshMarginMs = 0, now = () => 0L)
      val guarded = new HttpArcGisClient(s"$base/guarded", auth = Some(auth),
        maxAttempts = 3, backoffMs = 1, sleep = _ => ())
      assert(guarded.queryByKey("objectid", "7").nonEmpty)
      assert(tokens.toArray.map(_.toString).toSeq == Seq("tok-1", "tok-2"))
    } finally {
      server.stop(0)
    }
  }

  test("HTTP-200 error envelope on a read fails loudly with its code and drops the token") {
    val tokens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var failing = "page"
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ee", (ex: HttpExchange) => {
      val p = params(ex)
      p.get("token").foreach(tokens.add)
      ex.getRequestURI.getPath match {
        case "/ee" =>
          reply(ex, """{"fields":[{"name":"objectid","type":"esriFieldTypeOID"}],"maxRecordCount":10}""")
        case "/ee/query" if p.get("returnCountOnly").contains("true") =>
          reply(ex, if (failing == "count") """{"error":{"code":499,"message":"Token Required"}}"""
            else """{"count":37}""")
        case "/ee/query" if p.contains("outStatistics") =>
          reply(ex, """{"error":{"code":400,"message":"Unable to complete operation."}}""")
        case "/ee/query" =>
          // page 2 of 4: the token expired mid-pull
          val off = p.getOrElse("resultOffset", "0").toInt
          if (off == 10) reply(ex, """{"error":{"code":498,"message":"Invalid token","details":[]}}""")
          else reply(ex, (off until math.min(37, off + 10))
            .map(i => s"""{"attributes":{"objectid":$i}}""").mkString("""{"features":[""", ",", "]}"))
        case _ => ex.sendResponseHeaders(404, -1); ex.close()
      }
    })
    server.start()
    try {
      val fetched = new java.util.concurrent.atomic.AtomicInteger()
      val auth = new AuthCache(() => (s"tok-${fetched.incrementAndGet()}", Long.MaxValue))
      val client = new HttpArcGisClient(s"http://127.0.0.1:${server.getAddress.getPort}/ee",
        auth = Some(auth))
      ArcGisClientRegistry.register("http-errenv", client)
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      // a short table would be the silent failure; the read must fail instead
      val e = intercept[Exception](
        spark.read.format("arcgis").option("client", "http-errenv").load().select("objectid").collect())
      assert(messages(e).exists(m => m.contains("error envelope") && m.contains("code=498")), messages(e))
      // the 498 dropped the cached token: the next request re-authenticates
      client.layerInfo()
      assert(fetched.get >= 2 && tokens.toArray.exists(_ != "tok-1"), tokens.toArray.toSeq)
      // the same check guards the small envelopes: count and statistics
      failing = "count"
      val c = intercept[ArcGisServerError](client.layerInfo())
      assert(c.code == 499 && c.getMessage.contains("Token Required"))
      val st = intercept[ArcGisServerError](
        client.queryStatistics("1=1", Nil, Seq(StatSpec("count", "objectid", "n"))))
      assert(st.code == 400 && !st.authFailure)
    } finally server.stop(0)
  }

  test("PortalAuth.fetcher: generateToken exchange feeds the cache; error envelope surfaces") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    server.createContext("/tokens/generateToken", (ex: HttpExchange) => {
      val p = params(ex)
      seen.add(p)
      if (p.get("password").contains("right"))
        reply(ex, """{"token":"T-9","expires":1234567890123,"ssl":true}""")
      else
        reply(ex, """{"error":{"code":400,"message":"Unable to generate token."}}""")
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/tokens/generateToken"
      val good = graft.sources.arcgis.PortalAuth.fetcher(base, "alice", "right", "graft")()
      assert(good == (("T-9", 1234567890123L)))
      val p = seen.toArray.head.asInstanceOf[Map[String, String]]
      assert(p.get("username").contains("alice") && p.get("referer").contains("graft") &&
        p.get("f").contains("json"))
      // ArcGIS reports auth failures as 200 + error envelope — must throw
      val e = intercept[RuntimeException](
        graft.sources.arcgis.PortalAuth.fetcher(base, "alice", "wrong", "graft")())
      assert(e.getMessage.contains("Unable to generate token"), e.getMessage)
    } finally server.stop(0)
  }

  test("ARCGIS_PARAMS merge: extra params ride every query, user key overrides engine default") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/xp", (ex: HttpExchange) => {
      val p = params(ex)
      if (ex.getRequestURI.getPath == "/xp/query") seen.add(p)
      reply(ex, """{"features":[]}""")
    })
    server.start()
    try {
      val client = new HttpArcGisClient(
        s"http://127.0.0.1:${server.getAddress.getPort}/xp",
        extraParams = Seq("gdbVersion" -> "SDE.v1", "outSR" -> "3857"))
      client.queryPage(0L, 10, "1=1", Seq("*"))
      val p = seen.toArray.head.asInstanceOf[Map[String, String]]
      // arbitrary param injected (task.ts ARCGIS_PARAMS {Key,Value}[])
      assert(p.get("gdbVersion").contains("SDE.v1"))
      // user key REPLACES the engine default — one outSR on the wire, theirs
      assert(p.get("outSR").contains("3857"))
      // engine params still present
      assert(p.get("where").contains("1=1") && p.get("resultOffset").contains("0"))
    } finally server.stop(0)
  }

  test("long reads switch verb to idempotent POST; short reads stay GET") {
    // IIS (the common ArcGIS Server front) caps maxQueryString at 2048 chars
    // by default, so a 600-OID bulk objectIds window or a DPP-injected
    // IN (...) where-clause overflows a GET. The transport must carry the
    // SAME params (token included) as a form-encoded POST instead — and keep
    // small requests on GET (cache/proxy friendly, matches the wire fixtures).
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Map[String, String])]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/vp", (ex: HttpExchange) => {
      val method = ex.getRequestMethod
      val path = ex.getRequestURI.getPath
      val p = params(ex)
      seen.add((method, path, p))
      // enforce the limit the fronting server would: a long GET query dies
      // here with no layer-level diagnostic, exactly like production
      if (method == "GET" &&
          Option(ex.getRequestURI.getRawQuery).exists(_.length > 2048)) {
        ex.sendResponseHeaders(414, -1); ex.close()
      } else path match {
        case "/vp/queryAttachments" =>
          val ids = p.getOrElse("objectIds", "").split(",").filter(_.nonEmpty)
          // echo one attachment per listed OID so coverage is provable
          val groups = ids.map(o =>
            s"""{"parentObjectId":$o,"attachmentInfos":[{"id":1,"name":"a-$o","contentType":"text/plain","size":3}]}""")
          reply(ex, groups.mkString("""{"attachmentGroups":[""", ",", "]}"))
        case "/vp/query" =>
          reply(ex, """{"features":[{"attributes":{"objectid":1}}]}""")
        case _ => reply(ex, """{"error":{"code":400,"message":"unexpected"}}""")
      }
    })
    server.start()
    try {
      val client = new HttpArcGisClient(
        s"http://127.0.0.1:${server.getAddress.getPort}/vp",
        auth = Some(new AuthCache(() => ("tok-vp", Long.MaxValue))))

      // short read: stays GET
      val few = client.queryAttachments(Seq(1L, 2L, 3L))
      assert(few.map(_._1) == Seq(1L, 2L, 3L))
      val (m1, _, p1) = seen.poll()
      assert(m1 == "GET", s"short read must stay GET, was $m1")
      assert(p1.get("token").contains("tok-vp"))

      // long read: 600 OIDs ≈ 3.5 KB of objectIds — must go out as POST,
      // params (token included) intact in the form body, result complete
      val oids = (100000L until 100600L).toSeq
      val many = client.queryAttachments(oids)
      assert(many.size == 600 && many.map(_._1) == oids,
        "bulk listing over POST must cover every OID in the window")
      val (m2, path2, p2) = seen.poll()
      assert(m2 == "POST" && path2 == "/vp/queryAttachments",
        s"long read must switch to POST, was $m2 $path2")
      assert(p2.get("token").contains("tok-vp") && p2.get("f").contains("json"),
        "POSTed form body must carry the same auth/envelope params as a GET")
      assert(p2.get("objectIds").exists(_.split(",").length == 600))

      // long where-clause on the row path (the DPP IN-list shape): POST too
      val inList = (1 to 400).map(i => s"'k-$i'").mkString("key IN (", ",", ")")
      assert(client.queryPage(0L, 10, inList, Seq("*")).nonEmpty)
      val (m3, path3, p3) = seen.poll()
      assert(m3 == "POST" && path3 == "/vp/query",
        s"long where-clause read must switch to POST, was $m3 $path3")
      assert(p3.get("where").contains(inList) && p3.get("resultOffset").contains("0"))
    } finally server.stop(0)
  }
}
