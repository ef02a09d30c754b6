package graft.sources.arcgis

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** Production transport for [[ArcGisClient]] over the ArcGIS REST API —
  * the endpoints the reference drives: `/query` (`/root/reference/
  * task.ts:270`), `/queryTopFeatures` (`task.ts:400`), `/addFeatures`
  * (`task.ts:239`), `/updateFeatures` (`task.ts:321`). Auth is the
  * reference's token/referer pattern (`task.ts:373-388`) behind an
  * expiry-aware [[AuthCache]] amortized per executor.
  *
  * Deliberately dependency-free (java.net.http + the minimal JSON
  * read/write below) since the build is offline. Integration-tested
  * against a loopback ArcGIS stub (`HttpArcGisClientSpec` — pagination,
  * pushdown-over-the-wire, token/referer, write envelopes); engine logic
  * above the transport is additionally exercised through
  * [[MockArcGisClient]].
  */
class HttpArcGisClient(
    layerUrl: String,
    auth: Option[AuthCache] = None,
    referer: Option[String] = None,
    maxAttempts: Int = 4,
    backoffMs: Long = 200,
    sleep: Long => Unit = Thread.sleep,
    // the reference's ARCGIS_PARAMS {Key,Value}[] merge (task.ts:20-23,
    // 410-414): arbitrary key/values appended to every query request —
    // LAST, so a user param overrides an engine default of the same name,
    // exactly as esri-dump's spread does
    extraParams: Seq[(String, String)] = Seq.empty
) extends ArcGisClient {

  @transient private lazy val http = HttpClient.newHttpClient()

  /** The reference's `update()` connection-refresh entry point
    * (`task.ts:137-153`): force a re-authentication against the portal and
    * re-cache the token. A no-op for unauthenticated clients, exactly as
    * the reference's Incoming flow returns early.
    */
  def update(): Unit = auth.foreach(_.refresh())

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def withAuth(params: Seq[(String, String)]): Seq[(String, String)] =
    params ++ auth.map(a => "token" -> a.token()).toSeq

  /** Transient failures (throttling, server errors, connection resets) are
    * retried with exponential backoff and deterministic jitter — a retried
    * partition must behave identically on a task re-run, so no random
    * jitter. 401/403 additionally invalidates the cached token so the next
    * attempt re-authenticates (expiry races). 4xx other than 401/403/429 is
    * permanent and fails fast.
    *
    * Writes (`idempotent = false`: addFeatures/updateFeatures) are NOT
    * retried on 5xx or mid-flight I/O loss — the server may have applied the
    * edit before the reply was lost, and a blind re-submit would duplicate
    * features (the reference client never retries writes, `task.ts:239,321`).
    * Writes still retry the provably-not-applied cases: 401/403/429 (rejected
    * before the edit ran) and connect-phase failures (the request never
    * reached the server).
    */
  private def retryable(code: Int, idempotent: Boolean): Boolean =
    code == 429 || code == 401 || code == 403 || (idempotent && code >= 500)

  private def connectPhase(e: java.io.IOException): Boolean = e match {
    case _: java.net.ConnectException => true
    case _: java.net.http.HttpConnectTimeoutException => true
    case _: java.net.UnknownHostException => true
    case _ => false
  }

  private def sendWithRetry(
      what: String, build: () => HttpRequest, idempotent: Boolean = true): String =
    sendRaw(what, build, HttpResponse.BodyHandlers.ofString(), idempotent)

  private def sendRaw[T](
      what: String, build: () => HttpRequest,
      handler: HttpResponse.BodyHandler[T], idempotent: Boolean): T = {
    var attempt = 1
    while (true) {
      val outcome =
        try Right(http.send(build(), handler))
        catch { case e: java.io.IOException => Left(e) }
      outcome match {
        case Right(r) if r.statusCode() < 400 => return r.body()
        case Right(r) =>
          if (r.statusCode() == 401 || r.statusCode() == 403) auth.foreach(_.invalidate())
          if (!retryable(r.statusCode(), idempotent) || attempt >= maxAttempts)
            throw new RuntimeException(
              s"ArcGIS $what failed: HTTP ${r.statusCode()} after $attempt attempt(s)")
        case Left(e) =>
          if ((!idempotent && !connectPhase(e)) || attempt >= maxAttempts)
            throw new RuntimeException(
              s"ArcGIS $what failed after $attempt attempt(s): ${e.getMessage}", e)
      }
      sleep(backoffMs * (1L << (attempt - 1)) + (attempt * 37) % math.max(backoffMs, 1))
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Engine params with the user's ARCGIS_PARAMS merged in: a user key
    * REPLACES the engine default of the same name (no duplicate query keys
    * — server behavior on duplicates is undefined).
    */
  private def withExtras(params: Seq[(String, String)]): Seq[(String, String)] =
    if (extraParams.isEmpty) params
    else {
      val overridden = extraParams.map(_._1).toSet
      params.filterNot(p => overridden.contains(p._1)) ++ extraParams
    }

  private def encoded(params: Seq[(String, String)]): String =
    params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  /** Encoded read-request parameter string — auth token, user extras and the
    * `f=json` envelope selector applied, re-evaluated per attempt so an
    * invalidated token is re-fetched.
    */
  private def readQs(params: Seq[(String, String)]): String =
    encoded(withAuth(withExtras(params)) :+ ("f" -> "json"))

  /** One request to `uri` with the Referer header every call carries. */
  private def request(uri: String)(method: HttpRequest.Builder => HttpRequest.Builder): HttpRequest = {
    val builder = method(HttpRequest.newBuilder(URI.create(uri)))
    referer.foreach(r => builder.header("Referer", r))
    builder.build()
  }

  private def formPost(body: String)(b: HttpRequest.Builder): HttpRequest.Builder =
    b.header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(body))

  /** Fronting servers cap the query string long before the endpoint's
    * logical limits — IIS (the common ArcGIS Server front) defaults
    * `maxQueryString` to 2048 chars. A bulk `objectIds` window of 1000 OIDs
    * (~20 KB) or a DPP-injected `key IN (...)` where-clause overflows a GET
    * silently (the front replies 404/414 with no layer-level diagnostic).
    * Reads whose encoded params exceed this bound switch verb to a
    * form-encoded POST of the SAME params — ArcGIS query endpoints accept
    * both verbs identically — while keeping `idempotent = true`: the retry
    * policy follows the operation's read semantics, not the verb.
    */
  private val maxGetQueryChars = 2000

  private def get(path: String, params: Seq[(String, String)]): String =
    if (readQs(params).length <= maxGetQueryChars)
      sendWithRetry(s"GET $path",
        () => request(s"$layerUrl$path?${readQs(params)}")(_.GET()))
    else
      sendWithRetry(s"POST(read) $path",
        () => request(s"$layerUrl$path")(formPost(readQs(params))))

  private def post(path: String, params: Seq[(String, String)]): String =
    sendWithRetry(s"POST $path", idempotent = false, build = () =>
      request(s"$layerUrl$path")(formPost(encoded(withAuth(params) :+ ("f" -> "json")))))

  override def layerInfo(): LayerInfo = {
    val json = MiniJson.parse(get("", Seq.empty))
    val fields = json.arr("fields").map { f =>
      ArcGisField(f.str("name"), f.str("type"))
    }
    val count = MiniJson.parse(get("/query", Seq("where" -> "1=1", "returnCountOnly" -> "true")))
    LayerInfo(
      fields,
      json.num("maxRecordCount").map(_.toInt).getOrElse(1000),
      count.num("count").map(_.toLong).getOrElse(0L),
      json.obj("advancedQueryCapabilities")
        .flatMap(_.bool("supportsPagination")).getOrElse(true),
      json.obj("advancedQueryCapabilities")
        .flatMap(_.bool("supportsQueryAttachments"))
        // some servers surface the capability at the top level
        .orElse(json.bool("supportsQueryAttachments"))
        .getOrElse(false)
    )
  }

  private def parseFeatures(body: String): Seq[EsriFeature] =
    MiniJson.parse(body).arr("features").map { f =>
      val attrs = f.obj("attributes").map(_.fields).getOrElse(Map.empty)
      val geom = for {
        g <- f.obj("geometry")
        x <- g.num("x"); y <- g.num("y")
      } yield (x, y)
      EsriFeature(attrs.collect { case (k, v: Any) => k -> v }, geom)
    }

  /** `count < 0` = no explicit cap: the OID-range scan omits BOTH pagination
    * parameters (they require `supportsPagination`, which is exactly what
    * that mode works around) and lets the server cap at its maxRecordCount.
    *
    * SR discipline: every feature read requests `outSR=4326`, so geom_x /
    * geom_y are ALWAYS WGS-84 lon/lat regardless of the layer's native SR —
    * and the pushed envelope declares the SAME wkid via `inSR`. Predicate
    * units, envelope units, and returned coordinates therefore live in one
    * SR; without the fixed outSR, a non-4326 layer would have the server
    * reproject the envelope while shipping native-SR coordinates, silently
    * excluding matching rows that no residual engine filter could recover.
    */
  override def queryPage(
      offset: Long, count: Int, where: String, outFields: Seq[String],
      envelope: Option[Envelope] = None, outSR: Option[String] = None
  ): Seq[EsriFeature] = {
    // user-chosen SR (read option `outSR`) replaces the 4326 default for
    // BOTH outSR and the envelope's inSR: predicates over geom_x/geom_y are
    // written against the coordinates the user receives, the pushed bbox is
    // derived from those predicates, and declaring the envelope in the same
    // wkid keeps one unit system end to end (the server reprojects the
    // envelope internally) — the SR discipline is preserved, just in the
    // caller's frame instead of WGS-84
    val sr = outSR.getOrElse("4326")
    parseFeatures(get("/query", Seq(
      "where" -> where,
      "outFields" -> (if (outFields.isEmpty) "*" else outFields.mkString(",")),
      "outSR" -> sr
    ) ++ (if (count >= 0) Seq(
      "resultOffset" -> offset.toString,
      "resultRecordCount" -> count.toString,
      "orderByFields" -> "OBJECTID" // stable pagination order
    ) else Seq.empty)
      ++ envelope.toSeq.flatMap(e => Seq(
        "geometry" -> s"""{"xmin":${e.xmin},"ymin":${e.ymin},"xmax":${e.xmax},"ymax":${e.ymax}}""",
        "geometryType" -> "esriGeometryEnvelope",
        "spatialRel" -> "esriSpatialRelIntersects",
        "inSR" -> sr // same SR as outSR — one unit system end to end
      ))))
  }

  override def queryTopFeatures(
      topCount: Int, groupByField: String, orderByField: String,
      where: String, outFields: Seq[String], outSR: Option[String] = None
  ): Seq[EsriFeature] =
    parseFeatures(get("/queryTopFeatures", Seq(
      "where" -> where,
      "outFields" -> (if (outFields.isEmpty) "*" else outFields.mkString(",")),
      "outSR" -> outSR.getOrElse("4326"), // same SR discipline as queryPage
      "topFilter" -> s"""{"groupByFields":"$groupByField","topCount":$topCount,"orderByFields":"$orderByField"}"""
    )))

  private def attachmentInfo(a: MiniJson.JValue): AttachmentInfo =
    AttachmentInfo(
      a.num("id").map(_.toLong).getOrElse(-1L),
      a.str("name"),
      a.str("contentType"),
      a.num("size").map(_.toLong).getOrElse(0L))

  override def attachmentInfos(oid: Long): Seq[AttachmentInfo] =
    MiniJson.parse(get(s"/$oid/attachments", Seq.empty)).arr("attachmentInfos").map(attachmentInfo)

  /** Bulk listing via the layer's `queryAttachments` endpoint — one
    * round-trip per OID window instead of one per feature. The public REST
    * surface keys the response by `parentObjectId` in `attachmentGroups[]`;
    * `returnUrl=false` keeps the reply metadata-only (payloads stay on the
    * per-attachment download path, fetched only when the pruned schema
    * still needs `data`).
    */
  override def queryAttachments(oids: Seq[Long]): Seq[(Long, AttachmentInfo)] =
    if (oids.isEmpty) Seq.empty
    else MiniJson.parse(get("/queryAttachments", Seq(
      "objectIds" -> oids.mkString(","),
      "returnUrl" -> "false"
    ))).arr("attachmentGroups").flatMap { g =>
      val parent = g.num("parentObjectId").map(_.toLong).getOrElse(-1L)
      g.arr("attachmentInfos").map(a => parent -> attachmentInfo(a))
    }

  /** Raw download form of the attachments endpoint: no `f=json` envelope —
    * the response body IS the file. Auth/extras still apply; idempotent GET
    * retries as usual.
    */
  override def attachment(oid: Long, attachmentId: Long): Array[Byte] = {
    val bytes = sendRaw(
      s"GET /$oid/attachments/$attachmentId",
      () => {
        val qs = encoded(withAuth(withExtras(Seq.empty)))
        val sep = if (qs.isEmpty) "" else "?"
        request(s"$layerUrl/$oid/attachments/$attachmentId$sep$qs")(_.GET())
      },
      HttpResponse.BodyHandlers.ofByteArray(),
      idempotent = true)
    sniffErrorEnvelope(bytes, s"attachment $oid/$attachmentId")
    bytes
  }

  /** ArcGIS servers commonly report download failures (expired/invalid
    * token, bad attachment id) as HTTP 200 with a JSON `{"error":...}`
    * envelope. Returning that body as the payload would silently feed
    * corrupt bytes to the binary operators, so sniff and throw instead —
    * invalidating the cached token on auth codes (498 invalid token, 499
    * token required) so the next task attempt re-authenticates. The gate is
    * conservative: bytes must start with '{' (after whitespace), be small
    * enough to plausibly be an envelope, parse as JSON, AND carry an
    * `error` object — a real binary attachment never trips all four.
    */
  private def sniffErrorEnvelope(bytes: Array[Byte], what: String): Unit = {
    var i = 0
    while (i < bytes.length && Character.isWhitespace(bytes(i).toChar)) i += 1
    if (i >= bytes.length || bytes(i) != '{' || bytes.length > 65536) return
    val parsed =
      try Some(MiniJson.parse(new String(bytes, StandardCharsets.UTF_8)))
      catch { case _: RuntimeException => None } // not JSON → a real payload
    parsed.flatMap(_.obj("error")).foreach { e =>
      val code = e.num("code").map(_.toInt).getOrElse(-1)
      if (code == 498 || code == 499 || code == 401 || code == 403)
        auth.foreach(_.invalidate())
      throw new RuntimeException(
        s"ArcGIS $what failed: server returned an error envelope " +
          s"(code=$code, message='${e.str("message")}') instead of the payload")
    }
  }

  private def writeResults(body: String, resultKey: String): Seq[Either[String, Long]] =
    MiniJson.parse(body).arr(resultKey).map { r =>
      if (r.bool("success").contains(true))
        Right(r.num("objectId").map(_.toLong).getOrElse(-1L))
      else Left(r.obj("error").flatMap(_.strOpt("description")).getOrElse("unknown error"))
    }

  override def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
    writeResults(
      post("/addFeatures", Seq("features" -> MiniJson.featuresJson(feats))),
      "addResults"
    )

  override def updateFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
    writeResults(
      post("/updateFeatures", Seq("features" -> MiniJson.featuresJson(feats))),
      "updateResults"
    )

  override def queryStatistics(
      where: String, groupBy: Seq[String], stats: Seq[StatSpec]
  ): Seq[Map[String, Any]] = {
    val outStats = stats.map { s =>
      s"""{"statisticType":"${s.statisticType}","onStatisticField":"${s.onField}",""" +
        s""""outStatisticFieldName":"${s.outName}"}"""
    }.mkString("[", ",", "]")
    val params = Seq(
      "where" -> where,
      "outStatistics" -> outStats,
      "returnGeometry" -> "false"
    ) ++ (if (groupBy.nonEmpty) Seq("groupByFieldsForStatistics" -> groupBy.mkString(",")) else Seq.empty)
    MiniJson.parse(get("/query", params)).arr("features").map { f =>
      f.obj("attributes").map(_.fields).getOrElse(Map.empty)
        .collect { case (k, v: Any) => k -> v }
    }
  }
}

/** Minimal JSON reader/writer for the ArcGIS REST envelope — enough for
  * fields/features/results; avoids any external dependency (offline build).
  */
private[graft] object MiniJson {
  final case class JValue(value: Any) {
    def fields: Map[String, Any] = value match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }
    def obj(k: String): Option[JValue] =
      fields.get(k).collect { case m: Map[_, _] => JValue(m) }
    def arr(k: String): Seq[JValue] = fields.get(k) match {
      case Some(s: Seq[_]) => s.map(JValue(_))
      case _ => Seq.empty
    }
    def str(k: String): String = fields.get(k).map(_.toString).getOrElse("")
    def strOpt(k: String): Option[String] = fields.get(k).map(_.toString)
    def num(k: String): Option[Double] = fields.get(k).collect {
      case d: Double => d
      case l: Long => l.toDouble
      case i: Int => i.toDouble
    }
    def bool(k: String): Option[Boolean] = fields.get(k).collect { case b: Boolean => b }
  }

  def parse(s: String): JValue =
    try JValue(new Parser(s).parseValue())
    catch {
      case e: RuntimeException =>
        throw new RuntimeException(
          s"malformed ArcGIS JSON response (${e.getClass.getSimpleName}): ${s.take(120)}", e)
    }

  /** Serialize features to the ESRI JSON array `addFeatures` expects. */
  def featuresJson(feats: Seq[EsriFeature]): String =
    feats.map { f =>
      val attrs = f.attributes.map { case (k, v) =>
        val jv = v match {
          case s: String => "\"" + escape(s) + "\""
          case other => other.toString
        }
        "\"" + escape(k) + "\":" + jv
      }.mkString(",")
      val geom = f.geometry
        .map { case (x, y) => s""","geometry":{"x":$x,"y":$y,"spatialReference":{"wkid":102100}}""" }
        .getOrElse("")
      s"""{"attributes":{$attrs}$geom}"""
    }.mkString("[", ",", "]")

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = { ws(); require(s.charAt(i) == c, s"expected $c at $i"); i += 1 }

    def parseValue(): Any = {
      ws()
      s.charAt(i) match {
        case '{' => parseObj()
        case '[' => parseArr()
        case '"' => parseStr()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => parseNum()
      }
    }
    private def parseObj(): Map[String, Any] = {
      expect('{'); ws()
      if (s.charAt(i) == '}') { i += 1; return Map.empty }
      val b = Map.newBuilder[String, Any]
      var done = false
      while (!done) {
        ws(); val k = parseStr(); expect(':'); b += (k -> parseValue()); ws()
        if (s.charAt(i) == ',') i += 1 else { expect('}'); done = true }
      }
      b.result()
    }
    private def parseArr(): Seq[Any] = {
      expect('['); ws()
      if (s.charAt(i) == ']') { i += 1; return Seq.empty }
      val b = Seq.newBuilder[Any]
      var done = false
      while (!done) {
        b += parseValue(); ws()
        if (s.charAt(i) == ',') i += 1 else { expect(']'); done = true }
      }
      b.result()
    }
    private def parseStr(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case other => sb.append(other)
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def parseNum(): Any = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }
}
