package graft.sources.arcgis

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Production transport for [[ArcGisClient]] over the ArcGIS REST API —
  * the endpoints the reference drives: `/query` (`/root/reference/
  * task.ts:270`), `/queryTopFeatures` (`task.ts:400`), `/addFeatures`
  * (`task.ts:239`), `/updateFeatures` (`task.ts:321`). Auth is the
  * reference's token/referer pattern (`task.ts:373-388`) behind an
  * expiry-aware [[AuthCache]] amortized per executor.
  *
  * Deliberately dependency-free (java.net.http, the streaming
  * [[FeatureDecoder]] for feature pages and its tokenizer's [[MiniJson]]
  * trees for every other reply) since the build is offline.
  * Integration-tested against a loopback ArcGIS stub
  * (`HttpArcGisClientSpec` — pagination, pushdown-over-the-wire,
  * token/referer, write envelopes); engine logic above the transport is
  * additionally exercised through [[MockArcGisClient]].
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

  private def get[T](path: String, params: Seq[(String, String)], handler: HttpResponse.BodyHandler[T]): T =
    if (readQs(params).length <= maxGetQueryChars)
      sendRaw(s"GET $path",
        () => request(s"$layerUrl$path?${readQs(params)}")(_.GET()), handler, idempotent = true)
    else
      sendRaw(s"POST(read) $path",
        () => request(s"$layerUrl$path")(formPost(readQs(params))), handler, idempotent = true)

  /** A reply that is an error envelope fails here, and an auth code on it
    * (498/499/401/403) drops the cached token so the next request
    * re-authenticates.
    */
  private def checked[T](body: => T): T =
    try body
    catch {
      case e: ArcGisServerError =>
        if (e.authFailure) auth.foreach(_.invalidate())
        throw e
    }

  /** A small JSON reply (metadata, count, statistics, listings, write
    * results) as a [[MiniJson]] tree, its error envelope checked.
    */
  private def envelope(what: String, body: => String): MiniJson.JValue = checked {
    val json = MiniJson.parse(body)
    ArcGisServerError.check(json, what)
    json
  }

  private def getJson(path: String, params: Seq[(String, String)]): MiniJson.JValue =
    envelope(s"GET $path", get(path, params, HttpResponse.BodyHandlers.ofString()))

  /** A feature page's raw bytes through the streaming [[FeatureDecoder]]. */
  private def getFeatures[T](path: String, params: Seq[(String, String)])(
      decode: (Array[Byte], String) => T): T =
    checked(decode(get(path, params, HttpResponse.BodyHandlers.ofByteArray()), s"GET $path"))

  private def post(path: String, params: Seq[(String, String)]): MiniJson.JValue =
    envelope(s"POST $path", sendRaw(s"POST $path", () =>
      request(s"$layerUrl$path")(formPost(encoded(withAuth(params) :+ ("f" -> "json")))),
      HttpResponse.BodyHandlers.ofString(), idempotent = false))

  override def layerInfo(): LayerInfo = {
    val json = getJson("", Seq.empty)
    val fields = json.arr("fields").map { f =>
      ArcGisField(f.str("name"), f.str("type"))
    }
    val count = getJson("/query", Seq("where" -> "1=1", "returnCountOnly" -> "true"))
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

  /** `/query` parameters of one feature page. `count < 0` = no explicit
    * cap: the OID-range scan omits BOTH pagination parameters (they require
    * `supportsPagination`, which is exactly what that mode works around)
    * and lets the server cap at its maxRecordCount.
    *
    * SR discipline: every feature read requests `outSR=4326`, so geom_x /
    * geom_y are ALWAYS WGS-84 lon/lat regardless of the layer's native SR —
    * and the pushed envelope declares the SAME wkid via `inSR`. Predicate
    * units, envelope units, and returned coordinates therefore live in one
    * SR; without the fixed outSR, a non-4326 layer would have the server
    * reproject the envelope while shipping native-SR coordinates, silently
    * excluding matching rows that no residual engine filter could recover.
    */
  private def queryParams(
      offset: Long, count: Int, where: String, outFields: Seq[String],
      envelope: Option[Envelope], outSR: Option[String]
  ): Seq[(String, String)] = {
    // user-chosen SR (read option `outSR`) replaces the 4326 default for
    // BOTH outSR and the envelope's inSR: predicates over geom_x/geom_y are
    // written against the coordinates the user receives, the pushed bbox is
    // derived from those predicates, and declaring the envelope in the same
    // wkid keeps one unit system end to end (the server reprojects the
    // envelope internally) — the SR discipline is preserved, just in the
    // caller's frame instead of WGS-84
    val sr = outSR.getOrElse("4326")
    Seq(
      "where" -> where,
      "outFields" -> (if (outFields.isEmpty) "*" else outFields.mkString(",")),
      "outSR" -> sr
    ) ++ (if (count >= 0) Seq(
      "resultOffset" -> offset.toString,
      "resultRecordCount" -> count.toString,
      "orderByFields" -> "OBJECTID" // stable pagination order
    ) else Seq.empty) ++
      envelope.toSeq.flatMap(e => Seq(
        "geometry" -> s"""{"xmin":${e.xmin},"ymin":${e.ymin},"xmax":${e.xmax},"ymax":${e.ymax}}""",
        "geometryType" -> "esriGeometryEnvelope",
        "spatialRel" -> "esriSpatialRelIntersects",
        "inSR" -> sr // same SR as outSR — one unit system end to end
      ))
  }

  override def queryPage(
      offset: Long, count: Int, where: String, outFields: Seq[String],
      envelope: Option[Envelope] = None, outSR: Option[String] = None
  ): Seq[EsriFeature] =
    getFeatures("/query", queryParams(offset, count, where, outFields, envelope, outSR))(
      FeatureDecoder.features)

  /** The page decoded from the reply bytes straight into rows: no feature
    * maps, no per-row field lookup by name.
    */
  override def scanPage(
      offset: Long, count: Int, where: String, schema: StructType,
      envelope: Option[Envelope] = None, outSR: Option[String] = None
  ): Iterator[InternalRow] =
    getFeatures("/query", queryParams(offset, count, where, ArcGisSchema.outFields(schema),
      envelope, outSR))(FeatureDecoder.rows(_, schema, _)).iterator

  override def queryTopFeatures(
      topCount: Int, groupByField: String, orderByField: String,
      where: String, outFields: Seq[String], outSR: Option[String] = None
  ): Seq[EsriFeature] =
    getFeatures("/queryTopFeatures", Seq(
      "where" -> where,
      "outFields" -> (if (outFields.isEmpty) "*" else outFields.mkString(",")),
      "outSR" -> outSR.getOrElse("4326"), // same SR discipline as queryPage
      "topFilter" -> s"""{"groupByFields":"$groupByField","topCount":$topCount,"orderByFields":"$orderByField"}"""
    ))(FeatureDecoder.features)

  private def attachmentInfo(a: MiniJson.JValue): AttachmentInfo =
    AttachmentInfo(
      a.num("id").map(_.toLong).getOrElse(-1L),
      a.str("name"),
      a.str("contentType"),
      a.num("size").map(_.toLong).getOrElse(0L))

  override def attachmentInfos(oid: Long): Seq[AttachmentInfo] =
    getJson(s"/$oid/attachments", Seq.empty).arr("attachmentInfos").map(attachmentInfo)

  /** Bulk listing via the layer's `queryAttachments` endpoint — one
    * round-trip per OID window instead of one per feature. The public REST
    * surface keys the response by `parentObjectId` in `attachmentGroups[]`;
    * `returnUrl=false` keeps the reply metadata-only (payloads stay on the
    * per-attachment download path, fetched only when the pruned schema
    * still needs `data`).
    */
  override def queryAttachments(oids: Seq[Long]): Seq[(Long, AttachmentInfo)] =
    if (oids.isEmpty) Seq.empty
    else getJson("/queryAttachments", Seq(
      "objectIds" -> oids.mkString(","),
      "returnUrl" -> "false"
    )).arr("attachmentGroups").flatMap { g =>
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
    * corrupt bytes to the binary operators, so sniff and throw instead,
    * through the same check every JSON reply gets. The gate is
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
    parsed.foreach(json => checked(ArcGisServerError.check(json, what)))
  }

  private def writeResults(reply: MiniJson.JValue, resultKey: String): Seq[Either[String, Long]] =
    reply.arr(resultKey).map { r =>
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
    getJson("/query", params).arr("features").map { f =>
      f.obj("attributes").map(_.fields).getOrElse(Map.empty)
        .collect { case (k, v: Any) => k -> v }
    }
  }
}

/** Minimal JSON tree and writer for the ArcGIS REST envelope — enough for
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

  /** `s` read by [[FeatureDecoder]]'s tokenizer, the one JSON grammar of
    * the connector; malformed input throws "malformed ArcGIS JSON response".
    */
  def parse(s: String): JValue = JValue(FeatureDecoder.tree(s.getBytes(StandardCharsets.UTF_8)))

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
}
