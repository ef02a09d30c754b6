package graft.sources.arcgis

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap

/** One ArcGIS layer field, as returned by the layer metadata endpoint
  * (`fields[]` with esriFieldType* — reference [lib] esri-dump behavior,
  * SURVEY.md S5, pin `/root/reference/package-lock.json:2234-2237`).
  */
case class ArcGisField(name: String, esriType: String)

case class LayerInfo(
    fields: Seq[ArcGisField],
    maxRecordCount: Int,
    totalCount: Long,
    /** `advancedQueryCapabilities.supportsPagination` from the layer
      * metadata: whether `/query` honors `resultOffset`. Servers without it
      * force the OBJECTID-range scan (reference [lib] esri-dump falls back
      * the same way).
      */
    supportsPagination: Boolean = true,
    /** `advancedQueryCapabilities.supportsQueryAttachments`: whether the
      * layer exposes the bulk `queryAttachments` endpoint (one listing call
      * per OID window) — without it the attachments scan falls back to the
      * per-OID `{oid}/attachments` listing.
      */
    supportsQueryAttachments: Boolean = false
) {
  /** The layer's `esriFieldTypeOID` field, if its metadata declares one. */
  def oidField: Option[String] = fields.find(_.esriType == "esriFieldTypeOID").map(_.name)

  /** [[oidField]], or a descriptive failure naming what needs it. */
  def requireOid(what: String): String = oidField.getOrElse(throw new IllegalArgumentException(
    s"$what requires an esriFieldTypeOID field in the layer metadata"))
}

/** A feature as the ArcGIS REST API represents it: flat attribute map plus
  * (for point layers) an `{x, y}` geometry.
  */
case class EsriFeature(
    attributes: Map[String, Any],
    geometry: Option[(Double, Double)]
)

/** Spatial envelope for the `/query` `geometry` parameter
  * (`geometryType=esriGeometryEnvelope`, `spatialRel=esriSpatialRelIntersects`
  * — inclusive bounds). The server-side spatial filter the reference's query
  * layer exposes.
  */
case class Envelope(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

/** Transport abstraction over the ArcGIS Feature/MapServer REST surface the
  * reference drives (scan S1/S2, key lookup S10, add/update sinks S8/S9 —
  * `/root/reference/task.ts:236-349,398-418`). The DSv2 source and the sink
  * writers only talk to this trait; tests inject [[MockArcGisClient]], a real
  * deployment registers an HTTP implementation. Implementations must be
  * thread-safe: partitions call concurrently from executor tasks.
  */
trait ArcGisClient extends Serializable {
  def layerInfo(): LayerInfo

  /** Offset-window page of `/query` (EsriDumpConfigApproach.ITER). `where`
    * is an ArcGIS SQL-92 predicate ("1=1" for none); `outFields` the
    * server-side projection (`*` for all); `envelope` the optional
    * server-side spatial filter (inclusive bbox intersect); `outSR` the
    * optional wkid the server should reproject coordinates INTO (the
    * reference carries a proj4 pin for arbitrary-CRS output,
    * `package-lock.json:3233` — Feature Services do the same transform
    * server-side via the `outSR` query param, so the engine passes the
    * request through rather than reimplementing every CRS pair; None keeps
    * the 4326 default discipline).
    */
  def queryPage(
      offset: Long,
      count: Int,
      where: String,
      outFields: Seq[String],
      envelope: Option[Envelope] = None,
      outSR: Option[String] = None
  ): Seq[EsriFeature]

  /** One offset window of `/query` as rows of `schema`, whose layer fields
    * are the page's `outFields` ([[ArcGisSchema.outFields]]) — what the
    * offset-mode scan reads. The default materializes [[queryPage]]'s
    * features, so decorators and test doubles need not override it; a
    * transport overrides it to decode its reply straight into rows.
    */
  def scanPage(
      offset: Long,
      count: Int,
      where: String,
      schema: StructType,
      envelope: Option[Envelope] = None,
      outSR: Option[String] = None
  ): Iterator[InternalRow] =
    queryPage(offset, count, where, ArcGisSchema.outFields(schema), envelope, outSR)
      .iterator.map(ArcGisValues.toRow(schema, _))

  /** `queryTopFeatures` endpoint (strategy S2, `task.ts:16-19,400`). */
  def queryTopFeatures(
      topCount: Int,
      groupByField: String,
      orderByField: String,
      where: String,
      outFields: Seq[String],
      outSR: Option[String] = None
  ): Seq[EsriFeature]

  /** Point lookup by key equality (upsert existence probe S10,
    * `task.ts:267-284`): one unpaginated `/query` on `keyCol = 'key'`.
    */
  def queryByKey(keyCol: String, key: String): Seq[EsriFeature] =
    queryPage(0L, -1, s"$keyCol = '${key.replace("'", "''")}'", Seq("*"))

  /** `addFeatures` POST (S8). Per-feature result: Right(objectid) or
    * Left(error) — the reference surfaces `addResults[0].error`
    * (`task.ts:263,312`).
    */
  def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]]

  /** `updateFeatures` POST (S9, keyed on server `objectid`). */
  def updateFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]]

  /** `deleteFeatures` POST (objectIds form — the third applyEdits verb of
    * the public Feature Service REST surface). The reference never deletes
    * (its full re-pull just stops re-sending vanished rows); the engine's
    * sink uses this to honor `_deleted` tombstones from the incremental
    * source, completing the end-to-end sync the reference gets implicitly.
    * Per-OID result, same error-isolation contract as add/update.
    */
  def deleteFeatures(oids: Seq[Long]): Seq[Either[String, Long]] =
    throw new UnsupportedOperationException(
      "this ArcGIS client does not support deleteFeatures")

  /** Server-side statistics (`/query` with `outStatistics` +
    * `groupByFieldsForStatistics`) — the aggregation endpoint behind the
    * engine's DSv2 aggregate pushdown. One result row per group (one total
    * row when `groupBy` is empty); each row maps group fields and
    * `StatSpec.outName`s to values. ArcGIS semantics: `count` is the number
    * of non-null values of the field (the OID field therefore counts rows);
    * min/max/sum/avg skip nulls — identical to the Spark aggregates they
    * replace.
    */
  def queryStatistics(
      where: String,
      groupBy: Seq[String],
      stats: Seq[StatSpec]
  ): Seq[Map[String, Any]]

  /** Change-tracking delete probe: `(objectid, deletedTimestampMillis)` for
    * every feature deleted from the layer with deletion timestamp in
    * `(loTs, hiTs]` — the `deletedFeatures` array of the ArcGIS
    * ChangeTracking `extractChanges` endpoint (`returnDeletes=true`; layers
    * advertise it via the `ChangeTracking` capability). The reference never
    * needs this: its scheduled full re-pull (`task.ts:51`) re-observes the
    * whole layer, so deleted rows simply vanish from the next snapshot. The
    * incremental streaming source calls this only when `deletes=true` is
    * set; clients without change tracking keep this default.
    */
  def queryDeletedFeatures(loTs: Long, hiTs: Long): Seq[(Long, Long)] =
    throw new UnsupportedOperationException(
      "this ArcGIS client does not support change tracking (extractChanges)")

  /** Attachment metadata for one feature — the public REST surface's
    * `{layer}/{oid}/attachments` listing (layers advertise it via
    * `hasAttachments`). The reference itself never reads attachments, but
    * its ecosystem exposes the endpoint on every Feature Service; the
    * engine's `attachments=true` scan turns it into a BinaryType column
    * feeding the multimodal (m-family) operators. Layers without
    * attachments keep this default.
    */
  def attachmentInfos(oid: Long): Seq[AttachmentInfo] = Seq.empty

  /** Bulk attachment listing — the `queryAttachments` endpoint layers
    * advertise via `advancedQueryCapabilities.supportsQueryAttachments`:
    * ONE round-trip returns the attachment metadata of a whole OID window
    * (`attachmentGroups[] = {parentObjectId, attachmentInfos[]}`). At a
    * million-feature layer the per-OID listing is the scan's dominant cost
    * even for metadata-only plans; this collapses it to one call per
    * partition window. Default implementation is the per-OID fallback so
    * every client stays correct; transports override with the real bulk
    * call when the layer supports it.
    */
  def queryAttachments(oids: Seq[Long]): Seq[(Long, AttachmentInfo)] =
    oids.flatMap(oid => attachmentInfos(oid).map(oid -> _))

  /** One attachment's raw bytes — `{layer}/{oid}/attachments/{attachmentId}`
    * (the download form of the endpoint, no `f=json` envelope).
    */
  def attachment(oid: Long, attachmentId: Long): Array[Byte] =
    Array.emptyByteArray
}

/** One attachment's metadata as served by `{layer}/{oid}/attachments`:
  * `attachmentInfos[] = {id, name, contentType, size}`.
  */
case class AttachmentInfo(id: Long, name: String, contentType: String, size: Long)

/** One `outStatistics` entry: `statisticType` ∈
  * count|min|max|sum|avg, applied to `onField`, surfaced as `outName`.
  */
case class StatSpec(statisticType: String, onField: String, outName: String)

/** Executor-side client lookup. DSv2 instantiates sources reflectively from
  * an options map, so tests and deployments register a client under a key
  * and pass `client=<key>` as a read option. (An HTTP deployment would
  * register a lazily-connecting client per layer URL — the auth-token cache
  * with expiry refresh, reference `task.ts:92-135`, lives inside that
  * client, amortized per executor.)
  */
object ArcGisClientRegistry {
  private val clients = TrieMap.empty[String, ArcGisClient]
  def register(key: String, client: ArcGisClient): Unit = clients.put(key, client)
  def get(key: String): ArcGisClient =
    clients.getOrElse(key, throw new IllegalArgumentException(s"no ArcGIS client registered under '$key'"))
}

/** In-memory mock with request capture — the test double standing in for a
  * Feature/MapServer. Thread-safe via synchronized capture lists.
  */
class MockArcGisClient(
    val fields: Seq[ArcGisField],
    val rows: Seq[EsriFeature],
    val pageSize: Int = 100,
    val supportsPagination: Boolean = true,
    val supportsQueryAttachments: Boolean = false
) extends ArcGisClient {

  val whereLog = new java.util.concurrent.CopyOnWriteArrayList[String]()
  val outFieldsLog = new java.util.concurrent.CopyOnWriteArrayList[String]()
  val pageLog = new java.util.concurrent.CopyOnWriteArrayList[(Long, Int)]()
  val statsLog = new java.util.concurrent.CopyOnWriteArrayList[(String, Seq[String], Seq[StatSpec])]()
  val added = new java.util.concurrent.CopyOnWriteArrayList[EsriFeature]()
  val updated = new java.util.concurrent.CopyOnWriteArrayList[EsriFeature]()

  /** Change-tracking delete log the mock server maintains: `(oid, deletedTs)`
    * entries recorded by test harnesses that remove rows (playing the role
    * of the server's internal change journal behind `extractChanges`).
    */
  val deletedLog = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()

  /** Per-feature attachment store the mock server serves (test harnesses
    * populate it), plus a request log: `(oid, None)` = metadata listing,
    * `(oid, Some(id))` = payload download.
    */
  val attachmentStore =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[(AttachmentInfo, Array[Byte])]]()
  val attachmentLog = new java.util.concurrent.CopyOnWriteArrayList[(Long, Option[Long])]()

  override def attachmentInfos(oid: Long): Seq[AttachmentInfo] = {
    attachmentLog.add((oid, None))
    Option(attachmentStore.get(oid)).map(_.map(_._1)).getOrElse(Seq.empty)
  }

  /** Bulk-listing request log: one entry per `queryAttachments` call, the
    * OID window it covered — specs assert one listing call per partition
    * window (vs N per-OID entries in `attachmentLog`).
    */
  val attachmentBulkLog = new java.util.concurrent.CopyOnWriteArrayList[Seq[Long]]()

  override def queryAttachments(oids: Seq[Long]): Seq[(Long, AttachmentInfo)] = {
    attachmentBulkLog.add(oids)
    oids.flatMap { oid =>
      Option(attachmentStore.get(oid)).map(_.map(oid -> _._1)).getOrElse(Seq.empty)
    }
  }

  override def attachment(oid: Long, attachmentId: Long): Array[Byte] = {
    attachmentLog.add((oid, Some(attachmentId)))
    Option(attachmentStore.get(oid))
      .flatMap(_.collectFirst { case (i, bytes) if i.id == attachmentId => bytes })
      .getOrElse(Array.emptyByteArray)
  }

  override def queryDeletedFeatures(loTs: Long, hiTs: Long): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    deletedLog.asScala.toSeq.filter { case (_, ts) => ts > loTs && ts <= hiTs }
  }

  override def layerInfo(): LayerInfo =
    LayerInfo(fields, pageSize, rows.size.toLong, supportsPagination,
      supportsQueryAttachments)

  /** Server-side predicate evaluation for a tiny SQL subset (the mock plays
    * the ArcGIS server role: equality/comparison on one column, AND-joined).
    */
  private def matches(f: EsriFeature, where: String): Boolean = {
    if (where.trim.isEmpty || where == "1=1") return true
    // SQL-92 TIMESTAMP literal (the editDateLiteral=timestamp rendering real
    // feature services require for date fields) — must be matched BEFORE the
    // generic comparison, whose value group would swallow the keyword
    val tsCmp = "(?i)\\s*\"?(\\w+)\"?\\s*(>=|<=|<>|=|>|<)\\s*TIMESTAMP\\s*'([^']*)'\\s*".r
    val cmp = "\\s*\"?(\\w+)\"?\\s*(>=|<=|<>|=|>|<)\\s*'?([^']*)'?\\s*".r
    val isNull = "(?i)\\s*\"?(\\w+)\"?\\s+IS\\s+NULL\\s*".r
    val isNotNull = "(?i)\\s*\"?(\\w+)\"?\\s+IS\\s+NOT\\s+NULL\\s*".r
    val like = "(?i)\\s*\"?(\\w+)\"?\\s+LIKE\\s+'([^']*)%'\\s*".r
    // close paren optional: the AND-split's deparen may have eaten it
    val inList = "(?i)\\s*\"?(\\w+)\"?\\s+IN\\s*\\(?([^)]*)\\)?\\s*".r

    // The AND-split can leave unbalanced parens on clause edges; strip them
    // independently (values in this mock never contain parens).
    def deparen(s: String): String =
      s.trim.replaceAll("^[(\\s]+", "").replaceAll("[)\\s]+$", "")

    // IEEE comparison semantics for the numeric clauses
    import Ordering.Double.IeeeOrdering
    def holds[T](op: String, a: T, b: T)(implicit ord: Ordering[T]): Boolean = op match {
      case "=" => ord.equiv(a, b); case "<>" => !ord.equiv(a, b)
      case ">" => ord.gt(a, b); case "<" => ord.lt(a, b)
      case ">=" => ord.gteq(a, b); case "<=" => ord.lteq(a, b)
    }

    where.split("(?i)\\)\\s*AND\\s*\\(|(?i)\\sAND\\s").forall { raw =>
      deparen(raw) match {
        case "1=1" => true
        case tsCmp(col, op, v) =>
          // the mock stores esriFieldTypeDate values as epoch millis (the
          // REST wire format); parse the literal the same way the stream's
          // formatter rendered it and compare numerically
          val w = java.time.LocalDateTime
            .parse(v, java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble
          f.attributes.get(col) match {
            case Some(n: Number) => holds(op, n.doubleValue(), w)
            case _ => false
          }
        case cmp(col, op, v) =>
          f.attributes.get(col) match {
            case Some(x: String) => holds(op, x, v)
            case Some(n: Number) => holds(op, n.doubleValue(), v.toDouble)
            case _ => false
          }
        case isNotNull(col) => f.attributes.get(col).exists(_ != null)
        case isNull(col) => !f.attributes.get(col).exists(_ != null)
        case like(col, prefix) =>
          f.attributes.get(col).exists(_.toString.startsWith(prefix))
        case inList(col, list) =>
          val vals = list.split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
            .filter(_.nonEmpty).toSet
          f.attributes.get(col).exists {
            case s: String => vals.contains(s)
            case n: Number =>
              vals.exists(v => scala.util.Try(v.toDouble).toOption.contains(n.doubleValue()))
            case _ => false
          }
        case _ => true // unparseable clause: mock accepts (a real server would error)
      }
    }
  }

  private def project(f: EsriFeature, outFields: Seq[String]): EsriFeature =
    if (outFields.isEmpty || outFields == Seq("*")) f
    else f.copy(attributes = f.attributes.view.filterKeys(outFields.contains).toMap)

  val envelopeLog = new java.util.concurrent.CopyOnWriteArrayList[Envelope]()

  val outSrLog = new java.util.concurrent.CopyOnWriteArrayList[String]()

  override def queryPage(
      offset: Long,
      count: Int,
      where: String,
      outFields: Seq[String],
      envelope: Option[Envelope] = None,
      outSR: Option[String] = None
  ): Seq[EsriFeature] = {
    whereLog.add(where)
    outSR.foreach(outSrLog.add)
    outFieldsLog.add(outFields.mkString(","))
    pageLog.add((offset, count))
    envelope.foreach(envelopeLog.add)
    // strict server: a layer that reports supportsPagination=false rejects
    // resultOffset/resultRecordCount outright (the lenient alternative —
    // ignoring them — silently duplicates rows across partitions, worse)
    require(supportsPagination || count < 0,
      "mock ArcGIS server: pagination parameters sent to a supportsPagination=false layer")
    def inEnv(f: EsriFeature): Boolean = envelope.forall { e =>
      f.geometry.exists { case (x, y) =>
        x >= e.xmin && x <= e.xmax && y >= e.ymin && y <= e.ymax
      }
    }
    // the server caps every response at its maxRecordCount (which this mock
    // plays via pageSize), whether or not resultRecordCount was sent
    val cap = if (count < 0) pageSize else math.min(count, pageSize)
    rows.filter(f => matches(f, where) && inEnv(f)).slice(offset.toInt, offset.toInt + cap)
      .map(project(_, outFields))
  }

  override def queryTopFeatures(
      topCount: Int,
      groupByField: String,
      orderByField: String,
      where: String,
      outFields: Seq[String],
      outSR: Option[String] = None
  ): Seq[EsriFeature] = {
    whereLog.add(where)
    outSR.foreach(outSrLog.add)
    rows.filter(matches(_, where))
      .groupBy(_.attributes(groupByField))
      .values.flatMap { g =>
        g.sortBy(_.attributes(orderByField).toString).take(topCount)
      }
      .toSeq.map(project(_, outFields))
  }

  override def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] = {
    feats.foreach(added.add)
    feats.zipWithIndex.map { case (_, i) => Right(rows.size + added.size - feats.size + i.toLong) }
  }

  override def updateFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] = {
    feats.foreach(updated.add)
    feats.map(f => f.attributes.get("objectid") match {
      case Some(oid: Number) => Right(oid.longValue())
      case _ => Left("missing objectid")
    })
  }

  /** OIDs the sink asked the server to delete. */
  val deletedByClient = new java.util.concurrent.CopyOnWriteArrayList[Long]()

  override def deleteFeatures(oids: Seq[Long]): Seq[Either[String, Long]] = {
    oids.foreach(deletedByClient.add)
    oids.map(Right(_))
  }

  override def queryStatistics(
      where: String,
      groupBy: Seq[String],
      stats: Seq[StatSpec]
  ): Seq[Map[String, Any]] = {
    statsLog.add((where, groupBy, stats))
    val matched = rows.filter(matches(_, where))
    def nonNull(g: Seq[EsriFeature], field: String): Seq[Any] =
      g.flatMap(_.attributes.get(field)).filter(_ != null)
    def stat(g: Seq[EsriFeature], s: StatSpec): Any = {
      val vs = nonNull(g, s.onField)
      s.statisticType match {
        case "count" => vs.size.toLong
        case "min" | "max" =>
          if (vs.isEmpty) null
          else vs.reduce { (a, b) =>
            val less = (a, b) match {
              case (x: Number, y: Number) => x.doubleValue() < y.doubleValue()
              case (x, y) => x.toString < y.toString
            }
            if (less == (s.statisticType == "min")) a else b
          }
        case "sum" =>
          if (vs.isEmpty) null else vs.collect { case n: Number => n.doubleValue() }.sum
        case "avg" =>
          val ns = vs.collect { case n: Number => n.doubleValue() }
          if (ns.isEmpty) null else ns.sum / ns.size
      }
    }
    val groups =
      if (groupBy.isEmpty) Seq(Seq.empty[Any] -> matched)
      else matched.groupBy(f => groupBy.map(c => f.attributes.getOrElse(c, null))).toSeq
    groups.map { case (gvals, g) =>
      groupBy.zip(gvals).toMap ++ stats.map(s => s.outName -> stat(g, s)).toMap
    }
  }
}
