package graft.sources.arcgis

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** ArcGIS layer scan as a Spark DataSource V2 (SURVEY.md §2.1 S1-S5):
  *
  * {{{
  * spark.read.format("arcgis")
  *   .option("client", "<registry key>")        // transport (HTTP or mock)
  *   .option("where", "status = 'active'")      // ARCGIS_QUERY passthrough (S3)
  *   .option("strategy", "query")               // or "queryTopFeatures" (S2)
  *   .option("outSR", "3857")                   // server-side reprojection
  *   .load()
  * }}}
  *
  * Improvements over the reference's esri-dump pagination
  * (`/root/reference/task.ts:398-418`), per SURVEY.md §4:
  *   - **parallel pagination**: one InputPartition per offset window, so a
  *     1000-executor cluster fans the HTTP pages out instead of the
  *     reference's sequential single-threaded loop;
  *   - **typed predicate pushdown** (`SupportsPushDownFilters`): Catalyst
  *     filters compile to an ArcGIS SQL-92 `where`; what can't compile stays
  *     a residual Spark Filter (the reference only forwards raw user
  *     strings);
  *   - **column pruning** (`SupportsPushDownRequiredColumns`) → `outFields`,
  *     where the reference always requests `*` (`task.ts:273`).
  */
class ArcGisTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arcgis"

  /** Unconfigured source → empty schema rather than an error, matching the
    * reference's `schema()` behavior when no layer/URL is set
    * (`task.ts:64,69,86,89`, v7.2.0/v5.7.0 `CHANGELOG.md:143,183`).
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.get("client") == null) new StructType()
    // attachments=true: the scan reads the layer's ATTACHMENTS surface
    // (`{layer}/{oid}/attachments`) instead of its rows — one row per
    // attachment with the payload as a BinaryType column, the shape the
    // multimodal (m-family) operators consume directly. Options are
    // validated HERE (the earliest plan-time hook) so a malformed toggle
    // fails with the same descriptive message strategy/pageSize get, not a
    // raw String.toBoolean exception.
    else if ({ ArcGisConfigSchema.validateOptions(options)
               Option(options.get("attachments")).exists(_.toBoolean) })
      ArcGisAttachmentsSchema.schema
    else {
      val base = ArcGisSchema.layerSchema(options.get("client"))
      // deletes=true (streaming tombstones): the scan gains a synthetic
      // `_deleted` marker — false on live rows, true on change-tracking
      // tombstones (see ArcGisMicroBatchStream)
      if (Option(options.get("deletes")).exists(_.toBoolean))
        base.add(StructField("_deleted", BooleanType, nullable = false))
      else base
    }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new ArcGisTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

/** Fixed schema of an `attachments=true` scan: one row per attachment of
  * the layer's features. Metadata columns come from the listing
  * (`attachmentInfos[]`); `data` is the raw download — BinaryType, so the
  * multimodal operators (imageAHash, codec decode, magic sniff) compose
  * directly onto the scan. Column pruning is load-bearing here: a plan
  * that never reads `data` (manifest/accounting queries) skips the
  * per-attachment download entirely and only pays the per-OID listing.
  */
object ArcGisAttachmentsSchema {
  val schema: StructType = StructType(Seq(
    StructField("objectid", LongType, nullable = false),
    StructField("attachment_id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("content_type", StringType),
    StructField("size", LongType),
    StructField("data", BinaryType)))
}

/** ArcGIS `fields[]` metadata → Catalyst schema (S5). Dates surface as
  * strings to match the reference pipeline's esri-dump >= 3.8.0 behavior
  * (`/root/reference/CHANGELOG.md:265-266`). Point-layer geometry appears as
  * nullable `geom_x`/`geom_y` doubles.
  */
object ArcGisSchema {
  def typeFor(esriType: String): DataType = esriType match {
    case "esriFieldTypeOID" => LongType
    case "esriFieldTypeInteger" => IntegerType
    case "esriFieldTypeSmallInteger" => IntegerType
    case "esriFieldTypeDouble" => DoubleType
    case "esriFieldTypeSingle" => FloatType
    case "esriFieldTypeDate" => StringType
    case _ => StringType // String, GlobalID, GUID, unknown
  }

  def structFor(fields: Seq[ArcGisField]): StructType =
    StructType(
      fields.map(f => StructField(f.name, typeFor(f.esriType), nullable = true)) ++
        Seq(StructField("geom_x", DoubleType), StructField("geom_y", DoubleType))
    )

  /** The registered client's layer as a Catalyst schema (one metadata fetch). */
  def layerSchema(clientKey: String): StructType =
    structFor(ArcGisClientRegistry.get(clientKey).layerInfo().fields)

  /** Engine-side columns with no remote layer field behind them: point
    * geometry and the streaming tombstone marker. They never compile into a
    * remote `where`, `outFields` or statistic.
    */
  def isSynthetic(name: String): Boolean =
    name == "geom_x" || name == "geom_y" || name == "_deleted"

  /** Remote projection for `schema`: its layer fields, or `*` when only
    * synthetic columns are read.
    */
  def outFields(schema: StructType): Seq[String] = {
    val attrs = schema.fieldNames.filterNot(isSynthetic).toSeq
    if (attrs.isEmpty) Seq("*") else attrs
  }

  /** JSON-Schema document → Catalyst `StructType` (SURVEY §7.1 step 1): the
    * reference's `schema()` surface emits TypeBox JSON Schema
    * (`/root/reference/task.ts:13-46`, and esri-dump's `dumper.schema()` for
    * the output side) — this converter lets such a document drive an engine
    * schema directly. Handles `object`/`properties` (recursively),
    * `array`/`items`, the four scalar types, and `required[]` →
    * non-nullable. Properties are emitted in NAME order (JSON objects are
    * unordered; sorting makes the result deterministic).
    */
  def fromJsonSchema(json: String): StructType =
    objectType(MiniJson.parse(json))

  private def objectType(node: MiniJson.JValue): StructType = {
    val required = node.fields.get("required") match {
      case Some(s: Seq[_]) => s.map(String.valueOf(_)).toSet
      case _ => Set.empty[String]
    }
    val props = node.obj("properties").map(_.fields).getOrElse(Map.empty)
    StructType(props.keys.toSeq.sorted.map { name =>
      val prop = MiniJson.JValue(props(name))
      StructField(name, dataTypeOf(prop), nullable = !required.contains(name))
    })
  }

  private def dataTypeOf(prop: MiniJson.JValue): DataType =
    prop.str("type") match {
      case "string" => StringType
      case "integer" => LongType
      case "number" => DoubleType
      case "boolean" => BooleanType
      case "object" => objectType(prop)
      case "array" =>
        ArrayType(prop.obj("items").map(dataTypeOf).getOrElse(StringType))
      case other => StringType // unknown/untyped: the permissive edge default
    }
}

/** Catalyst [[Filter]] → ArcGIS SQL-92 `where` clause (the compiler the
  * reference never needed because it pushed raw user strings,
  * `task.ts:406-408`). Returns None for predicates the remote dialect can't
  * express — those stay in Spark as residual filters.
  */
object ArcGisFilterCompiler {
  private def lit(v: Any): Option[String] = v match {
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) => Some(n.toString)
    case b: Boolean => Some(if (b) "1" else "0")
    case _ => None // timestamps/decimals: stay residual for fidelity
  }

  def compile(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(l => s"$a = $l")
    case GreaterThan(a, v) => lit(v).map(l => s"$a > $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"$a >= $l")
    case LessThan(a, v) => lit(v).map(l => s"$a < $l")
    case LessThanOrEqual(a, v) => lit(v).map(l => s"$a <= $l")
    case In(a, vs) =>
      val ls = vs.toSeq.map(lit)
      if (ls.forall(_.isDefined)) Some(s"$a IN (${ls.flatten.mkString(", ")})") else None
    case IsNull(a) => Some(s"$a IS NULL")
    case IsNotNull(a) => Some(s"$a IS NOT NULL")
    case StringStartsWith(a, v) => Some(s"$a LIKE '${v.replace("'", "''")}%'")
    case And(l, r) => for (cl <- compile(l); cr <- compile(r)) yield s"($cl AND $cr)"
    case Or(l, r) => for (cl <- compile(l); cr <- compile(r)) yield s"($cl OR $cr)"
    case Not(c) => compile(c).map(cc => s"NOT ($cc)")
    case _ => None
  }

  /** `(where) AND (clause)`, with a degenerate `where` elided. */
  def andWhere(where: String, clause: String): String =
    if (where.trim.isEmpty || where.trim == "1=1") clause else s"($where) AND ($clause)"
}

class ArcGisTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"arcgis(${options.get("client")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ArcGisScanBuilder(schema, opts)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo
  ): org.apache.spark.sql.connector.write.WriteBuilder =
    new ArcGisWriteBuilder(info)
}

/** Catalyst V2 [[Aggregation]] → ArcGIS `outStatistics` (+
  * `groupByFieldsForStatistics`). The remote statistics endpoint computes
  * count/min/max/sum/avg server-side — at scale the scan then ships one row
  * per group instead of the whole layer (the reference always dumps every
  * feature and has no aggregation at all). Returns None when any piece is
  * outside the remote dialect (distinct aggregates, expressions over
  * columns, synthetic geometry fields, date fields whose remote
  * representation — epoch millis — differs from the engine's string
  * surface); those aggregations stay engine-side.
  */
object ArcGisAggCompiler {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}

  case class PushedAgg(groupBy: Seq[String], stats: Seq[StatSpec], readSchema: StructType)

  private def fieldName(e: V2Expr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  def compile(
      agg: Aggregation,
      schema: StructType,
      layer: LayerInfo
  ): Option[PushedAgg] = {
    val esriType = layer.fields.map(f => f.name -> f.esriType).toMap
    def attrField(n: String): Boolean =
      !ArcGisSchema.isSynthetic(n) && schema.fieldNames.contains(n)
    // dates surface engine-side as strings but aggregate remotely as epoch
    // millis — keep their min/max/sum/avg engine-side for fidelity
    def statField(n: String): Boolean =
      attrField(n) && !esriType.get(n).contains("esriFieldTypeDate")
    def numeric(n: String): Boolean = schema(n).dataType match {
      case LongType | IntegerType | DoubleType | FloatType => true
      case _ => false
    }
    def sumType(n: String): DataType = schema(n).dataType match {
      case LongType | IntegerType => LongType
      case _ => DoubleType
    }
    val oid = layer.oidField

    val gb = agg.groupByExpressions().toSeq.map(fieldName)
    if (!gb.forall(_.exists(attrField))) return None
    val groupBy = gb.flatten

    val stats = agg.aggregateExpressions().toSeq.zipWithIndex.map {
      case (_: CountStar, i) =>
        // count of the never-null OID field == row count
        oid.map(o => (StatSpec("count", o, s"stat_$i"), LongType: DataType))
      case (c: Count, i) if !c.isDistinct =>
        fieldName(c.column).filter(attrField)
          .map(f => (StatSpec("count", f, s"stat_$i"), LongType: DataType))
      case (m: Min, i) =>
        fieldName(m.column).filter(statField)
          .map(f => (StatSpec("min", f, s"stat_$i"), schema(f).dataType))
      case (m: Max, i) =>
        fieldName(m.column).filter(statField)
          .map(f => (StatSpec("max", f, s"stat_$i"), schema(f).dataType))
      case (s: Sum, i) if !s.isDistinct =>
        fieldName(s.column).filter(f => statField(f) && numeric(f))
          .map(f => (StatSpec("sum", f, s"stat_$i"), sumType(f)))
      case (a: Avg, i) if !a.isDistinct =>
        fieldName(a.column).filter(f => statField(f) && numeric(f))
          .map(f => (StatSpec("avg", f, s"stat_$i"), DoubleType: DataType))
      case _ => None
    }
    if (stats.exists(_.isEmpty) || stats.isEmpty) return None

    // contract with V2ScanRelationPushDown: readSchema = group cols (in
    // group-by order, source types), then one field per aggregate (Spark's
    // aggregate result types: count→long, sum(integral)→long, avg→double)
    val fields = groupBy.map(n => StructField(n, schema(n).dataType)) ++
      stats.flatten.map { case (s, dt) => StructField(s.outName, dt) }
    Some(PushedAgg(groupBy, stats.flatten.map(_._1), StructType(fields)))
  }
}

class ArcGisScanBuilder(schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  // plan-time option validation (strategy enum, numeric options) — the
  // reference's TypeBox enum check, failing at scan build, not mid-fan-out
  ArcGisConfigSchema.validateOptions(options)

  /** Layer metadata, fetched at most once per scan and shared by the
    * aggregate pushdown, the planner statistics and partition planning. A
    * new builder (each query execution) fetches afresh, so a re-run sees a
    * grown layer.
    */
  private lazy val info: LayerInfo =
    ArcGisClientRegistry.get(options.get("client")).layerInfo()

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema
  private var limit: Option[Int] = None
  private var pushedAgg: Option[ArcGisAggCompiler.PushedAgg] = None

  // attachments=true reads the layer's attachments surface: its columns are
  // synthetic (not layer fields), so field/aggregate/limit pushdowns don't
  // apply — only the user `where` (feature selection) and column pruning do
  private val attachmentsMode =
    Option(options.get("attachments")).exists(_.toBoolean)

  private def translatable(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) = {
    // the topFeatures strategy is already a different remote computation —
    // don't stack server-side statistics on top of it
    val strategy = Option(options.get("strategy")).getOrElse("query")
    if (attachmentsMode || !strategy.equalsIgnoreCase("query")) None
    else ArcGisAggCompiler.compile(agg, schema, info)
  }

  /** Results from `outStatistics` are final per group, so the pushdown is
    * complete: Spark plans no re-aggregation. (A partial push of the same
    * stats would also merge correctly — min of one min, sum of one count —
    * but complete keeps the plan minimal.)
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translatable(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = translatable(agg)
    pushedAgg.isDefined
  }

  /** LIMIT → the pagination planner stops issuing pages past the limit
    * (`resultRecordCount` caps the last page). Spark still applies the
    * final exact limit; the pushdown saves the remote round-trips the
    * reference's full dump would have made.
    */
  override def pushLimit(l: Int): Boolean =
    // attachment rows fan out per feature, so a row limit doesn't map to a
    // feature-page budget — keep the limit engine-side in that mode
    if (attachmentsMode) false else { limit = Some(l); true }

  /** Partially pushed: the engine KEEPS its limit operator. Required for
    * the non-paginating fallbacks (a single unpaginated request returns up
    * to the server cap, an OID-range scan returns everything) and harmless
    * in offset mode, where the page budget already stops at the limit.
    */
  override def isPartiallyPushed(): Boolean = true

  private var envelope: Option[Envelope] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // attachments mode: every column is synthetic (listing metadata), so
    // nothing compiles to a remote where — all predicates stay residual
    if (attachmentsMode) return filters
    // geom_x/geom_y/_deleted are synthetic (engine-side) columns, not remote
    // layer fields — predicates touching them must stay residual in Spark.
    val (supported, residual) = filters.partition { f =>
      ArcGisFilterCompiler.compile(f).isDefined &&
        !f.references.exists(ArcGisSchema.isSynthetic)
    }
    pushed = supported
    // ...but bbox-shaped geometry predicates DO compile to the server-side
    // spatial filter (`geometry` + esriGeometryEnvelope + Intersects — the
    // reference's query layer exposes it). Bounds only ever WIDEN here
    // (strict > uses its value inclusively) and the originating filters
    // stay residual above, so Spark's result is exact while the server
    // stops shipping everything outside the box.
    def num(v: Any): Seq[Double] = v match {
      case n: Number => Seq(n.doubleValue())
      case _ => Nil
    }
    // (column, lower bounds, upper bounds) of each geometry comparison
    val bounds: Seq[(String, Seq[Double], Seq[Double])] = filters.toSeq.collect {
      case GreaterThan(c, v) => (c, num(v), Nil)
      case GreaterThanOrEqual(c, v) => (c, num(v), Nil)
      case LessThan(c, v) => (c, Nil, num(v))
      case LessThanOrEqual(c, v) => (c, Nil, num(v))
      case EqualTo(c, v) => (c, num(v), num(v))
    }.filter(b => b._1 == "geom_x" || b._1 == "geom_y")
    def clamp(d: Double): Double = d.max(-Double.MaxValue).min(Double.MaxValue)
    def lo(c: String): Double =
      clamp(bounds.filter(_._1 == c).flatMap(_._2).foldLeft(Double.NegativeInfinity)(math.max))
    def hi(c: String): Double =
      clamp(bounds.filter(_._1 == c).flatMap(_._3).foldLeft(Double.PositiveInfinity)(math.min))
    if (bounds.nonEmpty && lo("geom_x") <= hi("geom_x") && lo("geom_y") <= hi("geom_y"))
      envelope = Some(Envelope(lo("geom_x"), lo("geom_y"), hi("geom_x"), hi("geom_y")))
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = {
    // S3+S4: user-supplied ARCGIS_QUERY where-string ANDed with compiled
    // Catalyst predicates (reference merges params at task.ts:404-414).
    val userWhere = Option(options.get("where")).filter(_.nonEmpty)
    val compiled = pushed.flatMap(ArcGisFilterCompiler.compile)
    val where = (userWhere.toSeq ++ compiled) match {
      case Seq() => "1=1"
      case cs => cs.mkString("(", ") AND (", ")")
    }
    if (attachmentsMode) new ArcGisAttachmentsScan(required, options, where, info)
    else pushedAgg match {
      case Some(pa) => new ArcGisScan(pa.readSchema, options, where, info, None, Some(pa))
      case None => new ArcGisScan(required, options, where, info, limit, envelope = envelope)
    }
  }
}

/** One offset window of the remote `/query` endpoint. The effective `where`
  * rides IN the partition (not the reader factory): runtime filters arrive
  * via [[SupportsRuntimeFiltering.filter]] AFTER the factory may already be
  * instantiated for planning (supportsColumnar probes it), but Spark always
  * re-invokes `planInputPartitions()` post-filter — so the partition is the
  * only carrier that reliably reflects runtime pruning.
  */
case class ArcGisInputPartition(
    offset: Long,
    count: Int,
    where: String,
    envelope: Option[Envelope] = None
) extends InputPartition

/** An OBJECTID interval `[lo, hi)` under `where`, drained by
  * [[OidRanges.drain]]; `page` is the saturation threshold (the server's
  * maxRecordCount).
  */
sealed trait OidWindow extends InputPartition {
  def lo: Long
  def hi: Long
  def oidField: String
  def where: String
  def page: Int
}

/** One OBJECTID interval `[lo, hi)` of the layer — the scan mode for servers
  * whose `/query` lacks `resultOffset` support (reference [lib] esri-dump
  * falls back to OID-range windows the same way), and the better deep-scan
  * strategy in general: every range is an independent, stateless request
  * (a deep `resultOffset` makes the server re-sort the whole layer per page),
  * so 1000 executors can each own a slice with no server-side coupling.
  * Ranges that return a full page can't prove completeness and are halved
  * recursively inside the reader (the esri-dump ITER approach).
  */
case class ArcGisOidRangePartition(
    lo: Long,
    hi: Long,
    oidField: String,
    where: String,
    page: Int,
    envelope: Option[Envelope] = None
) extends OidWindow

/** One remote `outStatistics` call: the whole (pushed-down) aggregation is a
  * single group-count-sized result set, so one partition fetches it.
  */
case class ArcGisStatsPartition(
    where: String,
    groupBy: Seq[String],
    stats: Seq[StatSpec]
) extends InputPartition

/** One change-tracking tombstone window `(loTs, hiTs]`: fetches the layer's
  * `deletedFeatures` journal (ChangeTracking `extractChanges`) and emits one
  * tombstone row per deleted OID — `_deleted = true`, every other attribute
  * null. The journal for a window is a list of OIDs (no payload), so one
  * partition per batch suffices at any scale.
  */
case class ArcGisDeletesPartition(
    loTs: Long,
    hiTs: Long,
    oidField: String
) extends InputPartition

/** One OBJECTID interval `[lo, hi)` of an `attachments=true` scan: the
  * reader lists the range's feature OIDs (same stateless saturation-halving
  * protocol as [[ArcGisOidRangePartition]]), then fans out the per-OID
  * attachment listing/downloads inside the task — so a 1000-executor
  * cluster spreads the HTTP fan-out exactly like the feature scan does.
  */
case class ArcGisAttachmentsPartition(
    lo: Long,
    hi: Long,
    oidField: String,
    where: String,
    page: Int,
    /** Layer advertises `supportsQueryAttachments`: list each OID window
      * with ONE bulk `queryAttachments` call instead of one per feature —
      * resolved at PLAN time (the scan already holds layerInfo) so readers
      * pay no extra metadata round-trip.
      */
    bulkListing: Boolean = false
) extends OidWindow

/** The OBJECTID-range protocol shared by the `oidRange` feature scan, the
  * attachments scan and the incremental stream: the Spark driver splits an OID
  * interval into windows, each task drains its window with stateless range
  * requests. No `resultOffset` is ever sent.
  */
private[arcgis] object OidRanges {

  /** `[lo, hi)` split into `ceil(rows / page)` contiguous windows of equal
    * width (empty windows dropped).
    */
  def split(lo: Long, hi: Long, rows: Long, page: Int): Seq[(Long, Long)] = {
    val n = ((rows + page - 1) / page).toInt.max(1)
    val width = math.max(1L, (hi - lo + n - 1) / n)
    (0 until n).iterator.map(lo + _ * width).takeWhile(_ < hi)
      .map(a => (a, math.min(hi, a + width))).toSeq
  }

  /** Windows over the whole layer: full-layer OID bounds from one
    * `outStatistics` round-trip, split so each window holds about `page`
    * features. The scan's `where` may cover fewer OIDs — an empty window
    * costs one cheap remote probe, never a wrong row. Unusable bounds on a
    * non-empty layer fail loudly: planning zero windows would read as an
    * empty table.
    */
  def layerRanges(
      client: ArcGisClient, oid: String, totalCount: Long, page: Int, what: String
  ): Seq[(Long, Long)] = {
    val bounds = client
      .queryStatistics("1=1", Nil, Seq(StatSpec("min", oid, "__lo"), StatSpec("max", oid, "__hi")))
      .headOption
      .flatMap(m => (m.get("__lo"), m.get("__hi")) match {
        case (Some(lo: Number), Some(hi: Number)) => Some((lo.longValue(), hi.longValue() + 1))
        case _ => None
      })
    bounds match {
      case Some((lo, hi)) => split(lo, hi, totalCount, page)
      case None if totalCount > 0 =>
        throw new IllegalStateException(
          s"$what scan could not derive OBJECTID bounds from the layer's " +
            s"outStatistics probe (layer reports $totalCount features) — the " +
            s"server must support min/max statistics on the OID field for $what")
      case None => Nil
    }
  }

  /** Executor-side drain of one window: each request carries no pagination
    * parameters (count = -1 — they are unsupported on the servers this mode
    * exists for), so the server caps the reply at its maxRecordCount. A
    * reply of `w.page` rows or more cannot prove its range exhausted: it is
    * discarded and both halves are requested instead. Yields the non-empty
    * replies in OID order.
    */
  def drain(w: OidWindow)(fetch: String => Seq[EsriFeature]): Iterator[Seq[EsriFeature]] =
    Iterator.unfold(List((w.lo, w.hi))) {
      case Nil => None
      case (lo, hi) :: rest =>
        val rows = fetch(ArcGisFilterCompiler.andWhere(
          w.where, s"${w.oidField} >= $lo AND ${w.oidField} < $hi"))
        if (rows.size >= w.page && hi - lo > 1) {
          val mid = lo + (hi - lo) / 2
          Some((Nil, (lo, mid) :: (mid, hi) :: rest))
        } else Some((rows, rest))
    }.filter(_.nonEmpty)
}

/** Attachments scan: OID-range partitioning over the layer (attachment
  * access is keyed per feature OID, so the feature scan's range planning
  * transfers directly). The user `where` option still selects WHICH
  * features contribute attachments (evaluated by the server in the OID
  * listing); predicates over the attachment columns themselves are
  * engine-side residuals.
  */
class ArcGisAttachmentsScan(
    schema: StructType,
    options: CaseInsensitiveStringMap,
    where: String,
    info: => LayerInfo
) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** The table advertises MICRO_BATCH_READ for the feature scan; fail the
    * attachments variant with guidance instead of the default opaque error.
    */
  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      "attachments=true is a batch-only scan; stream the feature layer " +
        "(deletes/incremental options) and join attachments per batch instead")

  override def planInputPartitions(): Array[InputPartition] = {
    val oid = info.requireOid("attachments scan")
    val page = Option(options.get("pageSize")).map(_.toInt)
      .getOrElse(info.maxRecordCount.max(1))
    OidRanges
      .layerRanges(ArcGisClientRegistry.get(options.get("client")), oid, info.totalCount,
        page, "attachments=true")
      .map { case (lo, hi) =>
        ArcGisAttachmentsPartition(lo, hi, oid, where, info.maxRecordCount.max(1),
          info.supportsQueryAttachments)
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArcGisReaderFactory(schema, options.asCaseSensitiveMap().asScala.toMap)

  override def description(): String =
    s"ArcGisAttachmentsScan(where=$where, cols=${schema.fieldNames.mkString(",")})"
}

class ArcGisScan(
    schema: StructType,
    options: CaseInsensitiveStringMap,
    where: String,
    info: => LayerInfo,
    limit: Option[Int] = None,
    aggregation: Option[ArcGisAggCompiler.PushedAgg] = None,
    envelope: Option[Envelope] = None
) extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Streaming read: incremental OBJECTID tailing (see
    * [[ArcGisMicroBatchStream]]); the compiled `where` — user option plus
    * pushed filters — applies server-side to every micro-batch.
    */
  override def toMicroBatchStream(
      checkpointLocation: String
  ): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ArcGisMicroBatchStream(
      schema, options.asCaseSensitiveMap().asScala.toMap, where)

  /** Layer statistics for the planner: row count from the scan's layer
    * metadata (the same fetch partition planning uses) and a field-width
    * size estimate — enough for Catalyst to pick a broadcast join for
    * small layers WITHOUT a user hint, and to fall back to shuffle joins
    * when the layer outgrows the threshold (the 100 TB failure mode a
    * hard-coded hint would hit).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val total: Long =
      try info.totalCount
      catch { case _: Throwable => -1L }
    private def rowWidth: Long = schema.fields.map { f =>
      f.dataType match {
        case LongType | DoubleType => 8L
        case IntegerType | FloatType => 4L
        case _ => 24L // strings/dates: conservative average
      }
    }.sum.max(8L)
    override def sizeInBytes(): java.util.OptionalLong =
      if (total < 0) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(total * rowWidth)
    override def numRows(): java.util.OptionalLong =
      if (total < 0) java.util.OptionalLong.empty() else java.util.OptionalLong.of(total)
  }
  override def description(): String =
    s"ArcGisScan(where=$where, outFields=${schema.fieldNames.mkString(",")}" +
      limit.map(l => s", pushedLimit=$l").getOrElse("") +
      aggregation.map(a =>
        s", pushedAggregates=[${a.stats.map(s => s"${s.statisticType}(${s.onField})").mkString(",")}]" +
          (if (a.groupBy.nonEmpty) s", pushedGroupBy=[${a.groupBy.mkString(",")}]" else "")
      ).getOrElse("") + ")"

  /** Runtime (DPP-style) filters: join-key values discovered at execution
    * time — e.g. the broadcast side of a selective dim join — compile into
    * the remote `where` like any static predicate, so the ArcGIS server
    * never serves rows the join would drop. Synthetic columns are excluded.
    * The join still applies the filter engine-side, so an inexpressible
    * runtime predicate costs nothing in correctness.
    */
  private var runtimeWhere: Option[String] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.fieldNames
      .filterNot(ArcGisSchema.isSynthetic)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val compiled = filters.flatMap(ArcGisFilterCompiler.compile)
    if (compiled.nonEmpty)
      runtimeWhere = Some(compiled.mkString("(", ") AND (", ")"))
  }

  private def effectiveWhere: String =
    runtimeWhere.map(ArcGisFilterCompiler.andWhere(where, _)).getOrElse(where)

  override def planInputPartitions(): Array[InputPartition] = {
    val strategy = Option(options.get("strategy")).getOrElse("query")
    if (aggregation.isDefined) {
      val pa = aggregation.get
      Array(ArcGisStatsPartition(effectiveWhere, pa.groupBy, pa.stats))
    } else if (strategy.equalsIgnoreCase("queryTopFeatures")) {
      // S2: the topFeatures endpoint is one remote group-top-k call.
      Array(ArcGisInputPartition(-1, -1, effectiveWhere))
    } else {
      val page = Option(options.get("pageSize")).map(_.toInt)
        .getOrElse(info.maxRecordCount.max(1))
      // OID-range mode: explicit opt-in, or forced when the server's /query
      // lacks resultOffset. A pushed LIMIT prefers offset mode (the limit
      // budget maps to offset pages) — but ONLY when the server actually
      // paginates: a non-paginating server either rejects resultOffset
      // (400) or ignores it (duplicate rows across partitions), so with
      // !supportsPagination a limit NEVER falls back to offset mode.
      // Instead: a limit that fits one server page becomes a single
      // unpaginated request (LIMIT takes ANY n rows, and the engine-side
      // limit — kept, isPartiallyPushed — trims the cap); a larger limit
      // scans OID ranges and lets the engine trim.
      val oidRange = strategy.equalsIgnoreCase("oidRange") || !info.supportsPagination
      def oidRangePartitions(): Array[InputPartition] = {
        val oid = info.requireOid("oidRange scan")
        // saturation threshold = the SERVER's cap, not the pageSize
        // option: OID-range requests send no resultRecordCount (count
        // = -1), so the server always caps at ITS maxRecordCount; a
        // larger user pageSize would make a capped (= truncated)
        // response look unsaturated and silently drop the rest of the
        // range. pageSize still sizes the ranges themselves.
        val saturation = info.maxRecordCount.max(1)
        OidRanges
          .layerRanges(ArcGisClientRegistry.get(options.get("client")), oid, info.totalCount,
            page, "strategy=oidRange")
          .map { case (lo, hi) =>
            ArcGisOidRangePartition(lo, hi, oid, effectiveWhere, saturation, envelope)
          }
          .toArray
      }
      if (limit.isEmpty && oidRange) {
        oidRangePartitions()
      } else if (limit.isDefined && !info.supportsPagination) {
        if (limit.get <= info.maxRecordCount)
          Array(ArcGisInputPartition(0L, -1, effectiveWhere, envelope))
        else oidRangePartitions()
      } else {
        // pushed LIMIT caps the total row budget: pages past it are never
        // requested, and the last page shrinks to the remainder (rows are
        // served in stable OBJECTID order, so these ARE the first rows)
        val budget = limit.map(l => math.min(l.toLong, info.totalCount)).getOrElse(info.totalCount)
        val n = ((budget + page - 1) / page).toInt.max(1)
        (0 until n).map { i =>
          val off = i.toLong * page
          ArcGisInputPartition(
            off, math.min(page.toLong, budget - off).toInt.max(0), effectiveWhere, envelope)
        }.toArray
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArcGisReaderFactory(schema, options.asCaseSensitiveMap().asScala.toMap)
}

class ArcGisReaderFactory(
    schema: StructType,
    options: Map[String, String]
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case p: ArcGisStatsPartition => new ArcGisStatsReader(schema, options, p)
    case p: ArcGisOidRangePartition => new ArcGisOidRangeReader(schema, options, p)
    case p: ArcGisDeletesPartition => new ArcGisDeletesReader(schema, options, p)
    case p: ArcGisAttachmentsPartition => new ArcGisAttachmentsReader(schema, options, p)
    case p: ArcGisInputPartition => new ArcGisPartitionReader(schema, options, p)
  }
}

/** A partition reader over a lazily fetched iterator: the HTTP round-trips
  * start at the first `next()`, inside the task — the cluster's fan-out
  * point.
  */
abstract class ArcGisIteratorReader[T] extends PartitionReader[InternalRow] {
  protected def fetch(): Iterator[T]
  protected def row(t: T): InternalRow

  private lazy val items = fetch()
  private var current: T = _

  override def next(): Boolean =
    if (items.hasNext) { current = items.next(); true } else false
  override def get(): InternalRow = row(current)
  override def close(): Unit = ()
}

/** Executor-side tombstone materialization: one row per `(oid, deletedTs)`
  * entry of the window's delete journal — the OID column and `_deleted=true`
  * set, everything else null (a deleted feature has no attributes left to
  * serve). Honors column pruning: only fields present in the (possibly
  * pruned) schema are populated.
  */
class ArcGisDeletesReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisDeletesPartition
) extends ArcGisIteratorReader[(Long, Long)] {

  override protected def fetch(): Iterator[(Long, Long)] =
    ArcGisClientRegistry.get(options("client"))
      .queryDeletedFeatures(partition.loTs, partition.hiTs).iterator

  override protected def row(deleted: (Long, Long)): InternalRow = {
    val values = schema.fields.map { fld =>
      fld.name match {
        case "_deleted" => Boolean.box(true)
        case n if n == partition.oidField =>
          ArcGisValues.coerce(fld.dataType, Long.box(deleted._1))
        case _ => null
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }
}

/** Shared attribute-value → Catalyst coercion for rows materialized from the
  * REST surface (feature attributes and statistics results alike).
  */
private[arcgis] object ArcGisValues {
  /** Materialize one REST feature as an InternalRow of `schema` (shared by
    * the offset-page and OID-range readers).
    */
  def toRow(schema: StructType, f: EsriFeature): InternalRow = {
    val values = schema.fields.map { fld =>
      fld.name match {
        case "geom_x" => f.geometry.map(_._1).map(Double.box).orNull
        case "geom_y" => f.geometry.map(_._2).map(Double.box).orNull
        case "_deleted" => Boolean.box(false) // live rows; tombstones use their own reader
        case n =>
          f.attributes.get(n).map(v => coerce(fld.dataType, v)).orNull
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  def coerce(dataType: DataType, v: Any): Any = (dataType, v) match {
    case (_, null) => null
    case (StringType, s) => UTF8String.fromString(s.toString)
    case (LongType, n: Number) => Long.box(n.longValue())
    case (IntegerType, n: Number) => Int.box(n.intValue())
    case (DoubleType, n: Number) => Double.box(n.doubleValue())
    case (FloatType, n: Number) => Float.box(n.floatValue())
    case (BooleanType, b: Boolean) => Boolean.box(b)
    case _ => null
  }
}

/** Executor-side fetch of the single pushed-aggregation result set. */
class ArcGisStatsReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisStatsPartition
) extends ArcGisIteratorReader[Map[String, Any]] {

  override protected def fetch(): Iterator[Map[String, Any]] =
    ArcGisClientRegistry.get(options("client"))
      .queryStatistics(partition.where, partition.groupBy, partition.stats)
      .iterator

  override protected def row(stats: Map[String, Any]): InternalRow = {
    val values = schema.fields.map(f =>
      ArcGisValues.coerce(f.dataType, stats.getOrElse(f.name, null)))
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }
}

/** Executor-side page fetch + row materialization: one offset window, or
  * (offset < 0) the single `queryTopFeatures` call.
  */
class ArcGisPartitionReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisInputPartition
) extends ArcGisIteratorReader[EsriFeature] {

  override protected def fetch(): Iterator[EsriFeature] = {
    val client = ArcGisClientRegistry.get(options("client"))
    val outFields = ArcGisSchema.outFields(schema)
    val page =
      if (partition.offset < 0)
        client.queryTopFeatures(
          options.getOrElse("topCount", "1").toInt,
          options("groupByField"),
          options("orderByField"),
          partition.where,
          outFields,
          options.get("outSR")
        )
      else client.queryPage(partition.offset, partition.count, partition.where, outFields,
        partition.envelope, options.get("outSR"))
    page.iterator
  }

  override protected def row(f: EsriFeature): InternalRow = ArcGisValues.toRow(schema, f)
}

/** Executor-side OID-range scan: drains `[lo, hi)` with stateless range
  * requests ([[OidRanges.drain]]). This is the scan mode for servers without
  * pagination support and the deep-scan-friendly mode everywhere else.
  */
class ArcGisOidRangeReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisOidRangePartition
) extends ArcGisIteratorReader[EsriFeature] {

  override protected def fetch(): Iterator[EsriFeature] = {
    val client = ArcGisClientRegistry.get(options("client"))
    val outFields = ArcGisSchema.outFields(schema)
    OidRanges.drain(partition)(where =>
      client.queryPage(0L, -1, where, outFields, partition.envelope, options.get("outSR"))
    ).flatten
  }

  override protected def row(f: EsriFeature): InternalRow = ArcGisValues.toRow(schema, f)
}

/** Executor-side attachments fetch: lists the partition's OID range (same
  * saturation-halving drain as [[ArcGisOidRangeReader]], projecting only
  * the OID field), then streams each feature's `attachmentInfos` — and,
  * ONLY when the pruned schema still contains `data`, the payload download.
  * A metadata-only projection therefore never moves attachment bytes over
  * the wire: the m-family manifest/accounting queries stay listing-priced.
  */
class ArcGisAttachmentsReader(
    schema: StructType,
    options: Map[String, String],
    partition: ArcGisAttachmentsPartition
) extends ArcGisIteratorReader[(Long, AttachmentInfo)] {

  private lazy val client = ArcGisClientRegistry.get(options("client"))
  private val wantData = schema.fieldNames.contains("data")

  override protected def fetch(): Iterator[(Long, AttachmentInfo)] =
    OidRanges.drain(partition)(where =>
      client.queryPage(0L, -1, where, Seq(partition.oidField))
    ).flatMap { features =>
      val oids = features.flatMap(
        _.attributes.get(partition.oidField).collect { case n: Number => n.longValue() })
      // layer advertises supportsQueryAttachments: ONE bulk listing per
      // drained window instead of one round-trip per feature — at a
      // million-feature layer the per-OID listing dominates even
      // metadata-only plans
      if (partition.bulkListing) client.queryAttachments(oids)
      else oids.iterator.flatMap(oid => client.attachmentInfos(oid).map(oid -> _))
    }

  override protected def row(att: (Long, AttachmentInfo)): InternalRow = {
    val (oid, info) = att
    val values: Array[Any] = schema.fields.map { fld =>
      fld.name match {
        case "objectid" => Long.box(oid)
        case "attachment_id" => Long.box(info.id)
        case "name" => UTF8String.fromString(info.name)
        case "content_type" => UTF8String.fromString(info.contentType)
        case "size" => Long.box(info.size)
        case "data" if wantData => client.attachment(oid, info.id)
        case _ => null
      }
    }
    new GenericInternalRow(values)
  }
}
