package graft.sources.arcgis

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Static configuration-schema surface — the engine analog of the
  * reference's declarative `schema(type, flow)` 4-way matrix
  * (`/root/reference/task.ts:53-90`):
  *
  *   - (Incoming, Input)  → the static `IncomingInput` option schema
  *     (`task.ts:13-27`): layer URL, optional query + params, the
  *     `ARCGIS_QUERY_STRATEGY` enum with its default, portal credentials.
  *   - (Incoming, Output) → the REMOTE layer schema (S5), inferred from
  *     `fields[]` metadata; EMPTY when no client/layer is configured
  *     (`task.ts:64,69` — the v7.2.0/v5.7.0 empty-schema behavior).
  *   - (Outgoing, Input)  → the static `OutgoingInput` option schema
  *     (`task.ts:29-40`): portal + credentials required, per-geometry
  *     layer URLs optional, `PRESERVE_HISTORY` boolean defaulting false.
  *   - (Outgoing, Output) → empty (`task.ts:87-88`).
  *
  * Field-level `enum` / `default` facts ride in Catalyst column METADATA,
  * the engine's native slot for declarative constraints, so callers can
  * render or validate forms exactly as the reference's TypeBox consumers
  * do. [[validateOptions]] enforces the same enum at PLAN time: a typo'd
  * strategy fails when the scan is built, not after a partition fans out.
  */
object ArcGisConfigSchema {

  sealed trait Flow
  case object Incoming extends Flow
  case object Outgoing extends Flow

  sealed trait Direction
  case object Input extends Direction
  case object Output extends Direction

  /** Legal `strategy` values: the reference's enum (`task.ts:16-19`,
    * 'Query' | 'QueryTopFeatures') plus the engine's oidRange extension
    * (deep scans / non-paginating servers). Matched case-insensitively,
    * as ArcGIS option strings are.
    */
  val Strategies: Seq[String] = Seq("query", "queryTopFeatures", "oidRange")
  val DefaultStrategy = "query"

  private def meta(pairs: (String, String)*): Metadata =
    pairs.foldLeft(new MetadataBuilder()) { case (b, (k, v)) => b.putString(k, v) }.build()

  /** `IncomingInput` (`task.ts:13-27`). Required fields are non-nullable. */
  val IncomingInput: StructType = StructType(Seq(
    StructField("ARCGIS_URL", StringType, nullable = false),
    StructField("ARCGIS_QUERY", StringType, nullable = true),
    StructField("ARCGIS_QUERY_STRATEGY", StringType, nullable = true,
      meta("enum" -> Strategies.mkString(","), "default" -> DefaultStrategy)),
    StructField("ARCGIS_PARAMS", ArrayType(StructType(Seq(
      StructField("Key", StringType, nullable = false),
      StructField("Value", StringType, nullable = false)))), nullable = true),
    StructField("ARCGIS_PORTAL", StringType, nullable = true),
    StructField("ARCGIS_USERNAME", StringType, nullable = true),
    StructField("ARCGIS_PASSWORD", StringType, nullable = true)))

  /** `OutgoingInput` (`task.ts:29-40`). */
  val OutgoingInput: StructType = StructType(Seq(
    StructField("ARCGIS_PORTAL", StringType, nullable = false),
    StructField("ARCGIS_USERNAME", StringType, nullable = false),
    StructField("ARCGIS_PASSWORD", StringType, nullable = false),
    StructField("ARCGIS_POINTS_URL", StringType, nullable = true),
    StructField("ARCGIS_LINES_URL", StringType, nullable = true),
    StructField("ARCGIS_POLYS_URL", StringType, nullable = true),
    StructField("PRESERVE_HISTORY", BooleanType, nullable = true,
      meta("default" -> "false",
        "description" -> "If true, will not update existing features, but create new ones instead."))))

  /** The 4-way matrix. `clientKey` feeds (Incoming, Output) remote
    * inference; None (unconfigured) yields the empty schema.
    */
  def schema(flow: Flow, direction: Direction, clientKey: Option[String] = None): StructType =
    (flow, direction) match {
      case (Incoming, Input) => IncomingInput
      case (Incoming, Output) =>
        clientKey.fold(new StructType())(ArcGisSchema.layerSchema)
      case (Outgoing, Input) => OutgoingInput
      case (Outgoing, Output) => new StructType()
    }

  /** Plan-time option validation: the reference's TypeBox enum check,
    * enforced where the engine builds the scan. Unknown strategies,
    * malformed numeric options and a queryTopFeatures scan without its
    * group/order fields fail HERE — before any partition is planned or any
    * remote call issued.
    */
  def validateOptions(options: CaseInsensitiveStringMap): Unit = {
    val strategy = Option(options.get("strategy")).getOrElse(DefaultStrategy)
    require(Strategies.exists(_.equalsIgnoreCase(strategy)),
      s"invalid strategy '$strategy' — expected one of ${Strategies.mkString(", ")}")
    def positiveInt(name: String): Unit = Option(options.get(name)).foreach { p =>
      val n = try p.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$name must be an integer, got '$p'")
      }
      require(n > 0, s"$name must be positive, got $n")
    }
    positiveInt("pageSize")
    // the topFeatures call reads these inside the task: a missing field
    // would fail there as a bare "key not found"
    if (strategy.equalsIgnoreCase("queryTopFeatures")) {
      Seq("groupByField", "orderByField").foreach { k =>
        require(Option(options.get(k)).exists(_.trim.nonEmpty),
          s"strategy=queryTopFeatures requires the $k option")
      }
      positiveInt("topCount")
    }
    // same plan-time discipline for the attachments toggle: a typo'd value
    // ("ture") fails HERE with a descriptive message, not as a raw
    // IllegalArgumentException from String.toBoolean inside inferSchema
    Option(options.get("attachments")).foreach { a =>
      require(a.equalsIgnoreCase("true") || a.equalsIgnoreCase("false"),
        s"attachments must be 'true' or 'false', got '$a'")
    }
  }
}
