package graft.sources.arcgis

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Incremental streaming read of an ArcGIS layer:
  * `spark.readStream.format("arcgis")` tails the layer by OBJECTID.
  *
  * The reference re-pulls the whole layer on every scheduled Lambda
  * invocation (`InvocationType.Schedule`, `/root/reference/task.ts:51`) and
  * relies on the downstream upsert to discard what it already saw. The
  * Spark-native form is a micro-batch source whose OFFSET is the highest
  * OBJECTID delivered so far: each trigger asks the layer for its current
  * `max(oid)` (one cheap `outStatistics` probe), and the batch covers
  * `(lastOid, newMax]` as OID-range partitions — the same stateless range
  * requests (and the same halving reader) as the batch `oidRange` scan, so
  * a large catch-up batch fans out across executors instead of one
  * sequential dump.
  *
  * Contract: two incremental modes, selected by the `incremental` option.
  *
  *  - `oid` (default): APPEND tailing. New features (higher OIDs) are
  *    delivered exactly once per query (offsets checkpoint with the
  *    stream); in-place UPDATES to already-delivered OIDs are not
  *    re-delivered — change-tracking layers expose edits as new rows,
  *    which this source picks up naturally.
  *  - `editDate`: CHANGE tailing on the layer's edit-tracking timestamp
  *    (`editDateField` option — the server's `editFieldsInfo.editDateField`,
  *    epoch millis, non-null because ArcGIS stamps it on create AND edit).
  *    The offset is the highest edit timestamp delivered; each batch covers
  *    `editField ∈ (lastTs, serverMaxTs]`, so an in-place edit bumps the
  *    row back into the next window and IS re-delivered. This replicates
  *    what the reference's scheduled full re-pull re-observes
  *    (`/root/reference/task.ts:51` — every invocation re-reads the layer
  *    and lets the downstream upsert reconcile) while transferring only the
  *    changed rows; pair it with the upsert sink/merge (f5/J1) for the same
  *    end state. Each window still fans out as OID-range partitions (the
  *    min/max OID WITHIN the window is probed per batch), so a large
  *    catch-up window parallelizes like a backfill.
  *
  * editDate refinements:
  *
  *  - `editLagMs` (default 0): watermark lag. The window upper bound is
  *    `serverMaxEditTs − editLagMs`, so an edit whose timestamp equals the
  *    probed max but COMMITS after the partition reads ran is still inside
  *    a future window instead of being lost behind a strictly-greater lower
  *    bound. Real deployments should set this to their server's commit
  *    visibility lag (a few seconds); 0 keeps single-writer tests exact.
  *  - `editDateLiteral` = `epoch` (default) | `timestamp`: how the window
  *    bounds render into the server-side `where`. `epoch` emits raw epoch
  *    millis (layers exposing the edit field as a numeric column);
  *    `timestamp` emits SQL-92 `TIMESTAMP 'yyyy-MM-dd HH:mm:ss.SSS'` (UTC),
  *    which is what feature services require when the field is an
  *    `esriFieldTypeDate`.
  *  - `deletes=true`: change-tracking tombstones. Each batch additionally
  *    probes the layer's delete journal (the `deletedFeatures` array of
  *    ChangeTracking `extractChanges`, [[ArcGisClient.queryDeletedFeatures]])
  *    over the same window and delivers one tombstone row per deleted
  *    feature: OID column set, every other attribute null, and the
  *    synthetic `_deleted` boolean true (regular rows carry false). This
  *    closes the one semantic the reference's full re-pull gets for free —
  *    rows deleted upstream vanish from its next snapshot, while a pure
  *    tail would retain ghosts in a downstream upsert sink forever. The
  *    scan schema gains the `_deleted` column when the option is set;
  *    tombstones bypass the server-side `where` (a deleted row has no
  *    attributes left to filter on). Tombstones deleted before the stream's
  *    initial watermark are not delivered — a delete for a row the stream
  *    never observed is a no-op downstream.
  *
  * The `where` option applies to every batch (server-side, as in batch
  * scans). Checkpoint offsets are MODE-TAGGED: the stored watermark is an
  * OID in one mode and a timestamp in the other, so [[deserializeOffset]]
  * fails fast when a checkpoint's mode disagrees with the configured one
  * (an OID read as epoch-millis would re-deliver the whole layer; a
  * timestamp read as an OID would silently skip everything).
  */
class ArcGisMicroBatchStream(
    schema: StructType,
    options: Map[String, String],
    where: String // the scan's effective where: user option + pushed filters
) extends MicroBatchStream with SupportsTriggerAvailableNow {

  private lazy val client = ArcGisClientRegistry.get(options("client"))
  private lazy val info = client.layerInfo()
  private lazy val oidField = info.requireOid("arcgis streaming")

  private lazy val editMode = options.get("incremental").exists(_.equalsIgnoreCase("editDate"))
  private lazy val editField = options.getOrElse("editDateField",
    throw new IllegalArgumentException(
      "incremental=editDate requires the editDateField option " +
        "(the layer's editFieldsInfo.editDateField, epoch-millis)"))
  private lazy val editLagMs = options.get("editLagMs").map(_.toLong).getOrElse(0L)
  private lazy val tsLiterals =
    options.get("editDateLiteral").exists(_.equalsIgnoreCase("timestamp"))
  private lazy val deletesMode = options.get("deletes").exists(_.toBoolean)
  require(!deletesMode || editMode,
    "deletes=true requires incremental=editDate (tombstone windows are timestamp spans)")

  /** The column the stream offset tracks: OID in append mode, the edit
    * timestamp in editDate mode.
    */
  private lazy val watermarkField = if (editMode) editField else oidField

  private lazy val modeName = if (editMode) "editDate" else "oid"

  private def statLong(spec: String, field: String, outName: String,
      w: String = where): Option[Long] =
    client.queryStatistics(w, Nil, Seq(StatSpec(spec, field, outName)))
      .headOption.flatMap(_.get(outName)).collect { case n: Number => n.longValue() }

  /** An epoch-millis watermark as a server-side literal: raw numeric by
    * default, SQL-92 `TIMESTAMP '...'` (UTC, millisecond precision) under
    * `editDateLiteral=timestamp` — real feature services reject raw
    * numerics against `esriFieldTypeDate` columns.
    */
  private def tsLit(ms: Long): String =
    if (!tsLiterals) ms.toString
    else "TIMESTAMP '" + java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms)) + "'"

  /** Start BEFORE the smallest matching watermark (full backfill in batch
    * 1); `startOid` / `startEditDate` options override (resume-style tailing
    * from a known watermark without a checkpoint).
    */
  override def initialOffset(): Offset = ArcGisOffset(
    options.get(if (editMode) "startEditDate" else "startOid").map(_.toLong)
      .orElse(statLong("min", watermarkField, "__lo").map(_ - 1))
      .getOrElse(Long.MinValue), modeName)

  // AvailableNow: pin the target at prepare time so the wrapped trigger
  // drains to a FIXED point and terminates even while writers keep adding
  @volatile private var availableNowTarget: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(liveLatest())

  /** Current server-side high watermark. In editDate mode this is
    * `max(live edit timestamp, latest delete timestamp) − editLagMs`: a
    * window in which ONLY deletions happened must still advance the offset,
    * or the tombstones would wait for the next unrelated edit forever.
    */
  private def liveLatest(): Offset = {
    val liveMax = statLong("max", watermarkField, "__hi")
    val delMax =
      if (deletesMode)
        client.queryDeletedFeatures(Long.MinValue, Long.MaxValue)
          .map(_._2).maxOption
      else None
    val raw = (liveMax.toSeq ++ delMax.toSeq).maxOption
    ArcGisOffset(
      raw.map(m => if (editMode) m - editLagMs else m).getOrElse(Long.MinValue),
      modeName)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Admission control: `maxOffsetsPerTrigger`-style limits cap the OID
    * span of a batch (an upper bound on rows — OIDs may be sparse, so a
    * capped batch delivers AT MOST that many rows and the remainder arrives
    * in subsequent triggers). Row limits do NOT apply in editDate mode: the
    * watermark is a timestamp, and a millisecond span bounds no row count
    * (capping it would just shred an old backfill into thousands of
    * near-empty windows) — the whole pending window ships each trigger.
    * The returned offset never regresses below `start` (the watermark lag
    * can push the probed max behind an already-committed offset; clamping
    * yields an empty batch, never a negative window).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(liveLatest()).asInstanceOf[ArcGisOffset]
    val lo = start.asInstanceOf[ArcGisOffset].maxOid
    limit match {
      case m: ReadMaxRows if !editMode =>
        ArcGisOffset(math.min(target.maxOid, lo + m.maxRows()).max(lo), modeName)
      case _ => ArcGisOffset(target.maxOid.max(lo), modeName)
    }
  }

  /** `[lo, hi)` OID-range partitions under `w` — the batch oidRange
    * planner's discipline: pageSize sizes the ranges, the SERVER cap is the
    * saturation threshold.
    */
  private def oidRangeParts(lo: Long, hi: Long, w: String): Array[InputPartition] = {
    val page = options.get("pageSize").map(_.toInt).getOrElse(info.maxRecordCount.max(1))
    OidRanges.split(lo, hi, hi - lo, page)
      .map { case (a, b) => ArcGisOidRangePartition(a, b, oidField, w, info.maxRecordCount.max(1)) }
      .toArray
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ArcGisOffset].maxOid
    val hi = end.asInstanceOf[ArcGisOffset].maxOid // inclusive
    if (hi <= lo) Array.empty
    else if (!editMode) oidRangeParts(lo + 1, hi + 1, where)
    else {
      // editDate window: filter server-side on the edit span, then fan the
      // WINDOW out over the OID range it actually touches (one stat probe
      // per batch — count + min + max in a single round trip) — a big
      // catch-up window parallelizes like a backfill instead of funneling
      // through one request chain
      val w2 = ArcGisFilterCompiler.andWhere(where,
        s"$editField > ${tsLit(lo)} AND $editField <= ${tsLit(hi)}")
      val probe = client.queryStatistics(w2, Nil, Seq(
        StatSpec("count", oidField, "__n"),
        StatSpec("min", oidField, "__lo"),
        StatSpec("max", oidField, "__hi"))).headOption
      def asLong(v: Option[Any]): Option[Long] =
        v.collect { case n: Number => n.longValue() }
      val n = probe.flatMap(m => asLong(m.get("__n"))).getOrElse(0L)
      val liveParts = (probe.flatMap(m => asLong(m.get("__lo"))),
        probe.flatMap(m => asLong(m.get("__hi")))) match {
        case (Some(a), Some(b)) => oidRangeParts(a, b + 1, w2)
        case _ if n > 0 =>
          // the count proves rows exist in the window but the OID bounds
          // probe yielded nothing — planning an empty batch would commit
          // the offset past data the stream then silently skips forever
          throw new IllegalStateException(
            s"arcgis editDate probe inconsistency: window ($lo, $hi] counts " +
              s"$n edited rows but the OID-bounds probe returned none — " +
              "refusing to commit an offset past undelivered data")
        case _ => Array.empty[InputPartition] // genuinely nothing edited
      }
      val delParts: Array[InputPartition] =
        if (deletesMode) Array(ArcGisDeletesPartition(lo, hi, oidField))
        else Array.empty
      liveParts ++ delParts
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArcGisReaderFactory(schema, options)

  override def deserializeOffset(json: String): Offset = {
    val off = ArcGisOffset.fromJson(json)
    require(off.mode == modeName,
      s"arcgis checkpoint offset is ${off.mode}-mode but the stream is " +
        s"configured incremental=$modeName — resuming a checkpoint under " +
        "the other mode would misread the watermark (an OID read as " +
        "epoch-millis re-delivers the whole layer; a timestamp read as an " +
        "OID silently skips all data). Use a fresh checkpoint location.")
    off
  }

  override def commit(end: Offset): Unit = () // offsets live in the stream checkpoint

  override def stop(): Unit = ()
}

/** Highest watermark delivered so far: an OBJECTID in the default append
  * mode (`mode = "oid"`), an epoch-millis edit timestamp under
  * `incremental=editDate` (`mode = "editDate"`). The JSON carries the mode
  * so a checkpoint resumed under the WRONG mode fails fast instead of
  * silently misreading the watermark; the legacy `{"maxOid":N}` form (written
  * before offsets were mode-tagged) reads back as oid-mode.
  */
case class ArcGisOffset(maxOid: Long, mode: String = "oid") extends Offset {
  override def json(): String =
    if (mode == "oid") s"""{"maxOid":$maxOid}"""
    else s"""{"mode":"$mode","wm":$maxOid}"""
}

object ArcGisOffset {
  private val Legacy = """\{"maxOid":(-?\d+)\}""".r
  private val Tagged = """\{"mode":"(\w+)","wm":(-?\d+)\}""".r
  def fromJson(json: String): ArcGisOffset = json.trim match {
    case Legacy(v) => ArcGisOffset(v.toLong)
    case Tagged(m, v) => ArcGisOffset(v.toLong, m)
    case other => throw new IllegalArgumentException(s"malformed arcgis offset: $other")
  }
}
