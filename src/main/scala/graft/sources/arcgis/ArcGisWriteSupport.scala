package graft.sources.arcgis

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DSv2 batch write path (SURVEY.md §2.1 S8/S9): the idiomatic surface for
  * the reference's `addFeatures`/`updateFeatures` POSTs
  * (`/root/reference/task.ts:236-349`):
  *
  * {{{
  * df.write.format("arcgis")
  *   .option("client", "<registry key>")
  *   .option("upsertKey", "cotuid")   // optional: upsert instead of append
  *   .mode("append")
  *   .save()
  * }}}
  *
  * A failed feature is counted and never fails the job (per-feature error
  * isolation, reference T8 `task.ts:351-358`):
  *
  *   - '''append''' — batched `addFeatures`, 500 features per POST.
  *   - '''upsert''' (`upsertKey` set) — each batch issues ONE `key IN (...)`
  *     existence query (batch size capped at the server's maxRecordCount so
  *     the un-paginated response can never truncate), splits the batch into
  *     adds vs updates (updates carry the discovered OID), and posts each
  *     side. O(1) extra round-trip per batch — never the reference's
  *     per-row probe. The layer metadata (OID field, maxRecordCount) is
  *     fetched once per job on the Spark driver, and only for upserts.
  *   - '''delete''' — rows whose `_deleted` column is true (the incremental
  *     source's change-tracking tombstones) route to the server's
  *     `deleteFeatures` verb: one `key IN (...)` probe resolves the target
  *     OIDs on the sync key, unknown keys are idempotent no-ops. This
  *     completes the end-to-end sync the reference gets implicitly from its
  *     full re-pull (vanished rows just stop being re-sent); requires
  *     `upsertKey`.
  *
  * Writes are not transactional on the ArcGIS REST surface; `abort()`
  * cannot roll back POSTs already acknowledged (documented limitation —
  * the reference has no rollback either). Task retries re-send only the
  * current task's rows; upsert batches are idempotent on the key.
  */
class ArcGisWriteBuilder(info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new ArcGisWrite(
    info.schema(),
    info.options().get("client"),
    Option(info.options().get("upsertKey")))
}

class ArcGisWrite(schema: StructType, clientKey: String, upsertKey: Option[String])
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  require(clientKey != null, "arcgis write requires the 'client' option")
  upsertKey.foreach { k =>
    require(schema.fieldNames.contains(k),
      s"upsertKey '$k' is not a column of the written data (${schema.fieldNames.mkString(", ")})")
  }

  override def toBatch: BatchWrite = this

  // BatchWrite and StreamingWrite both declare this default; Scala requires
  // an explicit disambiguating override (same value as both defaults)
  override def useCommitCoordinator(): Boolean = true

  /** `writeStream.format("arcgis")`: each micro-batch epoch runs the same
    * batched writers. The REST surface offers no transactional epoch
    * commit, so delivery is at-least-once on epoch retry — with the
    * `upsertKey` option the sink is effectively idempotent (retried rows
    * re-upsert on their key), which is the streaming mode to prefer.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = this

  /** The upsert target, resolved once on the Spark driver: the batch size must
    * fit one un-paginated existence response (the server caps replies at
    * maxRecordCount; a bigger batch would silently treat the truncated
    * remainder as "new" and duplicate rows).
    */
  private lazy val upsert: Option[ArcGisUpsert] = upsertKey.map { key =>
    val info = ArcGisClientRegistry.get(clientKey).layerInfo()
    ArcGisUpsert(key, info.requireOid("arcgis upsert"),
      math.max(1, math.min(ArcGisDataWriter.MaxBatch, info.maxRecordCount)))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ArcGisWriterFactory(schema, clientKey, upsert)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo
  ): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new ArcGisWriterFactory(schema, clientKey, upsert)

  private def recordCommit(messages: Array[WriterCommitMessage]): Unit = {
    val (ok, failed, updated, deleted) = messages.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, f, u, d), ArcGisCommit(mo, mf, mu, md)) => (a + mo, f + mf, u + mu, d + md)
      case (acc, _) => acc
    }
    ArcGisWriteStats.record(clientKey, ok, failed, updated, deleted)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = recordCommit(messages)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    recordCommit(messages)

  // POSTs already acknowledged cannot be rolled back (see Scaladoc)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** Per-job write outcome (inserted / failed / updated / deleted),
  * observable by key. */
object ArcGisWriteStats {
  private val stats =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Long)]()
  def record(key: String, ok: Long, failed: Long, updated: Long, deleted: Long = 0L): Unit =
    stats.put(key, (ok, failed, updated, deleted))
  def last(key: String): Option[(Long, Long, Long, Long)] = Option(stats.get(key))
}

case class ArcGisCommit(ok: Long, failed: Long, updated: Long, deleted: Long = 0L)
    extends WriterCommitMessage

/** Upsert target resolved on the Spark driver: the sync key, the layer's OID
  * field, and the batch size one existence probe can answer untruncated.
  */
case class ArcGisUpsert(key: String, oidField: String, batchSize: Int)

class ArcGisWriterFactory(schema: StructType, clientKey: String, upsert: Option[ArcGisUpsert])
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ArcGisDataWriter(schema, clientKey, upsert)
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ArcGisDataWriter(schema, clientKey, upsert)
}

class ArcGisDataWriter(schema: StructType, clientKey: String, upsert: Option[ArcGisUpsert])
    extends DataWriter[InternalRow] {

  private lazy val client = ArcGisClientRegistry.get(clientKey)
  private val batchSize = upsert.map(_.batchSize).getOrElse(ArcGisDataWriter.MaxBatch)

  private val geomX = schema.fieldNames.indexOf("geom_x")
  private val geomY = schema.fieldNames.indexOf("geom_y")
  // `_deleted` tombstones (from the incremental source's deletes=true mode)
  // route to the server's deleteFeatures verb instead of add/update —
  // requires upsertKey, since the tombstone is matched to the TARGET row by
  // the sync key, never by the source layer's OID
  private val deletedIdx = schema.fieldNames.indexOf("_deleted")

  private val buffer = scala.collection.mutable.ArrayBuffer.empty[EsriFeature]
  private val delKeys = scala.collection.mutable.LinkedHashSet.empty[Any]
  private var ok = 0L
  private var failed = 0L
  private var updated = 0L
  private var deleted = 0L

  private def valueAt(row: InternalRow, i: Int, dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case StringType => row.getUTF8String(i).toString
      case LongType => row.getLong(i)
      case IntegerType => row.getInt(i)
      case ShortType => row.getShort(i)
      case DoubleType => row.getDouble(i)
      case FloatType => row.getFloat(i)
      case BooleanType => row.getBoolean(i)
      case _ => row.get(i, dt)
    }

  override def write(row: InternalRow): Unit = {
    if (deletedIdx >= 0 && !row.isNullAt(deletedIdx) && row.getBoolean(deletedIdx)) {
      val key = upsert.getOrElse(throw new IllegalArgumentException(
        "_deleted tombstones require the upsertKey option — the tombstone " +
          "is matched to the target row by the sync key")).key
      val ki = schema.fieldNames.indexOf(key)
      if (ki >= 0 && !row.isNullAt(ki))
        delKeys += valueAt(row, ki, schema.fields(ki).dataType)
      if (delKeys.size >= batchSize) flushDeletes()
      return
    }
    val attrs = schema.fields.iterator.zipWithIndex.flatMap { case (f, i) =>
      if (ArcGisSchema.isSynthetic(f.name)) None
      else Option(valueAt(row, i, f.dataType)).map(f.name -> _)
    }.toMap
    val geom =
      if (geomX >= 0 && geomY >= 0 && !row.isNullAt(geomX) && !row.isNullAt(geomY))
        Some((row.getDouble(geomX), row.getDouble(geomY)))
      else None
    buffer += EsriFeature(attrs, geom)
    if (buffer.size >= batchSize) flush()
  }

  private def sqlLit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case other => String.valueOf(other)
  }

  /** ONE existence probe for a whole batch of sync keys (S10): `key IN
    * (...)`, only `fields` requested, count = -1 so it stays unpaginated.
    */
  private def probe(key: String, keys: Seq[Any], fields: Seq[String]): Seq[EsriFeature] =
    client.queryPage(0L, -1, s"$key IN (${keys.map(sqlLit).mkString(", ")})", fields)

  private def flush(): Unit = {
    if (buffer.isEmpty) return
    val batch = buffer.toSeq
    buffer.clear()
    upsert match {
      case None => post(batch, add = true)
      case Some(ArcGisUpsert(key, oid, _)) =>
        val keys = batch.flatMap(_.attributes.get(key)).distinct
        val existing: Map[String, Any] =
          if (keys.isEmpty) Map.empty
          else probe(key, keys, Seq(key, oid))
            .flatMap(f => for (k <- f.attributes.get(key); o <- f.attributes.get(oid))
              yield String.valueOf(k) -> o)
            .toMap
        val (upd, add) = batch.partition(f =>
          f.attributes.get(key).exists(k => existing.contains(String.valueOf(k))))
        post(add, add = true)
        post(upd.map(f => f.copy(attributes =
          f.attributes + (oid -> existing(String.valueOf(f.attributes(key)))))), add = false)
    }
  }

  private def post(feats: Seq[EsriFeature], add: Boolean): Unit =
    if (feats.nonEmpty) {
      val results = if (add) client.addFeatures(feats) else client.updateFeatures(feats)
      results.foreach {
        case Right(_) => if (add) ok += 1 else updated += 1
        case Left(_) => failed += 1 // T8: count-and-continue, never fail the job
      }
    }

  /** Tombstone batch → ONE existence probe on the sync key (the S10
    * discipline — never per-row) → deleteFeatures on the discovered OIDs.
    * A key with no live target row is a no-op (the delete is idempotent:
    * at-least-once epoch retries re-probe and find nothing), never an error.
    */
  private def flushDeletes(): Unit = {
    if (delKeys.isEmpty) return
    val ArcGisUpsert(key, oid, _) = upsert.get
    val keys = delKeys.toSeq
    delKeys.clear()
    keys.grouped(batchSize).foreach { g =>
      val oids = probe(key, g, Seq(oid))
        .flatMap(_.attributes.get(oid)).collect { case n: Number => n.longValue() }
      if (oids.nonEmpty) client.deleteFeatures(oids).foreach {
        case Right(_) => deleted += 1
        case Left(_) => failed += 1
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    flushDeletes()
    ArcGisCommit(ok, failed, updated, deleted)
  }

  override def abort(): Unit = { buffer.clear(); delKeys.clear() }

  override def close(): Unit = ()
}

object ArcGisDataWriter {
  /** Features per POST: the append batch, and the ceiling of an upsert batch. */
  val MaxBatch = 500
}
