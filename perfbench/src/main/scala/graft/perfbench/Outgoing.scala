package graft.perfbench

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.WebMercator
import graft.ops.Merge
import graft.sources.arcgis._
import graft.streaming.CotStream

/** One generated CoT queue record and the point it carries (None for the
  * non-Point geometries the flow routes away). */
final case class CotRecord(uid: String, body: String, point: Option[(Double, Double)],
    attrs: Map[String, Any])

/** `arcgis-outgoing`: closed-loop CoT micro-batches of `batchSize` queue
  * bodies through `MemoryStream` → `CotStream.outgoing(Point)` →
  * `foreachBatch { Merge.dedupFirst(by time) → WebMercator x/y →
  * write.format("arcgis").option("upsertKey", "cotuid") }` into a stateful
  * stub. Bodies come from a pool of `units` tracked units with skewed reuse,
  * so most are updates; about 5% carry non-Point geometry and some lack a
  * callsign or remarks. The stub serves a seeded fault schedule (503 on
  * probes, 429 on writes, a 401 token expiry every 8 batches). After the run the
  * stub's layer must equal the last-write-wins state computed here: within
  * a batch the earliest record per cotuid wins (the reference's first
  * match), across batches the later batch wins.
  */
final class Outgoing(seed: Long, batchSize: Int, units: Int, delayMs: Int, threads: Int,
    workDir: java.nio.file.Path) extends Workload {
  val clientKey = s"perfbench-out-$seed"
  private var spark: SparkSession = _
  private var stub: FeatureServerStub = _
  private[perfbench] var layer: UpsertLayer = _
  private var client: HttpArcGisClient = _
  private var input: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private val expected = scala.collection.mutable.HashMap.empty[String, (Map[String, Any], (Double, Double))]
  private val failedWrites = new java.util.concurrent.atomic.AtomicLong()
  /** The stub expires the token every 8 batches, at a seeded phase. */
  private val expireAt = 1 + (Rng.mix(seed) & 3).toInt
  private var tracing = false
  private val parseMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val stubPerOp = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  private val writeStats = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Stub requests by kind since the last set-up, plus faults served. */
  val requestTotals = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  private val fields = Seq(
    "objectid" -> "esriFieldTypeOID", "cotuid" -> "esriFieldTypeString",
    "callsign" -> "esriFieldTypeString", "remarks" -> "esriFieldTypeString",
    "cottype" -> "esriFieldTypeString", "how" -> "esriFieldTypeString",
    "time" -> "esriFieldTypeDate", "start" -> "esriFieldTypeDate", "stale" -> "esriFieldTypeDate")

  private val baseMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** Record `j` of batch `b`: a pure function of (seed, b, j). */
  def record(b: Int, j: Int): CotRecord = {
    val g = b.toLong * batchSize + j
    val h = Rng.mix(seed * 0x2545F4914F6CDD1DL + g)
    val u = ((h >>> 11).toDouble / (1L << 53))
    val unit = (units * math.pow(u, 2.5)).toInt
    val uid = f"ANDROID-${Rng.mix(seed + unit) & 0xffffffffffL}%010x"
    val lon = -180.0 + ((h >>> 3) & 0xffffff) * (360.0 / 0x1000000)
    val lat = -80.0 + ((h >>> 27) & 0xffffff) * (160.0 / 0x1000000)
    val kind = ((h >>> 51) & 0x3f).toInt // 3 of 64 non-Point
    val time = baseMs + g
    val callsign = if (((h >>> 57) & 0xf) == 0) None else Some(s"CS-$unit-${g % 7}")
    val remarks = if (((h >>> 61) & 0x7) == 0) None else Some(s"patrol \"${g % 11}\" sector ${unit % 97}")
    def iso(ms: Long) = Instant.ofEpochMilli(ms).toString
    val geometry =
      if (kind == 0) s"""{"type":"LineString","coordinates":[[$lon,$lat],[${lon / 2},${lat / 2}]]}"""
      else if (kind <= 2) s"""{"type":"Polygon","coordinates":[[[$lon,$lat],[0.0,0.0],[$lon,0.0],[$lon,$lat]]]}"""
      else s"""{"type":"Point","coordinates":[$lon,$lat]}"""
    def q(s: String) = StubLayer.jsonValue(s)
    val props = Seq(callsign.map(c => s""""callsign":${q(c)}"""), remarks.map(r => s""""remarks":${q(r)}"""),
      Some(""""type":"a-f-G-U-C""""), Some(""""how":"m-g""""),
      Some(s""""time":"${iso(time)}""""), Some(s""""start":"${iso(time)}""""),
      Some(s""""stale":"${iso(time + 3600000L)}"""")).flatten.mkString(",")
    val body = s"""{"xml":${q(s"<event uid='$uid' type='a-f-G-U-C'/>")},"geojson":{"id":"$uid",""" +
      s""""type":"Feature","properties":{$props},"geometry":$geometry}}"""
    val attrs = Map[String, Any]("cotuid" -> uid, "callsign" -> callsign.getOrElse("Unknown"),
      "remarks" -> remarks.getOrElse(""), "cottype" -> "a-f-G-U-C", "how" -> "m-g",
      "time" -> time, "start" -> time, "stale" -> (time + 3600000L))
    CotRecord(uid, body, if (kind > 2) Some((lon, lat)) else None, attrs)
  }

  def batch(b: Int): Seq[CotRecord] = (0 until batchSize).map(record(b, _))

  /** The merge the pipeline must apply, computed independently. */
  def applyExpected(recs: Seq[CotRecord]): Unit =
    recs.filter(_.point.isDefined).groupBy(_.uid).foreach { case (uid, rs) =>
      val r = rs.minBy(_.attrs("time").asInstanceOf[Long])
      val (lon, lat) = r.point.get
      expected(uid) = (r.attrs, (WebMercator.x(lon), WebMercator.y(lat)))
    }

  override def setUp(s: SparkSession): Unit = {
    tearDown()
    spark = s
    expected.clear()
    requestTotals.clear()
    layer = new UpsertLayer(fields, "cotuid", 2000)
    stub = new FeatureServerStub(layer, threads, delayMs, Some(FaultPlan(seed, 0.03, 0.03)))
    client = BenchClient(stub)
    ArcGisClientRegistry.register(clientKey, client)
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    input = MemoryStream[String]
    val key = clientKey
    query = CotStream.outgoing(input.toDF(), Seq("Point")).writeStream
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory(workDir, "outgoing-ckpt").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = Merge.dedupFirst(df, "cotuid", Seq("time")).select(
          col("cotuid"), col("callsign"), col("remarks"), col("cottype"), col("how"),
          unix_millis(col("time")).as("time"), unix_millis(col("start")).as("start"),
          unix_millis(col("stale")).as("stale"),
          WebMercator.mercatorX(col("coordinates")(0)).as("geom_x"),
          WebMercator.mercatorY(col("coordinates")(1)).as("geom_y"))
        rows.write.format("arcgis").option("client", key).option("upsertKey", "cotuid")
          .mode("append").save()
        ArcGisWriteStats.last(key).foreach { case (added, failed, updated, _) =>
          failedWrites.addAndGet(failed)
          writeStats.add((added + updated, failed))
        }
        ()
      }
      .start()
  }

  override def traced(on: Boolean): Unit = {
    tracing = on
    ArcGisClientRegistry.register(clientKey, if (on) new TimedArcGisClient(client) else client)
  }

  override def op(i: Int): OpOutcome = {
    val recs = batch(i)
    applyExpected(recs)
    if (i % 8 == expireAt) stub.expireToken()
    stub.resetCounters()
    writeStats.clear()
    input.addData(recs.map(_.body))
    query.processAllAvailable()
    val failed = writeStats.toArray.map(_.asInstanceOf[(Long, Long)]._2).sum
    val counters = stub.counters
    counters.foreach { case (k, v) => if (k.startsWith("requests.") || k == "faults") requestTotals(k) += v }
    if (tracing) stubPerOp.add(counters)
    OpOutcome(recs.size, failed == 0, if (failed == 0) "" else s"batch $i: $failed features rejected")
  }

  /** The batch's bodies parsed, projected and routed as one batch frame
    * (`CotStream.outgoing` without the stream), timed after the batch. */
  override def traceExtras(i: Int, opMs: Double): Unit = {
    val s = spark
    val raw = { import s.implicits._; batch(i).map(_.body).toDF("value") }
    val t = System.nanoTime()
    CotStream.outgoing(raw, Seq("Point")).queryExecution.toRdd
      .foreachPartition((it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => while (it.hasNext) it.next())
    parseMs.add((System.nanoTime() - t) / 1e6)
  }

  /** The stub's layer against the expected last-write-wins state: one
    * feature per expected cotuid, with its attributes and geometry. */
  override def finalCheck(): (Long, Long) = {
    val byUid = layer.snapshot.groupBy(_.attrs.getOrElse("cotuid", "").toString)
    val wrong = expected.count { case (uid, (attrs, geom)) =>
      byUid.get(uid) match {
        case Some(Seq(s)) => s.attrs != attrs || !s.geom.contains(geom)
        case _ => true
      }
    }
    val extra = byUid.keys.count(k => !expected.contains(k))
    if (wrong + extra > 0)
      System.err.println(s"[perfbench] outgoing final state: $wrong of ${expected.size} features wrong, $extra unexpected")
    (0L, (wrong + extra).toLong)
  }

  override def layerMetrics(ops: Seq[OpSample], obs: SparkObserver): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val n = ops.size.toDouble
    val st = stubPerOp.asScala.toSeq
    def stubSum(k: String) = st.map(_.getOrElse(k, 0L)).sum.toDouble
    val feats = math.max(1.0, ops.map(_.items).sum.toDouble)
    // progress is posted as the batch finishes, at most a moment after the
    // operation's window
    val prog = obs.progress.asScala.toSeq.filter(_._2.contains("addBatch"))
      .filter(p => ops.exists(o => p._1 >= o.start && p._1 <= o.end + 100000000L))
    def dur(k: String) = if (prog.isEmpty) 0.0 else prog.map(_._2.getOrElse(k, 0L)).sum.toDouble / prog.size
    val writes = Trace.spans.asScala.filter(_.name.startsWith("arcgis.write.")).map(_.ms).toSeq
    val posts = Trace.counts.getOrDefault("arcgis.write.posts", new java.util.concurrent.atomic.AtomicLong()).get
    val postedFeatures = Trace.counts.getOrDefault("arcgis.write.features", new java.util.concurrent.atomic.AtomicLong()).get
    val shuffle = ops.map(o => obs.tasks.asScala.filter(t => t.end >= o.start && t.end <= o.end)
      .map(_.shuffleWrite).sum).sum
    Map(
      "stream.trigger_ms" -> dur("triggerExecution"), "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"), "stream.get_batch_ms" -> dur("getBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "outgoing.parse_ms" -> Stats.median(parseMs.asScala.toSeq),
      "outgoing.dedup_shuffle_bytes" -> shuffle / n,
      "stub.requests.metadata" -> stubSum("requests.metadata") / n,
      "stub.requests.count" -> stubSum("requests.count") / n,
      "stub.requests.probe" -> stubSum("requests.probe") / n,
      "stub.requests.add" -> stubSum("requests.add") / n,
      "stub.requests.update" -> stubSum("requests.update") / n,
      "stub.max_inflight" -> st.map(_.getOrElse("max_inflight", 0L)).max.toDouble,
      "stub.bytes_in_per_feature" -> stubSum("bytes_in") / feats,
      "stub.requests_per_feature" -> st.map(_.filter(_._1.startsWith("requests.")).values.sum).sum / feats,
      "arcgis.write.features_per_post" -> (if (posts == 0) 0.0 else postedFeatures.toDouble / posts),
      "arcgis.write.call_ms" -> (if (writes.isEmpty) 0.0 else writes.sum / writes.size),
      "arcgis.http.retries" -> stubSum("faults") / n,
      "auth.token_fetches" -> stubSum("requests.token") / n,
      "arcgis.write.failed_features" -> failedWrites.get.toDouble)
  }

  override def tearDown(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (stub != null) { stub.close(); stub = null }
  }
}
