package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import graft.ops.TakClient
import graft.sources.arcgis._

/** One timed interval at a layer boundary. `parent` is the span that caused
  * it (0 = none); `run` is the operation (query, pull or batch) it belongs
  * to. Times are epoch nanoseconds from one clock (`Trace.now`).
  */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, run: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store. Spans are recorded only while `enabled`; an
  * untraced round pays one volatile read per boundary.
  */
object Trace {
  @volatile var enabled = false
  @volatile var run = 0L
  @volatile var opSpan = 0L
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Counters recorded at the same boundaries (e.g. features per POST). */
  val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffset
  def fromMillis(ms: Long): Long = ms * 1000000L

  def reserve(): Long = ids.incrementAndGet()

  def addWithId(id: Long, name: String, start: Long, end: Long, parent: Long): Unit =
    spans.add(Span(id, name, start, end, parent, run))

  def add(name: String, start: Long, end: Long, parent: Long = opSpan): Unit =
    addWithId(reserve(), name, start, end, parent)

  def count(name: String, n: Long): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = now
      try body finally add(name, t0, now)
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},""" +
        s""""parent":${s.parent},"run":${s.run}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Timing decorator around the program's [[ArcGisClient]] trait: each call
  * becomes an `arcgis.http.*` span (reads) or `arcgis.write.*` span (POSTs).
  */
final class TimedArcGisClient(inner: ArcGisClient) extends ArcGisClient {
  override def layerInfo(): LayerInfo = Trace.span("arcgis.http.metadata")(inner.layerInfo())
  override def queryPage(offset: Long, count: Int, where: String, outFields: Seq[String],
      envelope: Option[Envelope], outSR: Option[String]): Seq[EsriFeature] =
    Trace.span(if (where.contains(" IN (")) "arcgis.http.probe" else "arcgis.http.query")(
      inner.queryPage(offset, count, where, outFields, envelope, outSR))
  override def queryTopFeatures(topCount: Int, groupByField: String, orderByField: String,
      where: String, outFields: Seq[String], outSR: Option[String]): Seq[EsriFeature] =
    Trace.span("arcgis.http.query")(
      inner.queryTopFeatures(topCount, groupByField, orderByField, where, outFields, outSR))
  override def queryByKey(keyCol: String, key: String): Seq[EsriFeature] =
    Trace.span("arcgis.http.probe")(inner.queryByKey(keyCol, key))
  override def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] = {
    Trace.count("arcgis.write.posts", 1); Trace.count("arcgis.write.features", feats.size)
    Trace.span("arcgis.write.add")(inner.addFeatures(feats))
  }
  override def updateFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] = {
    Trace.count("arcgis.write.posts", 1); Trace.count("arcgis.write.features", feats.size)
    Trace.span("arcgis.write.update")(inner.updateFeatures(feats))
  }
  override def queryStatistics(where: String, groupBy: Seq[String],
      stats: Seq[StatSpec]): Seq[Map[String, Any]] =
    Trace.span("arcgis.http.query")(inner.queryStatistics(where, groupBy, stats))
}

/** Timing decorator around the program's [[TakClient]] trait. */
final class TimedTakClient(inner: TakClient) extends TakClient {
  override def submit(features: Seq[String]): Unit = Trace.span("tak.submit")(inner.submit(features))
}

/** Spark-side observations, gathered through Spark's public listener APIs:
  * task, stage and job ends (scheduler), storage block updates, query
  * planning phases (QueryExecutionListener) and streaming progress. Each
  * event keeps its time so it can be attributed to the operation whose
  * window contains it.
  */
final class SparkObserver extends SparkListener {
  final case class TaskRec(end: Long, durationMs: Long, schedDelayMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)
  final case class StageRec(end: Long, wallMs: Long)
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  val rddBlocks = new ConcurrentLinkedQueue[(Long, Long)]()
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val seen = new AtomicLong()

  /** Events handled so far (the listener bus delivers asynchronously). */
  def eventCount: Long = seen.get

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    seen.incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val sched = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks.add(TaskRec(Trace.fromMillis(i.finishTime), i.duration, sched,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    seen.incrementAndGet()
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime)
      stages.add(StageRec(Trace.fromMillis(b), b - a))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    seen.incrementAndGet()
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    seen.incrementAndGet()
    val start = Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobs.add((Trace.fromMillis(start), Trace.fromMillis(e.time)))
    if (Trace.enabled) Trace.add("spark.job", Trace.fromMillis(start), Trace.fromMillis(e.time), 0L)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
      rddBlocks.add((Trace.now, b.memSize + b.diskSize))
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add((Trace.now, SparkObserver.planMs(qe)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      progress.add((Trace.now, e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has gone quiet (no new events for a
    * while), so events of the last operation are counted. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(50)
      val n = eventCount
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }
}

object SparkObserver {
  /** Analysis + optimization + physical planning, from the query's planning
    * tracker. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
}
