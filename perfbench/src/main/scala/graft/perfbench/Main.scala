package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark session: the same engine configuration as `graft.Bench`
  * (local[cores], one shuffle partition per core, UTC, the program's
  * planner extensions), with Spark's scratch space inside `workDir`. */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def create(cores: Int, workDir: Path = Paths.get("perfbench/out/work")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.local.dir", workDir.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toAbsolutePath.toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Runs one workload for a fixed time and writes its result as JSON.
  *
  * {{{
  * Main --workload <query-suite|arcgis-incoming|arcgis-outgoing> --seed <n>
  *      --seconds <s> --trace <0|1> --out <result.json> [--root <repo root>]
  * }}}
  *
  * Set-up (fresh session, the seeded inputs, the stub) runs three times and
  * `setup_s` is their median; the first sample counts from JVM start.
  * Two warm-up rounds follow, untimed (a round is a pass of the query
  * suite, two pulls or one batch). Then operations run back to back, closed
  * loop, in whole rounds until `--seconds` have passed. With `--trace 1`
  * untraced rounds alternate with traced rounds (decorators and Spark
  * listeners on) until the untraced rounds have used `--seconds`; per-layer
  * numbers come from the traced rounds and `trace_overhead_pct` compares
  * the median operation time of the two kinds.
  */
object Main {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** Exits 1 if the run throws and 3 if, after the run, any non-daemon
    * thread is still alive (something the run started was not stopped). */
  def main(argv: Array[String]): Unit = {
    try run(argv)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }
    val lingering = Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.isAlive && !t.isDaemon && t != Thread.currentThread && t.getName != "DestroyJavaVM")
    if (lingering.nonEmpty) {
      System.err.println(s"[perfbench] threads left running: ${lingering.map(_.getName).mkString(", ")}")
      System.exit(3)
    }
  }

  def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val root = Paths.get(a.getOrElse("root", "."))
    val out = Paths.get(a("out"))
    val work = root.resolve("perfbench/out/work")
    Files.createDirectories(work)
    val cores = Session.cores
    val w: Workload = workload match {
      case "query-suite" =>
        val digests = Digest.parse(Files.readString(root.resolve("perfbench/digests.json")))
        new QuerySuite(root.resolve("perfbench/data/sf0.1").toString, seed, digests)
      case "arcgis-incoming" => new Incoming(seed, 100000, 20, cores)
      case "arcgis-outgoing" => new Outgoing(seed, 1000, 20000, 20, cores, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up, three times; the first sample includes JVM start
    val jvmStart = Trace.fromMillis(ManagementFactory.getRuntimeMXBean.getStartTime)
    var spark: SparkSession = null
    val setups = (0 until 3).map { k =>
      val t0 = if (k == 0) jvmStart else Trace.now
      if (spark != null) { w.tearDown(); spark.stop() }
      spark = Session.create(cores, work)
      w.setUp(spark)
      (Trace.now - t0) / 1e9
    }
    var next = 0
    def runOp(): OpSample = {
      val i = next
      next += 1
      Trace.run = i
      val id = if (Trace.enabled) Trace.reserve() else 0L
      Trace.opSpan = id
      val t0 = Trace.now
      val r = try w.op(i) catch {
        case scala.util.control.NonFatal(e) => OpOutcome(0, ok = false, s"op $i threw: $e")
      }
      val t1 = Trace.now
      if (Trace.enabled) {
        Trace.addWithId(id, "op", t0, t1, 0L)
        w.traceExtras(i, (t1 - t0) / 1e6)
      }
      if (!r.ok) System.err.println(s"[perfbench] FAILED ${r.detail}")
      OpSample(t0, t1, r.items, r.ok, w.label(i))
    }
    /** Whole rounds until `secs` have passed. */
    def phase(secs: Double): Seq[OpSample] = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val b = Vector.newBuilder[OpSample]
      var n = 0
      do { b += runOp(); n += 1 } while (n % w.round != 0 || System.nanoTime() < deadline)
      b.result()
    }
    val warm = Vector.fill(2 * w.round)(runOp())

    // traced runs alternate untraced and traced rounds, so both see the same
    // JIT and cache state; the traced rounds' extra measurements do not count
    // towards --seconds
    val obs = new SparkObserver
    val (plain, tracedOps, tracedGcMs) =
      if (!trace) (phase(seconds), Seq.empty[OpSample], 0L)
      else {
        val p, t = Vector.newBuilder[OpSample]
        var gc = 0L
        var busy = 0.0
        while (busy < seconds) {
          val t0 = System.nanoTime()
          p ++= phase(0)
          busy += (System.nanoTime() - t0) / 1e9
          obs.attach(spark)
          w.traced(true)
          Trace.enabled = true
          val gc0 = gcMs
          t ++= phase(0)
          gc += gcMs - gc0
          Trace.enabled = false
          w.traced(false)
          obs.drain()
          obs.detach(spark)
        }
        (p.result(), t.result(), gc)
      }
    val all = plain ++ tracedOps
    val (finalAttempted, finalFailed) = w.finalCheck()
    val attempted = warm.size + all.size + finalAttempted
    val failed = (warm ++ all).count(!_.ok) + finalFailed

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      metrics("setup_s") = Stats.median(setups)
      metrics("op_p50_ms") = Stats.median(plain.map(_.ms))
      metrics("items_per_s") = plain.map(_.items).sum / (plain.map(_.ms).sum / 1000)
    } else {
      metrics("jvm.peak_rss_mb") = vmHwmMb
      metrics ++= sparkLayerMetrics(tracedOps, obs, cores, tracedGcMs)
      metrics ++= w.layerMetrics(tracedOps, obs)
      metrics ++= selfTimes(tracedOps)
      metrics("trace_overhead_pct") =
        100 * (Stats.median(tracedOps.map(_.ms)) / Stats.median(plain.map(_.ms)) - 1)
    }
    val tail = Stats.tailPercentile(plain.size)
    val detail = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "setup_samples_s" -> setups, "ops" -> plain.size, "traced_ops" -> tracedOps.size,
      "op_ms" -> plain.map(_.ms), "warm_ms" -> warm.map(_.ms),
      "op_ms_by_label" -> plain.filter(_.label.nonEmpty).groupBy(_.label).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
      "op_tail_pct" -> tail.getOrElse(100),
      "op_tail_ms" -> tail.map(p => Stats.quantile(plain.map(_.ms), p / 100.0)).getOrElse(plain.map(_.ms).max),
      "host" -> Map("nproc" -> cores, "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" "),
        "spark" -> org.apache.spark.SPARK_VERSION))
    val result = Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toMap, "detail" -> detail)
    Files.writeString(out, Json.render(result))
    if (trace) Trace.writeJsonl(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"))
    w.tearDown()
    spark.stop()
  }

  /** Spark-wide numbers for the traced operations, each a per-operation
    * mean: planning of actions, jobs, stages, tasks, their times, shuffle,
    * spill, GC and RDD blocks written (checkpoints and caches). */
  private def sparkLayerMetrics(ops: Seq[OpSample], obs: SparkObserver, cores: Int,
      gcMs: Long): Map[String, Double] = {
    val n = ops.size.toDouble
    def within(t: Long) = ops.exists(o => t >= o.start && t <= o.end)
    val tasks = obs.tasks.asScala.filter(t => within(t.end)).toSeq
    val stages = obs.stages.asScala.filter(s => within(s.end)).toSeq
    val jobs = obs.jobs.asScala.filter(j => within(j._2)).toSeq
    val blocks = obs.rddBlocks.asScala.filter(b => within(b._1)).toSeq
    val plans = obs.plans.asScala.filter(p => within(p._1)).toSeq
    val stageWall = stages.map(_.wallMs).sum.toDouble
    val taskMs = tasks.map(_.durationMs).sum.toDouble
    Map(
      "spark.plan_ms" -> plans.map(_._2).sum / n,
      "spark.jobs" -> jobs.size / n, "spark.stages" -> stages.size / n, "spark.tasks" -> tasks.size / n,
      "spark.scheduler_delay_ms" -> tasks.map(_.schedDelayMs).sum / n,
      "spark.stage_wall_ms" -> stageWall / n, "spark.task_ms" -> taskMs / n,
      "spark.core_busy_ratio" -> (if (stageWall == 0) 0.0 else taskMs / (stageWall * cores)),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "spark.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill).sum / n,
      "spark.gc_ms" -> gcMs / n,
      "storage.checkpoint_bytes" -> blocks.map(_._2).sum / n)
  }

  /** Wall-clock self time per layer, per operation: the part of each
    * layer's span coverage not covered by the layers it calls
    * (op → spark.job → arcgis.http / arcgis.write / tak.submit). */
  private def selfTimes(ops: Seq[OpSample]): Map[String, Double] = {
    val spans = Trace.spans.asScala.toSeq
    def cover(names: String => Boolean, lo: Long, hi: Long): Seq[(Long, Long)] = {
      val iv = spans.filter(s => names(s.name)).map(s => (math.max(lo, s.start), math.min(hi, s.end)))
        .filter(x => x._1 < x._2).sortBy(_._1)
      iv.foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
        case (acc, x) => x :: acc
      }.reverse
    }
    def len(iv: Seq[(Long, Long)]) = iv.map(x => x._2 - x._1).sum / 1e6
    def io(n: String) = n.startsWith("arcgis.") || n == "tak.submit"
    val per = ops.map { o =>
      val jobs = cover(_ == "spark.job", o.start, o.end)
      val ioInJobs = jobs.flatMap { case (a, b) => cover(io, a, b) }
      Map(
        "self.driver_ms" -> (o.ms - len(cover(n => n == "spark.job" || io(n), o.start, o.end))),
        "self.spark_ms" -> (len(jobs) - len(ioInJobs)),
        "self.arcgis_http_ms" -> len(cover(n => n.startsWith("arcgis.http."), o.start, o.end)),
        "self.arcgis_write_ms" -> len(cover(n => n.startsWith("arcgis.write."), o.start, o.end)),
        "self.tak_ms" -> len(cover(_ == "tak.submit", o.start, o.end)))
    }
    per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
  }
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * sequences and maps). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
