package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every entry point (Bench, Verify,
  * StreamBench, GenScale, the profiling tools, the test session) builds its
  * session here, so the oracle certifies, the bench measures and the specs
  * exercise the same engine configuration.
  *
  * `cores` sets both `local[cores]` and the shuffle partition count; it
  * defaults to `SPARK_GRAFT_CPUS`. `conf` is the `SPARK_GRAFT_CONF` ops hook
  * (see [[overrides]]), applied after the defaults so it wins.
  */
object GraftSession {
  /** Keys the oracle results are certified under; overriding one is loud. */
  val Pinned: Set[String] = Set("spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")

  /** The session config for `cores`, defaults first, then `conf`'s overrides. */
  def settings(cores: Int, conf: String = ""): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // r20: serialized sort shuffle writer for wide fan-out exchanges
    // (guide §2.1/§2.2). With reduce counts at or below the 200 default
    // threshold, Spark picks BypassMergeSortShuffleWriter, which opens
    // one stream+32KB buffer PER REDUCE PARTITION per map task — at
    // local[32]/32 partitions that is 32 file streams per task, a pure
    // small-R artifact that profiled at ~106 ms/task of shuffle-write
    // time on 36k-row writes and taxed every 32-task shuffle-map stage
    // in the suite. Production reduce counts at 100 TB are far above
    // 200, so any value ≤200 is scale-neutral — the sort writer is what
    // runs there regardless. 8, not lower: genuinely tiny-R exchanges
    // (final 1-3 partition sorts, coalesced stages) measurably prefer
    // bypass (its design regime; =1 cost x17 +1.1s and the calibration
    // probe +2.1s vs =8 in a same-window A/B). Static (not derived from
    // `cores`) and overridable via SPARK_GRAFT_CONF.
    "spark.shuffle.sort.bypassMergeThreshold" -> "8",
    // localCheckpoint blocks (SetSimJoin, t25, CC, ...) are freed only
    // when the DRIVER GCs and the ContextCleaner notices; between Bench's
    // periodic session restarts, dead checkpoint/broadcast blocks
    // otherwise pile up in the block manager. 5 minutes: frequent
    // enough to drain within a restart window, rare enough that the
    // full-GC pauses don't tax the measurement (a 1-minute interval
    // measurably slowed the suite).
    "spark.cleaner.periodicGC.interval" -> "5min",
    // the status stores retain per-execution plan graphs + metrics even
    // with the UI off (defaults: 1000 executions / 1000 jobs / 1000
    // stages); a 258-query suite at 2-4 reps each would pin ~1000 LARGE
    // plan graphs on the driver heap. Keep only a handful: nothing reads
    // them back.
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.ui.retainedTasks" -> "500",
    "spark.ui.retainedDeadExecutors" -> "5"
  ) ++ overrides(conf)

  /** r19 ops hook: extra session confs as ';'-separated k=v pairs — the
    * same engine knobs a cluster deployment sets via spark-submit (e.g.
    * join-strategy policy, guide §3.1/§9). Empty (the driver's call) →
    * byte-identical defaults. Each override is logged (ADVICE r19): a
    * certified run must record the exact session config it ran under, and
    * overriding an oracle-pinned key is loud.
    */
  def overrides(conf: String): Seq[(String, String)] =
    conf.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry needs k=v: $kv")
      val k = kv.substring(0, i)
      System.err.println(s"[graft] SPARK_GRAFT_CONF override: $kv" +
        (if (Pinned(k)) "  ** WARNING: overrides an oracle-pinned config **" else ""))
      k -> kv.substring(i + 1)
    }

  def create(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      conf: String = sys.env.getOrElse("SPARK_GRAFT_CONF", "")): SparkSession = {
    val s = settings(cores, conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) { case (b, (k, v)) => b.config(k, v) }
      // the engine's planner surface (TopKToNative etc.) is part of what
      // the oracle gate certifies — every session runs the same extensions
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
