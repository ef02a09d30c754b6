package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import graft.{SparkEntry, Tables, Verify}

/** Row count plus an order-insensitive content digest: the wrapping sum of
  * each row's xxhash64 over all columns. Taken in the same executor-side
  * sweep that consumes the output (the InternalRow sweep `graft.Bench`
  * times), so checking costs one hash per row and no extra job.
  */
final case class Digest(rows: Long, sum: Long)

object Digest {
  /** Every column of `df` in the canonical types of a `graft.Verify` dump. */
  def hashed(df: DataFrame): DataFrame = {
    val c = Verify.canonical(df)
    c.select(xxhash64(c.schema.fieldNames.map(n => col("`" + n.replace("`", "``") + "`")).toSeq: _*))
  }

  /** Sweeps `df` once (one job) and returns its digest. */
  def sweep(df: DataFrame): Digest = sweepHashed(hashed(df))

  /** The digest of a frame already passed through [[hashed]]. */
  def sweepHashed(h: DataFrame): Digest =
    h.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += it.next().getLong(0); n += 1 }
      Iterator((n, s))
    }.collect().foldLeft(Digest(0L, 0L)) { case (d, (n, s)) => Digest(d.rows + n, d.sum + s) }

  def parse(json: String): Map[String, Digest] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(-?\\d+)\\s*,\\s*\"digest\"\\s*:\\s*(-?\\d+)\\s*\\}".r
    entry.findAllMatchIn(json).map(m => m.group(1) -> Digest(m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def render(ds: Seq[(String, Digest)]): String =
    ds.sortBy(_._1).map { case (k, d) => s"""  "$k": {"rows": ${d.rows}, "digest": ${d.sum}}""" }
      .mkString("{\n", ",\n", "\n}\n")
}

/** Builds `digests.json` from a `graft.Verify` dump: one digest per query
  * result directory, read back from the dump's parquet.
  *
  * {{{ Digests <verify_out_dir> <digests.json> }}}
  */
object Digests {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Session.create(Session.cores)
    val names = new java.io.File(dump).listFiles().filter(_.isDirectory).map(_.getName).sorted
    val ds = names.toSeq.map(n => n -> Digest.sweep(spark.read.parquet(s"$dump/$n")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Digest.render(ds))
    println(s"${ds.size} digests -> $out")
    spark.stop()
  }
}

/** `query-suite`: the committed suite of registered queries over the sf0.1
  * corpus, one client in a closed loop on one warm session. The seed
  * permutes the order of every pass. Each query's output is swept once,
  * with its digest checked against the committed one.
  */
final class QuerySuite(dataDir: String, seed: Long, expected: Map[String, Digest]) extends Workload {
  private val names = QuerySuite.suite
  private val missing = names.filterNot(n => SparkEntry.queries.contains(n) && expected.contains(n))
  require(missing.isEmpty, s"queries not registered or without a digest: ${missing.mkString(", ")}")
  private val passes = scala.collection.mutable.Map.empty[Int, Vector[String]]
  private var spark: SparkSession = _
  private var tracing = false
  /** (op window end, planning ms) of traced queries: the sweep is not a
    * Dataset action, so the QueryExecutionListener does not see it. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  /** (op window end, storage memory used after the query). */
  val blockBytes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  override def setUp(s: SparkSession): Unit = {
    spark = s
    tables.foreach(t => Tables.table(s, dataDir, t)) // lists files, reads footers
  }

  /** Query `i`: pass `i / n` is the seed's permutation number `i / n`. */
  override def label(i: Int): String =
    passes.getOrElseUpdate(i / names.size,
      new scala.util.Random(seed * 1000003L + i / names.size).shuffle(names))(i % names.size)

  override def op(i: Int): OpOutcome = {
    val name = label(i)
    val df = Digest.hashed(SparkEntry.queries(name)(spark, dataDir))
    val got = Digest.sweepHashed(df)
    if (tracing) {
      plans.add((Trace.now, SparkObserver.planMs(df.queryExecution)))
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      blockBytes.add((Trace.now, used))
    }
    val ok = got == expected(name)
    OpOutcome(1, ok, if (ok) "" else s"$name: got $got, expected ${expected(name)}")
  }

  override def round: Int = names.size

  override def traced(on: Boolean): Unit = tracing = on

  override def layerMetrics(ops: Seq[OpSample], obs: SparkObserver): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    def in(o: OpSample, t: Long) = t >= o.start && t <= o.end + 1000000L
    val plan = ops.map(o => plans.asScala.filter(p => in(o, p._1)).map(_._2).sum)
    val block = ops.flatMap(o => blockBytes.asScala.filter(b => in(o, b._1)).map(_._2))
    val families = ops.groupBy(_.label).map { case (q, s) => q -> Stats.median(s.map(_.ms)) }
      .groupBy(_._1.takeWhile(_.isLetter))
      .map { case (f, qs) => s"queries.family.${f}_s" -> qs.values.sum / 1000.0 }
    Map(
      "spark.plan_ms" -> plan.sum / ops.size,
      "storage.block_bytes_after_query" -> (if (block.isEmpty) 0.0 else block.max.toDouble)
    ) ++ families
  }

  override def tearDown(): Unit = ()
}

object QuerySuite {
  /** One query per family: the family's lower-quartile query by time in a
    * cold pass of all registered queries on a 4-core host, so one pass
    * stays a few seconds. `digests.json` covers every registered query;
    * widening the suite needs no new digests.
    */
  val suite: Vector[String] = Vector("b2_correlated_scalar_avg", "d33_band_entropy_probe",
    "e5_top_users_by_day", "f4_route_by_geom_type", "g6_grid_knn", "m11_audio_fingerprint",
    "p21_epoch_repetition", "q23_dormant_customers", "s11_embedding_dim_moments",
    "t10_corpus_pipeline", "x4_intersect_except")
}
