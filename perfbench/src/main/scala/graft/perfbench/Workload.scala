package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one operation (a query, a full-layer pull, a micro-batch) reports:
  * how many items it completed and whether its output was right. */
final case class OpOutcome(items: Long, ok: Boolean, detail: String = "")

/** One timed operation: its window on the `Trace.now` clock. */
final case class OpSample(start: Long, end: Long, items: Long, ok: Boolean, label: String) {
  def ms: Double = (end - start) / 1e6
}

/** A benchmark workload. Inputs come from the seed alone. `setUp` builds
  * them (and any stub) for a fresh session and may be called again after
  * `tearDown`; `op` runs one closed-loop operation and checks its output.
  */
trait Workload {
  def setUp(spark: SparkSession): Unit
  def op(i: Int): OpOutcome
  def label(i: Int): String = ""
  /** Operations in one round; a timed phase always ends on a round
    * boundary (a whole pass of the query suite), and two rounds warm up
    * the JVM and caches after set-up. */
  def round: Int = 1
  /** Extra traced measurements of operation `i`, run after its window. */
  def traceExtras(i: Int, opMs: Double): Unit = ()
  /** Called around each traced round: install or remove the decorators. */
  def traced(on: Boolean): Unit = ()
  /** Per-layer numbers for the traced ops, beyond the Spark-wide ones. */
  def layerMetrics(ops: Seq[OpSample], obs: SparkObserver): Map[String, Double] = Map.empty
  /** Checks that can only be made at the end (e.g. a layer's final state);
    * returns (attempted, failed) to add to the operation counts. */
  def finalCheck(): (Long, Long) = (0L, 0L)
  def tearDown(): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it, or
    * None when there are too few samples for one. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
}
