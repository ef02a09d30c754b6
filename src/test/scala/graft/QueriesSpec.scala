package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session every spec shares: the engine's own configuration at 4
  * cores, without SPARK_GRAFT_CONF so specs never depend on the caller's
  * environment. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.create(4, conf = "")

  /** Runs `body` with `confs` set on the shared session, then restores the
    * prior values (or unsets keys that had none). */
  def withConf[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Smoke-level: every registered query planifies and executes on the sf0.001
  * corpus; exact-value correctness is enforced by the DuckDB oracle harness
  * (scripts/check.py locally, the driver's CORRECTNESS gate in CI).
  */
class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every query name has matching oracle column aliases or none") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("g9 FK premise: every l_suppkey is a supplier") {
    // g9's round-1 min(v) equals the generic mode-label round only when
    // every neighbor has a label row (LabelPropRound1Spec)
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf).select(col("l_suppkey").cast("long").as("k"))
    val sup = Tables.supplier(spark, sf).select(col("s_suppkey").cast("long").as("k"))
    assert(li.count() > 0)
    assert(li.join(sup, Seq("k"), "left_anti").count() == 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }
}
