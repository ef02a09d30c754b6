package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.scalatest.funsuite.AnyFunSuite

/** Per-key running maximum on Spark 4's transformWithState — the successor
  * to flatMapGroupsWithState (typed per-key state objects, timers, TTL,
  * RocksDB-backed). Complements StatefulSessionizerSpec, which covers the
  * legacy API: state must carry across micro-batches and keys must be
  * isolated.
  */
class RunningMaxProcessor extends StatefulProcessor[Long, (Long, Double), (Long, Double)] {
  @transient private var maxSeen: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxSeen = getHandle.getValueState[Double]("maxSeen", Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Double)],
      timers: TimerValues
  ): Iterator[(Long, Double)] = {
    val prev = if (maxSeen.exists()) maxSeen.get() else Double.MinValue
    val m = math.max(prev, rows.map(_._2).max)
    maxSeen.update(m)
    Iterator.single((key, m))
  }
}

class TransformWithStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("transformWithState keeps per-key state across micro-batches (RocksDB store)") {
    SparkTestSession.withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      import spark.implicits._
      implicit val sql = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

      val input = MemoryStream[(Long, Double)]
      val out = input.toDS()
        .groupByKey(_._1)
        .transformWithState(new RunningMaxProcessor, TimeMode.None(), OutputMode.Update())

      val q = out.writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()

      input.addData((1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 3.0), (2L, 7.0)) // key 1 must REMEMBER 5.0 > 3.0
      q.processAllAvailable()
      q.stop()

      val rows = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      // update-mode emissions per batch: batch1 (1->5, 2->1), batch2 (1->5, 2->7)
      assert(rows.toSet == Set((1L, 5.0), (2L, 1.0), (2L, 7.0)))
      assert(rows.count(_ == ((1L, 5.0))) == 2, s"state lost across batches: ${rows.toSeq}")
    }
  }
}
