package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Provider-independence gate for the stateful streaming twins (VERDICT r17
  * item 3): the 100 TB streaming claim rests on bounded state, and at that
  * scale the state store is RocksDB (off-heap/disk-backed), not the default
  * in-memory HDFS-backed provider every other spec runs. Each test replays
  * the identical sf0.01 input through the same stateful pipeline under BOTH
  * providers and asserts the outputs are set-equal and non-empty — so the
  * twins' semantics are proven provider-independent, not just
  * default-provider-tested. StreamBench carries the matching latency /
  * state-size matrix rows (`"state_store":"rocksdb"`).
  */
class RocksDbStateStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's state-store provider set to RocksDB,
    * restoring the previous value after (the provider class is read from
    * the session conf at query start, so the override scopes cleanly).
    */
  private def withRocksDb[T](body: => T): T =
    SparkTestSession.withConf("spark.sql.streaming.stateStore.providerClass" -> RocksDb)(body)

  private def docs: Array[(Long, String)] = {
    import spark.implicits._
    Tables.documents(spark, sf)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
  }

  /** Replay `rows` in 4 ordered micro-batches through `mk`, collecting the
    * append-mode output via a uniquely-named memory sink.
    */
  private def replay[T: org.apache.spark.sql.Encoder, R](
      rows: Array[T], queryName: String)(
      mk: MemoryStream[T] => org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[T]
    val q = mk(input)
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    rows.grouped(math.max(1, (rows.length + 3) / 4)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    spark.table(queryName).collect()
  }

  test("StreamingDedup.run: RocksDB output == default-provider output on sf0.01") {
    import spark.implicits._
    val d = docs
    val base = replay(d, "rx_dedup_mem")(in =>
      StreamingDedup.run(in.toDS().toDF("doc_id", "text")).toDF())
      .map(_.toSeq).toSet
    val rocks = withRocksDb {
      replay(d, "rx_dedup_rdb")(in =>
        StreamingDedup.run(in.toDS().toDF("doc_id", "text")).toDF())
        .map(_.toSeq).toSet
    }
    assert(base.nonEmpty, "no LSH collisions on sf0.01 — differential is vacuous")
    assert(rocks == base,
      s"rocksdb-only=${(rocks -- base).take(3)} default-only=${(base -- rocks).take(3)}")
  }

  test("StreamingSubstringDedup.run: RocksDB output == default-provider output on sf0.01") {
    import spark.implicits._
    val d = docs
    val base = replay(d, "rx_sub_mem")(in =>
      StreamingSubstringDedup.run(in.toDS().toDF("doc_id", "text")).toDF())
      .map(_.toSeq).toSet
    val rocks = withRocksDb {
      replay(d, "rx_sub_rdb")(in =>
        StreamingSubstringDedup.run(in.toDS().toDF("doc_id", "text")).toDF())
        .map(_.toSeq).toSet
    }
    assert(base.nonEmpty, "no duplicated grams on sf0.01 — differential is vacuous")
    assert(rocks == base,
      s"rocksdb-only=${(rocks -- base).take(3)} default-only=${(base -- rocks).take(3)}")
  }

  test("StreamingSemDedup.run: RocksDB output == default-provider output on sf0.01") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val k = StreamingSemDedup.fitK(
      Tables.embeddings(spark, sf).select(col("vec_id").cast("long"), col("embedding")))
    val base = replay(vecs, "rx_sem_mem")(in =>
      StreamingSemDedup.run(in.toDS().toDF("vec_id", "embedding"), k).toDF())
      .map(_.toSeq).toSet
    val rocks = withRocksDb {
      replay(vecs, "rx_sem_rdb")(in =>
        StreamingSemDedup.run(in.toDS().toDF("vec_id", "embedding"), k).toDF())
        .map(_.toSeq).toSet
    }
    // sf0.01's 500 vectors may or may not produce semantic dups; equality
    // of the full output set (possibly empty on both sides) is still the
    // provider-independence property — but flag vacuity for the log
    if (base.isEmpty) info("semdedup produced no candidates at sf0.01 (equality still checked)")
    assert(rocks == base,
      s"rocksdb-only=${(rocks -- base).take(3)} default-only=${(base -- rocks).take(3)}")
  }
}
