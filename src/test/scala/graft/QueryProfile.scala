package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Dev tool: where the time of registered queries goes, under the session
  * Bench measures (GraftSession, SPARK_GRAFT_CPUS cores, SPARK_GRAFT_CONF).
  *
  *   sbt "Test/runMain graft.QueryProfile <sfDir> <query>[,<query>...] [reps]"
  *
  * After a session warm-up (page cache, shuffle machinery, generic codegen
  * paths — what remains per query is its own cost), each query runs `reps`
  * times (default 3), each rep on a fresh DataFrame whose physical plan is
  * forced before it executes. Per query it prints
  *   - plan_ms: rep 1's construction + analysis + optimization + physical
  *     planning;
  *   - first_ms: rep 1's execution (carries the query's codegen/JIT);
  *   - steady_ms: the fastest later rep, construction through execution
  *     (what one Bench sample measures);
  *   - stagewall_ms: the summed walls of every stage of that same rep,
  *     including stages that ran while it planned (eager checkpoints), so
  *     steady_ms − stagewall_ms is its driver-side planning + scheduling;
  * then the stages of that rep — task count, executor run time, wall
  * between submission and completion — the view `.explain` can't give.
  * `PROFILE_EXPLAIN=1` adds that rep's executed plan.
  */
object QueryProfile {
  private case class St(name: String, tasks: Int, runMs: Long, wallMs: Long,
      gcMs: Long, wtMs: Long, fwMs: Long, desMs: Long,
      inRec: Long, sRead: Long, sWrite: Long)
  private case class Rep(df: DataFrame, planMs: Double, execMs: Double, stages: List[St]) {
    def ms: Double = planMs + execMs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 2, "reps >= 2: rep 1 gives first_ms, the later reps steady_ms")
    val spark = GraftSession.create()

    // appended from the listener-bus thread, cleared/read from main: every
    // access synchronizes on the buffer, and each rep drains the bus
    // (GraftShims.waitListenerBusEmpty) BEFORE reading — stage-completed
    // events land after the action's driver-side return, so an unfenced
    // read sees a truncated (or concurrently growing) table (ADVICE r16)
    val stages = mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L)
        val m = i.taskMetrics
        val st = St(i.name.takeWhile(_ != '\n'), i.numTasks,
          m.executorRunTime, wall, m.jvmGCTime,
          m.shuffleWriteMetrics.writeTime / 1000000,
          m.shuffleReadMetrics.fetchWaitTime, m.executorDeserializeTime,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)
        stages.synchronized { stages += st }
      }
    })

    Tables.lineitem(spark, sfDir).count()
    Tables.orders(spark, sfDir).count()
    spark.range(1000).groupBy((col("id") % 7).as("k")).count().collect()

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      val runs = (1 to reps).map { r =>
        stages.synchronized { stages.clear() }
        val t0 = System.nanoTime()
        val df = q(spark, sfDir)
        df.queryExecution.executedPlan
        val planMs = ms(t0)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        val execMs = ms(t1)
        org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
        val rep = Rep(df, planMs, execMs, stages.synchronized(stages.toList))
        println(f"[profile] $name rep $r: plan $planMs%.0f ms, exec $execMs%.0f ms, ${rep.stages.size} stages")
        rep
      }
      val steady = runs.tail.minBy(_.ms)
      println(f"[profile] ${"query"}%-28s ${"plan_ms"}%8s ${"first_ms"}%9s ${"steady_ms"}%10s ${"stagewall_ms"}%12s")
      println(f"[profile] $name%-28s ${runs.head.planMs}%8.0f ${runs.head.execMs}%9.0f ${steady.ms}%10.0f ${steady.stages.map(_.wallMs max 0L).sum}%12d")
      println(f"[profile] steady-rep stages (executor-run-ms desc):")
      steady.stages.sortBy(-_.runMs).foreach { s =>
        println(f"[profile]   run=${s.runMs}%6d ms  wall=${s.wallMs}%6d ms  gc=${s.gcMs}%5d  wt=${s.wtMs}%5d  fw=${s.fwMs}%5d  des=${s.desMs}%5d  tasks=${s.tasks}%3d  in=${s.inRec}%8d  sr=${s.sRead}%8d  sw=${s.sWrite}%8d  ${s.name}")
      }
      if (sys.env.contains("PROFILE_EXPLAIN"))
        println(steady.df.queryExecution.executedPlan.toString.linesIterator
          .map("[plan] " + _).mkString("\n"))
    }
    spark.stop()
  }
}
