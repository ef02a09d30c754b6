package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized differential for g9's round-1 specialization (r20): with
  * identity initial labels and a DISTINCT (u, v) adjacency, the generic
  * mode-label update (count per (u, lbl) desc, lbl asc tiebreak) degenerates
  * to min(v) per u — every (u, lbl) count is exactly 1, so the argmax is the
  * smallest label. The query path ships the min(v) form for round 1 (one
  * map-reducible aggregate instead of a no-reduction (u, lbl) exchange); the
  * oracle keeps the generic two-round SQL, and this spec pins the algebra on
  * synthetic graphs with isolated nodes. The specialization also needs every
  * neighbor v to carry a label: the generic round's inner join drops an
  * unlabeled neighbor, min(v) counts it. g9 gets that from the FK premise
  * l_suppkey ⊆ s_suppkey, which QueriesSpec checks on the test corpus.
  */
class LabelPropRound1Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The generic round from GraphPack.g9: mode label among neighbors,
    * ties broken by the smallest label; nodes with no neighbors keep theirs.
    */
  private def genericRound(lab: DataFrame, adj: DataFrame): DataFrame = {
    val best = adj
      .join(lab.select(col("node").as("v"), col("lbl")), Seq("v"))
      .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("u"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
      .select(col("u").as("node"), col("m.l").as("nlbl"))
    lab.join(best, Seq("node"), "left")
      .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
  }

  private def specializedRound1(lab0: DataFrame, adj: DataFrame): DataFrame = {
    val best1 = adj.groupBy(col("u"))
      .agg(min(col("v")).as("nlbl"))
      .select(col("u").as("node"), col("nlbl"))
    lab0.join(best1, Seq("node"), "left")
      .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
  }

  test("round 1 with identity labels == min(v) on random distinct adjacencies") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      // random undirected edge set; keep it sparse so isolated nodes exist
      val undirected = (1 to n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      // both directions, distinct — exactly the g9 adjacency construction
      val adj = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.toDF("u", "v")
      val lab0 = (0L until n.toLong).toDF("node").withColumn("lbl", col("node"))
      val want = genericRound(lab0, adj)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      val got = specializedRound1(lab0, adj)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.sameElements(want), s"trial $trial: ${got.zip(want).filter(p => p._1 != p._2).take(3).mkString(",")}")
    }
  }

  test("FK premise: a neighbor absent from lab0 makes the two rounds differ") {
    // node 1's neighbors are 0 (no label row) and 2: the generic round only
    // sees neighbor 2's label, min(v) picks the unlabeled 0
    val adj = Seq((1L, 0L), (1L, 2L), (2L, 1L)).toDF("u", "v")
    val lab0 = Seq(1L, 2L).toDF("node").withColumn("lbl", col("node"))
    def labelOf1(df: DataFrame): Long = df.filter(col("node") === 1L).head().getLong(1)
    assert(labelOf1(genericRound(lab0, adj)) == 2L)
    assert(labelOf1(specializedRound1(lab0, adj)) == 0L)
  }

  test("specialization premise fails under NON-identity labels (guard)") {
    // documents WHY round 2 must keep the generic form: once two neighbors
    // share a label the count matters and min(v) is no longer the argmax
    val adj = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("u", "v")
    // labels after some propagation: nodes 3 and 4 share label 9; node 2 has 0
    val lab = Seq((1L, 1L), (2L, 0L), (3L, 9L), (4L, 9L)).toDF("node", "lbl")
    val generic = genericRound(lab, adj).filter(col("node") === 1L)
      .collect().head.getLong(1)
    assert(generic == 9L) // mode label wins, not the minimum neighbor id
  }
}
