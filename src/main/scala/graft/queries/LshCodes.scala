package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH codes shared by the dedup (d28/d29/d32/d33) and
  * similarity (s20–s24) packs, with their DuckDB twins.
  *
  * Two code families: the PINNED wide code (4 tables × 12 planes, plane
  * offsets t*12, `VectorOps.lshBucketAt`) and the CORPUS-ADAPTIVE code
  * (4 tables × k planes, offsets t*20 so the tables' plane sets stay
  * disjoint at the max width, the compiled `lshBucketDyn` kernel), where
  * k = len(bin(ceil(n/8))) clamped to [4,16] is derived in-plan from a
  * broadcast count — an INTEGER-EXACT formula both engines evaluate
  * identically (no float log2 at a cell boundary), so per-cell density
  * stays ~8 vectors per table at any corpus size.
  */
private[queries] object LshCodes {

  /** One row `k` from a count over `base` (the index side). */
  def adaptiveK(base: DataFrame): DataFrame =
    base
      .agg(count(lit(1)).as("n"))
      .select(expr("GREATEST(4, LEAST(16, length(bin((n + 7) DIV 8)))) AS k"))

  /** `base`'s columns plus `k`, `nrm` and the adaptive codes `wb0..wb3`;
    * `base` carries `embedding`.
    */
  def withAdaptiveCodes(base: DataFrame, k: DataFrame): DataFrame = {
    import graft.functions.VectorOps.norm
    import graft.functions.VectorExpressions.lshBucketDyn
    base
      .crossJoin(broadcast(k))
      .select(
        (base.columns.toSeq.map(col) ++ Seq(col("k"), norm(col("embedding")).as("nrm"))) ++
          // compiled dynamic-k kernel — bit-identical to the oracle's
          // nested-HOF spelling (same left-to-right plane dots), one
          // tight loop instead of a 64-element array per plane per row
          (0 until 4).map(t => lshBucketDyn(col("embedding"), col("k"), t * 20).as(s"wb$t")): _*)
  }

  /** Index entries of the adaptive code: one `(tbl, bucket)` per table. */
  def adaptiveIdxCells: Column = expr((0 until 4)
    .map(t => s"named_struct('tbl', $t, 'bucket', wb$t)")
    .mkString("array(", ", ", ")"))

  /** Probes of the adaptive code: the exact cell plus its k Hamming-1
    * neighbours, per table (k+1 probes/table, growing only as log2 n).
    */
  def adaptiveProbeCells: Column = expr((0 until 4)
    .map(t => s"""transform(sequence(0, k), p -> named_struct('tbl', $t,
       |  'bucket', CASE WHEN p = 0 THEN wb$t
       |            ELSE wb$t ^ shiftleft(CAST(1 AS BIGINT), p - 1) END))""".stripMargin)
    .mkString("concat(", ", ", ")"))

  /** SQL plane dot j of `emb` (DuckDB twin of `VectorOps.lshBucketAt`'s planes). */
  private def planeSql(j: Int): String =
    s"list_sum(list_transform(emb, (x, i) -> CAST(x AS DOUBLE) * (((($j*64 + (i-1)) * 2654435761) % 1000000007) / 1000000000.0 - 0.5)))"

  /** SQL k-plane code at plane `offset` (twin of `lshBucketAt(emb, k, offset)`). */
  def bucketAtSql(k: Int, offset: Int): String = (0 until k)
    .map(b => s"CASE WHEN ${planeSql(offset + b)} > 0 THEN ${1L << b} ELSE 0 END")
    .mkString(" + ")

  /** SQL columns of the pinned wide code, named `<prefix>0..3`. */
  def pinnedColsSql(prefix: String): Seq[String] =
    (0 until 4).map(t => s"CAST(${bucketAtSql(12, t * 12)} AS BIGINT) AS $prefix$t")

  /** SQL `VALUES` rows `(tbl, mask)` of the pinned code's Hamming-1 probes. */
  val pinnedProbeRows: String = (for { t <- 0 until 4; m <- 0L +: (0 until 12).map(b => 1L << b) }
    yield s"($t,$m)").mkString(",")

  /** SQL columns of the adaptive code over `emb` and the runtime `k`,
    * named `<prefix>0..3`.
    */
  def adaptiveColsSql(prefix: String): Seq[String] = (0 until 4).map { t =>
    val j = s"((${t * 20} + b) * 64 + (i - 1))"
    s"""CAST(list_sum(list_transform(generate_series(0, k - 1), b ->
       |    CASE WHEN list_sum(list_transform(emb, (x, i) ->
       |        CAST(x AS DOUBLE) * ((($j * 2654435761) % 1000000007) / 1000000000.0 - 0.5))) > 0
       |      THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS $prefix$t""".stripMargin
  }

  /** CTE `kk(k)`: twin of [[adaptiveK]] over `from` (a table plus optional WHERE). */
  def adaptiveKSql(from: String): String =
    s"""kk AS (
       |  SELECT GREATEST(4, LEAST(16, length(bin((COUNT(*) + 7) // 8)))) AS k
       |  FROM $from)""".stripMargin

  /** Probe rows of the adaptive code over CTE `e`: the exact cell of table
    * `t.tbl` when `pp.p = 0`, else its (p-1)th-bit Hamming-1 neighbour.
    */
  def adaptiveProbeSql(tcase: String): String =
    s"""CASE WHEN pp.p = 0 THEN $tcase
       |         ELSE xor($tcase, CAST(1 AS BIGINT) << (pp.p - 1)) END""".stripMargin

  /** FROM list crossing CTE alias `e` with the four tables and k+1 probes. */
  def adaptiveProbeFromSql(e: String): String =
    s"""FROM $e, (SELECT unnest([0,1,2,3]) AS tbl) t,
       |       (SELECT unnest(generate_series(0, (SELECT k FROM kk))) AS p) pp""".stripMargin
}
