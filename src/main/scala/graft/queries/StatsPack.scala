package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps.tokens
import graft.ops.Salting

/** Statistical + skew-tooling coverage: exact interpolated percentiles,
  * deterministic sketches (KMV distinct + fixed-grid quantile — chosen over
  * HLL/KLL precisely because their retained state is a pure function of the
  * input set, so the oracle can hash-match them exactly), and the salted-join
  * utility proven equivalent to the plain join via the oracle.
  */
object StatsPack extends QueryPack {

  /** x35/x36: JOIN-CARDINALITY ESTIMATION from Count-Min sketches (Cormode &
    * Muthukrishnan's inner-product estimator): |A join B on key| =
    * sum_k fA(k)*fB(k), estimated as min over hash rows of the cellwise
    * product sum of the two sides' CMS. The planning primitive a 100 TB
    * optimizer wants — estimate a join's output size between two FILTERED
    * relations (where static NDV stats go stale) by shuffling
    * O(depth x width) cells per side instead of running the join. The WIDTH
    * is derived IN-PLAN from a broadcast distinct-key count (the d29/s22
    * adaptive-key-space rule): the estimator's collision mass is
    * ~|A||B|/width, so width must track key cardinality, not a pinned
    * constant — here the next power of two >= 4x distinct keys (clamped at
    * 2^24), which bounds the overestimate at ~25% of the full inner product
    * while the cells stay O(1) vs the corpus. One-sided like every CMS read:
    * est >= exact always (collision mass only adds). All integer,
    * hash-certified. x35 reports the estimate beside the side sizes;
    * `certify` (x36) instead reports the exact join cardinality via per-key
    * frequency products — carrying the key-grouped join by construction —
    * and the deterministic one-sided check est >= exact.
    */
  private def cmsJoinSize(s: SparkSession, d: String, certify: Boolean): DataFrame = {
    import graft.ops.CmsSketch
    val P = CmsSketch.P
    val li = Tables.lineitem(s, d)
    val wRow = li.agg(countDistinct(col("l_partkey")).as("nd"))
      .select(expr(
        "shiftleft(CAST(1 AS BIGINT), least(length(bin(greatest(4 * nd - 1, 1))), 24))")
        .as("w"))
    def keyed(f: DataFrame) =
      f.select(((lit(2654435761L) * col("l_partkey") + lit(12345L)) % P).as("h"))
        .crossJoin(broadcast(wRow))
    val a = li.filter(col("l_returnflag") === "R")
    val b = li.filter(col("l_quantity") >= 30)
    val sa = CmsSketch.counts(CmsSketch.bucketizeDyn(keyed(a), col("h"), col("w")))
      .withColumnRenamed("cnt", "ca")
    val sb = CmsSketch.counts(CmsSketch.bucketizeDyn(keyed(b), col("h"), col("w")))
      .withColumnRenamed("cnt", "cb")
    val prod = sa.join(sb, Seq("row_i", "bucket"))
      .groupBy(col("row_i")).agg(sum(col("ca") * col("cb")).as("est_i"))
    // every hash row must vote even when the sides share no cells
    // (an absent row's product sum is 0, and min must see it)
    val spec = s.range(0, CmsSketch.DefaultDepth)
      .select(col("id").cast("int").as("row_i"))
    val est = spec.join(prod, Seq("row_i"), "left_outer")
      .select(coalesce(col("est_i"), lit(0L)).as("est_i"))
      .agg(min(col("est_i")).as("est_join"))
    if (certify) {
      val exact = a.groupBy(col("l_partkey")).agg(count(lit(1)).as("fa"))
        .join(b.groupBy(col("l_partkey")).agg(count(lit(1)).as("fb")), Seq("l_partkey"))
        .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_join"))
      est.crossJoin(broadcast(exact))
        .select(col("est_join"), col("exact_join"),
          (col("est_join") - col("exact_join")).as("overest"),
          (col("est_join") >= col("exact_join")).as("ge_ok"))
    } else {
      val na = a.agg(count(lit(1)).as("n_a"))
      val nb = b.agg(count(lit(1)).as("n_b"))
      est.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(col("est_join"), col("n_a"), col("n_b"))
    }
  }

  /** DuckDB twin of [[cmsJoinSize]]. */
  private def cmsJoinSizeSql(certify: Boolean): String = {
    val sketch = s"""WITH v(row_i, m, c) AS (VALUES ${graft.ops.CmsSketch.rowSpecSql()}),
       |wv AS (SELECT (CAST(1 AS BIGINT) << least(length(bin(greatest(4 * COUNT(DISTINCT l_partkey) - 1, 1))), 24)) AS w
       |  FROM lineitem),
       |ha AS (SELECT (2654435761 * l_partkey + 12345) % 1000000007 AS h
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |hb AS (SELECT (2654435761 * l_partkey + 12345) % 1000000007 AS h
       |  FROM lineitem WHERE l_quantity >= 30),
       |ca AS (SELECT row_i, ((m * h + c) % 1000000007) % w AS bucket, COUNT(*) AS ca
       |  FROM ha CROSS JOIN v CROSS JOIN wv GROUP BY 1, 2),
       |cb AS (SELECT row_i, ((m * h + c) % 1000000007) % w AS bucket, COUNT(*) AS cb
       |  FROM hb CROSS JOIN v CROSS JOIN wv GROUP BY 1, 2),
       |j AS (SELECT ca.row_i AS row_i, ca.ca * cb.cb AS p
       |  FROM ca JOIN cb ON ca.row_i = cb.row_i AND ca.bucket = cb.bucket),
       |pr AS (SELECT v2.row_i, CAST(COALESCE(SUM(p), 0) AS BIGINT) AS est_i
       |  FROM (SELECT DISTINCT row_i FROM v) v2 LEFT JOIN j ON v2.row_i = j.row_i
       |  GROUP BY v2.row_i)""".stripMargin
    if (certify)
      sketch + """,
        |xa AS (SELECT l_partkey, COUNT(*) AS fa FROM lineitem
        |  WHERE l_returnflag = 'R' GROUP BY 1),
        |xb AS (SELECT l_partkey, COUNT(*) AS fb FROM lineitem
        |  WHERE l_quantity >= 30 GROUP BY 1),
        |ex AS (SELECT CAST(COALESCE(SUM(fa * fb), 0) AS BIGINT) AS exact_join
        |  FROM xa JOIN xb USING (l_partkey))
        |SELECT (SELECT MIN(est_i) FROM pr) AS est_join,
        |  exact_join,
        |  (SELECT MIN(est_i) FROM pr) - exact_join AS overest,
        |  (SELECT MIN(est_i) FROM pr) >= exact_join AS ge_ok
        |FROM ex""".stripMargin
    else
      sketch + """
        |SELECT (SELECT MIN(est_i) FROM pr) AS est_join,
        |  (SELECT COUNT(*) FROM ha) AS n_a,
        |  (SELECT COUNT(*) FROM hb) AS n_b""".stripMargin
  }

  /** x38/x39's AMS key: the l_orderkey hash the sketch rows sign. */
  private def amsKeyed(li: DataFrame): DataFrame =
    li.select(((lit(2654435761L) * col("l_orderkey") + lit(12345L)) % graft.ops.AmsSketch.P).as("h"))

  /** DuckDB twin of the AMS sketch over [[amsKeyed]]: CTEs through
    * `g(grp, gs)`, the four median-of-means group sums of Z_i^2.
    */
  private val amsGroupsSql: String =
    s"""WITH v(row_i, a, b, c, d) AS (VALUES ${graft.ops.AmsSketch.rowSpecSql()}),
       |hk AS (SELECT (2654435761 * l_orderkey + 12345) % 1000000007 AS t FROM lineitem),
       |mx AS (SELECT ${graft.ops.AmsSketch.mixSql("t")} AS h FROM hk),
       |hp AS (SELECT h, (h * h) % 1000000007 AS h2,
       |    (((h * h) % 1000000007) * h) % 1000000007 AS h3 FROM mx),
       |z AS (SELECT row_i, CAST(SUM(1 - 2 * (((a * h3 + b * h2 + c * h + d) % 1000000007) % 2)) AS BIGINT) AS z
       |  FROM hp CROSS JOIN v GROUP BY 1),
       |g AS (SELECT row_i // 4 AS grp, CAST(SUM(z * z) AS BIGINT) AS gs FROM z GROUP BY 1)""".stripMargin

  /** x20/x21's value-level R-vs-A price frame `(v, nr_v, n_v)`: rows
    * aggregate to the VALUE level first (ties collapse) and are materialized
    * once — repartitionByRange in the prefix sum that follows executes its
    * input twice (sampling + shuffle write), and this input is the scan plus
    * the value-level aggregate.
    */
  private def returnFlagValues(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(dec(col("l_extendedprice")).as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("is_r"))
      .groupBy(col("v"))
      .agg(sum(col("is_r")).as("nr_v"), count(lit(1)).as("n_v"))
      .localCheckpoint()

  /** DuckDB twin of [[returnFlagValues]]: CTEs `s` and `vals`. */
  private val returnFlagValuesSql: String =
    """WITH s AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      |vals AS (
      |  SELECT v, CAST(SUM(is_r) AS BIGINT) AS nr_v, COUNT(*) AS n_v
      |  FROM s GROUP BY v)""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ---------------------------------------------------------------- salted join
    Q(
      "x1_salted_join",
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
        val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Salting.saltedJoinHot(l, o, Seq("l_orderkey"), nSalts = 8)
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(dec(col("l_extendedprice")) * (lit(1).cast(MoneyDec) - dec(col("l_discount"))))
              .cast("double").as("revenue"),
            count(lit(1)).as("n")
          )
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      doc = "skew-adaptive salted join (hot keys detected EXACTLY by a keys-only " +
        "map-side-combined count, spread over 8 salt buckets; cold keys never " +
        "replicate the build side) — oracle proves it computes exactly the plain join"
    ),
    // ---------------------------------------------------------------- percentiles
    Q(
      "x2_percentiles",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, 0.9)").as("p90_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty")
          )
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS median_qty,
             |  quantile_cont(l_quantity, 0.9) AS p90_qty,
             |  MIN(l_quantity) AS min_qty,
             |  MAX(l_quantity) AS max_qty
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin),
      doc = "exact interpolated percentiles (both engines implement continuous quantile)"
    ),
    // ---------------------------------------------------------------- sketches
    Q(
      "x3_approx_sketches",
      (s, d) => {
        // Deterministic sketches with an EXACT cross-engine oracle (HLL++/KLL
        // internals are engine-private, so they can never be driver-green):
        //  - KMV (k-minimum-values) distinct estimate per returnflag: hash
        //    partkeys onto [0,P) with an arithmetic hash both engines share,
        //    keep the k=64 smallest distinct hashes in a bounded custom
        //    Aggregator (constant memory, merge-order-independent), estimate
        //    D̂ = (k−1)·P DIV kth — integral, bit-stable on both engines.
        //  - Fixed-grid median: equi-width $100 buckets over integer cents
        //    (constant #buckets → constant memory, the histogram-sketch
        //    quantile), answer = lower edge of the first bucket whose
        //    cumulative count reaches ⌈n/2⌉. The cumulative window runs over
        //    BUCKET-level rows (≈1k per group) — bounded at any corpus size.
        import org.apache.spark.sql.expressions.Window
        val P = 1000000007L
        val kK = 64
        val kmv = udaf(new graft.functions.Aggregates.KmvSketch(kK), Encoders.scalaLong)
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag"),
          ((lit(2654435761L) * col("l_partkey") + lit(12345L)) % P).as("h"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 10000").as("b"))
        val kpart = li.groupBy(col("l_returnflag"))
          .agg(kmv(col("h")).as("ret"), count(lit(1)).as("n"))
          .select(
            col("l_returnflag"), col("n"),
            element_at(col("ret"), size(col("ret"))).as("kmv_kth"),
            expr(s"CASE WHEN size(ret) < $kK THEN CAST(size(ret) AS BIGINT) " +
              s"ELSE ${(kK - 1).toLong * P} DIV element_at(ret, size(ret)) END").as("kmv_est"))
        val bc = li.groupBy(col("l_returnflag"), col("b")).agg(count(lit(1)).as("cnt"))
        val cum = bc.withColumn(
          "cum",
          sum(col("cnt")).over(Window.partitionBy(col("l_returnflag")).orderBy(col("b"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val med = cum
          .join(bc.groupBy(col("l_returnflag")).agg(sum(col("cnt")).as("nt")), Seq("l_returnflag"))
          .filter(col("cum") >= expr("(nt + 1) DIV 2"))
          .groupBy(col("l_returnflag"))
          .agg((min(col("b")) * 10000).as("grid_median_cents"))
        kpart.join(med, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("kmv_kth"), col("kmv_est"),
            col("grid_median_cents"), col("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH h AS (
             |  SELECT DISTINCT l_returnflag,
             |    (2654435761 * l_partkey + 12345) % 1000000007 AS h
             |  FROM lineitem),
             |r AS (
             |  SELECT l_returnflag, h,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
             |  FROM h),
             |k AS (
             |  SELECT l_returnflag, CAST(MAX(h) AS BIGINT) AS kmv_kth,
             |    COUNT(*) AS m
             |  FROM r WHERE rn <= 64 GROUP BY l_returnflag),
             |c AS (
             |  SELECT l_returnflag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS b,
             |    COUNT(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2),
             |t AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
             |cum AS (
             |  SELECT l_returnflag, b,
             |    CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY b
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM c),
             |med AS (
             |  SELECT cum.l_returnflag, CAST(MIN(b) * 10000 AS BIGINT) AS grid_median_cents
             |  FROM cum JOIN t USING (l_returnflag)
             |  WHERE cum >= (n + 1) // 2 GROUP BY 1)
             |SELECT k.l_returnflag, kmv_kth,
             |  CAST(CASE WHEN m < 64 THEN m
             |    ELSE (CAST(63 AS BIGINT) * 1000000007) // kmv_kth END AS BIGINT)
             |    AS kmv_est,
             |  grid_median_cents, n
             |FROM k JOIN med USING (l_returnflag) JOIN t USING (l_returnflag)
             |ORDER BY l_returnflag""".stripMargin),
      doc = "deterministic sketches with an exact oracle: KMV k-minimum-values " +
        "distinct estimator (bounded custom Aggregator, k=64 smallest distinct " +
        "hashes, merge-order-independent) + fixed-grid histogram median — the " +
        "constant-memory cardinality/quantile path that stays cross-engine checkable"
    ),
    // ---------------------------------------------------------------- set ops
    Q(
      "x4_intersect_except",
      (s, d) => {
        val c = Tables.customer(s, d)
        val bigSpenders = Tables.orders(s, d)
          .groupBy(col("o_custkey")).agg(dsum(col("o_totalprice")).as("spend"))
          .filter(col("spend") > 400000.0)
          .select(col("o_custkey").as("k"))
        val building = c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val both = building.intersect(bigSpenders).withColumn("set_op", lit("intersect"))
        val onlyBuilding = building.except(bigSpenders).withColumn("set_op", lit("except"))
        both.unionByName(onlyBuilding)
          .groupBy(col("set_op")).agg(count(lit(1)).as("n"))
          .orderBy(col("set_op"))
      },
      Some("""WITH big AS (
             |  SELECT o_custkey AS k FROM orders GROUP BY o_custkey
             |  HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 400000.0),
             |bld AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
             |SELECT set_op, COUNT(*) AS n FROM (
             |  SELECT k, 'intersect' AS set_op FROM (SELECT k FROM bld INTERSECT SELECT k FROM big) i
             |  UNION ALL
             |  SELECT k, 'except' FROM (SELECT k FROM bld EXCEPT SELECT k FROM big) e) u
             |GROUP BY set_op
             |ORDER BY set_op""".stripMargin),
      doc = "INTERSECT / EXCEPT set operations (left-semi/anti under the hood)"
    ),
    // ---------------------------------------------------------------- window suite
    Q(
      "x5_window_suite",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val order = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .filter(col("o_custkey") < 50)
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            lag(col("o_totalprice"), 1).over(order).as("prev_price"),
            lead(col("o_totalprice"), 1).over(order).as("next_price"),
            first(col("o_orderkey")).over(full).as("first_order"),
            last(col("o_orderkey")).over(full).as("last_order"),
            ntile(4).over(order).as("quartile")
          )
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  LEAD(o_totalprice, 1) OVER w AS next_price,
             |  FIRST_VALUE(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
             |  LAST_VALUE(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
             |  NTILE(4) OVER w AS quartile
             |FROM orders
             |WHERE o_custkey < 50
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      doc = "window-function suite: lag/lead/first/last/ntile with explicit frames and " +
        "total ordering"
    ),
    // ---------------------------------------------------------------- grouping sets
    Q(
      "x6_grouping_sets",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(GroupingSetsSql)
      },
      Some(GroupingSetsSql),
      doc = "arbitrary GROUPING SETS (beyond rollup/cube): two independent 1-D cuts " +
        "plus the grand total in ONE pass — Catalyst expands to a single Expand+Agg, " +
        "not three scans; same SQL text runs on both engines"
    ),
    // ---------------------------------------------------------------- rank suite
    Q(
      "x7_rank_suite",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byPrice = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
        val rng = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
          .rangeBetween(-10, 0)
        Tables.orders(s, d)
          .filter(col("o_custkey") < 50)
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            rank().over(byPrice).as("rnk"),
            dense_rank().over(byPrice).as("drnk"),
            percent_rank().over(byPrice).as("prnk"),
            cume_dist().over(byPrice).as("cumed"),
            sum(dec(col("o_totalprice"))).over(rng).cast("double").as("range_sum")
          )
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  RANK() OVER wp AS rnk,
             |  DENSE_RANK() OVER wp AS drnk,
             |  PERCENT_RANK() OVER wp AS prnk,
             |  CUME_DIST() OVER wp AS cumed,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderkey
             |    RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum
             |FROM orders
             |WHERE o_custkey < 50
             |WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_totalprice)
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      doc = "rank/dense_rank/percent_rank/cume_dist + a RANGE-frame running sum " +
        "(value-based frame, not row-based) — tie semantics must match the oracle"
    ),
    // ---------------------------------------------------------------- cube
    Q(
      "x8_cube",
      (s, d) =>
        Tables.orders(s, d)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total"),
            grouping(col("o_orderstatus")).as("g_st"),
            grouping(col("o_orderpriority")).as("g_pr")
          )
          .select(
            when(col("g_st") === 1, lit("ALL")).otherwise(col("o_orderstatus")).as("status"),
            when(col("g_pr") === 1, lit("ALL")).otherwise(col("o_orderpriority")).as("priority"),
            col("n"),
            col("total")
          )
          .orderBy(col("status"), col("priority")),
      Some("""SELECT
             |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
             |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin),
      doc = "full CUBE (all 4 grouping sets in one Expand+Agg pass) — completes the " +
        "rollup (q12) / grouping-sets (x6) family"
    ),
    // ---------------------------------------------------------------- unpivot
    Q(
      "x9_unpivot",
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_partkey") <= 200)
          .select(col("p_partkey"),
            col("p_size").cast("double").as("size"),
            col("p_retailprice").as("retailprice"))
          .unpivot(
            Array(col("p_partkey")),
            Array(col("size"), col("retailprice")),
            "measure",
            "value"
          )
          .orderBy(col("p_partkey"), col("measure")),
      Some("""SELECT p_partkey, measure, value FROM (
             |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, p_retailprice AS retailprice
             |  FROM part WHERE p_partkey <= 200)
             |UNPIVOT (value FOR measure IN (size, retailprice))
             |ORDER BY p_partkey, measure""".stripMargin),
      doc = "UNPIVOT/melt (the inverse of e7's pivot): wide measures to long " +
        "(key, measure, value) rows — a narrow Expand, no shuffle"
    ),
    // ---------------------------------------------------------------- array HOFs
    Q(
      "x10_array_hof",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            size(filter(toks, t => length(t) > 5)).as("n_long_tokens"),
            exists(toks, t => t.startsWith("z")).as("has_z_token"),
            aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_chars"),
            array_max(transform(toks, t => length(t))).as("max_token_len")
          )
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  len(list_filter(toks, t -> len(t) > 5)) AS n_long_tokens,
             |  list_bool_or(list_transform(toks, t -> starts_with(t, 'z'))) AS has_z_token,
             |  CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS total_chars,
             |  list_max(list_transform(toks, t -> len(t))) AS max_token_len
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |ORDER BY doc_id""".stripMargin),
      doc = "higher-order array functions (filter / exists / aggregate / transform) " +
        "against DuckDB list lambdas — per-row, no shuffle, stays in codegen"
    ),
    // ---------------------------------------------------------------- array set ops
    Q(
      "x11_array_setops",
      (s, d) => {
        import graft.functions.TextOps.tokens
        val a = array_distinct(tokens(col("text")))
        val ref = array(Seq("the", "a", "join", "fast").map(lit): _*)
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            // joined to strings: engine-neutral scalar output (the oracle
            // compare frame treats list cells as opaque arrays)
            array_join(array_sort(array_union(a, ref)), ",").as("union_sorted"),
            array_join(array_sort(array_intersect(a, ref)), ",").as("inter_sorted"),
            array_join(array_sort(array_except(a, ref)), ",").as("except_sorted"),
            size(flatten(array(a, ref))).cast("long").as("flat_len"),
            array_position(tokens(col("text")), "the").as("first_the")
          )
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  COALESCE(array_to_string(list_sort(list_distinct(list_concat(toks_d, ['the','a','join','fast']))), ','), '') AS union_sorted,
             |  COALESCE(array_to_string(list_sort(list_intersect(toks_d, ['the','a','join','fast'])), ','), '') AS inter_sorted,
             |  COALESCE(array_to_string(list_sort(list_filter(toks_d, x -> NOT list_contains(['the','a','join','fast'], x))), ','), '') AS except_sorted,
             |  CAST(len(toks_d) + 4 AS BIGINT) AS flat_len,
             |  CAST(COALESCE(list_position(toks, 'the'), 0) AS BIGINT) AS first_the
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks,
             |             list_distinct(string_split(text, ' ')) AS toks_d
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin),
      doc = "array set algebra (union / intersect / except, sorted for engine-neutral " +
        "order) + flatten + first-occurrence position — per-row, no shuffle"
    ),
    // ---------------------------------------------------------------- manual corr
    Q(
      "x12_corr_manual",
      (s, d) => {
        // Pearson correlation from EXACT decimal moment sums: built-in corr()
        // accumulates doubles in partition order (not reproducible across
        // engines/partitionings); the five moments below are exact decimals,
        // so the final double arithmetic is one deterministic expression.
        val q = dec(col("l_quantity"))
        val p = dec(col("l_extendedprice"))
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(q).cast("double").as("sx"),
            sum(p).cast("double").as("sy"),
            sum(q * q).cast("double").as("sxx"),
            sum(p * p).cast("double").as("syy"),
            sum(q * p).cast("double").as("sxy")
          )
          .select(
            col("l_returnflag"),
            col("n").cast("long").as("n"),
            quant(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                  (col("n") * col("syy") - col("sy") * col("sy"))),
              1e6
            ).as("corr_qty_price")
          )
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             |  floor((n * sxy - sx * sy) /
             |        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000) / 1000000 AS corr_qty_price
             |FROM (
             |  SELECT l_returnflag,
             |    CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
             |  FROM lineitem
             |  GROUP BY l_returnflag) m
             |ORDER BY l_returnflag""".stripMargin),
      doc = "Pearson correlation via exact decimal moment sums — order-independent " +
        "partial aggregation, one deterministic double expression at the end " +
        "(built-in corr() is partition-order-sensitive and never oracle-exact)"
    ),
    // ---------------------------------------------------------------- ALL set ops
    Q(
      "x13_setops_all",
      (s, d) => {
        // bag semantics: INTERSECT ALL keeps min(multiplicity), EXCEPT ALL
        // subtracts multiplicities — the dedup-aware reconciliation between
        // two event streams
        val ev = Tables.events(s, d)
        val a = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"))
        val b = ev.filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id"))
        a.intersectAll(b).withColumn("set_op", lit("intersect_all"))
          .unionByName(a.exceptAll(b).withColumn("set_op", lit("except_all")))
          .groupBy(col("set_op")).agg(count(lit(1)).as("n"))
          .orderBy(col("set_op"))
      },
      Some("""WITH a AS (SELECT user_id FROM events WHERE event_type IN ('click','view')),
             |b AS (SELECT user_id FROM events WHERE event_type IN ('view','purchase'))
             |SELECT set_op, COUNT(*) AS n FROM (
             |  SELECT user_id, 'intersect_all' AS set_op FROM (
             |    SELECT user_id FROM a INTERSECT ALL SELECT user_id FROM b) i
             |  UNION ALL
             |  SELECT user_id, 'except_all' FROM (
             |    SELECT user_id FROM a EXCEPT ALL SELECT user_id FROM b) e) u
             |GROUP BY set_op
             |ORDER BY set_op""".stripMargin),
      doc = "INTERSECT ALL / EXCEPT ALL bag semantics (multiplicity-aware, planned as " +
        "count-compare aggregates + generate, not row-by-row)"
    ),
    // ---------------------------------------------------------------- value windows
    Q(
      "x14_value_windows",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .select(
            col("event_id"),
            col("user_id"),
            first(col("event_type")).over(full).as("first_type"),
            last(col("event_type")).over(full).as("last_type"),
            nth_value(col("event_type"), 2).over(full).as("second_type")
          )
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |  first_value(event_type) OVER w AS first_type,
             |  last_value(event_type) OVER w AS last_type,
             |  nth_value(event_type, 2) OVER w AS second_type
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY event_id""".stripMargin),
      doc = "first_value / last_value / nth_value over a full-partition ROWS frame — " +
        "deterministic tie order via (ts, event_id)"
    ),
    // ---------------------------------------------------------------- ntile
    Q(
      "x15_ntile_quartiles",
      (s, d) => {
        // equi-depth quartile assignment per group (ntile) rolled up to a
        // per-tile distribution profile — the windowed complement of x2's
        // exact percentiles. Tie order pinned by the unique line key so
        // tile boundaries are engine-reproducible.
        //
        // NOT Window.partitionBy(l_returnflag): the grouping column has 3
        // distinct values, so a grouped window sorts the whole table in 3
        // tasks regardless of cluster size. GlobalOrder.withGroupedRowNumber
        // range-spreads each group over many partitions (P-way parallel
        // sort + broadcast prefix offsets) and NTILE(4) is then pure
        // arithmetic on (rank, group count): with q = n DIV 4 and r = n % 4,
        // the first r tiles hold q+1 rows — identical to the window ntile.
        //
        // r19 (guide §2.3, aggregate before you shuffle): the tile sort key
        // is l_quantity, whose VALUE DOMAIN is tiny relative to the corpus
        // (50 distinct at every SF — it never grows with N), and every
        // output aggregate (n, sum/min/max of the quantity itself) is
        // computable from a value-run's overlap with each tile's rank
        // interval: rows tied on quantity are interchangeable, so how ntile
        // splits a tie run across a boundary cannot change any output cell.
        // Rows therefore collapse to (group, value, count) FIRST — one
        // map-side-combined aggregate — and GlobalOrder's range shuffle
        // carries the value frame (|flag|×|quantity domain| rows at ANY
        // corpus size), not every row with two tiebreak columns. Tile t
        // spans global ranks (lo, hi] with lo = (t-1)·q + min(t-1, r) and
        // hi = lo + q + (t<=r); a value run occupying (c0, c1] contributes
        // k = max(0, min(hi, c1) - max(lo, c0)) rows to tile t — identical
        // to the per-row window ntile, which the DuckDB oracle keeps as a
        // cross-formulation differential.
        val vals = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"))
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("cnt"))
        graft.ops.GlobalOrder.withGroupedRunningSum(
            vals, "c1", "grp_n", col("cnt"),
            Seq("l_returnflag"), Seq(col("l_quantity")))
          .select(col("l_returnflag"), col("l_quantity"), col("cnt"),
            (col("c1") - col("cnt")).as("c0"), col("c1"), col("grp_n"),
            explode(expr("sequence(CAST(1 AS BIGINT), CAST(4 AS BIGINT))")).as("tile"))
          .withColumn("lo", expr(
            "(tile - 1) * (grp_n DIV 4) + least(tile - 1, grp_n % 4)"))
          .withColumn("hi", expr(
            "lo + (grp_n DIV 4) + IF(tile <= grp_n % 4, CAST(1 AS BIGINT), CAST(0 AS BIGINT))"))
          .withColumn("k", expr("greatest(CAST(0 AS BIGINT), least(hi, c1) - greatest(lo, c0))"))
          .filter(col("k") > 0)
          .groupBy(col("l_returnflag"), col("tile"))
          .agg(
            sum(col("k")).as("n"),
            sum(dec(col("l_quantity")) * col("k")).cast("double").as("sum_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty")
          )
          .orderBy(col("l_returnflag"), col("tile"))
      },
      Some("""SELECT l_returnflag, tile, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity,
             |    ntile(4) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS tile
             |  FROM lineitem) t
             |GROUP BY l_returnflag, tile
             |ORDER BY l_returnflag, tile""".stripMargin),
      doc = "ntile equi-depth quartiles per group + distribution profile — " +
        "value-level formulation (rows collapse to (group, value, count) " +
        "before the prefix pass; tile splits are rank-interval overlaps, " +
        "exact for any tie order), no 3-task grouped window, no per-row " +
        "range shuffle"
    ),
    // ---------------------------------------------------------------- robust z
    Q(
      "x16_robust_zscore",
      (s, d) => {
        // robust outlier detection: median + MAD (median absolute deviation)
        // per group, then count points with |x − median| > 3·MAD. Unlike
        // mean/stddev, median/MAD don't blow up under the very outliers
        // they're meant to find. Two exact-percentile aggregates (x2 proved
        // the interpolation parity) + broadcast joins of the tiny per-group
        // stats back into the scan.
        val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
        val med = li.groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
        val dev = li.join(broadcast(med), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("med"),
            abs(col("l_extendedprice") - col("med")).as("ad"),
            col("l_extendedprice"))
        val mad = dev.groupBy(col("l_returnflag"))
          .agg(expr("percentile(ad, 0.5)").as("mad"))
        dev
          .join(broadcast(mad), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            // min, not first: the value is constant within the group (joined
            // from one row per key), but first() is merge-order-dependent by
            // contract — the same latent flake class f9 hit
            min(col("med")).as("median_price"),
            min(col("mad")).as("mad_price"),
            sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers")
          )
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH med AS (
             |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
             |  FROM lineitem GROUP BY l_returnflag),
             |dev AS (
             |  SELECT l.l_returnflag, med, abs(l_extendedprice - med) AS ad
             |  FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag),
             |mad AS (
             |  SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
             |  FROM dev GROUP BY l_returnflag)
             |SELECT dev.l_returnflag, COUNT(*) AS n,
             |  MIN(med) AS median_price, MIN(mad.mad) AS mad_price,
             |  CAST(SUM(CASE WHEN ad > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev JOIN mad ON dev.l_returnflag = mad.l_returnflag
             |GROUP BY dev.l_returnflag
             |ORDER BY dev.l_returnflag""".stripMargin),
      doc = "median + MAD robust z-score outlier count per group — resistant to the " +
        "outliers themselves, exact interpolated percentiles on both engines; BASELINE RUNG (COVERAGE.md registry) — production path at scale: x31_robust_zscore_dist"
    ),
    // ---------------------------------------------------------------- weighted median
    Q(
      "x17_weighted_median",
      (s, d) => {
        // exact weighted median: the smallest price whose cumulative
        // quantity weight reaches half the group total. The cumulative
        // weight comes from GlobalOrder.withGroupedRunningSum — a range
        // shuffle spreads each 3-value group across every partition and
        // per-partition decimal window sums get broadcast prefix offsets,
        // instead of a grouped window that would sort the whole table in 3
        // tasks. Decimal weights keep every comparison exact: the median
        // test is cw*2 >= tw, no division, no doubles until output.
        // weights ride as exact integer CENTS (decimal(18,2)·100 is lossless)
        // so the distributed prefix sum stays on the pure-long fast path —
        // no per-row BigDecimal boxing in the partition scan.
        // r19 (guide §2.3, shuffle fewer bytes): the weighted-median
        // crossing is TIE-ORDER INVARIANT — in any v-sorted order the
        // first row whose doubled cumulative weight reaches the group
        // total carries the median value and rows tied on v are
        // interchangeable — so the unique tiebreak columns (l_orderkey,
        // l_linenumber: 16 bytes/row through the range shuffle plus two
        // extra sort keys) are dropped; the oracle keeps the tiebroken
        // window formulation as a cross-formulation differential.
        val base = Tables.lineitem(s, d)
          .select(
            col("l_returnflag"),
            dec(col("l_extendedprice")).as("v"),
            (dec(col("l_quantity")) * 100).cast("long").as("qc"))
        graft.ops.GlobalOrder
          .withGroupedRunningSum(
            base, "cw", "tw", col("qc"),
            Seq("l_returnflag"),
            Seq(col("v")))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy(col("l_returnflag"))
          .agg(
            min(col("v")).cast("double").as("wmedian_price"),
            (max(col("tw")).cast("double") / 100).as("total_weight"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH w AS (
             |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             |         CAST(l_quantity AS DECIMAL(18,2)) AS q, l_orderkey, l_linenumber
             |  FROM lineitem),
             |c AS (
             |  SELECT l_returnflag, v,
             |    SUM(q) OVER (PARTITION BY l_returnflag ORDER BY v, l_orderkey, l_linenumber
             |                 ROWS UNBOUNDED PRECEDING) AS cw,
             |    SUM(q) OVER (PARTITION BY l_returnflag) AS tw
             |  FROM w)
             |SELECT l_returnflag,
             |  CAST(MIN(v) AS DOUBLE) AS wmedian_price,
             |  CAST(MAX(tw) AS DOUBLE) AS total_weight
             |FROM c WHERE cw * 2 >= tw
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin),
      doc = "exact quantity-weighted median price per group — distributed decimal " +
        "prefix sums (range-spread groups + broadcast offsets), no whole-group task"
    ),
    // ---------------------------------------------------------------- chi-square
    Q(
      "x18_chi_square",
      (s, d) => {
        // chi-square independence test over the (returnflag × linestatus)
        // contingency table — the drift/association primitive (is the label
        // distribution independent of the slice?). ONE data-sized pass
        // builds the cell counts; marginals and the grand total DERIVE from
        // the cells (aggregate-sized, broadcast back), so the raw table is
        // read exactly once. Each cell's term is floor-quantized before the
        // order-dependent sum, keeping the statistic engine-exact.
        val cells = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("o"))
        val rt = cells.groupBy(col("l_returnflag")).agg(sum(col("o")).as("rt"))
        val ct = cells.groupBy(col("l_linestatus")).agg(sum(col("o")).as("ct"))
        val nn = cells.agg(sum(col("o")).as("n"))
        val e = col("rt").cast("double") * col("ct") / col("n")
        val term = (col("o") - e) * (col("o") - e) / e
        cells
          .join(broadcast(rt), Seq("l_returnflag"))
          .join(broadcast(ct), Seq("l_linestatus"))
          .crossJoin(broadcast(nn))
          .select(
            col("l_returnflag"), col("l_linestatus"), col("o"), col("n"),
            floor(term * 1e6).cast("long").as("tq"))
          .agg(
            count(lit(1)).as("n_cells"),
            ((countDistinct(col("l_returnflag")) - 1) *
              (countDistinct(col("l_linestatus")) - 1)).as("dof"),
            max(col("n")).as("n"),
            (sum(col("tq")).cast("double") / 1e6).as("chi2"))
      },
      Some("""WITH cells AS (
             |  SELECT l_returnflag, l_linestatus, COUNT(*) AS o
             |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
             |rt AS (SELECT l_returnflag, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY l_returnflag),
             |ct AS (SELECT l_linestatus, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY l_linestatus),
             |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
             |scored AS (
             |  SELECT l_returnflag, l_linestatus, o, n,
             |    CAST(floor((o - CAST(rt AS DOUBLE) * ct / n) * (o - CAST(rt AS DOUBLE) * ct / n)
             |      / (CAST(rt AS DOUBLE) * ct / n) * 1000000) AS BIGINT) AS tq
             |  FROM cells JOIN rt USING (l_returnflag) JOIN ct USING (l_linestatus) CROSS JOIN n)
             |SELECT COUNT(*) AS n_cells,
             |  (COUNT(DISTINCT l_returnflag) - 1) * (COUNT(DISTINCT l_linestatus) - 1) AS dof,
             |  MAX(n) AS n,
             |  CAST(SUM(tq) AS DOUBLE) / 1000000 AS chi2
             |FROM scored""".stripMargin),
      doc = "chi-square independence test over the returnflag×linestatus contingency " +
        "table — one data pass builds the cells; marginals derive from the cells and " +
        "broadcast back; terms floor-quantized for an engine-exact statistic"
    ),
    // ---------------------------------------------------------------- histogram
    Q(
      "x19_histogram",
      (s, d) => {
        // equi-width histogram (the width_bucket pattern): 20 bins over the
        // observed [min, max] price range. Bounds are one single-row
        // aggregate broadcast into the scan-side bin assignment; binning is
        // EXACT integer arithmetic on cents (non-negative operands, so
        // trunc-div == floor-div on both engines) — never a double edge
        // that could land a boundary row in different bins.
        val li = Tables.lineitem(s, d)
          .select((dec(col("l_extendedprice")) * 100).cast("long").as("c"))
        val bounds = li.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
        li.crossJoin(broadcast(bounds))
          .withColumn("bin", expr("(c - lo) * 20 DIV (hi - lo + 1)"))
          .groupBy(col("bin"))
          .agg(
            count(lit(1)).as("n"),
            (min(col("c")).cast("double") / 100).as("bin_min"),
            (max(col("c")).cast("double") / 100).as("bin_max"))
          .orderBy(col("bin"))
      },
      Some("""WITH c AS (
             |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
             |  FROM lineitem),
             |b AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM c)
             |SELECT (c - lo) * 20 // (hi - lo + 1) AS bin, COUNT(*) AS n,
             |  CAST(MIN(c) AS DOUBLE) / 100 AS bin_min,
             |  CAST(MAX(c) AS DOUBLE) / 100 AS bin_max
             |FROM c CROSS JOIN b
             |GROUP BY bin
             |ORDER BY bin""".stripMargin),
      doc = "equi-width 20-bin histogram with exact integer-cent bin edges — " +
        "broadcast bounds into the scan, one aggregate, no boundary ambiguity"
    ),
    // ---------------------------------------------------------------- KS test
    Q(
      "x20_ks_test",
      (s, d) => {
        // two-sample Kolmogorov–Smirnov: max |F_R(v) − F_A(v)| between the
        // price distributions of returnflag R and A. The CDF gap is a step
        // function that only moves at distinct values, so rows aggregate to
        // the VALUE level first (as x21 does) — evaluating the gap INSIDE a
        // run of tied values overstates D (tied R,R,A,A would report 1
        // instead of 0). Both cumulative counts then ride ONE distributed
        // prefix sum (GlobalOrder, single range shuffle) with the packed
        // measure nr_v·2³² + n_v, which decodes exactly while total rows
        // < 2³² — a bound CHECKED here, not assumed: the tiny value-level
        // aggregate is materialized once (localCheckpoint) and a driver-side
        // total guards the packing before the prefix sum runs.
        val vals = returnFlagValues(s, d)
        val nTotal = vals.agg(coalesce(sum(col("n_v")), lit(0L))).head.getLong(0)
        require(nTotal < 4294967296L,
          s"x20 packed counter would carry: $nTotal rows >= 2^32 — split the prefix sum")
        val run = graft.ops.GlobalOrder.withGroupedRunningSum(
          vals, "cum", "tot", col("nr_v") * 4294967296L + col("n_v"),
          Seq.empty, Seq(col("v")))
        val cr = expr("cum DIV 4294967296") // running R count through value v
        val cn = expr("cum % 4294967296") // running total count through v
        val nr = expr("tot DIV 4294967296")
        val na = expr("tot % 4294967296 - tot DIV 4294967296")
        run
          .select(
            nr.as("n_r"), na.as("n_a"),
            quant(abs(cr.cast("double") / nr - (cn - cr).cast("double") / na), 1e9).as("dq"))
          .groupBy(col("n_r"), col("n_a"))
          .agg(max(col("dq")).as("ks"))
      },
      Some(s"""$returnFlagValuesSql,
             |c AS (
             |  SELECT CAST(SUM(nr_v) OVER w AS BIGINT) AS cr,
             |    CAST(SUM(n_v) OVER w AS BIGINT) AS cn
             |  FROM vals WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
             |n AS (
             |  SELECT CAST(SUM(nr_v) AS BIGINT) AS n_r,
             |    CAST(SUM(n_v) - SUM(nr_v) AS BIGINT) AS n_a
             |  FROM vals)
             |SELECT n_r, n_a,
             |  MAX(floor(abs(CAST(cr AS DOUBLE) / n_r - CAST(cn - cr AS DOUBLE) / n_a)
             |    * 1000000000) / 1000000000) AS ks
             |FROM c CROSS JOIN n
             |GROUP BY n_r, n_a""".stripMargin),
      doc = "two-sample Kolmogorov–Smirnov evaluated at value level (ties collapse " +
        "before the CDF gap — the per-row formulation overstates D inside tie runs); " +
        "both cumulative counts packed into ONE distributed prefix sum (nr_v·2³²+n_v), " +
        "single range shuffle, driver-checked packing bound"
    ),
    // ---------------------------------------------------------------- rank-sum AUC
    Q(
      "x21_rank_sum_auc",
      (s, d) => {
        // Mann-Whitney U / AUC — the exact distributed form of the metric
        // that scores every binary classifier at scale (AUC = P(score_R >
        // score_A), computed from rank sums, ties as midranks). The trick
        // that keeps it EXACT (no quantization anywhere): aggregate to the
        // VALUE level first (ties collapse, doubled midranks become
        // integers: 2·midrank = 2·cum_before + n_v + 1), then one
        // distributed prefix sum over the value series gives every
        // cumulative count. Two shuffles total — value aggregate + range
        // spread — and a BIGINT statistic both engines replay bit-for-bit.
        val vals = returnFlagValues(s, d)
        val run = graft.ops.GlobalOrder.withGroupedRunningSum(
          vals, "cum", "n_total", col("n_v"), Seq.empty, Seq(col("v")))
        run
          .agg(
            sum(col("nr_v")).as("n_r"),
            max(col("n_total")).as("n"),
            sum(col("nr_v") * ((col("cum") - col("n_v")) * 2 + col("n_v") + 1)).as("rank2"))
          .select(
            col("n_r"),
            (col("n") - col("n_r")).as("n_a"),
            (col("rank2") - col("n_r") * (col("n_r") + 1)).as("u2"))
          .select(col("n_r"), col("n_a"), col("u2"),
            quant(col("u2").cast("double") / (col("n_r") * col("n_a") * 2), 1e9).as("auc"))
      },
      Some(s"""$returnFlagValuesSql,
             |c AS (
             |  SELECT v, nr_v, n_v,
             |    CAST(SUM(n_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM vals),
             |agg AS (
             |  SELECT CAST(SUM(nr_v) AS BIGINT) AS n_r,
             |    CAST(SUM(n_v) AS BIGINT) AS n,
             |    CAST(SUM(nr_v * ((cum - n_v) * 2 + n_v + 1)) AS BIGINT) AS rank2
             |  FROM c),
             |u AS (
             |  SELECT n_r, n - n_r AS n_a, rank2 - n_r * (n_r + 1) AS u2 FROM agg)
             |SELECT n_r, n_a, u2,
             |  floor(CAST(u2 AS DOUBLE) / (n_r * n_a * 2) * 1000000000) / 1000000000 AS auc
             |FROM u""".stripMargin),
      doc = "Mann-Whitney U / rank-sum AUC with midrank ties, fully integer-exact: " +
        "value-level aggregate collapses ties, doubled midranks from one distributed " +
        "prefix sum — the exact classifier-AUC computation at corpus scale"
    ),
    // ---------------------------------------------------------------- heavy hitters
    Q(
      "x22_heavy_hitters",
      (s, d) => {
        import s.implicits._
        // Sketch-guided EXACT heavy hitters — the canonical two-pass shape for
        // "which terms exceed an N/D frequency share" at 100 TB. Pass 1 runs a
        // bounded-memory Misra-Gries summary ([[graft.functions.Aggregates
        // .TopKTermsCapped]]: buffer never exceeds `cap` entries, and under ANY
        // partition/merge order every term with true count > N/cap survives).
        // Pass 2 exact-counts ONLY those candidates: the ≤cap surviving terms
        // compile into an InSet predicate evaluated AT THE SCAN, so the
        // full-vocabulary shuffle (what the oracle's plain GROUP BY pays)
        // never happens — the aggregate shuffles at most `cap` distinct keys.
        // cap(512) ≥ D(256) makes the candidate set provably complete, so the
        // final `cnt·D > N` filter yields the EXACT heavy-hitter set.
        val cap = 512
        val D = 256L
        val mg = udaf(new graft.functions.Aggregates.TopKTermsCapped(cap, cap))
        val toks = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
        // one bounded row to the driver: ≤cap candidate terms + the corpus
        // token total (same driver-side pattern as GlobalOrder's offsets)
        val (cand, n) = toks
          .agg(mg(col("toks")).as("cand"), sum(size(col("toks"))).cast("long").as("n"))
          .select(col("cand.term").as("terms"), col("n"))
          .as[(Seq[String], Long)]
          .head()
        Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("term"))
          .filter(col("term").isInCollection(cand))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * D > n)
          .orderBy(col("term"))
      },
      Some("""SELECT term, COUNT(*) AS cnt
             |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
             |GROUP BY term
             |HAVING COUNT(*) * 256 > (
             |  SELECT COUNT(*)
             |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents))
             |ORDER BY term""".stripMargin),
      doc = "sketch-guided exact heavy hitters: bounded Misra-Gries candidate pass " +
        "(no-false-negative guarantee above N/cap) + exact recount of the ≤cap " +
        "candidates via a scan-side InSet filter — output provably identical to " +
        "the oracle's full GROUP BY while shuffling only candidate keys"
    ),
    // ---------------------------------------------------------------- benford
    Q(
      "x23_benford_digits",
      (s, d) => {
        // Benford first-significant-digit analysis of order totals — the
        // fabricated-data / corruption screen an ingest pipeline runs per
        // source. The digit comes from exact integer cents (string head of
        // a BIGINT — no float log), so extraction is engine-exact; the
        // expected Benford shares log10(1+1/d) enter as FIXED ppm literals
        // (identical constants in both texts — no libm call can diverge).
        // One scan, one 9-group aggregate; share + deviation are integer
        // ppm arithmetic.
        val tot = Tables.orders(s, d).agg(count(lit(1)).as("n"))
        val expected = Seq(
          1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
          6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
        val expWhen = expected.tail.foldLeft(
          when(col("digit") === 1, lit(301030L))) { case (acc, (dg, ppm)) =>
          acc.when(col("digit") === dg, lit(ppm))
        }
        Tables.orders(s, d)
          .select(
            substring(
              (dec(col("o_totalprice")) * 100).cast("long").cast("string"), 1, 1)
              .cast("long").as("digit"))
          .groupBy(col("digit"))
          .agg(count(lit(1)).as("obs"))
          .crossJoin(broadcast(tot))
          .withColumn("obs_ppm", expr("(obs * 1000000L) div n"))
          .withColumn("exp_ppm", expWhen)
          .select(
            col("digit"), col("obs"), col("obs_ppm"), col("exp_ppm"),
            (col("obs_ppm") - col("exp_ppm")).as("dev_ppm"))
          .orderBy(col("digit"))
      },
      Some("""WITH tot AS (SELECT COUNT(*) AS n FROM orders),
             |digits AS (
             |  SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
             |  FROM orders),
             |obs AS (SELECT digit, COUNT(*) AS obs FROM digits GROUP BY digit),
             |exp AS (SELECT * FROM (VALUES
             |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
             |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)) AS t(digit, exp_ppm))
             |SELECT o.digit, o.obs,
             |  (o.obs * 1000000) // t.n AS obs_ppm,
             |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
             |  (o.obs * 1000000) // t.n - e.exp_ppm AS dev_ppm
             |FROM obs o CROSS JOIN tot t JOIN exp e ON o.digit = e.digit
             |ORDER BY o.digit""".stripMargin),
      doc = "Benford first-digit screen over order totals: digit from exact " +
        "integer cents (no float log), Benford expectations as fixed ppm " +
        "literals, integer-ppm observed share and deviation — the " +
        "fabricated-data detector as one scan + 9-group aggregate"
    ),
    // ---------------------------------------------------------------- autocorr
    Q(
      "x24_autocorrelation",
      (s, d) => {
        // Lag-k autocorrelation of the daily-revenue series (lags 1/7/30 —
        // the seasonality / regime-shift diagnostic for any metric stream).
        // The corpus collapses to one day-grained series FIRST (bounded by
        // the calendar, not the data), so the lag alignment is an equi-join
        // on shifted dates — never a global-order window over the raw
        // table. Pearson r per lag follows x12's exact-moment discipline:
        // decimal sums (order-free), one deterministic double expression,
        // floor-quantized.
        // daily totals as INTEGER CENTS: a day's revenue squared overflows
        // int64 decimal math, so the moment products are formed from
        // DECIMAL(19,0) operands — 19+19 digits forces 128-bit multiply on
        // both engines (DuckDB's DECIMAL(18,2)² path overflows its int64)
        val daily = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_c"))
        val pairs = Seq(1, 7, 30).map { l =>
          daily.select(col("day"), col("rev_c").as("x"))
            .join(
              broadcast(daily.select(date_add(col("day"), l).as("day"), col("rev_c").as("y"))),
              Seq("day"))
            .select(lit(l.toLong).as("lag"), col("x"), col("y"))
        }.reduce(_ union _)
        val d19 = "decimal(19,0)"
        pairs
          .groupBy(col("lag"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
            sum(col("x").cast(d19) * col("x").cast(d19)).cast("double").as("sxx"),
            sum(col("y").cast(d19) * col("y").cast(d19)).cast("double").as("syy"),
            sum(col("x").cast(d19) * col("y").cast(d19)).cast("double").as("sxy"))
          .select(
            col("lag"),
            col("n").cast("long").as("n_pairs"),
            quant(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                  (col("n") * col("syy") - col("sy") * col("sy"))),
              1e6).as("autocorr"))
          .orderBy(col("lag"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
             |  FROM orders GROUP BY 1),
             |pairs AS (
             |  SELECT l.lag, a.rev_c AS x, b.rev_c AS y
             |  FROM (SELECT unnest([1, 7, 30]) AS lag) l, daily a, daily b
             |  WHERE a.day = b.day + l.lag),
             |m AS (
             |  SELECT lag,
             |    CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy
             |  FROM pairs GROUP BY lag)
             |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
             |  floor((n * sxy - sx * sy) /
             |        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000) / 1000000 AS autocorr
             |FROM m
             |ORDER BY lag""".stripMargin),
      doc = "lag-1/7/30 autocorrelation of daily revenue: calendar-bounded series " +
        "aggregate, shifted-date equi-joins for lag alignment (no global-order " +
        "window), exact decimal moments → one deterministic Pearson expression"
    ),
    // ---------------------------------------------------------------- gini
    Q(
      "x25_gini",
      (s, d) => {
        // Gini concentration of customer revenue per market segment — the
        // inequality audit a data-mixing pipeline runs on per-source token
        // budgets (here: revenue cents as the weight). Exact rank formula
        // G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ascending x.
        // The global ascending rank inside each segment comes from
        // GlobalOrder.withGroupedRowNumber (range shuffle + broadcast prefix
        // offsets) — NOT a whole-segment window task; every term stays in
        // exact integer cents, promoted to decimal(38,0) before the rank
        // product so Σ i·x_i cannot overflow at any corpus size. One IEEE
        // division at the end, identical on both engines.
        val rev = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
          .join(
            Tables.customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
            Seq("o_custkey"))
        val ranked = graft.ops.GlobalOrder.withGroupedRowNumber(
          rev, "rk", "n", Seq("c_mktsegment"), Seq(col("cents"), col("o_custkey")))
        ranked
          .groupBy(col("c_mktsegment"))
          .agg(
            max(col("n")).as("n_cust"),
            sum(col("cents").cast("decimal(38,0)")).as("sx"),
            sum(col("rk").cast("decimal(38,0)") * col("cents")).as("sxi"))
          .select(
            col("c_mktsegment"),
            col("n_cust"),
            col("sx").cast("double").as("total_revenue_cents"),
            quant(
              (col("sxi") * 2 - (col("n_cust").cast("decimal(38,0)") + 1) * col("sx"))
                .cast("double") /
                (col("n_cust").cast("decimal(38,0)") * col("sx")).cast("double"),
              1e9).as("gini"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH rev AS (
             |  SELECT o.o_custkey, c.c_mktsegment,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT c_mktsegment, cents,
             |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY cents, o_custkey) AS rk,
             |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
             |  FROM rev),
             |g AS (
             |  SELECT c_mktsegment, MAX(n) AS n_cust,
             |    SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
             |    SUM(CAST(rk AS DECIMAL(38,0)) * cents) AS sxi
             |  FROM r GROUP BY 1)
             |SELECT c_mktsegment, n_cust,
             |  CAST(sx AS DOUBLE) AS total_revenue_cents,
             |  floor(CAST(sxi * 2 - (CAST(n_cust AS DECIMAL(38,0)) + 1) * sx AS DOUBLE) /
             |        CAST(CAST(n_cust AS DECIMAL(38,0)) * sx AS DOUBLE) * 1000000000)
             |    / 1000000000 AS gini
             |FROM g
             |ORDER BY c_mktsegment""".stripMargin),
      doc = "Gini concentration of customer revenue per segment: exact rank formula " +
        "over distributed ascending ranks (GlobalOrder, no whole-group window), " +
        "decimal(38,0) rank products — the budget-inequality audit for data mixing"
    ),
    // ---------------------------------------------------------------- bootstrap
    Q(
      "x26_bootstrap_ci",
      (s, d) => {
        // Bootstrap confidence interval for the mean price per returnflag —
        // computed the only way that scales: ONE pass, 32 deterministic
        // weighted-replicate aggregates (each row gets a hash-derived
        // resample weight w_b ∈ {0,1,2}, a truncated-Poisson surrogate), no
        // row duplication and no 32× explode. The 32 replicate means per
        // group land in a bounded array (sort_array → order statistics) —
        // the "bag of little bootstraps" aggregation shape. Weighted sums
        // stay exact decimal; each replicate mean is one IEEE division,
        // then floor-quantized — deterministic end to end despite being a
        // "resampling" method.
        val P = 1000000007L
        val (t0, t1) = (367879441L, 735758882L) // e^-1, 2e^-1 on the hash grid
        // prices ride as LONG CENTS, not DECIMAL: the 64 weighted replicate
        // sums then stay primitive-long inside whole-stage codegen (a
        // Decimal multiply per (row, replicate) was the whole cost of this
        // query — ~2.5x at sf0.1). Exactness is unchanged: cents sums are
        // exact integers (< 2^53 up to ~4e8 rows x 1e5-cent prices; beyond
        // that, split high/low words or return to decimal), and
        // double(sum_cents)/100.0 is the correctly-rounded double of the
        // same rational the oracle's CAST(SUM(decimal) AS DOUBLE) rounds,
        // so every replicate mean is bit-identical to the oracle's.
        val base = Tables.lineitem(s, d).select(
          col("l_returnflag"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("xc"),
          ((col("l_orderkey") * 131 + col("l_linenumber")) % P).as("k"))
        def w(b: Int) = {
          val h = (col("k") * ((2654435761L + 97L * b) % P)) % P
          when(h < t0, 0L).when(h < t1, 1L).otherwise(2L)
        }
        val aggs = (0 until 32).flatMap { b =>
          Seq(sum(col("xc") * w(b)).as(s"s$b"), sum(w(b)).as(s"c$b"))
        } ++ Seq(sum(col("xc")).as("sxc"), count(lit(1)).as("n_rows"))
        val means = sort_array(array(
          (0 until 32).map(b => col(s"s$b").cast("double") / lit(100.0) / col(s"c$b")): _*))
        base.groupBy(col("l_returnflag"))
          .agg(aggs.head, aggs.tail: _*)
          .select(
            col("l_returnflag"), col("n_rows"),
            (col("sxc").cast("double") / lit(100.0) / col("n_rows")).as("mean_price"),
            quant(element_at(means, 2), 1e6).as("ci_lo"),
            quant(element_at(means, 31), 1e6).as("ci_hi"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        val reps = (0 until 32).map { b =>
          val m = (2654435761L + 97L * b) % 1000000007L
          s"CASE WHEN (k * $m) % 1000000007 < 367879441 THEN 0 " +
            s"WHEN (k * $m) % 1000000007 < 735758882 THEN 1 ELSE 2 END AS w$b"
        }.mkString(",\n    ")
        val ms = (0 until 32)
          .map(b => s"CAST(SUM(x * w$b) AS DOUBLE) / SUM(w$b)").mkString(", ")
        s"""WITH base AS (
           |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
           |    (l_orderkey * 131 + l_linenumber) % 1000000007 AS k
           |  FROM lineitem),
           |wt AS (
           |  SELECT l_returnflag, x,
           |    $reps
           |  FROM base),
           |g AS (
           |  SELECT l_returnflag, COUNT(*) AS n_rows,
           |    CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean_price,
           |    list_sort([$ms]) AS ms
           |  FROM wt GROUP BY l_returnflag)
           |SELECT l_returnflag, n_rows, mean_price,
           |  floor(ms[2] * 1000000) / 1000000 AS ci_lo,
           |  floor(ms[31] * 1000000) / 1000000 AS ci_hi
           |FROM g
           |ORDER BY l_returnflag""".stripMargin
      },
      doc = "one-pass bootstrap CI (32 deterministic hash-weighted replicates, " +
        "truncated-Poisson weights, zero row duplication): exact decimal replicate " +
        "sums -> bounded mean array -> order-statistic interval per group"
    ),
    // ---------------------------------------------------------------- changepoint
    Q(
      "x27_changepoint",
      (s, d) => {
        // Changepoint detection on the daily-revenue series (per year): the
        // split-point scan — for every candidate boundary t, score the
        // mean shift between the two segments with the CUSUM-type statistic
        // t·(n−t)/n · Δ², pick the argmax. The corpus collapses to the
        // calendar-bounded daily series FIRST (x24's discipline), so every
        // window here is year-partitioned over ≤366 candidate rows —
        // prefix sums, not recursion, make the classic sequential test
        // distributed. Scores floor-quantize to integer units before the
        // argmax; ties break to the earliest split. The regime-shift
        // monitor for any pipeline metric stream.
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_c"))
          .withColumn("yr", year(col("day")))
        val wy = Window.partitionBy(col("yr"))
        val wyo = wy.orderBy(col("day"))
        val cands = daily
          .withColumn("t", row_number().over(wyo))
          .withColumn("st",
            sum(col("rev_c")).over(wyo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", count(lit(1)).over(wy))
          .withColumn("tt", sum(col("rev_c")).over(wy))
          .filter(col("t") < col("n"))
          .withColumn("delta",
            col("st").cast("double") / col("t") -
              (col("tt") - col("st")).cast("double") / (col("n") - col("t")))
          .withColumn("score_u",
            floor(col("t").cast("double") * (col("n") - col("t")) / col("n") *
              col("delta") * col("delta") / 1e6).cast("long"))
        cands
          .withColumn("rn",
            row_number().over(wy.orderBy(col("score_u").desc, col("t"))))
          .filter(col("rn") === 1)
          .select(
            col("yr"), date_format(col("day"), "yyyy-MM-dd").as("split_day"),
            col("t").as("n_before"), col("n").as("n_days"), col("score_u"),
            quant(col("delta"), 1e2).as("mean_shift_cents"))
          .orderBy(col("yr"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
             |  FROM orders GROUP BY 1),
             |w AS (
             |  SELECT year(day) AS yr, day, rev_c,
             |    ROW_NUMBER() OVER (PARTITION BY year(day) ORDER BY day) AS t,
             |    CAST(SUM(rev_c) OVER (PARTITION BY year(day) ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS st,
             |    COUNT(*) OVER (PARTITION BY year(day)) AS n,
             |    CAST(SUM(rev_c) OVER (PARTITION BY year(day)) AS BIGINT) AS tt
             |  FROM daily),
             |c AS (
             |  SELECT yr, day, t, n,
             |    CAST(st AS DOUBLE) / t - CAST(tt - st AS DOUBLE) / (n - t) AS delta
             |  FROM w WHERE t < n),
             |sc AS (
             |  SELECT yr, day, t, n, delta,
             |    CAST(floor(CAST(t AS DOUBLE) * (n - t) / n * delta * delta / 1000000)
             |      AS BIGINT) AS score_u
             |  FROM c),
             |r AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY yr ORDER BY score_u DESC, t) AS rn
             |  FROM sc)
             |SELECT yr, strftime(day, '%Y-%m-%d') AS split_day,
             |  t AS n_before, n AS n_days, score_u,
             |  floor(delta * 100) / 100 AS mean_shift_cents
             |FROM r
             |WHERE rn = 1
             |ORDER BY yr""".stripMargin),
      doc = "per-year changepoint detection on the daily-revenue series: CUSUM-type " +
        "split-point scan via prefix sums over calendar-bounded candidates (no " +
        "recursion), integer-quantized argmax with earliest-tie rule"
    ),
    // ---------------------------------------------------------------- seasonal
    Q(
      "x28_seasonal_strength",
      (s, d) => {
        // Seasonal-decomposition diagnostic per year: detrend the daily
        // revenue series with a ±3-day centered moving average (an exact
        // INTEGER trend — sum DIV count over a bounded row frame), then
        // score seasonality strength as 1 − Var(residual)/Var(series) and
        // report the peak day-of-week. x24/x27's discipline: the corpus
        // collapses to the calendar-bounded daily grid first, every window
        // is year-partitioned over ≤366 rows, variances come from exact
        // decimal moments with the N² denominators cancelled — ONE IEEE
        // division per year, floor-quantized to ppm.
        import org.apache.spark.sql.expressions.Window
        val d38 = "decimal(38,0)"
        val daily = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_c"))
          .withColumn("yr", year(col("day")))
          .withColumn("dow", dayofweek(col("day")).cast("long"))
        val frame = Window.partitionBy(col("yr")).orderBy(col("day")).rowsBetween(-3, 3)
        val withTrend = daily
          .withColumn("tsum", sum(col("rev_c")).over(frame))
          .withColumn("tcnt", count(lit(1)).over(frame))
          .withColumn("r_c", col("rev_c") - expr("tsum DIV tcnt"))
        val strength = withTrend
          .groupBy(col("yr"))
          .agg(
            count(lit(1)).as("n_days"),
            sum(col("rev_c").cast(d38)).as("sx"),
            sum(col("rev_c").cast(d38) * col("rev_c")).as("sxx"),
            sum(col("r_c").cast(d38)).as("sr"),
            sum(col("r_c").cast(d38) * col("r_c")).as("srr"))
          .select(
            col("yr"), col("n_days"),
            floor((lit(1.0) -
              (col("n_days").cast(d38) * col("srr") - col("sr") * col("sr")).cast("double") /
                (col("n_days").cast(d38) * col("sxx") - col("sx") * col("sx")).cast("double"))
              * 1e6).cast("long").as("strength_ppm"))
        val peak = daily
          .groupBy(col("yr"), col("dow"))
          .agg(sum(col("rev_c").cast(d38)).as("dsum"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("yr")).orderBy(col("dsum").desc, col("dow"))))
          .filter(col("rn") === 1)
          .select(col("yr"), col("dow").as("peak_dow"))
        strength.join(peak, Seq("yr")).orderBy(col("yr"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
             |  FROM orders GROUP BY 1),
             |w AS (
             |  SELECT year(day) AS yr, day, rev_c,
             |    CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
             |    rev_c - CAST(SUM(rev_c) OVER f AS BIGINT)
             |      // CAST(COUNT(*) OVER f AS BIGINT) AS r_c
             |  FROM daily
             |  WINDOW f AS (PARTITION BY year(day) ORDER BY day
             |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |st AS (
             |  SELECT yr, COUNT(*) AS n_days,
             |    CAST(floor((1.0 -
             |      CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(CAST(r_c AS DECIMAL(38,0)) * r_c)
             |        - SUM(CAST(r_c AS DECIMAL(38,0))) * SUM(CAST(r_c AS DECIMAL(38,0))) AS DOUBLE) /
             |      CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(CAST(rev_c AS DECIMAL(38,0)) * rev_c)
             |        - SUM(CAST(rev_c AS DECIMAL(38,0))) * SUM(CAST(rev_c AS DECIMAL(38,0))) AS DOUBLE))
             |      * 1000000) AS BIGINT) AS strength_ppm
             |  FROM w GROUP BY yr),
             |pk AS (
             |  SELECT yr, dow AS peak_dow FROM (
             |    SELECT yr, dow, SUM(CAST(rev_c AS DECIMAL(38,0))) AS dsum,
             |      row_number() OVER (PARTITION BY yr ORDER BY
             |        SUM(CAST(rev_c AS DECIMAL(38,0))) DESC, dow) AS rn
             |    FROM w GROUP BY yr, dow) t
             |  WHERE rn = 1)
             |SELECT st.yr, n_days, strength_ppm, peak_dow
             |FROM st JOIN pk ON st.yr = pk.yr
             |ORDER BY st.yr""".stripMargin),
      doc = "per-year seasonality diagnostic: +-3-day integer moving-average " +
        "detrend, strength = 1 - Var(residual)/Var(series) from exact decimal " +
        "moments (one division, ppm floor), peak day-of-week argmax"
    ),
    // ---------------------------------------------------------------- x29 ols
    Q(
      "x29_ols_trend",
      (s, d) => {
        // Per-returnflag OLS trend line of daily revenue on day index —
        // closed-form slope/intercept from five exact moments. The corpus
        // collapses to (flag, day) grain FIRST (bounded by flags × calendar,
        // not by rows), so the regression aggregate runs over ≤ a few
        // thousand rows per flag no matter the corpus size; the only
        // full-table work is the partial-aggregated daily rollup. Moments
        // follow x24's discipline: integer cents + integer day index,
        // decimal sums (order-free), 19+19-digit products forced onto the
        // 128-bit multiply path, ONE double expression per coefficient,
        // floor-quantized.
        val d19 = "decimal(19,0)"
        val daily = Tables.lineitem(s, d)
          .groupBy(
            col("l_returnflag"),
            datediff(to_date(col("l_shipdate")), lit("1992-01-01").cast("date"))
              .cast("long").as("x"))
          .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long").as("y"))
        daily
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
            sum(col("x").cast(d19) * col("x").cast(d19)).cast("double").as("sxx"),
            sum(col("x").cast(d19) * col("y").cast(d19)).cast("double").as("sxy"))
          .select(
            col("l_returnflag"),
            col("n").cast("long").as("n_days"),
            quant(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (col("n") * col("sxx") - col("sx") * col("sx")),
              1e3).as("slope_cents_per_day"),
            quant(
              (col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
                (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"),
              1e3).as("intercept_cents"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH daily AS (
             |  SELECT l_returnflag,
             |    CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS x,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
             |  FROM lineitem GROUP BY 1, 2),
             |m AS (
             |  SELECT l_returnflag,
             |    CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy
             |  FROM daily GROUP BY 1)
             |SELECT l_returnflag, CAST(n AS BIGINT) AS n_days,
             |  FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000) / 1000
             |    AS slope_cents_per_day,
             |  FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 1000) / 1000
             |    AS intercept_cents
             |FROM m
             |ORDER BY l_returnflag""".stripMargin),
      doc = "per-group OLS trend (slope/intercept of daily revenue on day " +
        "index) from five exact decimal moments — collapse-to-series-grain " +
        "first, one closed-form double expression per coefficient"
    ),
    // ---------------------------------------------------------------- x30
    Q(
      "x30_theil_sen",
      (s, d) => {
        // Theil-Sen robust slope — the median of all pairwise slopes, the
        // outlier-immune companion to x29's OLS (one corrupted day cannot
        // move it). The corpus collapses to the calendar-bounded 1995 daily
        // series FIRST, so the pair set is ≤ 365² per group at ANY corpus
        // size; slopes are exact integer micro-units (DECIMAL(38,0)
        // numerator DIV day gap — no float in the pair loop) and the median
        // is the lower-median rank over a per-group window (bounded rows,
        // hash-partitioned by group). The self-join pairs within a group
        // only (equi-join on flag + residual x1<x2).
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
          .groupBy(
            col("l_returnflag"),
            datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date"))
              .cast("long").as("x"))
          .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long").as("y"))
        val a = daily.select(col("l_returnflag"), col("x").as("x1"), col("y").as("y1"))
        val b = daily.select(col("l_returnflag"), col("x").as("x2"), col("y").as("y2"))
        val slopes = a.join(b, Seq("l_returnflag"))
          .filter(col("x1") < col("x2"))
          .withColumn("num", expr("(CAST(y2 AS DECIMAL(38,0)) - y1) * 1000000"))
          .withColumn("gap", col("x2") - col("x1"))
          .select(
            col("l_returnflag"), col("x1"), col("x2"),
            // both engines truncate integral division toward zero (Spark DIV
            // on DECIMAL, DuckDB // on HUGEINT) — but the oracle must stay
            // on HUGEINT: DuckDB's DECIMAL // silently degrades to DOUBLE
            // and loses exactness past 2^53
            expr("CAST(num DIV gap AS BIGINT)").as("slope_mu"))
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("slope_mu"), col("x1"), col("x2"))
        slopes
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("l_returnflag"))))
          .filter(col("rk") === expr("(n + 1) DIV 2"))
          .select(
            col("l_returnflag"), col("n").cast("long").as("n_pairs"),
            col("slope_mu").as("theil_sen_slope_mu"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH daily AS (
             |  SELECT l_returnflag,
             |    CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS x,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
             |  GROUP BY 1, 2),
             |p AS (
             |  SELECT a.l_returnflag, a.x AS x1, b.x AS x2,
             |    CAST((CAST(b.y AS HUGEINT) - a.y) * 1000000 // (b.x - a.x) AS BIGINT)
             |      AS slope_mu
             |  FROM daily a JOIN daily b
             |    ON a.l_returnflag = b.l_returnflag AND a.x < b.x),
             |r AS (
             |  SELECT l_returnflag, slope_mu,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY slope_mu, x1, x2) AS rk,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM p)
             |SELECT l_returnflag, CAST(n AS BIGINT) AS n_pairs,
             |  slope_mu AS theil_sen_slope_mu
             |FROM r WHERE rk = (n + 1) // 2
             |ORDER BY l_returnflag""".stripMargin),
      doc = "Theil-Sen robust trend: median of all pairwise slopes over the " +
        "calendar-bounded daily series (pair set <= 365^2 per group at any " +
        "corpus size), exact integer micro-unit slopes, lower-median rank"
    ),
    // ---------------------------------------------------------------- x31
    Q(
      "x31_robust_zscore_dist",
      (s, d) => {
        // x16's SCALE PATH (the d26/g12 pattern: pinned baseline + shipped
        // fix). x16 computes median/MAD with Spark's exact `percentile`
        // aggregate, which buffers an entire group's values in ONE
        // aggregation buffer — at 100 TB a single group is billions of
        // rows in one task's memory. Here both order statistics go through
        // GlobalOrder's range shuffle instead (each group spread over ALL
        // partitions, per-partition running counts + broadcast prefix
        // offsets, same machinery as x17): the median is the smallest v
        // whose doubled cumulative count reaches the group total (exact
        // discrete lower median — hence a separate query: x16's
        // interpolated percentile stays oracle-pinned), MAD repeats the
        // pass on |v − med|, and the outlier count is one more scan. No
        // stage ever holds more than a partition's slice of any group.
        //
        // r19 (guide §2.3, shuffle fewer bytes): the discrete lower median
        // is TIE-ORDER INVARIANT — in any v-sorted order the first row
        // whose doubled cumulative count reaches the group total carries
        // the median value, every later row carries a value >= it, and
        // rows tied on v are interchangeable — so the unique tiebreak
        // columns (l_orderkey, l_linenumber: 16 bytes/row through BOTH
        // range shuffles, plus two extra sort keys in the sampler and the
        // per-partition sorts) are unnecessary and are dropped; the oracle
        // keeps the tiebroken ROW_NUMBER formulation as a cross-
        // formulation differential. The running count also now rides
        // withGroupedRowNumber (a pure per-partition counter) instead of
        // withGroupedRunningSum(lit(1)) — no materialized all-ones measure
        // column through the exchange, no per-row boxed accumulator.
        val base = Tables.lineitem(s, d)
          .select(col("l_returnflag"), dec(col("l_extendedprice")).as("v"))
        def ranked(df: org.apache.spark.sql.DataFrame, vCol: String) =
          graft.ops.GlobalOrder.withGroupedRowNumber(
            df, "cw", "tw", Seq("l_returnflag"), Seq(col(vCol)))
        def discMedian(rankedDf: org.apache.spark.sql.DataFrame, vCol: String, out: String) =
          rankedDf
            .filter(col("cw") * 2 >= col("tw"))
            .groupBy(col("l_returnflag"))
            .agg(min(col(vCol)).as(out))
        // p1's range shuffle is materialized (localCheckpoint) inside
        // GlobalOrder — the deviation pass reads THAT instead of
        // re-scanning parquet, and `med` stays a 3-row broadcast joined
        // on each side of the second shuffle rather than a per-row
        // decimal column shipped through it
        val p1 = ranked(base, "v")
        val med = discMedian(p1, "v", "med")
        val dev = p1
          .select(col("l_returnflag"), col("v"))
          .join(broadcast(med), Seq("l_returnflag"))
          .select(col("l_returnflag"),
            abs(col("v") - col("med")).as("ad"))
        // ONE materialization serves both the MAD extraction and the
        // final outlier count
        val p2 = ranked(dev, "ad")
        val mad = discMedian(p2, "ad", "mad")
        p2
          .join(broadcast(mad), Seq("l_returnflag"))
          .join(broadcast(med), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            min(col("med")).cast("double").as("median_price"),
            min(col("mad")).cast("double").as("mad_price"),
            sum(when(col("ad") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             |    l_orderkey, l_linenumber
             |  FROM lineitem),
             |medr AS (
             |  SELECT l_returnflag, v,
             |    2 * ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |          ORDER BY v, l_orderkey, l_linenumber)
             |      >= COUNT(*) OVER (PARTITION BY l_returnflag) AS hit
             |  FROM v),
             |med AS (
             |  SELECT l_returnflag, MIN(v) AS med FROM medr WHERE hit GROUP BY l_returnflag),
             |dev AS (
             |  SELECT v.l_returnflag, med, abs(v - med) AS ad, l_orderkey, l_linenumber
             |  FROM v JOIN med USING (l_returnflag)),
             |madr AS (
             |  SELECT l_returnflag, ad,
             |    2 * ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |          ORDER BY ad, l_orderkey, l_linenumber)
             |      >= COUNT(*) OVER (PARTITION BY l_returnflag) AS hit
             |  FROM dev),
             |mad AS (
             |  SELECT l_returnflag, MIN(ad) AS mad FROM madr WHERE hit GROUP BY l_returnflag)
             |SELECT dev.l_returnflag, COUNT(*) AS n,
             |  CAST(MIN(med) AS DOUBLE) AS median_price,
             |  CAST(MIN(mad.mad) AS DOUBLE) AS mad_price,
             |  CAST(SUM(CASE WHEN ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev JOIN mad ON dev.l_returnflag = mad.l_returnflag
             |GROUP BY dev.l_returnflag
             |ORDER BY dev.l_returnflag""".stripMargin),
      doc = "x16's scale path: median + MAD robust z-score with BOTH order " +
        "statistics through GlobalOrder's range shuffle (exact discrete lower " +
        "median — smallest value whose doubled cumulative count reaches the " +
        "group total) instead of the whole-group-in-one-buffer percentile " +
        "aggregate; no stage holds more than a partition slice of any group"
    ),
    // ---------------------------------------------------------------- x32
    Q(
      "x32_hdr_quantiles",
      (s, d) => {
        // The SKETCH path for order statistics (see ops/HdrSketch): x2 /
        // x17 / x31 are exact and pay a per-row sort or range shuffle;
        // this is the one-pass mergeable answer — log-bucket the value
        // (relative bucket width <= 1/32, ~2k buckets for all of long
        // range), ONE map-side-combined count shuffle of O(groups x 2k)
        // rows, then p50/p90/p99 fall out of a cumulative sum over
        // BUCKET-level rows. Integer-exact end to end (length(bin()),
        // shifts, the all-integer rank test cum*den >= n*num), so the
        // sketch itself is hash-certified against DuckDB — not "close":
        // identical. x33 certifies the error bound against exact order
        // statistics.
        import graft.ops.HdrSketch
        val base = Tables.lineitem(s, d).select(
          col("l_returnflag"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
        val sk = HdrSketch.counts(
          HdrSketch.bucketize(base, col("cents"), col("l_returnflag")),
          col("l_returnflag"))
        HdrSketch.estimates(sk, col("l_returnflag"))
          .select(col("l_returnflag"), col("q_label"),
            col("est_lo").as("est_lo_cents"), col("est_hi").as("est_hi_cents"),
            col("n_group"))
          .orderBy(col("l_returnflag"), col("q_label"))
      },
      Some(HdrOracleCte +
        """SELECT l_returnflag, q_label,
           |  MIN(lo) AS est_lo_cents, MIN(hi) AS est_hi_cents,
           |  CAST(n_group AS BIGINT) AS n_group
           |FROM cum CROSS JOIN spec
           |WHERE cum * den >= n_group * num
           |GROUP BY l_returnflag, q_label, n_group
           |ORDER BY l_returnflag, q_label""".stripMargin),
      doc = "HDR-style log-bucket quantile sketch (mergeable, O(2k) buckets, " +
        "relative bucket width <= 1/32): p50/p90/p99 bounds from ONE " +
        "map-side-combined count aggregate — the bounded-state production " +
        "path beside exact x2/x17/x31; integer-exact, hash-certified"
    ),
    // ---------------------------------------------------------------- x33
    Q(
      "x33_hdr_certify",
      (s, d) => {
        // CERTIFY rung for x32 (the s21/s18 class: carries exact truth by
        // construction, production path is x32 alone): the rank-r order
        // statistic (r = ceil(q*n), exact discrete, any tie order — ties
        // share a value) must lie inside the sketch's picked bucket
        // [lo, hi]. The truth side is a per-group row_number sort — priced
        // like every certify rung, it exists to measure the sketch, not to
        // run at 100 TB.
        import graft.ops.HdrSketch
        import org.apache.spark.sql.expressions.Window
        val base = Tables.lineitem(s, d).select(
          col("l_returnflag"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
        val est = HdrSketch.estimates(
          HdrSketch.counts(
            HdrSketch.bucketize(base, col("cents"), col("l_returnflag")),
            col("l_returnflag")),
          col("l_returnflag"))
        val ranked = base
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))))
          .select(col("l_returnflag").as("rf"), col("cents"), col("rn"))
        est
          .withColumn("r", expr("(n_group * num + den - 1) DIV den"))
          .join(ranked, col("l_returnflag") === col("rf") && col("rn") === col("r"))
          .select(col("l_returnflag"), col("q_label"),
            col("est_lo").as("est_lo_cents"), col("est_hi").as("est_hi_cents"),
            col("cents").as("exact_cents"),
            (col("cents") >= col("est_lo") && col("cents") <= col("est_hi"))
              .as("within_bucket"))
          .orderBy(col("l_returnflag"), col("q_label"))
      },
      Some(HdrOracleCte +
        """, est AS (
           |  SELECT l_returnflag, q_label, num, den,
           |    MIN(lo) AS est_lo_cents, MIN(hi) AS est_hi_cents, n_group
           |  FROM cum CROSS JOIN spec
           |  WHERE cum * den >= n_group * num
           |  GROUP BY l_returnflag, q_label, num, den, n_group),
           |ranked AS (
           |  SELECT l_returnflag, c,
           |    row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn
           |  FROM base)
           |SELECT est.l_returnflag, q_label, est_lo_cents, est_hi_cents,
           |  c AS exact_cents,
           |  (c >= est_lo_cents AND c <= est_hi_cents) AS within_bucket
           |FROM est JOIN ranked ON est.l_returnflag = ranked.l_returnflag
           |  AND rn = (n_group * num + den - 1) // den
           |ORDER BY est.l_returnflag, q_label""".stripMargin),
      doc = "x32's certify rung (production path: x32): the exact rank-r order " +
        "statistic (r = ceil(q*n)) provably falls inside the sketch's picked " +
        "bucket [lo, hi] — checked value-for-value, truth side carries a " +
        "per-group sort by construction"
    ),
    // ---------------------------------------------------------------- x34
    Q(
      "x34_hdr_weighted",
      (s, d) => {
        // WEIGHTED quantile sketch — the bounded-state analog of
        // x17_weighted_median (whose exact path pays a range shuffle over
        // every row): per-bucket QUANTITY-weight sums instead of row
        // counts, then the identical first-crossing rank test — p50 here
        // is "the price bucket below which half the group's shipped
        // quantity sits". Weights ride as integer centi-units (exact), so
        // the whole sketch is still hash-certified; the exact weighted
        // rank-q value provably lands in the picked bucket
        // (HdrSketchSpec's weighted-median property). One
        // map-side-combined shuffle of O(groups x 2k) rows, like x32.
        import graft.ops.HdrSketch
        val base = Tables.lineitem(s, d).select(
          col("l_returnflag"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
          (dec(col("l_quantity")) * 100).cast("long").as("wc"))
        val sk = HdrSketch.weightedCounts(
          HdrSketch.bucketize(base, col("cents"), col("l_returnflag"), col("wc")),
          col("wc"), col("l_returnflag"))
        HdrSketch.estimates(sk, col("l_returnflag"))
          .select(col("l_returnflag"), col("q_label"),
            col("est_lo").as("est_lo_cents"), col("est_hi").as("est_hi_cents"),
            col("n_group").as("total_weight_c"))
          .orderBy(col("l_returnflag"), col("q_label"))
      },
      Some(HdrWeightedOracleCte +
        """SELECT l_returnflag, q_label,
           |  MIN(lo) AS est_lo_cents, MIN(hi) AS est_hi_cents,
           |  CAST(n_group AS BIGINT) AS total_weight_c
           |FROM cum CROSS JOIN spec
           |WHERE cum * den >= n_group * num
           |GROUP BY l_returnflag, q_label, n_group
           |ORDER BY l_returnflag, q_label""".stripMargin),
      doc = "weight-aware HDR quantile sketch (quantity-weighted price " +
        "percentiles): per-bucket weight sums through the same integer-exact " +
        "first-crossing test — the bounded-state production path beside " +
        "x17's exact range-shuffle weighted median; hash-certified"
    ),
    // ---------------------------------------------------------------- x35
    Q(
      "x35_cms_join_size",
      (s, d) => cmsJoinSize(s, d, certify = false),
      Some(cmsJoinSizeSql(certify = false)),
      doc = "CMS inner-product join-cardinality estimate (Cormode-" +
        "Muthukrishnan) with IN-PLAN adaptive width (next power of two " +
        ">= 4x distinct keys, from a broadcast count — the d29 rule): " +
        "|A join B| between two filtered relations from min-over-rows " +
        "cellwise sketch products, O(depth x width) cells per side " +
        "instead of the join; one-sided (est >= exact), integer-exact, " +
        "hash-certified"
    ),
    // ---------------------------------------------------------------- x36
    Q(
      "x36_cms_join_certify",
      (s, d) => cmsJoinSize(s, d, certify = true),
      Some(cmsJoinSizeSql(certify = true)),
      doc = "x35's certify rung (production path: x35): the exact join " +
        "cardinality (per-key frequency products — carries the key-grouped " +
        "join by construction) beside the sketch estimate; est >= exact is " +
        "the deterministic CMS inner-product guarantee"
    ),
    // ---------------------------------------------------------------- x37
    Q(
      "x37_sketch_partition",
      (s, d) => {
        // SKETCH-GUIDED EQUI-DEPTH PARTITIONING: derive 8-way range-
        // partition boundaries from the HDR quantile sketch (q1/8..q7/8
        // first-crossing buckets) instead of collecting a driver-side
        // sample the way RangePartitioner does — the boundary set comes
        // off a bounded O(2k)-bucket frame, so at 100 TB the planning
        // pass is ONE map-side-combined count shuffle, no sample. The
        // boundary search itself runs as array HOFs over ONE collected
        // bucket row (<= ~2k structs by construction — a GLOBAL window
        // here would put the whole frame through one unpartitioned
        // window task, which the plan guard rightly rejects; the
        // grouping-free collect is the provably-bounded spelling). Rows
        // then tag their range bin against the broadcast 7-cut array and
        // the output reports per-bin row counts, value bounds, and
        // integer-ppm shares — the balance proof: every share sits near
        // 125,000 ppm, off only by bucket-width granularity (<= 3.1%
        // relative). All integer, hash-certified.
        import graft.ops.HdrSketch
        val base = Tables.lineitem(s, d)
          .select((dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
        val sk = HdrSketch.counts(HdrSketch.bucketize(base, col("cents")))
        val cuts = sk
          .agg(array_sort(collect_list(struct(col("bucket"), col("hi"), col("cnt")))).as("bs"))
          .withColumn("n_total", expr("aggregate(bs, CAST(0 AS BIGINT), (a, x) -> a + x.cnt)"))
          .withColumn("cuts", expr(
            "transform(sequence(1, 7), j -> " +
              "aggregate(bs, named_struct('cum', CAST(0 AS BIGINT), 'cut', CAST(NULL AS BIGINT)), " +
              "(st, x) -> named_struct('cum', st.cum + x.cnt, " +
              "'cut', coalesce(st.cut, IF((st.cum + x.cnt) * 8 >= n_total * j, x.hi, CAST(NULL AS BIGINT))))).cut)"))
          .select(col("cuts"), col("n_total"))
        base.crossJoin(broadcast(cuts))
          .select(col("cents"),
            (size(expr("filter(cuts, c -> c < cents)")) + 1).cast("long").as("bin"),
            col("n_total"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
            min(col("n_total")).as("nt"))
          .select(col("bin"), col("n_rows"), col("min_cents"), col("max_cents"),
            expr("n_rows * 1000000 DIV nt").as("share_ppm"))
          .orderBy(col("bin"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             |  FROM lineitem),
             |bk AS (
             |  SELECT cents,
             |    CAST(length(bin(cents)) AS BIGINT) AS msb,
             |    CAST(greatest(length(bin(cents)) - 6, 0) AS INT) AS shift
             |  FROM base),
             |sk AS (
             |  SELECT msb * 32 + ((cents >> shift) & 31) AS bucket,
             |    CASE WHEN msb >= 6 THEN (32 + ((cents >> shift) & 31)) << shift
             |         ELSE (cents >> shift) & 31 END AS lo,
             |    (CASE WHEN msb >= 6 THEN (32 + ((cents >> shift) & 31)) << shift
             |          ELSE (cents >> shift) & 31 END) + (CAST(1 AS BIGINT) << shift) - 1 AS hi,
             |    COUNT(*) AS cnt
             |  FROM bk GROUP BY 1, 2, 3),
             |cum AS (
             |  SELECT bucket, lo, hi, cnt,
             |    SUM(cnt) OVER (ORDER BY bucket
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    CAST(SUM(cnt) OVER () AS BIGINT) AS n_group
             |  FROM sk),
             |spec(q_label, num, den) AS (VALUES ('q1', 1, 8), ('q2', 2, 8), ('q3', 3, 8),
             |  ('q4', 4, 8), ('q5', 5, 8), ('q6', 6, 8), ('q7', 7, 8)),
             |est AS (
             |  SELECT q_label, MIN(hi) AS est_hi, n_group
             |  FROM cum CROSS JOIN spec
             |  WHERE cum * den >= n_group * num
             |  GROUP BY q_label, n_group),
             |ct AS (SELECT list_sort(list(est_hi)) AS cuts, MIN(n_group) AS n_total FROM est),
             |binned AS (
             |  SELECT cents,
             |    CAST(len(list_filter(cuts, c -> c < cents)) + 1 AS BIGINT) AS bin,
             |    n_total
             |  FROM base CROSS JOIN ct)
             |SELECT bin, COUNT(*) AS n_rows,
             |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
             |  COUNT(*) * 1000000 // MIN(n_total) AS share_ppm
             |FROM binned
             |GROUP BY bin
             |ORDER BY bin""".stripMargin),
      doc = "HDR-sketch-guided equi-depth range partitioning: 8-way " +
        "boundaries from the bounded bucket frame's q/8 first crossings " +
        "(no driver-side sampling pass), rows binned against the broadcast " +
        "7-cut array, per-bin counts/bounds/ppm shares as the balance " +
        "proof — the sketch-native RangePartitioner planning pass; " +
        "integer-exact, hash-certified"
    ),
    // ---------------------------------------------------------------- x38
    Q(
      "x38_ams_f2",
      (s, d) => {
        // AMS SECOND-MOMENT (F2) SKETCH + CERTIFY: F2 = sum_k f_k^2 of the
        // l_orderkey frequency vector IS the key's self-join output size
        // and the numerator of the skew factor a planner reads before
        // picking a shuffle strategy (x39 consumes it). The sketch is 16
        // sign-sums Z_i — ONE map-side-combined O(16)-row exchange at any
        // corpus size — beside the exact per-key count aggregate (the
        // certify rung's truth side, which pays the key-grouped shuffle by
        // construction). Estimates: mean of Z_i^2 and median-of-means (4
        // groups of 4); signs are parities of DEGREE-3 polynomials over
        // Z_P (the 4-wise construction AMS requires — affine parity
        // underestimated F2 ~5x on these near-consecutive keys), and the
        // realized error is MEASURED (within_2x; ratios 0.55-1.17 across
        // sf0.001-0.1), not quoted. All integer until divisions by powers
        // of two (exact doubles on both engines); hash-certified.
        import graft.ops.AmsSketch
        val li = Tables.lineitem(s, d)
        val est = AmsSketch.estimate(AmsSketch.sums(AmsSketch.bucketize(amsKeyed(li), col("h"))))
        val exact = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).cast("long").as("exact_f2"))
        est.crossJoin(broadcast(exact))
          .select(col("est_mean"), col("est_mom"), col("exact_f2"),
            (col("est_mom") * 2 >= col("exact_f2") &&
              col("est_mom") <= col("exact_f2") * 2).as("within_2x"))
      },
      Some(s"""$amsGroupsSql,
              |ag AS (SELECT CAST(SUM(gs) AS BIGINT) AS ss, list_sort(list(gs)) AS gl FROM g),
              |ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2
              |  FROM (SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1))
              |SELECT CAST(ss AS DOUBLE) / 16 AS est_mean,
              |  CAST(gl[2] + gl[3] AS DOUBLE) / 8 AS est_mom,
              |  exact_f2,
              |  (CAST(gl[2] + gl[3] AS DOUBLE) / 8 * 2 >= exact_f2
              |    AND CAST(gl[2] + gl[3] AS DOUBLE) / 8 <= exact_f2 * 2) AS within_2x
              |FROM ag CROSS JOIN ex""".stripMargin),
      doc = "AMS tug-of-war F2 sketch (Alon-Matias-Szegedy) + certify rung: " +
        "self-join size / skew numerator from 16 sign-sums (one O(16)-row " +
        "map-side-combined exchange) beside the exact per-key-count truth; " +
        "mean and median-of-means estimates, realized error measured " +
        "(within_2x); integer-exact, hash-certified"
    ),
    // ---------------------------------------------------------------- x39
    Q(
      "x39_ams_salt",
      (s, d) => {
        // SKEW-ADAPTIVE SALT WIDTH DERIVED IN-PLAN — closing the suite's
        // last pinned planning knob (x1_salted_join pins nSalts = 8): the
        // AMS sketch measures the probe key's skew factor
        // sigma = ceil(F2*parts/n^2) — the expected mean-square reducer-
        // load inflation under hash partitioning into parts=32 reducers
        // (the suite's shuffle.partitions convention); sigma depends only
        // on the skew SHAPE, not the corpus size, and needs no distinct-
        // count pass — and the salted join spreads hot keys over the next
        // power of two >= sigma, clamped [1, 64]. On this near-uniform
        // corpus the rule derives n_salts=1 — it correctly REFUSES to pay
        // build-side replication for skew that isn't there, where the
        // pinned-8 rung sprays every hot key 8 ways regardless; on a
        // hot-key corpus the same plan widens automatically
        // (AmsSketchSpec proves the growth on a synthetic zipf frame).
        // The planning subtree is a bounded O(16)-row exchange; in
        // production it runs once and parameterizes many joins.
        // (Measured: localCheckpoint-ing the one-row width frame does NOT
        // speed this query up — 2.0/3.0/4.4s vs 1.9/3.0/4.2s at the three
        // points — AQE already dedupes the identical broadcast subtrees,
        // so the declarative spelling stands.) The
        // oracle is the PLAIN join aggregate plus the n_salts derivation
        // — certifying both that the salted join computes exactly the
        // unsalted join and that both engines derive the identical width.
        import graft.ops.{AmsSketch, Salting}
        val li = Tables.lineitem(s, d)
        val estI = AmsSketch.estimate(AmsSketch.sums(AmsSketch.bucketize(amsKeyed(li), col("h"))))
          .select(col("est_mom_i"))
        val stats = li.agg(count(lit(1)).as("n"))
        val saltRow = AmsSketch.saltWidth(estI, stats)
        val l = li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Salting.saltedJoinHotDyn(l, o, Seq("l_orderkey"), saltRow)
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(dec(col("l_extendedprice")) * (lit(1).cast(MoneyDec) - dec(col("l_discount"))))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(saltRow.select(col("__nsalts").as("n_salts"))))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""$amsGroupsSql,
              |fi AS (SELECT CAST((gl[2] + gl[3]) // 8 AS BIGINT) AS f2i
              |  FROM (SELECT list_sort(list(gs)) AS gl FROM g)),
              |st AS (SELECT COUNT(*) AS n FROM lineitem),
              |ns AS (SELECT CASE WHEN CAST(CEIL(CAST(f2i AS DOUBLE) / n * 32 / n) AS BIGINT) <= 1 THEN CAST(1 AS BIGINT)
              |  ELSE least(CAST(1 AS BIGINT) << length(bin(CAST(CEIL(CAST(f2i AS DOUBLE) / n * 32 / n) AS BIGINT) - 1)), 64) END AS n_salts
              |  FROM fi CROSS JOIN st)
              |SELECT o_orderpriority,
              |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
              |  COUNT(*) AS n_rows,
              |  (SELECT n_salts FROM ns) AS n_salts
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin),
      doc = "skew-adaptive salted join with the salt width derived IN-PLAN " +
        "from the AMS skew factor ceil(F2*parts/n^2) — the expected mean-" +
        "square reducer-load inflation under hash partitioning (the d29/x35 " +
        "adaptive rule applied to x1's pinned nSalts=8): uniform corpora " +
        "derive n_salts=1 and pay zero replication, hot-key corpora widen " +
        "automatically; oracle certifies exact plain-join equivalence AND " +
        "the cross-engine width derivation"
    ),
    // ---------------------------------------------------------------- x40
    Q(
      "x40_sketch_merge",
      (s, d) => {
        // INCREMENTAL-INGEST CERTIFICATION — the property every 100 TB
        // claim in the sketch suite rests on, driver-certified: corpus
        // statistics update by merging the NEW shard's sketch into the
        // standing one, never by rescanning the standing corpus. The
        // corpus splits into two disjoint shards (orderkey parity); each
        // of the four sketch families builds per-shard sketches and
        // merges them with its own merge operation — CMS: cellwise count
        // add; AMS: sign-sum add; HDR: bucket count add; KMV: k-min over
        // the union of retained sets (re-running the SAME bounded
        // aggregator over the exploded retained hashes — the actual
        // multi-day code path). The merged sketch must equal the
        // whole-corpus sketch EXACTLY, key for key (cells/rows/buckets)
        // and array-for-array (KMV) — both engines compute both sides, so
        // the hash compare certifies the merge spelling itself, not just
        // its outputs. Every frame here is sketch-sized (<= 2k rows), so
        // the checks are full-outer joins over bounded inputs.
        import graft.ops.{AmsSketch, CmsSketch, HdrSketch}
        import org.apache.spark.sql.Encoders
        val P = CmsSketch.P
        // r20: the 3-long projection materializes ONCE — whole-corpus and
        // per-shard passes of all four families previously re-ran the
        // parquet scan + hash projection (12 scans per rep); and each
        // family's two per-shard sketches build in ONE grouped pass
        // (groupBy shard rides the same aggregate) instead of two filtered
        // scans. The merge arithmetic — what the query certifies — is
        // unchanged: per-shard sketches still merge via each family's own
        // merge operation, and the whole-corpus side still computes from
        // its own independent pass over the data.
        val li = Tables.lineitem(s, d).select(
          ((lit(2654435761L) * col("l_orderkey") + lit(12345L)) % P).as("h"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
          (col("l_orderkey") % 2).as("shard"))
          .localCheckpoint()

        val cmsWhole = CmsSketch.counts(CmsSketch.bucketize(li, col("h")))
        val cmsMerged = CmsSketch.counts(
            CmsSketch.bucketize(li, col("h"), col("shard")), col("shard"))
          .groupBy(col("row_i"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
        val cms = cmsWhole.withColumnRenamed("cnt", "cw")
          .join(cmsMerged.withColumnRenamed("cnt", "cm"),
            Seq("row_i", "bucket"), "full_outer")
          .agg(count(lit(1)).as("cms_cells"),
            coalesce(sum(when(col("cw") === col("cm"), 0L).otherwise(1L)), lit(0L))
              .as("cms_bad"))

        val amsWhole = AmsSketch.sums(AmsSketch.bucketize(li, col("h")))
        val amsMerged = AmsSketch.sums(
            AmsSketch.bucketize(li, col("h"), col("shard")), col("shard"))
          .groupBy(col("row_i")).agg(sum(col("z")).as("z"))
        val ams = amsWhole.withColumnRenamed("z", "zw")
          .join(amsMerged.withColumnRenamed("z", "zm"), Seq("row_i"), "full_outer")
          .agg(count(lit(1)).as("ams_rows"),
            coalesce(sum(when(col("zw") === col("zm"), 0L).otherwise(1L)), lit(0L))
              .as("ams_bad"))

        val hdrWhole = HdrSketch.counts(
          HdrSketch.bucketize(li.select(col("cents")), col("cents")))
        val hdrMerged = HdrSketch.counts(
            HdrSketch.bucketize(li.select(col("shard"), col("cents")),
              col("cents"), col("shard")), col("shard"))
          .groupBy(col("bucket"), col("lo"), col("hi")).agg(sum(col("cnt")).as("cnt"))
        val hdr = hdrWhole.withColumnRenamed("cnt", "hw")
          .join(hdrMerged.withColumnRenamed("cnt", "hm"),
            Seq("bucket", "lo", "hi"), "full_outer")
          .agg(count(lit(1)).as("hdr_buckets"),
            coalesce(sum(when(col("hw") === col("hm"), 0L).otherwise(1L)), lit(0L))
              .as("hdr_bad"))

        val kmv = udaf(new graft.functions.Aggregates.KmvSketch(64), Encoders.scalaLong)
        val kWhole = li.agg(kmv(col("h")).as("rw"))
        val kMerged = li.groupBy(col("shard")).agg(kmv(col("h")).as("ret"))
          .select(explode(col("ret")).as("h"))
          .agg(kmv(col("h")).as("rm"))
        val kv = kWhole.crossJoin(broadcast(kMerged))
          .select((col("rw") === col("rm")).as("kmv_merge_ok"),
            element_at(col("rw"), size(col("rw"))).as("kmv_kth"))

        cms.crossJoin(broadcast(ams)).crossJoin(broadcast(hdr)).crossJoin(broadcast(kv))
          .select(col("cms_cells"), col("cms_bad"), col("ams_rows"), col("ams_bad"),
            col("hdr_buckets"), col("hdr_bad"), col("kmv_kth"), col("kmv_merge_ok"))
      },
      Some(s"""WITH v(row_i, m, c) AS (VALUES ${graft.ops.CmsSketch.rowSpecSql()}),
              |av(row_i, a, b, c, d) AS (VALUES ${graft.ops.AmsSketch.rowSpecSql()}),
              |base AS (SELECT (2654435761 * l_orderkey + 12345) % 1000000007 AS t,
              |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
              |    l_orderkey % 2 AS shard
              |  FROM lineitem),
              |cw AS (SELECT row_i, ((m * t + c) % 1000000007) % 512 AS bucket, COUNT(*) AS cnt
              |  FROM base CROSS JOIN v GROUP BY 1, 2),
              |cs AS (SELECT shard, row_i, ((m * t + c) % 1000000007) % 512 AS bucket, COUNT(*) AS cnt
              |  FROM base CROSS JOIN v GROUP BY 1, 2, 3),
              |cm AS (SELECT row_i, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM cs GROUP BY 1, 2),
              |cchk AS (SELECT COUNT(*) AS cms_cells,
              |    CAST(COALESCE(SUM(CASE WHEN cw.cnt = cm.cnt THEN 0 ELSE 1 END), 0) AS BIGINT) AS cms_bad
              |  FROM cw FULL JOIN cm USING (row_i, bucket)),
              |mx AS (SELECT shard, ${graft.ops.AmsSketch.mixSql("t")} AS h FROM base),
              |hp AS (SELECT shard, h, (h * h) % 1000000007 AS h2,
              |    (((h * h) % 1000000007) * h) % 1000000007 AS h3 FROM mx),
              |zw AS (SELECT row_i, CAST(SUM(1 - 2 * (((a * h3 + b * h2 + c * h + d) % 1000000007) % 2)) AS BIGINT) AS z
              |  FROM hp CROSS JOIN av GROUP BY 1),
              |zs AS (SELECT shard, row_i, CAST(SUM(1 - 2 * (((a * h3 + b * h2 + c * h + d) % 1000000007) % 2)) AS BIGINT) AS z
              |  FROM hp CROSS JOIN av GROUP BY 1, 2),
              |zm AS (SELECT row_i, CAST(SUM(z) AS BIGINT) AS z FROM zs GROUP BY 1),
              |achk AS (SELECT COUNT(*) AS ams_rows,
              |    CAST(COALESCE(SUM(CASE WHEN zw.z = zm.z THEN 0 ELSE 1 END), 0) AS BIGINT) AS ams_bad
              |  FROM zw FULL JOIN zm USING (row_i)),
              |hb AS (SELECT shard, cents,
              |    CAST(length(bin(cents)) AS BIGINT) AS msb,
              |    CAST(greatest(length(bin(cents)) - 6, 0) AS INT) AS shift
              |  FROM base),
              |hs AS (SELECT shard,
              |    msb * 32 + ((cents >> shift) & 31) AS bucket,
              |    CASE WHEN msb >= 6 THEN (32 + ((cents >> shift) & 31)) << shift
              |         ELSE (cents >> shift) & 31 END AS lo,
              |    (CASE WHEN msb >= 6 THEN (32 + ((cents >> shift) & 31)) << shift
              |          ELSE (cents >> shift) & 31 END) + (CAST(1 AS BIGINT) << shift) - 1 AS hi,
              |    COUNT(*) AS cnt
              |  FROM hb GROUP BY 1, 2, 3, 4),
              |hwh AS (SELECT msb * 32 + ((cents >> shift) & 31) AS bucket,
              |    CASE WHEN msb >= 6 THEN (32 + ((cents >> shift) & 31)) << shift
              |         ELSE (cents >> shift) & 31 END AS lo,
              |    (CASE WHEN msb >= 6 THEN (32 + ((cents >> shift) & 31)) << shift
              |          ELSE (cents >> shift) & 31 END) + (CAST(1 AS BIGINT) << shift) - 1 AS hi,
              |    CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM hb GROUP BY 1, 2, 3),
              |hm AS (SELECT bucket, lo, hi, CAST(SUM(cnt) AS BIGINT) AS cnt FROM hs GROUP BY 1, 2, 3),
              |hchk AS (SELECT COUNT(*) AS hdr_buckets,
              |    CAST(COALESCE(SUM(CASE WHEN hwh.cnt = hm.cnt THEN 0 ELSE 1 END), 0) AS BIGINT) AS hdr_bad
              |  FROM hwh FULL JOIN hm USING (bucket, lo, hi)),
              |kw AS (SELECT h FROM (SELECT t AS h, ROW_NUMBER() OVER (ORDER BY t) AS rn
              |    FROM (SELECT DISTINCT t FROM base)) WHERE rn <= 64),
              |ks AS (SELECT shard, t FROM (SELECT shard, t, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY t) AS rn
              |    FROM (SELECT DISTINCT shard, t FROM base)) WHERE rn <= 64),
              |km AS (SELECT t FROM (SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rn
              |    FROM (SELECT DISTINCT t FROM ks)) WHERE rn <= 64),
              |kchk AS (SELECT
              |    (SELECT list_sort(list(h)) FROM kw) = (SELECT list_sort(list(t)) FROM km) AS kmv_merge_ok,
              |    (SELECT CAST(MAX(h) AS BIGINT) FROM kw) AS kmv_kth)
              |SELECT cms_cells, cms_bad, ams_rows, ams_bad, hdr_buckets, hdr_bad,
              |  kmv_kth, kmv_merge_ok
              |FROM cchk CROSS JOIN achk CROSS JOIN hchk CROSS JOIN kchk""".stripMargin),
      doc = "incremental-ingest certification: per-shard sketches of a " +
        "2-way disjoint split MERGE to the whole-corpus sketch exactly for " +
        "all four families (CMS cellwise add, AMS sign-sum add, HDR bucket " +
        "add, KMV k-min over unioned retained sets through the SAME bounded " +
        "aggregator) — key-for-key and array-for-array, both sides computed " +
        "on both engines; the property every multi-day/multi-shard 100 TB " +
        "claim in the sketch suite rests on, driver-certified"
    )
  )

  /** Shared DuckDB CTE prefix for the x32/x33/x34 HDR-sketch oracles: the
    * bit-identical bucketization (length(bin()), shifts, masks), bucket
    * counts (row counts or weight sums), cumulative counts, and the 3-row
    * quantile spec.
    */
  private def hdrOracleCte(weighted: Boolean): String = {
    val wCol = if (weighted)
      ",\n    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w" else ""
    val wKeep = if (weighted) ", w" else ""
    val cnt = if (weighted) "SUM(w)" else "COUNT(*)"
    s"""WITH base AS (
       |  SELECT l_returnflag,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c$wCol
       |  FROM lineitem),
       |bk AS (
       |  SELECT l_returnflag, c$wKeep,
       |    CAST(length(bin(c)) AS BIGINT) AS msb,
       |    CAST(greatest(length(bin(c)) - 6, 0) AS INT) AS shift
       |  FROM base),
       |sk AS (
       |  SELECT l_returnflag,
       |    msb * 32 + ((c >> shift) & 31) AS bucket,
       |    CASE WHEN msb >= 6 THEN (32 + ((c >> shift) & 31)) << shift
       |         ELSE (c >> shift) & 31 END AS lo,
       |    (CASE WHEN msb >= 6 THEN (32 + ((c >> shift) & 31)) << shift
       |          ELSE (c >> shift) & 31 END) + (CAST(1 AS BIGINT) << shift) - 1 AS hi,
       |    $cnt AS cnt
       |  FROM bk GROUP BY 1, 2, 3, 4),
       |cum AS (
       |  SELECT l_returnflag, bucket, lo, hi, cnt,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS n_group
       |  FROM sk),
       |spec(q_label, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100))
       |""".stripMargin
  }

  private val HdrOracleCte: String = hdrOracleCte(weighted = false)
  private val HdrWeightedOracleCte: String = hdrOracleCte(weighted = true)

  private val GroupingSetsSql =
    """SELECT
      |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
      |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY returnflag, linestatus""".stripMargin
}
