package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relationship tables derived from the star schema —
  * the iterative-algorithm family (alongside ops/ConnectedComponents, d10).
  *
  * PageRank here is the FIXED-ITERATION, integer-grid formulation: every
  * per-edge contribution is computed in exact 1e-9 integer units with
  * explicit integer division, so the per-node sums are order-independent
  * and the result is bit-identical on both engines (a floating-point
  * PageRank is partition-order-sensitive and never oracle-exact). At scale
  * the expensive part — the fact-table joins building the edge list — runs
  * once; each unrolled iteration re-joins only the tiny aggregated edge
  * table (Catalyst reuses the aggregation's shuffle exchange across
  * iterations).
  */
object GraphPack extends QueryPack {

  /** The trade-flow join shared by g4/g5/g8: every lineitem with its
    * supplier's and customer's nation. Fact-fact shuffle join (lineitem ⋈
    * orders) + broadcast dims; callers aggregate it to a ≤25²-edge list.
    */
  private def tradeJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    li
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
  }

  /** g5/g8's thresholded undirected trade graph `(u, v)`, u < v: sparsified
    * so triangles and cores are non-trivial by keeping edges of ABOVE-
    * AVERAGE weight — scale-invariant (integer cross-multiply, exact).
    */
  private def keptTradeEdges(s: SparkSession, d: String): DataFrame = {
    val edges = tradeJoin(s, d)
      .select(
        least(col("s_nationkey"), col("c_nationkey")).cast("long").as("u"),
        greatest(col("s_nationkey"), col("c_nationkey")).cast("long").as("v")
      )
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
    val stats = edges.agg(sum(col("w")).as("tot"), count(lit(1)).as("n_pairs"))
    edges.crossJoin(broadcast(stats))
      .filter(col("w") * col("n_pairs") >= col("tot"))
      .select(col("u"), col("v"))
  }

  /** DuckDB twin of [[keptTradeEdges]]'s weighted pairs: the body of CTE
    * `ew(u, v, w)` and CTE `st(tot, n_pairs)`.
    */
  private val tradePairsSql: String =
    """  SELECT u, v, COUNT(*) AS w FROM (
      |    SELECT LEAST(s_nationkey, c_nationkey) AS u,
      |           GREATEST(s_nationkey, c_nationkey) AS v
      |    FROM lineitem
      |    JOIN orders   ON l_orderkey = o_orderkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN customer ON o_custkey = c_custkey
      |    WHERE s_nationkey <> c_nationkey) p
      |  GROUP BY u, v),
      |st AS (SELECT CAST(SUM(w) AS BIGINT) AS tot, COUNT(*) AS n_pairs FROM ew)""".stripMargin

  /** Co-order graph `(u, v)`, u < v, over `key` (g9/g10: l_suppkey, g11:
    * l_partkey): values linked when they share an order at least twice.
    * Co-occurrence pairs via per-order posting lists (d22's shape): one
    * aggregation collapses each order to its value set (≤7 items in TPC-H
    * shape, so the set is bounded), pairs generate LOCALLY inside the
    * sorted set — no fact-table self-join, one corpus shuffle.
    */
  private def coOrderEdges(s: SparkSession, d: String, key: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col(key))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col(key).cast("long"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      // repartition on a WIDENED deterministic key before the explode:
      // a repartition on l_orderkey itself is optimizer-removed (the
      // aggregate already hash-partitions on that key) and AQE then
      // coalesces the compact post-aggregate read by SIZE — measured 4
      // tasks at sf0.1 carrying the whole ~6× pair explode (r20
      // profile: 2.1 s executor-run, 0.6 s wall on 4 tasks). Hashing
      // into a 32×-wider domain (guide §2.5: many more key values than
      // partitions, derived deterministically — never rand()) keeps a
      // real REPARTITION_BY_NUM exchange in the plan, which AQE never
      // coalesces, so the explode spreads over every core at any scale.
      .repartition(s.sessionState.conf.numShufflePartitions,
        pmod(xxhash64(col("l_orderkey")),
          lit(s.sessionState.conf.numShufflePartitions * 32)))
      // pair generation as two chained codegen generators instead of
      // flatten(transform(... transform(...))): higher-order functions
      // are CodegenFallback — every pair paid an interpreted lambda
      // tree + named_struct allocation (r20 profile: ~2.1 s executor-
      // run for ~900 k pairs, ~10× the codegen cost of the same work).
      // posexplode + explode(slice(...)) emit the identical pair
      // multiset entirely inside whole-stage codegen.
      .select(col("ss"), posexplode(col("ss")).as(Seq("i", "u")))
      .select(col("u"), explode(slice(col("ss"), col("i") + 2,
        size(col("ss")) - col("i") - 1)).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2).select(col("u"), col("v"))

  /** g9/g10's supplier co-order adjacency, both edge directions, materialized
    * once. Both directions via a local explode instead of e.union(e.swap):
    * the union's two branches each re-read the full (u,v) pair exchange and
    * re-run its final aggregate (r20 profile: 1.79 M records read = 2× the
    * 897 k-row exchange, 1.9 s executor-run) — the explode reads the
    * aggregate ONCE and doubles rows inside the same stage.
    */
  private def coOrderAdj(s: SparkSession, d: String): DataFrame =
    coOrderEdges(s, d, "l_suppkey")
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .localCheckpoint()

  /** DuckDB twin of the co-order graph over `key`: CTEs `li`, `p`, `e(u, v)`
    * and `adj(u, v)` (both directions), built with the naive self-join — a
    * cross-formulation differential against the posting-list build.
    */
  private def coOrderAdjSql(key: String): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, $key FROM lineitem),
       |p AS (
       |  SELECT a.$key AS u, b.$key AS v, COUNT(*) AS w
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.$key < b.$key
       |  GROUP BY 1, 2),
       |e AS (SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v FROM p WHERE w >= 2),
       |adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ---------------------------------------------------------------- pagerank
    Q(
      "g4_pagerank",
      (s, d) => {
        // trade-flow graph: supplier nation → customer nation, weight =
        // number of lineitems shipped. Fact-fact shuffle join (lineitem ⋈
        // orders) + broadcast dims, then a 25×25-bounded edge aggregate.
        val edges = tradeJoin(s, d)
          .select(
            col("s_nationkey").cast("long").as("src"),
            col("c_nationkey").cast("long").as("dst")
          )
          .groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("w"))
        val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
        val e = edges.join(outw, Seq("src"))
        val nodes = Tables.nation(s, d).select(col("n_nationkey").cast("long").as("node"))
        // pr in 1e-9 units: pr0 = 1/25 exactly; damping 0.85 and the edge
        // split are explicit integer divisions (identical floor semantics
        // on both engines for positive operands)
        val pr0 = nodes.withColumn("pr", lit(40000000L))
        val prFinal = (1 to 3).foldLeft(pr0) { (pr, _) =>
          val contribs = pr
            .join(e, pr("node") === e("src"))
            .select(col("dst"), expr("(((pr * 85) div 100) * w) div outw").as("c"))
            .groupBy(col("dst"))
            .agg(sum(col("c")).as("in_sum"))
          nodes
            .join(contribs, nodes("node") === contribs("dst"), "left")
            .select(col("node"), (lit(6000000L) + coalesce(col("in_sum"), lit(0L))).as("pr"))
        }
        prFinal
          .select(col("node").as("nation_key"), (col("pr").cast("double") / 1e9).as("pagerank"))
          .orderBy(col("nation_key"))
      },
      Some("""WITH edges AS (
             |  SELECT CAST(s_nationkey AS BIGINT) AS src, CAST(c_nationkey AS BIGINT) AS dst,
             |         COUNT(*) AS w
             |  FROM lineitem
             |  JOIN orders   ON l_orderkey = o_orderkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |e AS (
             |  SELECT src, dst, w, outw
             |  FROM edges JOIN (SELECT src, SUM(w) AS outw FROM edges GROUP BY src) o USING (src)),
             |n AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
             |pr0 AS (SELECT node, CAST(40000000 AS BIGINT) AS pr FROM n),
             |pr1 AS (
             |  SELECT n.node, 6000000 + COALESCE(c.s, 0) AS pr
             |  FROM n LEFT JOIN (
             |    SELECT dst, SUM((((pr * 85) // 100) * w) // outw) AS s
             |    FROM pr0 JOIN e ON pr0.node = e.src GROUP BY dst) c ON n.node = c.dst),
             |pr2 AS (
             |  SELECT n.node, 6000000 + COALESCE(c.s, 0) AS pr
             |  FROM n LEFT JOIN (
             |    SELECT dst, SUM((((pr * 85) // 100) * w) // outw) AS s
             |    FROM pr1 JOIN e ON pr1.node = e.src GROUP BY dst) c ON n.node = c.dst),
             |pr3 AS (
             |  SELECT n.node, 6000000 + COALESCE(c.s, 0) AS pr
             |  FROM n LEFT JOIN (
             |    SELECT dst, SUM((((pr * 85) // 100) * w) // outw) AS s
             |    FROM pr2 JOIN e ON pr2.node = e.src GROUP BY dst) c ON n.node = c.dst)
             |SELECT node AS nation_key, CAST(pr AS DOUBLE) / 1000000000.0 AS pagerank
             |FROM pr3
             |ORDER BY nation_key""".stripMargin),
      doc = "weighted PageRank (3 unrolled iterations, damping 0.85) over the " +
        "supplier→customer nation trade graph — exact integer-grid arithmetic " +
        "makes the iterative sums order-independent and oracle-exact"
    ),
    // ---------------------------------------------------------------- triangles
    Q(
      "g5_triangle_count",
      (s, d) => {
        // triangle counting on the undirected trade graph — the clustering
        // primitive (community density, spam-graph detection). Canonical
        // a<b<c orientation makes each triangle materialize EXACTLY once:
        // two joins over the (tiny, aggregated) oriented edge list, never
        // the fact tables. Per-node participation via a generator over the
        // triangle's three corners.
        val kept = keptTradeEdges(s, d)
        val e1 = kept.select(col("u").as("a"), col("v").as("b"))
        val e2 = kept.select(col("u").as("b"), col("v").as("c"))
        val e3 = kept.select(col("u").as("a"), col("v").as("c"))
        val tris = e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
        tris
          .select(explode(array(col("a"), col("b"), col("c"))).as("nation_key"))
          .groupBy(col("nation_key"))
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("nation_key"))
      },
      Some(s"""WITH ew AS (
             |$tradePairsSql,
             |e AS (SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v
             |      FROM ew CROSS JOIN st WHERE w * n_pairs >= tot),
             |tri AS (
             |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM e e1
             |  JOIN e e2 ON e1.v = e2.u
             |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
             |SELECT nation_key, COUNT(*) AS n_triangles
             |FROM (SELECT unnest([a, b, c]) AS nation_key FROM tri) x
             |GROUP BY nation_key
             |ORDER BY nation_key""".stripMargin),
      doc = "per-node triangle counting on the thresholded trade graph: canonical " +
        "a<b<c orientation (each triangle once), two joins over the aggregated " +
        "edge list — clustering-coefficient primitive"
    ),
    // ---------------------------------------------------------------- k-core
    Q(
      "g8_kcore",
      (s, d) => {
        // k-core peeling (k=3, three unrolled rounds) on the same
        // thresholded trade graph as g5 — the dense-subgraph primitive
        // (spam rings, community cores). Each round keeps nodes with ≥k
        // surviving neighbors. The fact-table joins build the edge list
        // ONCE; every peel round touches only the aggregated ≤25²-edge
        // adjacency and a broadcast alive-set — at 100 TB the iteration
        // cost is edge-aggregate-sized, never corpus-sized. Degrees are
        // integer counts, so every round (and hence the fixed-round
        // output) is oracle-exact.
        val kept = keptTradeEdges(s, d)
        // materialize the aggregated adjacency ONCE before iterating: the
        // peel rounds and the final degree pass re-read adj ~8 times, and
        // without this each re-read would re-run the fact-table joins
        // (measured 88s → ~1s at sf0.01). Same discipline as
        // ConnectedComponents' contraction loop.
        val adj = kept.select(col("u").as("a"), col("v").as("b"))
          .union(kept.select(col("v").as("a"), col("u").as("b")))
          .localCheckpoint()
        val aliveK = graft.ops.KCore.peel(adj, k = 3, rounds = 3)
        graft.ops.KCore.degreesWithin(adj, aliveK)
          .select(col("a").as("nation_key"), col("core_degree"))
          .orderBy(col("nation_key"))
      },
      Some(s"""WITH ew AS MATERIALIZED (
             |$tradePairsSql,
             |e AS MATERIALIZED (
             |  SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v
             |  FROM ew CROSS JOIN st WHERE w * n_pairs >= tot),
             |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
             |a0 AS (SELECT DISTINCT a FROM adj),
             |a1 AS (SELECT a FROM (
             |  SELECT adj.a, COUNT(*) AS deg FROM adj
             |  JOIN a0 x ON adj.a = x.a JOIN a0 y ON adj.b = y.a
             |  GROUP BY adj.a) t WHERE deg >= 3),
             |a2 AS (SELECT a FROM (
             |  SELECT adj.a, COUNT(*) AS deg FROM adj
             |  JOIN a1 x ON adj.a = x.a JOIN a1 y ON adj.b = y.a
             |  GROUP BY adj.a) t WHERE deg >= 3),
             |a3 AS (SELECT a FROM (
             |  SELECT adj.a, COUNT(*) AS deg FROM adj
             |  JOIN a2 x ON adj.a = x.a JOIN a2 y ON adj.b = y.a
             |  GROUP BY adj.a) t WHERE deg >= 3)
             |SELECT adj.a AS nation_key, COUNT(*) AS core_degree
             |FROM adj
             |JOIN a3 x ON adj.a = x.a JOIN a3 y ON adj.b = y.a
             |GROUP BY adj.a
             |ORDER BY nation_key""".stripMargin),
      doc = "3-core decomposition (three unrolled peel rounds) of the thresholded " +
        "trade graph: broadcast alive-set semi-joins over the aggregated edge " +
        "list — dense-subgraph primitive, integer degrees, oracle-exact"
    ),
    // ---------------------------------------------------------------- lpa
    Q(
      "g9_label_propagation",
      (s, d) => {
        // Synchronous label propagation (two unrolled rounds) on the
        // supplier co-order graph: suppliers are linked when they ship in
        // the same order at least twice. LPA is the MODE-label update (most
        // frequent neighbor label, ties to the smallest) — a different
        // iteration primitive from CC's min-label and PageRank's weighted
        // sum: each round is one adjacency⋈labels equi-join + a
        // (node,label)-count aggregate + a min(struct(-cnt,label)) argmax,
        // all deterministic integers. The aggregated edge list is
        // materialized once (g8's discipline) and each round touches only
        // it; the DuckDB oracle builds the same edges with the naive
        // self-join — a cross-formulation differential.
        val adj = coOrderAdj(s, d)
        val lab0 = Tables.supplier(s, d)
          .select(col("s_suppkey").cast("long").as("node"))
          .withColumn("lbl", col("node"))
        def round(lab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val best = adj
            .join(lab.select(col("node").as("v"), col("lbl")), Seq("v"))
            .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
            .groupBy(col("u"))
            .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
            .select(col("u").as("node"), col("m.l").as("nlbl"))
          lab.join(best, Seq("node"), "left")
            .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        }
        // round-1 specialization (r20, algebraic — result provably equal):
        // labels start as identity (lbl(v) = v) and adj rows are DISTINCT
        // (u, v) pairs (the w>=2 pair aggregate), so every round-1 (u, lbl)
        // count is exactly 1 and the mode-label argmax (min over
        // (-cnt, lbl)) degenerates to min(v). It also needs every neighbor
        // v to have a lab0 row — the generic round's inner join drops an
        // unlabeled neighbor, min(v) counts it — which the FK premise
        // l_suppkey ⊆ s_suppkey gives (LabelPropRound1Spec shows the
        // divergence, QueriesSpec checks the premise). One map-reducible aggregate
        // (partial min collapses to ≤|V| rows per task) replaces a
        // no-reduction (u, lbl) exchange — 687 k rows at sf0.1, corpus-
        // pair-sized at scale — plus the two-level argmax. Round 2 runs
        // the general mode-label update unchanged; the oracle keeps the
        // generic two-round formulation, so the compare certifies the
        // rewrite cell-exact.
        val best1 = adj.groupBy(col("u"))
          .agg(min(col("v")).as("nlbl"))
          .select(col("u").as("node"), col("nlbl"))
        val lab1 = lab0.join(best1, Seq("node"), "left")
          .select(col("node"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        round(lab1)
          .select(col("node").as("s_suppkey"), col("lbl").as("community"))
          .orderBy(col("s_suppkey"))
      },
      Some(s"""${coOrderAdjSql("l_suppkey")},
             |l0 AS (SELECT CAST(s_suppkey AS BIGINT) AS node,
             |              CAST(s_suppkey AS BIGINT) AS lbl FROM supplier),
             |c1 AS (SELECT adj.u, l0.lbl, COUNT(*) AS cnt
             |       FROM adj JOIN l0 ON adj.v = l0.node GROUP BY 1, 2),
             |b1 AS (SELECT u AS node, lbl AS nlbl FROM (
             |  SELECT u, lbl,
             |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
             |  FROM c1) t WHERE rn = 1),
             |l1 AS (SELECT l0.node, COALESCE(b1.nlbl, l0.lbl) AS lbl
             |       FROM l0 LEFT JOIN b1 USING (node)),
             |c2 AS (SELECT adj.u, l1.lbl, COUNT(*) AS cnt
             |       FROM adj JOIN l1 ON adj.v = l1.node GROUP BY 1, 2),
             |b2 AS (SELECT u AS node, lbl AS nlbl FROM (
             |  SELECT u, lbl,
             |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
             |  FROM c2) t WHERE rn = 1),
             |l2 AS (SELECT l1.node, COALESCE(b2.nlbl, l1.lbl) AS lbl
             |       FROM l1 LEFT JOIN b2 USING (node))
             |SELECT node AS s_suppkey, lbl AS community
             |FROM l2
             |ORDER BY s_suppkey""".stripMargin),
      doc = "synchronous mode-label propagation (2 unrolled rounds) on the supplier " +
        "co-order graph: adjacency-join + count-argmax with deterministic ties — " +
        "the community-detection iteration primitive beside CC/PageRank/k-core"
    ),
    // ---------------------------------------------------------------- g10 bfs
    Q(
      "g10_khop_frontier",
      (s, d) => {
        // k-hop BFS reachability (k=3) from a deterministic seed set over
        // the supplier co-order graph (g9's edge build) — the frontier-
        // expansion primitive beside CC's min-label, LPA's mode-label and
        // PageRank's weighted sum. Each hop is ONE adjacency⋈frontier
        // equi-join + distinct + left_anti against the visited set, so
        // per-hop work scales with the NEW frontier, never the accumulated
        // reach — the property that keeps multi-hop traversals feasible on
        // a 100 TB edge set. Adjacency is materialized once
        // (localCheckpoint) and re-joined per hop; the visited set carries
        // the minimal (node, hop) record.
        val adj = coOrderAdj(s, d)
        val seeds = Tables.supplier(s, d)
          .filter(col("s_suppkey") % 97 === 0)
          .select(col("s_suppkey").cast("long").as("node"))
        // The per-hop FRONTIER is tiny relative to the edge set (seeds are
        // a 1/97 sample), so it rides the BROADCAST side of the adjacency
        // join — the checkpointed adjacency streams in place and is never
        // re-shuffled across hops. The accumulated VISITED set is NOT
        // broadcast: it grows monotonically with reach and can approach
        // |V| on a dense graph, so its anti-join stays a shuffle join
        // (both sides are already small-or-partitioned on node); hop cost
        // is sized by the frontier, never the reach. The frontier also
        // coalesces to a handful of partitions before each
        // localCheckpoint: a few-hundred-row frontier spread over 32
        // shuffle partitions would pay 32-task scheduling latency per hop
        // for no parallelism gain.
        val init = (seeds.withColumn("hop", lit(0L)), seeds)
        val (visited, _) = (1 to 3).foldLeft(init) { case ((vis, frontier), h) =>
          val next = adj
            .join(broadcast(frontier.select(col("node").as("u"))), Seq("u"))
            .select(col("v").as("node")).distinct()
            .join(vis.select(col("node")), Seq("node"), "left_anti")
            .coalesce(4)
            .localCheckpoint()
          (vis.union(next.withColumn("hop", lit(h.toLong))), next)
        }
        visited.orderBy(col("node"))
      },
      Some(s"""${coOrderAdjSql("l_suppkey")},
             |s0 AS (SELECT CAST(s_suppkey AS BIGINT) AS node FROM supplier
             |       WHERE s_suppkey % 97 = 0),
             |v0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM s0),
             |f1 AS (SELECT DISTINCT adj.v AS node FROM adj JOIN s0 ON adj.u = s0.node
             |       WHERE adj.v NOT IN (SELECT node FROM v0)),
             |v1 AS (SELECT * FROM v0 UNION ALL SELECT node, 1 FROM f1),
             |f2 AS (SELECT DISTINCT adj.v AS node FROM adj JOIN f1 ON adj.u = f1.node
             |       WHERE adj.v NOT IN (SELECT node FROM v1)),
             |v2 AS (SELECT * FROM v1 UNION ALL SELECT node, 2 FROM f2),
             |f3 AS (SELECT DISTINCT adj.v AS node FROM adj JOIN f2 ON adj.u = f2.node
             |       WHERE adj.v NOT IN (SELECT node FROM v2)),
             |v3 AS (SELECT * FROM v2 UNION ALL SELECT node, 3 FROM f3)
             |SELECT node, hop FROM v3
             |ORDER BY node""".stripMargin),
      doc = "k-hop BFS frontier expansion (3 unrolled hops) from a seeded " +
        "node set: adjacency-join + distinct + anti-join-visited per hop — " +
        "per-hop cost tracks the new frontier, not the accumulated reach"
    ),
    // ---------------------------------------------------------------- g11
    Q(
      "g11_link_prediction",
      (s, d) => {
        // Common-neighbor link prediction on the part co-order graph
        // (g9's edge build over l_partkey): score NON-edges by how many neighbors they
        // share, Jaccard-normalized by their degrees. Candidate pairs come
        // from per-node neighbor POSTING LISTS — each node emits the pairs
        // among its own (sorted) neighbor set, so cost is Σ deg(w)², the
        // triangle-counting bound, never a |V|² pair scan; at 100 TB the
        // standard guard is a degree cap on the posting list (hubs
        // contribute noise to common-neighbor scores anyway). Existing
        // edges leave via one anti-join; degrees broadcast back in.
        val e = coOrderEdges(s, d, "l_partkey").localCheckpoint()
        val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val cn = adj
          .groupBy(col("u").as("w"))
          .agg(sort_array(collect_set(col("v"))).as("ns"))
          .filter(size(col("ns")) >= 2)
          // codegen generator chain instead of interpreted HOF lambdas —
          // same rewrite as coOrderEdges' pair build; this site is the Σdeg²
          // triangle-bound explode, where the per-pair cost matters most
          .select(col("ns"), posexplode(col("ns")).as(Seq("i", "u")))
          .select(col("u"), explode(slice(col("ns"), col("i") + 2,
            size(col("ns")) - col("i") - 1)).as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
          .filter(col("cn") >= 2)
        cn.join(e, Seq("u", "v"), "left_anti")
          .join(deg.select(col("u"), col("deg").as("deg_u")), Seq("u"))
          .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), Seq("v"))
          .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
            quant(col("cn").cast("double") /
              (col("deg_u") + col("deg_v") - col("cn")), 1e6).as("jaccard"))
          .orderBy(col("u"), col("v"))
      },
      Some(s"""${coOrderAdjSql("l_partkey")},
             |deg AS (SELECT u, COUNT(*) AS deg FROM adj GROUP BY u),
             |cn AS (
             |  SELECT a.v AS u, b.v AS v, COUNT(*) AS cn
             |  FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
             |  GROUP BY 1, 2),
             |cand AS (
             |  SELECT cn.u, cn.v, cn.cn FROM cn
             |  WHERE cn.cn >= 2
             |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v))
             |SELECT cand.u, cand.v, cand.cn,
             |  du.deg AS deg_u, dv.deg AS deg_v,
             |  floor(CAST(cand.cn AS DOUBLE) / (du.deg + dv.deg - cand.cn) * 1000000)
             |    / 1000000 AS jaccard
             |FROM cand
             |JOIN deg du ON du.u = cand.u
             |JOIN deg dv ON dv.u = cand.v
             |ORDER BY cand.u, cand.v""".stripMargin),
      doc = "common-neighbor link prediction on the co-order graph: candidate " +
        "non-edges from per-node neighbor posting lists (cost = triangle bound " +
        "Sigma deg2, never |V|2), one anti-join removes existing edges, Jaccard " +
        "from exact integer degree sums"
    )
  )
}
