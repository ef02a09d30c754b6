package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GeoExpressions
import graft.ops.SpatialJoin

/** Spatial operators — the reference's GIS domain (ArcGIS envelopes,
  * per-vertex reprojection `/root/reference/task.ts:192-219`, server-side
  * spatial filters) expressed as engine-side bulk operators.
  *
  * Coordinates are derived DETERMINISTICALLY from integer keys (same idiom
  * as `f3_webmercator`) so every predicate is integer-exact on both engines:
  * the Spark side runs the scale-path plan (grid equi-join, broadcast
  * polygon test, codegen'd Morton interleave) while the oracle runs the
  * brute-force formulation (cross join + range predicate, unrolled bit/sign
  * arithmetic) — a true cross-formulation differential.
  */
object GeoPack extends QueryPack {

  /** Deterministic point cloud: one point per customer on an integer grid. */
  private def pts(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.customer(s, d).select(
      col("c_custkey"),
      (col("c_custkey") % 360 - 180).cast("double").as("x"),
      (col("c_custkey") % 170 - 85).cast("double").as("y"))

  private val PtsSql =
    "SELECT c_custkey, CAST(c_custkey % 360 - 180 AS DOUBLE) AS x, " +
      "CAST(c_custkey % 170 - 85 AS DOUBLE) AS y FROM customer"

  /** Convex-hexagon ring offsets around a nation centroid, CCW. */
  private val HexOffsets =
    Seq((8, 0), (4, 7), (-4, 7), (-8, 0), (-4, -7), (4, -7))

  /** The 6 unrolled edge sign tests of the hexagon containment, integer
    * arithmetic on (px, py) vs centroid (cx, cy) — the oracle twin of
    * [[graft.functions.PointInConvexPolygon]].
    */
  private val HexContainsSql: String =
    HexOffsets.indices.map { i =>
      val (dx1, dy1) = HexOffsets(i)
      val (dx2, dy2) = HexOffsets((i + 1) % HexOffsets.size)
      // ((x2-x1)*(py-y1) - (y2-y1)*(px-x1)) >= 0, vertices v = (cx+dx, cy+dy)
      s"(($dx2 - $dx1) * (py - (cy + $dy1)) - ($dy2 - $dy1) * (px - (cx + $dx1))) >= 0"
    }.mkString("(", ") AND (", ")")

  /** Unrolled Morton interleave: x contributes even bits 0..8, y odd bits
    * 1..15 — the oracle twin of the magic-mask bit spread in
    * [[graft.functions.ZOrderCurve]].
    */
  private val ZvalSql: String =
    ((0 until 9).map(i => s"(((x >> $i) & 1) * ${1L << (2 * i)})") ++
      (0 until 8).map(i => s"(((y >> $i) & 1) * ${1L << (2 * i + 1)})"))
      .mkString(" + ")

  /** g6/g12's grid kNN: supplier "stations" (qx, qy) find their 3 nearest
    * customer points (x, y) via `knn`, the grid-blocked kNN operator with
    * its cell size. Integer coordinates make dist² exact longs: no sqrt, no
    * parity risk, ranks pinned by the customer key tiebreak.
    */
  private def gridKnn(s: SparkSession, d: String)(
      knn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val sp = Tables.supplier(s, d).select(
      col("s_suppkey"),
      ((col("s_suppkey") * 17) % 360).as("qx"),
      ((col("s_suppkey") * 23) % 170).as("qy"))
    val cp = Tables.customer(s, d).select(
      col("c_custkey"),
      ((col("c_custkey") * 29) % 360).as("x"),
      ((col("c_custkey") * 31) % 170).as("y"))
    knn(sp, cp)
      .select(col("s_suppkey"), col("rn"), col("c_custkey"), col("dist2"))
      .orderBy(col("s_suppkey"), col("rn"))
  }

  /** DuckDB twin of [[gridKnn]]: `cellCtes` precede the point CTEs, `cross`
    * joins them into the pair scan, and `cell` is the cell-size expression.
    */
  private def gridKnnSql(cellCtes: String, cross: String, cell: String): String =
    s"""WITH ${cellCtes}sp AS (
       |  SELECT s_suppkey, (s_suppkey*17)%360 AS sx, (s_suppkey*23)%170 AS sy FROM supplier),
       |cp AS (
       |  SELECT c_custkey, (c_custkey*29)%360 AS cx, (c_custkey*31)%170 AS cy FROM customer),
       |pairs AS (
       |  SELECT s_suppkey, c_custkey,
       |    (sx-cx)*(sx-cx) + (sy-cy)*(sy-cy) AS dist2
       |  FROM sp ${cross}JOIN cp
       |    ON CAST(floor(cx/$cell) AS BIGINT)
       |         BETWEEN CAST(floor(sx/$cell) AS BIGINT) - 1 AND CAST(floor(sx/$cell) AS BIGINT) + 1
       |   AND CAST(floor(cy/$cell) AS BIGINT)
       |         BETWEEN CAST(floor(sy/$cell) AS BIGINT) - 1 AND CAST(floor(sy/$cell) AS BIGINT) + 1),
       |r AS (
       |  SELECT s_suppkey, c_custkey, dist2,
       |    row_number() OVER (PARTITION BY s_suppkey ORDER BY dist2, c_custkey) AS rn
       |  FROM pairs)
       |SELECT s_suppkey, rn, c_custkey, dist2 FROM r WHERE rn <= 3
       |ORDER BY s_suppkey, rn""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ------------------------------------------------------ g1 grid spatial join
    Q(
      "g1_grid_spatial_join",
      (s, d) => {
        val boxes = Tables.nation(s, d).select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          ((col("n_nationkey") * 14) % 340 - 170).cast("double").as("xmin"),
          ((col("n_nationkey") * 11) % 150 - 75).cast("double").as("ymin"),
          ((col("n_nationkey") * 14) % 340 - 170 + 24).cast("double").as("xmax"),
          ((col("n_nationkey") * 11) % 150 - 75 + 18).cast("double").as("ymax"))
        val hits = SpatialJoin.pointsInBoxes(pts(s, d), boxes, cellSize = 30.0)
          .groupBy(col("n_nationkey"))
          .agg(count(lit(1)).as("n_points"), sum(col("c_custkey")).as("sum_key"))
        Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("n_nationkey"))
          .join(hits, Seq("n_nationkey"), "left")
          .select(
            col("n_nationkey"),
            coalesce(col("n_points"), lit(0L)).as("n_points"),
            coalesce(col("sum_key"), lit(0L)).as("sum_key"))
          .orderBy(col("n_nationkey"))
      },
      Some(s"""WITH p AS ($PtsSql),
             |b AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             |        CAST((n_nationkey * 14) % 340 - 170 AS DOUBLE) AS xmin,
             |        CAST((n_nationkey * 11) % 150 - 75 AS DOUBLE) AS ymin,
             |        CAST((n_nationkey * 14) % 340 - 170 + 24 AS DOUBLE) AS xmax,
             |        CAST((n_nationkey * 11) % 150 - 75 + 18 AS DOUBLE) AS ymax
             |      FROM nation)
             |SELECT b.n_nationkey, COUNT(p.c_custkey) AS n_points,
             |  COALESCE(CAST(SUM(p.c_custkey) AS BIGINT), 0) AS sum_key
             |FROM b LEFT JOIN p
             |  ON p.x >= b.xmin AND p.x <= b.xmax AND p.y >= b.ymin AND p.y <= b.ymax
             |GROUP BY b.n_nationkey
             |ORDER BY b.n_nationkey""".stripMargin),
      doc = "spatial join (points in envelopes) via PBSM grid binning — both sides " +
        "mapped onto a 30° grid so Catalyst sees a plain equi-join on the cell key " +
        "(ops/SpatialJoin); oracle is the brute-force cross join + range predicate"
    ),
    // ------------------------------------------------------ g2 z-order clustering
    Q(
      "g2_zorder_cluster",
      (s, d) => {
        val g = Tables.customer(s, d).select(
          (col("c_custkey") % 360).as("x"),
          (col("c_custkey") % 170).as("y"))
        g.select(col("x"), col("y"),
            GeoExpressions.zorder(col("x"), col("y")).as("zval"))
          .groupBy(shiftright(col("zval"), 10).as("z_bucket"))
          .agg(
            count(lit(1)).as("n_points"),
            min(col("zval")).as("z_min"),
            max(col("zval")).as("z_max"),
            (max(col("x")) - min(col("x"))).as("x_span"),
            (max(col("y")) - min(col("y"))).as("y_span"))
          .orderBy(col("z_bucket"))
      },
      Some(s"""WITH g AS (SELECT c_custkey % 360 AS x, c_custkey % 170 AS y FROM customer),
             |z AS (SELECT x, y, $ZvalSql AS zval FROM g)
             |SELECT zval >> 10 AS z_bucket, COUNT(*) AS n_points,
             |  MIN(zval) AS z_min, MAX(zval) AS z_max,
             |  MAX(x) - MIN(x) AS x_span, MAX(y) - MIN(y) AS y_span
             |FROM z
             |GROUP BY 1
             |ORDER BY z_bucket""".stripMargin),
      doc = "z-order clustering key: codegen'd Morton interleave (functions/ZOrderCurve) " +
        "vs bit-unrolled oracle; per-z-bucket x/y spans stay tile-sized, the property " +
        "that makes z-sorted parquet row-group min/max prune 2-D range scans"
    ),
    // ------------------------------------------------------ g3 point in polygon
    Q(
      "g3_point_in_polygon",
      (s, d) => {
        val cx = (col("n_nationkey") * 13) % 300 - 150
        val cy = (col("n_nationkey") * 7) % 130 - 65
        val hex = Tables.nation(s, d).select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          array(HexOffsets.map { case (dx, _) => (cx + dx).cast("double") }: _*).as("xs"),
          array(HexOffsets.map { case (_, dy) => (cy + dy).cast("double") }: _*).as("ys"))
        val hits = pts(s, d)
          .crossJoin(broadcast(hex))
          .filter(GeoExpressions.pointInConvexPolygon(col("x"), col("y"), col("xs"), col("ys")))
          .groupBy(col("n_nationkey"))
          .agg(count(lit(1)).as("n_inside"), sum(col("c_custkey")).as("sum_key"))
        Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("n_nationkey"))
          .join(hits, Seq("n_nationkey"), "left")
          .select(
            col("n_nationkey"),
            coalesce(col("n_inside"), lit(0L)).as("n_inside"),
            coalesce(col("sum_key"), lit(0L)).as("sum_key"))
          .orderBy(col("n_nationkey"))
      },
      Some(s"""WITH p AS (SELECT c_custkey, c_custkey % 360 - 180 AS px, c_custkey % 170 - 85 AS py FROM customer),
             |h AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             |        (n_nationkey * 13) % 300 - 150 AS cx,
             |        (n_nationkey * 7) % 130 - 65 AS cy
             |      FROM nation)
             |SELECT h.n_nationkey, COUNT(p.c_custkey) AS n_inside,
             |  COALESCE(CAST(SUM(p.c_custkey) AS BIGINT), 0) AS sum_key
             |FROM h LEFT JOIN p ON $HexContainsSql
             |GROUP BY h.n_nationkey
             |ORDER BY h.n_nationkey""".stripMargin),
      doc = "point-in-convex-polygon containment (codegen'd sign-of-cross-product " +
        "expression, functions/PointInConvexPolygon) over a broadcast polygon table; " +
        "oracle unrolls the 6 integer edge tests — integer-exact on both engines"
    ),
    // ---------------------------------------------------------------- grid knn
    Q(
      "g6_grid_knn",
      (s, d) => {
        // spatial k-nearest-neighbors via grid blocking: supplier "stations"
        // find their 3 nearest customer points among the 3×3 neighbor cells
        // (ops/SpatialJoin.knnInGrid — the query side replicates ×9, every
        // pair meets at most once, candidates are a plain cell equi-join).
        // Integer coordinates make dist² exact longs: no sqrt, no parity
        // risk, ranks pinned by the customer key tiebreak.
        gridKnn(s, d)(SpatialJoin.knnInGrid(_, _, cellSize = 30.0, k = 3,
          keyCol = "s_suppkey", tie = col("c_custkey")))
      },
      Some(gridKnnSql("", "", "30.0")),
      doc = "grid-blocked spatial kNN (3 nearest customers per supplier station " +
        "within the 3×3 cell neighborhood) — cell equi-join candidates, exact " +
        "integer dist², per-query rank windows that scale with the query count; BASELINE RUNG (COVERAGE.md registry) — production path at scale: g12_adaptive_knn"
    ),
    // ------------------------------------------------------ g7 density clusters
    Q(
      "g7_density_clusters",
      (s, d) => {
        // Grid-density clustering (the distributed DBSCAN skeleton): points
        // reduce to per-cell counts (one aggregate — the corpus never leaves
        // the scan again), DENSE cells are selected against an integer-exact
        // relative threshold (n·cells·2 ≥ total·3, i.e. ≥1.5× the mean — no
        // float compare, scale-free), the dense-cell ADJACENCY graph comes
        // from a 9-offset explode + equi-join on the neighbor cell key
        // (g6's replication trick — never a range join), and clusters are
        // ConnectedComponents over that graph. The CC input is CELLS, not
        // points: its size is bounded by the grid, so the iterative part
        // runs on a frame thousands of times smaller than the corpus. The
        // quadratic key map is a test fixture giving real density variation.
        val p = Tables.customer(s, d).select(
          ((col("c_custkey") * col("c_custkey")) % 360 - 180).as("x"),
          ((col("c_custkey") * col("c_custkey") * 7) % 170 - 85).as("y"))
        val cells = p
          .groupBy(expr("(x + 180) DIV 10").as("cx"), expr("(y + 85) DIV 10").as("cy"))
          .agg(count(lit(1)).as("n"))
        val tot = cells.agg(
          sum(col("n")).cast("long").as("total"), count(lit(1)).as("n_cells"))
        val dense = cells.crossJoin(broadcast(tot))
          .filter(col("n") * col("n_cells") * 2 >= col("total") * 3)
          .select(col("cx"), col("cy"), col("n"), (col("cx") * 100 + col("cy")).as("cell_id"))
        val offsets = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
          struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
        val probes = dense
          .select(col("cell_id").as("src"), col("cx"), col("cy"), explode(offsets).as("o"))
          .select(col("src"), (col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"))
        val edges = probes
          .join(dense.select(col("cx"), col("cy"), col("cell_id").as("dst")), Seq("cx", "cy"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"))
        val nodes = dense.select(col("cell_id").as("id"))
        graft.ops.ConnectedComponents.run(nodes, edges)
          .join(dense.select(col("cell_id").as("id"), col("n")), Seq("id"))
          .groupBy(col("component").as("cluster"))
          .agg(count(lit(1)).as("n_cells"), sum(col("n")).cast("long").as("n_points"))
          .orderBy(col("cluster"))
      },
      Some("""WITH RECURSIVE p AS (
             |  SELECT (c_custkey * c_custkey) % 360 - 180 AS x,
             |         (c_custkey * c_custkey * 7) % 170 - 85 AS y
             |  FROM customer),
             |cells AS (
             |  SELECT (x + 180) // 10 AS cx, (y + 85) // 10 AS cy, COUNT(*) AS n
             |  FROM p GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_cells FROM cells),
             |dense AS (
             |  SELECT cx, cy, n, cx * 100 + cy AS cell_id FROM cells, tot
             |  WHERE n * n_cells * 2 >= total * 3),
             |edges AS (
             |  SELECT a.cell_id AS es, b.cell_id AS ed
             |  FROM dense a JOIN dense b
             |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
             |   AND a.cell_id <> b.cell_id),
             |reach AS (
             |  SELECT cell_id AS node, cell_id AS r FROM dense
             |  UNION
             |  SELECT reach.node, e.ed FROM reach JOIN edges e ON reach.r = e.es),
             |comp AS (SELECT node AS cell_id, MIN(r) AS cluster FROM reach GROUP BY node)
             |SELECT cluster, COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_points
             |FROM comp JOIN dense USING (cell_id)
             |GROUP BY cluster
             |ORDER BY cluster""".stripMargin),
      doc = "grid-density clustering (DBSCAN skeleton): per-cell counts, integer-" +
        "exact relative density threshold, 8-neighbor adjacency via offset explode " +
        "+ cell equi-join, connected components over the (grid-bounded) dense-cell " +
        "graph — vs a DuckDB recursive-CTE transitive closure"
    ),
    // ------------------------------------------------------- g12 adaptive knn
    Q(
      "g12_adaptive_knn",
      (s, d) => {
        // g6's production twin: same grid-kNN machinery, but the cell size
        // is derived IN-PLAN from measured point density (cell ∝ 1/√density,
        // SpatialJoin.knnInGridAdaptive) so per-cell occupancy — and with it
        // candidate volume per query — stays constant as the corpus grows.
        // g6 keeps the fixed 30-unit cell as the oracle-pinned baseline and
        // measures 13× wall for 10× rows (SCALING.md); this variant is the
        // configuration a standing corpus actually runs, and its oracle
        // recomputes the identical cell from the identical formula
        // (floor∘sqrt on IEEE doubles is engine-reproducible).
        gridKnn(s, d)(SpatialJoin.knnInGridAdaptive(_, _, domainArea = 360.0 * 170.0,
          targetPerCell = 8, k = 3, keyCol = "s_suppkey", tie = col("c_custkey")))
      },
      Some(gridKnnSql(
        """g AS (
          |  SELECT LEAST(64.0, GREATEST(1.0,
          |           FLOOR(SQRT(360.0 * 170.0 * 8 / COUNT(*))))) AS cell
          |  FROM customer),
          |""".stripMargin, "CROSS JOIN g ", "cell")),
      doc = "density-adaptive grid kNN (g6 with cell ∝ 1/√density computed in-plan " +
        "from a broadcast count): constant per-cell occupancy keeps candidate " +
        "volume linear in the corpus — the scale configuration for grid kNN"
    )
  )
}
