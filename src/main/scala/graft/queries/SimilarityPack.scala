package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps._
import LshCodes.{bucketAtSql, pinnedColsSql, pinnedProbeRows}

/** Similarity search over the `embeddings` table (SURVEY.md §2.9):
  * brute-force cosine top-k (baseline), label-blocked pairwise similarity
  * (IVF-style partition), and random-hyperplane LSH bucketing (the scale
  * path: candidate generation becomes an equi-join on the bucket key).
  *
  * Float arrays are cast to double element-wise and summed left-to-right on
  * both engines; cosines are floor-quantized to 1e-6 before compare/sort so
  * a last-ulp libm difference can't flip the hash.
  */
object SimilarityPack extends QueryPack {

  /** DuckDB twins of the VectorOps kernels (i is 1-based in DuckDB lambdas). */
  private val sqDot =
    "list_sum(list_transform(list_zip(%s, %s), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def dotSql(a: String, b: String) = sqDot.format(a, b)
  private def normSql(a: String) =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** Quantized cosine of an index row (`embedding`, `nrm`) against a query
    * (`q_emb`, `q_nrm`). NULL divisor on a zero-norm vector (when-guard
    * here, nullif in the oracle) — floor(NaN) would be 0 in Spark but NaN
    * in DuckDB.
    */
  private def qCos: Column = quant(dot(col("embedding"), col("q_emb")) /
    when(col("nrm") * col("q_nrm") > 0.0, col("nrm") * col("q_nrm")), 1e6)

  /** DuckDB twin of [[qCos]] over the list columns `a` and `b`; its second
    * and third lines are indented `pad` and `pad - 4` spaces.
    */
  private def cosSql(a: String, b: String, pad: Int): String =
    s"floor(${dotSql(a, b)} /\n${" " * pad}nullif(${normSql(a)} * ${normSql(b)}, 0) * 1000000)" +
      s"\n${" " * (pad - 4)}/ 1000000"

  /** Exact top-3 neighbours per query, the recall truth of s18/s21/s23: the
    * |Q|x|DB| pair work is a BLOCK equi-join (db blocked by vec_id%8, queries
    * replicated x8) — distributed, no cartesian, no single-key shuffle.
    * NULL (zero-norm) similarities are dropped BEFORE ranking so parity
    * never leans on an engine's default null order (ADVICE r11 — Spark
    * desc = nulls-last happens to match DuckDB's default_null_order, but a
    * non-default session setting would silently flip membership). `qCols`
    * project `qs` to (q_id, q_emb, q_nrm).
    */
  private def exactTop3(db: DataFrame, qs: DataFrame, qCols: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    db.withColumn("blk", pmod(col("vec_id"), lit(8)))
      .join(qs.select(qCols :+ explode(sequence(lit(0L), lit(7L))).as("blk"): _*), Seq("blk"))
      .select(col("q_id"), col("vec_id").as("nn_id"), qCos.as("cs"))
      .filter(col("cs").isNotNull)
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("q_id")).orderBy(col("cs").desc, col("nn_id"))))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("nn_id"))
  }

  /** DuckDB twin of [[exactTop3]] as CTE `truth` over CTEs `db` and `q`;
    * `row` selects (q_id, nn_id, cs) from them.
    */
  private def truthSql(row: String): String =
    s"""truth AS (
       |  SELECT q_id, nn_id FROM (
       |    SELECT q_id, nn_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cs DESC, nn_id) AS rk
       |    FROM (
       |      $row
       |      FROM db, q) t0 WHERE cs IS NOT NULL) t WHERE rk <= 3)""".stripMargin

  /** Top-3 per query over a multi-table (tbl, bucket) equi-join (s20/s22).
    * Tables overlap, so candidates dedup by (q_id, nn_id) — quantized cosine
    * is deterministic per pair, so distinct() after scoring is exact; n_cand
    * is each query's deduped candidate volume. `extra` query-side columns
    * ride through to the output.
    */
  private def annTop3(db: DataFrame, qs: DataFrame, extra: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = db.join(qs, Seq("tbl", "bucket"))
      .select((col("q_id") +: extra) ++ Seq(col("vec_id").as("nn_id"), qCos.as("cos_sim")): _*)
      .filter(col("cos_sim").isNotNull)
      .distinct()
    cand
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy(col("q_id"))))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("nn_id")))
          .cast("long"))
      .filter(col("rank") <= 3)
      .select(Seq(col("q_id"), col("rank"), col("nn_id"), col("cos_sim"), col("n_cand")) ++
        extra: _*)
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin of [[annTop3]] over CTE `db` and the query CTE `qFrom`
    * (aliased `q`); `extra` is the carried query column.
    */
  private def annTop3Sql(qFrom: String, extra: Option[String]): String = {
    val x = extra.fold("")(c => s"$c, ")
    s"""cand AS (
       |  SELECT DISTINCT q_id, ${x}nn_id, cos_sim FROM (
       |    SELECT q.q_id, ${extra.fold("")(c => s"q.$c, ")}db.vec_id AS nn_id,
       |      ${cosSql("db.embedding", "q.q_emb", 12)} AS cos_sim
       |    FROM db JOIN $qFrom ON db.tbl = q.tbl AND db.bucket = q.bucket) t
       |  WHERE cos_sim IS NOT NULL)
       |SELECT q_id, rank, nn_id, cos_sim, n_cand${extra.fold("")(c => s", $c")} FROM (
       |  SELECT q_id, ${x}nn_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, nn_id) AS rank,
       |    COUNT(*) OVER (PARTITION BY q_id) AS n_cand
       |  FROM cand) t
       |WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  /** s21/s23's recall/cost ladder: ONE (tbl, bucket) equi-join serves every
    * config — `idxCells` explodes each index vector (every vector not a
    * 50th) to its `(tbl, bucket)` rows over disjoint table ids, and
    * `probeCells` fans each query out per config x probe
    * `(config, tbl, bucket)` — and candidates dedup per (config, query,
    * neighbor). Per config: candidate volume and recall@3 against
    * [[exactTop3]].
    */
  private def recallLadder(e: DataFrame, idxCells: Column, probeCells: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val db = e.filter(col("vec_id") % 50 =!= 0)
    val qs = e.filter(col("vec_id") % 50 === 0)
    val dbx = db
      .select(col("vec_id"), col("embedding"), col("nrm"), explode(idxCells).as("tb"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val qp = qs
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        explode(probeCells).as("pr"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("pr.config").as("config"), col("pr.tbl").as("tbl"), col("pr.bucket").as("bucket"))
    val cand = dbx.join(qp, Seq("tbl", "bucket"))
      .select(col("config"), col("q_id"), col("vec_id").as("nn_id"), qCos.as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .distinct()
    val counts = cand.groupBy(col("config")).agg(count(lit(1)).as("n_cand"))
    val top3 = cand
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(col("config"), col("q_id"))
            .orderBy(col("cos_sim").desc, col("nn_id"))))
      .filter(col("rk") <= 3)
      .select(col("config"), col("q_id"), col("nn_id"))
    val truth = exactTop3(db, qs,
      col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val hits = top3
      .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "nn_id"), "left")
      .groupBy(col("config"))
      .agg(count(lit(1)).as("n_retrieved"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    val nq = qs.agg(count(lit(1)).as("n_q"))
    counts.join(hits, Seq("config"))
      .crossJoin(broadcast(nq))
      .select(col("config"), col("n_cand"), col("n_retrieved"), col("n_hits"),
        expr("n_hits * 1000000 DIV (3 * n_q)").as("recall_ppm"))
      .orderBy(col("config"))
  }

  /** DuckDB twin of [[recallLadder]] from CTE `cand` on, over CTEs `dbx`,
    * `qp`, `db` and `q`; `truthRow` is [[truthSql]]'s row.
    */
  private def recallLadderTailSql(truthRow: String): String =
    s"""cand AS (
       |  SELECT DISTINCT config, q_id, nn_id, cos_sim FROM (
       |    SELECT p.config, p.q_id, d.vec_id AS nn_id,
       |      ${cosSql("d.embedding", "p.q_emb", 12)} AS cos_sim
       |    FROM dbx d JOIN qp p ON d.tbl = p.tbl AND d.bucket = p.bucket) t
       |  WHERE cos_sim IS NOT NULL),
       |counts AS (SELECT config, COUNT(*) AS n_cand FROM cand GROUP BY config),
       |top3 AS (
       |  SELECT config, q_id, nn_id FROM (
       |    SELECT config, q_id, nn_id,
       |      ROW_NUMBER() OVER (PARTITION BY config, q_id
       |                         ORDER BY cos_sim DESC, nn_id) AS rk
       |    FROM cand) t WHERE rk <= 3),
       |${truthSql(truthRow)},
       |hits AS (
       |  SELECT config, COUNT(*) AS n_retrieved,
       |    CAST(SUM(CASE WHEN truth.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM top3 LEFT JOIN truth USING (q_id, nn_id)
       |  GROUP BY config),
       |nq AS (SELECT COUNT(*) AS n_q FROM q)
       |SELECT counts.config, n_cand, n_retrieved, n_hits,
       |  n_hits * 1000000 // (3 * (SELECT n_q FROM nq)) AS recall_ppm
       |FROM counts JOIN hits USING (config)
       |ORDER BY config""".stripMargin

  /** Hard-negative mining (s19/s24): per anchor, the top-3 most-similar
    * DIFFERENT-label index vectors. The label guard rides the candidate
    * join on `keys`, exact cosine reranks, and a zero-norm vector (NULL
    * cos_sim) is dropped BEFORE ranking so it can't claim a top-3 slot in
    * a sparse cell (ADVICE r10). Top-3 is the row_number window
    * TopKToNative lowers to the bounded-heap operator. `multiTable`
    * (s24's adaptive code) carries `k_planes` through and dedups per
    * (anchor, negative), since overlapping tables meet a pair more than once.
    */
  private def hardNegatives(idx: DataFrame, anchors: DataFrame, keys: Seq[String],
      multiTable: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kp = if (multiTable) Seq(col("k_planes")) else Nil
    val scored = idx.join(anchors, keys)
      .filter(col("label") =!= col("q_lbl"))
      .select((Seq(col("q_id"), col("q_lbl").cast("long").as("q_label")) ++ kp ++
        Seq(col("vec_id").as("neg_id"), col("label").cast("long").as("neg_label"),
          qCos.as("cos_sim"))): _*)
      .filter(col("cos_sim").isNotNull)
    (if (multiTable) scored.distinct() else scored)
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("neg_id")))
          .cast("long"))
      .filter(col("rank") <= 3)
      .select(Seq(col("q_id"), col("rank"), col("neg_id"), col("q_label"),
        col("neg_label"), col("cos_sim")) ++ kp: _*)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The deterministic 4-centroid coarse quantizer of s5/s6/s8/s10: centroid
    * j's element i = ((j*64+i)*2654435761 % P)/1e9, the same integer-hash
    * formula as the LSH planes (codegen'd hashPlaneDot kernel, shift=0).
    * Adds the quantized scores `s0..s3` and the argmax `centroid`, ties to
    * the lower id; `ids` are the four centroid labels, whose literal type
    * (Int or Long) is the column's type.
    */
  private def coarseAssign(e: DataFrame, ids: Seq[Any]): DataFrame =
    (0 until 4)
      .foldLeft(e.select(col("vec_id"), col("embedding"))) { case (df, j) =>
        df.withColumn(s"s$j", quant(hashPlaneDot(col("embedding"), j, 0.0), 1e6))
      }
      .withColumn(
        "centroid",
        when(col("s0") >= col("s1") && col("s0") >= col("s2") && col("s0") >= col("s3"), ids(0))
          .when(col("s1") >= col("s2") && col("s1") >= col("s3"), ids(1))
          .when(col("s2") >= col("s3"), ids(2))
          .otherwise(ids(3))
      )

  /** The query's nprobe=2 cells, picked by (score desc, centroid asc) — all
    * inside the plan (array_sort on (-score, id) structs), no collect.
    */
  private def top2Cells: Column =
    slice(
      array_sort(array((0 until 4).map(j =>
        struct((-col(s"s$j")).as("neg"), lit(j).as("c"))): _*)),
      1, 2
    )

  /** IVF nprobe=2 search over [[coarseAssign]]'s frame (s6/s8): query vector
    * 0 probes only its top-2 centroid cells, exact cosine ranks the probed
    * subset; top-10 rows of `out` plus `cos_sim`.
    */
  private def ivfTop10(scored: DataFrame, out: Column*): DataFrame = {
    val q = scored
      .filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), top2Cells.as("probe_structs"))
      .select(col("q_emb"),
        transform(col("probe_structs"), p => p.getField("c")).as("probes"))
    scored
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(array_contains(col("probes"), col("centroid")))
      .select(out :+ quant(cosine(col("embedding"), col("q_emb")), 1e6).as("cos_sim"): _*)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** DuckDB twin of centroid j's quantized score (see [[coarseAssign]]). */
  private def centroidDotSql(j: Int): String =
    s"floor(list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * (((($j*64 + (i-1)) * 2654435761) % 1000000007) / 1000000000.0))) * 1000000) / 1000000"

  /** DuckDB twin of [[coarseAssign]] plus the query's probed cells: CTEs
    * `scored`, `q` (vector 0) and `probes(c)`.
    */
  private val coarseProbesSql: String =
    s"""WITH scored AS (
       |  SELECT vec_id, embedding, s0, s1, s2, s3, CAST(CASE
       |    WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
       |    WHEN s1 >= s2 AND s1 >= s3 THEN 1
       |    WHEN s2 >= s3 THEN 2
       |    ELSE 3 END AS BIGINT) AS centroid
       |  FROM (SELECT vec_id, embedding,
       |          ${centroidDotSql(0)} AS s0, ${centroidDotSql(1)} AS s1, ${centroidDotSql(2)} AS s2, ${centroidDotSql(3)} AS s3
       |        FROM embeddings) t),
       |q AS (SELECT * FROM scored WHERE vec_id = 0),
       |probes AS (
       |  SELECT c FROM (
       |    SELECT 0 AS c, s0 AS sc FROM q UNION ALL SELECT 1, s1 FROM q
       |    UNION ALL SELECT 2, s2 FROM q UNION ALL SELECT 3, s3 FROM q) u
       |  ORDER BY sc DESC, c LIMIT 2)""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ---------------------------------------------------------------- topk
    Q(
      "s1_cosine_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(
            col("vec_id"),
            quant(cosine(col("embedding"), col("q_emb")), 1e6).as("cos_sim")
          )
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(20)
      },
      Some(s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id,
              |  floor(${dotSql("embedding", "q_emb")} /
              |        (${normSql("embedding")} * ${normSql("q_emb")}) * 1000000) / 1000000 AS cos_sim
              |FROM embeddings, q
              |WHERE vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id
              |LIMIT 20""".stripMargin),
      doc = "brute-force cosine top-k: broadcast query vector, one scan, final top-k only"
    ),
    // ---------------------------------------------------------------- blocked pairs
    Q(
      "s2_blocked_pair_sim",
      (s, d) => {
        // norms computed once per vector BEFORE the pair join (identical
        // doubles, 1/3 the per-pair work)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"), norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
        val b = e.select(col("vec_id").as("b_id"), col("label"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
        a.join(b, Seq("label"))
          .filter(col("a_id") < col("b_id"))
          .select(
            col("label"),
            quant(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 1e6).as("cos_sim")
          )
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(when(col("cos_sim") >= 0.8, 1L).otherwise(0L)).as("n_close")
          )
          .orderBy(col("label"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
              |SELECT label, COUNT(*) AS n_pairs,
              |  CAST(SUM(CASE WHEN cos_sim >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_close
              |FROM (
              |  SELECT CAST(a.label AS BIGINT) AS label,
              |    floor(${dotSql("a.embedding", "b.embedding")} /
              |          (${normSql("a.embedding")} * ${normSql("b.embedding")}) * 1000000) / 1000000 AS cos_sim
              |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) p
              |GROUP BY label
              |ORDER BY label""".stripMargin),
      doc = "IVF-style blocked all-pairs: partition key = label bounds the pair count; BASELINE RUNG (COVERAGE.md registry) — production path at scale: none (output IS the pair enumeration)"
    ),
    // ---------------------------------------------------------------- lsh buckets
    Q(
      "s3_lsh_bucket_histogram",
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"), lshBucket(col("embedding"), 4).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy(col("bucket")),
      Some {
        val bits = bucketAtSql(4, 0)
        s"""SELECT bucket, COUNT(*) AS n_vectors
           |FROM (SELECT vec_id, CAST($bits AS BIGINT) AS bucket
           |      FROM (SELECT vec_id, embedding AS emb FROM embeddings))
           |GROUP BY bucket
           |ORDER BY bucket""".stripMargin
      },
      doc = "random-hyperplane LSH: 4 deterministic planes -> 16 buckets; ANN candidates " +
        "come from an equi-join on bucket at scale; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s22_adaptive_ann (LSH serving; IVF+PQ twin: s25_adaptive_ivf)"
    ),
    // ---------------------------------------------------------------- knn join via lsh
    Q(
      "s4_lsh_candidate_pairs",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding"), 4).as("bucket"), norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("a_id"), col("bucket"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
        val b = e.select(col("vec_id").as("b_id"), col("bucket"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
        a.join(b, Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .select(col("bucket"),
            quant(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 1e6).as("cos_sim"))
          .filter(col("cos_sim") >= 0.25)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_close_candidates"))
          .orderBy(col("bucket"))
      },
      Some {
        val bits = bucketAtSql(4, 0)
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding, CAST($bits AS BIGINT) AS bucket
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings))
           |SELECT bucket, COUNT(*) AS n_close_candidates
           |FROM (
           |  SELECT a.bucket AS bucket,
           |    floor(${dotSql("a.embedding", "b.embedding")} /
           |          (${normSql("a.embedding")} * ${normSql("b.embedding")}) * 1000000) / 1000000 AS cos_sim
           |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) p
           |WHERE cos_sim >= 0.25
           |GROUP BY bucket
           |ORDER BY bucket""".stripMargin
      },
      doc = "end-to-end ANN: LSH bucket equi-join generates candidates, exact cosine re-ranks; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s22_adaptive_ann (LSH serving; IVF+PQ twin: s25_adaptive_ivf)"
    ),
    // ---------------------------------------------------------------- centroids
    Q(
      "s5_centroid_assign",
      (s, d) => {
        coarseAssign(Tables.embeddings(s, d), 0 until 4)
          .groupBy(col("centroid"))
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy(col("centroid"))
      },
      Some {
        s"""SELECT centroid, COUNT(*) AS n_vectors FROM (
           |  SELECT CAST(CASE
           |    WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
           |    WHEN s1 >= s2 AND s1 >= s3 THEN 1
           |    WHEN s2 >= s3 THEN 2
           |    ELSE 3 END AS BIGINT) AS centroid
           |  FROM (SELECT ${centroidDotSql(0)} AS s0, ${centroidDotSql(1)} AS s1, ${centroidDotSql(2)} AS s2, ${centroidDotSql(3)} AS s3
           |        FROM embeddings) t) a
           |GROUP BY centroid
           |ORDER BY centroid""".stripMargin
      },
      doc = "IVF coarse-quantizer assignment step: argmax similarity over 4 deterministic " +
        "centroids with fixed tie order — the partition-pruning key for ANN at scale; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s25_adaptive_ivf"
    ),
    // ---------------------------------------------------------------- ivf search
    Q(
      "s6_ivf_topk",
      (s, d) => {
        // same deterministic coarse quantizer as s5 (codegen'd kernel)
        ivfTop10(coarseAssign(Tables.embeddings(s, d), 0 until 4), col("vec_id"), col("centroid"))
      },
      Some {
        s"""$coarseProbesSql
           |SELECT s.vec_id, s.centroid,
           |  floor(${dotSql("s.embedding", "q.embedding")} /
           |        (${normSql("s.embedding")} * ${normSql("q.embedding")}) * 1000000) / 1000000 AS cos_sim
           |FROM scored s, q
           |WHERE s.vec_id <> 0 AND s.centroid IN (SELECT c FROM probes)
           |ORDER BY cos_sim DESC, s.vec_id
           |LIMIT 10""".stripMargin
      },
      doc = "IVF ANN search end-to-end: coarse-quantize every vector (s5), probe only " +
        "the query's top-2 centroid partitions (nprobe=2 prunes the scan to ~half " +
        "the corpus; at 100 TB the centroid id is the physical partition key so " +
        "pruning is I/O, not compute), exact-cosine re-rank inside the probed subset; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s25_adaptive_ivf"
    ),
    // ---------------------------------------------------------------- s7 PQ/ADC
    Q(
      "s7_pq_adc",
      (s, d) => {
        // PQ distances via the compiled PqDists kernel (one pass over the 64
        // floats per row) instead of 16 interpreted HOF lambda towers — same
        // arithmetic as the SQL spelling, so the DuckDB oracle is unchanged
        val e = Tables.embeddings(s, d)
        val enc = PqCols.codes(e.filter(col("vec_id") =!= 0))
        val q = e.filter(col("vec_id") === 0)
          .select(graft.functions.VectorExpressions.pqDists(col("embedding")).as("qds"))
        enc.crossJoin(broadcast(q))
          .select(
            col("vec_id"), col("code0"), col("code1"), col("code2"), col("code3"),
            PqCols.adcDist.as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(10)
      },
      Some(PqSql.text(spark = false)),
      doc = "product-quantization ANN (PQ + ADC): 64-dim vectors split into 4 " +
        "subspaces, each encoded to its nearest of 4 deterministic grid centroids " +
        "(16 bytes -> 1 byte per subspace = 16x memory compression at corpus " +
        "scale); query distances to every (subspace, centroid) are computed ONCE " +
        "(the ADC lookup table, 16 doubles broadcast) and each vector's " +
        "approximate distance is 4 table lookups — never a 64-dim scan per pair. " +
        "Subspace distances floor-quantized so the argmin and the ADC sum are " +
        "engine-reproducible"
    ),
    // ---------------------------------------------------------------- recall eval
    Q(
      "s8_recall_eval",
      (s, d) => {
        // ANN quality evaluation: recall@10 of the IVF nprobe=2 search (s6)
        // against the exact brute-force top-10 (s1) for the same query —
        // the measurement loop every approximate index needs before anyone
        // trusts it at corpus scale. Both rankings are computed inside ONE
        // plan and joined; the result is a single audited number.
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        val bf = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), quant(cosine(col("embedding"), col("q_emb")), 1e6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
        val ivf = ivfTop10(coarseAssign(e, 0 until 4), col("vec_id"))
        bf.select(col("vec_id"))
          .join(ivf.select(col("vec_id")), Seq("vec_id"))
          .agg(count(lit(1)).as("n_overlap"))
          .select(
            lit(10L).as("k"),
            col("n_overlap"),
            (col("n_overlap").cast("double") / 10.0).as("recall_at_10")
          )
      },
      Some {
        s"""$coarseProbesSql,
           |bf AS (
           |  SELECT vec_id FROM (
           |    SELECT s.vec_id,
           |      floor(${dotSql("s.embedding", "q.embedding")} /
           |            (${normSql("s.embedding")} * ${normSql("q.embedding")}) * 1000000) / 1000000 AS cos_sim
           |    FROM scored s, q WHERE s.vec_id <> 0) t
           |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
           |ivf AS (
           |  SELECT vec_id FROM (
           |    SELECT s.vec_id,
           |      floor(${dotSql("s.embedding", "q.embedding")} /
           |            (${normSql("s.embedding")} * ${normSql("q.embedding")}) * 1000000) / 1000000 AS cos_sim
           |    FROM scored s, q
           |    WHERE s.vec_id <> 0 AND s.centroid IN (SELECT c FROM probes)) t
           |  ORDER BY cos_sim DESC, vec_id LIMIT 10)
           |SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_overlap,
           |  CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_10
           |FROM bf JOIN ivf USING (vec_id)""".stripMargin
      },
      doc = "ANN recall@10 evaluation: exact brute-force top-10 vs IVF nprobe=2 " +
        "top-10 in one plan — the audited quality number for the approximate index"
    ),
    // ---------------------------------------------------------------- kmeans
    Q(
      "s9_kmeans_iterations",
      (s, d) => {
        // two unrolled Lloyd iterations (the iterative-ML analog of g4's
        // unrolled PageRank): assign → recompute centroids → re-assign →
        // report. Coordinates floor-quantize to a 1e-6 integer grid, so
        // squared distances and centroid means are EXACT integer / single-
        // IEEE-division arithmetic — a deterministic distributed k-means
        // both engines replay bit-identically. Scale shape per round: one
        // map-side assignment (centroids ride as literals / a broadcast
        // 1-row frame) + one partial aggregation; k rows ever shuffle.
        import org.apache.spark.sql.{Column, DataFrame}
        val seeds = Seq((-200000L, -200000L), (200000L, -200000L),
          (-200000L, 200000L), (200000L, 200000L))
        val q = Tables.embeddings(s, d).select(
          col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1e6).cast("long").as("qx"),
          floor(element_at(col("embedding"), 2).cast("double") * 1e6).cast("long").as("qy"))

        def assign(df: DataFrame, cx: Int => Column, cy: Int => Column): DataFrame = {
          val dists = (0 until 4).map { j =>
            ((col("qx") - cx(j)) * (col("qx") - cx(j)) +
              (col("qy") - cy(j)) * (col("qy") - cy(j))).as(s"d$j")
          }
          df.select(col("vec_id") +: col("qx") +: col("qy") +: dists: _*)
            .withColumn("cl",
              when(col("d0") <= col("d1") && col("d0") <= col("d2") && col("d0") <= col("d3"), 0L)
                .when(col("d1") <= col("d2") && col("d1") <= col("d3"), 1L)
                .when(col("d2") <= col("d3"), 2L)
                .otherwise(3L))
            .drop("d0", "d1", "d2", "d3")
        }
        // round 1: literal seeds
        val a1 = assign(q, j => lit(seeds(j)._1), j => lit(seeds(j)._2))
        // M-step: one row of 8 centroid coords; empty cluster keeps its seed
        val mCols = (0 until 4).flatMap { j =>
          val n = count(when(col("cl") === j, lit(1)))
          def m(c: String) = coalesce(
            floor(sum(when(col("cl") === j, col(c))).cast("double") / n).cast("long"),
            lit(if (c == "qx") seeds(j)._1 else seeds(j)._2))
          Seq(m("qx").as(s"c${j}x"), m("qy").as(s"c${j}y"))
        }
        val m1 = a1.agg(mCols.head, mCols.tail: _*)
        // round 2: recomputed centroids broadcast as a 1-row frame
        val a2 = assign(q.crossJoin(broadcast(m1)), j => col(s"c${j}x"), j => col(s"c${j}y"))
        a2.groupBy(col("cl").as("cluster"))
          .agg(
            count(lit(1)).as("n_vectors"),
            (floor(sum(col("qx")).cast("double") / count(lit(1))).cast("double") / 1e6).as("cx"),
            (floor(sum(col("qy")).cast("double") / count(lit(1))).cast("double") / 1e6).as("cy"))
          .orderBy(col("cluster"))
      },
      Some {
        def d(j: Int, cx: String, cy: String) =
          s"(qx-($cx))*(qx-($cx)) + (qy-($cy))*(qy-($cy)) AS d$j"
        def cl =
          """CAST(CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
            |          WHEN d1 <= d2 AND d1 <= d3 THEN 1
            |          WHEN d2 <= d3 THEN 2 ELSE 3 END AS BIGINT)""".stripMargin
        val seeds = Seq((-200000L, -200000L), (200000L, -200000L),
          (-200000L, 200000L), (200000L, 200000L))
        def m(j: Int, c: String, seed: Long) =
          s"COALESCE(CAST(floor(CAST(SUM(CASE WHEN cl=$j THEN $c END) AS DOUBLE) / " +
            s"COUNT(CASE WHEN cl=$j THEN 1 END)) AS BIGINT), $seed) AS c$j$c"
        s"""WITH q AS (
           |  SELECT vec_id,
           |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS qx,
           |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS qy
           |  FROM embeddings),
           |a1 AS (
           |  SELECT vec_id, qx, qy, $cl AS cl FROM (
           |    SELECT vec_id, qx, qy,
           |      ${seeds.zipWithIndex.map { case ((x, y), j) => d(j, x.toString, y.toString) }.mkString(",\n      ")}
           |    FROM q) t),
           |m1 AS (
           |  SELECT
           |    ${(0 until 4).flatMap(j => Seq(m(j, "qx", seeds(j)._1), m(j, "qy", seeds(j)._2))).mkString(",\n    ")}
           |  FROM a1),
           |a2 AS (
           |  SELECT vec_id, qx, qy, $cl AS cl FROM (
           |    SELECT vec_id, qx, qy,
           |      ${(0 until 4).map(j => d(j, s"c${j}qx", s"c${j}qy")).mkString(",\n      ")}
           |    FROM q CROSS JOIN m1) t)
           |SELECT cl AS cluster, COUNT(*) AS n_vectors,
           |  CAST(floor(CAST(SUM(qx) AS DOUBLE) / COUNT(*)) AS DOUBLE) / 1000000 AS cx,
           |  CAST(floor(CAST(SUM(qy) AS DOUBLE) / COUNT(*)) AS DOUBLE) / 1000000 AS cy
           |FROM a2
           |GROUP BY cl
           |ORDER BY cluster""".stripMargin
      },
      doc = "two unrolled Lloyd (k-means) iterations on the 1e-6 integer grid — " +
        "per round one broadcast assignment map + one partial aggregation; exact " +
        "integer distances, deterministic ties, empty clusters keep their seed"
    ),
    // ---------------------------------------------------------------- ivf-pq
    Q(
      "s10_ivfpq_topk",
      (s, d) => {
        // coarse stage: s6's quantizer (codegen'd hashPlaneDot); fine stage:
        // PQ/ADC via the compiled PqDists kernel over ONLY the probed cells
        val scored = coarseAssign(Tables.embeddings(s, d), (0 until 4).map(_.toLong))
        val qp = scored
          .filter(col("vec_id") === 0)
          .select(
            graft.functions.VectorExpressions.pqDists(col("embedding")).as("qds"),
            top2Cells.as("probe_structs"))
          .select(col("qds"),
            transform(col("probe_structs"), p => p.getField("c").cast("long")).as("probes"))
        val cand = scored
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qp))
          .filter(array_contains(col("probes"), col("centroid")))
        PqCols.codes(cand)
          .select(
            col("vec_id"), col("centroid"),
            col("code0"), col("code1"), col("code2"), col("code3"),
            PqCols.adcDist.as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(10)
      },
      Some(PqSql.textIvf(spark = false)),
      doc = "IVF-PQ (the FAISS IVFADC layout) end-to-end: s6's coarse quantizer " +
        "routes every vector to a centroid cell; the query probes only its top-2 " +
        "cells (nprobe=2 — at 100 TB the cell id is the partition key, so the " +
        "prune is I/O skipped, not compute); INSIDE the probed cells vectors are " +
        "PQ-encoded (4 subspaces x 4 centroids, 16x compression) and ranked by " +
        "the broadcast ADC lookup table — 4 table lookups per candidate, never " +
        "a 64-dim scan. Both stages of the production ANN ladder in one plan; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s25_adaptive_ivf (coarse stage; PQ rescore unchanged)"
    ),
    // ------------------------------------------------------------ dim moments
    Q(
      "s11_embedding_dim_moments",
      (s, d) => {
        // Per-dimension embedding statistics (mean / variance / range) — the
        // collapse-detection health check an embedding pipeline runs per
        // batch (a dead dimension has ~zero variance; a scale blowup shows
        // in the extremes). posexplode fans each vector into (dim, value)
        // rows — a narrow generator, NO shuffle until the 64-group
        // aggregate. Each float32 value is exactly representable as double;
        // quantized to a 1e6 integer grid before summing so the moment sums
        // are exact integers (order-free); sum of squares accumulates in
        // DECIMAL(38,0) so a 100 TB corpus cannot overflow the accumulator.
        val vals = Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(
            col("dim").cast("long").as("dim"),
            floor(col("v").cast("double") * 1e6).cast("long").as("q"))
        vals
          .groupBy(col("dim"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("q")).as("qsum"),
            sum(col("q").cast("decimal(38,0)") * col("q").cast("decimal(38,0)"))
              .as("qsumsq"),
            min(col("q")).as("qmin"),
            max(col("q")).as("qmax"))
          .select(
            col("dim"), col("n"),
            quant(col("qsum").cast("double") / col("n") / 1e6, 1e6).as("mean"),
            quant(
              (col("qsumsq").cast("double") / col("n") -
                (col("qsum").cast("double") / col("n")) * (col("qsum").cast("double") / col("n"))) / 1e12,
              1e6).as("variance"),
            (col("qmin").cast("double") / 1e6).as("vmin"),
            (col("qmax").cast("double") / 1e6).as("vmax"))
          .orderBy(col("dim"))
      },
      Some("""WITH vals AS (
             |  SELECT CAST(g.i AS BIGINT) AS dim,
             |    CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
             |  FROM embeddings, (SELECT unnest(range(64)) AS i) g),
             |agg AS (
             |  SELECT dim, COUNT(*) AS n, SUM(q) AS qsum,
             |    SUM(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))) AS qsumsq,
             |    MIN(q) AS qmin, MAX(q) AS qmax
             |  FROM vals GROUP BY dim)
             |SELECT dim, n,
             |  floor(CAST(qsum AS DOUBLE) / n / 1000000 * 1000000) / 1000000 AS mean,
             |  floor((CAST(qsumsq AS DOUBLE) / n -
             |    (CAST(qsum AS DOUBLE) / n) * (CAST(qsum AS DOUBLE) / n)) / 1000000000000
             |    * 1000000) / 1000000 AS variance,
             |  CAST(qmin AS DOUBLE) / 1000000 AS vmin,
             |  CAST(qmax AS DOUBLE) / 1000000 AS vmax
             |FROM agg
             |ORDER BY dim""".stripMargin),
      doc = "per-dimension embedding moments (mean/variance/extremes, the " +
        "collapse-detection health check): generator fan-out to (dim, value), " +
        "one 64-group aggregate with integer-grid sums and DECIMAL(38,0) " +
        "squares — exact at any corpus size, order-free, oracle-exact"
    ),
    // ------------------------------------------------------------ assign margin
    Q(
      "s12_assignment_margin",
      (s, d) => {
        // Cluster-assignment confidence (best-minus-second score margin) per
        // centroid — the clustering-quality diagnostic that flags boundary-
        // heavy cells (low margin = unstable assignment = bad partition key
        // for IVF routing). Reuses s5's quantized coarse-quantizer scores;
        // the margin is floor-quantized to integer micro-units BEFORE the
        // per-cell sum, so the aggregate is order-free and oracle-exact.
        // One scan, one 4-group aggregate — no joins.
        val sorted = sort_array(array(col("s0"), col("s1"), col("s2"), col("s3")), asc = false)
        coarseAssign(Tables.embeddings(s, d), (0 until 4).map(_.toLong))
          .withColumn(
            "margin_u",
            floor((sorted.getItem(0) - sorted.getItem(1)) * 1e6).cast("long"))
          .groupBy(col("centroid"))
          .agg(
            count(lit(1)).as("n_vectors"),
            (sum(col("margin_u")).cast("double") / count(lit(1)) / 1e6).as("mean_margin"),
            (min(col("margin_u")).cast("double") / 1e6).as("min_margin"),
            (max(col("margin_u")).cast("double") / 1e6).as("max_margin"))
          .orderBy(col("centroid"))
      },
      Some {
        s"""WITH scored AS (
           |  SELECT ${centroidDotSql(0)} AS s0, ${centroidDotSql(1)} AS s1, ${centroidDotSql(2)} AS s2, ${centroidDotSql(3)} AS s3
           |  FROM embeddings),
           |assigned AS (
           |  SELECT CAST(CASE
           |    WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
           |    WHEN s1 >= s2 AND s1 >= s3 THEN 1
           |    WHEN s2 >= s3 THEN 2
           |    ELSE 3 END AS BIGINT) AS centroid,
           |    CAST(floor((l[1] - l[2]) * 1000000) AS BIGINT) AS margin_u
           |  FROM (SELECT s0, s1, s2, s3,
           |          list_sort([s0, s1, s2, s3], 'DESC') AS l
           |        FROM scored) t)
           |SELECT centroid, COUNT(*) AS n_vectors,
           |  CAST(SUM(margin_u) AS DOUBLE) / COUNT(*) / 1000000 AS mean_margin,
           |  CAST(MIN(margin_u) AS DOUBLE) / 1000000 AS min_margin,
           |  CAST(MAX(margin_u) AS DOUBLE) / 1000000 AS max_margin
           |FROM assigned
           |GROUP BY centroid
           |ORDER BY centroid""".stripMargin
      },
      doc = "coarse-quantizer assignment-margin profile (best-minus-second score " +
        "per cell): low-margin cells mark unstable IVF routing — micro-unit " +
        "integer margins summed order-free, one scan + 4-group aggregate"
    ),
    // ---------------------------------------------------------------- int8 SQ
    Q(
      "s13_scalar_quant",
      (s, d) => {
        // int8 scalar quantization + quantized top-k — the memory tier below
        // s7's PQ: one global max-|x| scalar (broadcast into the scan, like
        // x19's histogram bounds), symmetric grid qv = floor(x·127/maxabs),
        // then the ADC-style search runs entirely in INTEGER arithmetic
        // (zip_with product + aggregate long sum) — exact, order-free, and
        // at scale a 4× memory cut over float32 with SIMD-friendly int8
        // rows. TakeOrdered top-k, never a global sort.
        val e = Tables.embeddings(s, d)
        val maxabs = e.agg(
          max(array_max(transform(col("embedding"), x => abs(x.cast("double"))))).as("ma"))
        // guard the degenerate all-zero table: ma = 0 would make Spark emit
        // NULL (0/0 -> NaN -> null cast) while DuckDB emits inf/NaN — a
        // cross-engine landmine. NULL divisor (when-guard / nullif) makes
        // both engines agree on NULL quantized vectors.
        val qv = e.crossJoin(broadcast(maxabs))
          .select(
            col("vec_id"),
            transform(col("embedding"), x =>
              floor(x.cast("double") * 127.0 / when(col("ma") > 0.0, col("ma")))
                .cast("long")).as("qv"))
        val q = qv.filter(col("vec_id") === 0).select(col("qv").as("q_qv"))
        qv.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(
            col("vec_id"),
            aggregate(zip_with(col("qv"), col("q_qv"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x).as("qdot"))
          .orderBy(col("qdot").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH ma AS (
             |  SELECT MAX(list_max(list_transform(embedding,
             |    x -> abs(CAST(x AS DOUBLE))))) AS ma
             |  FROM embeddings),
             |qvt AS (
             |  SELECT vec_id,
             |    list_transform(embedding,
             |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / nullif(ma, 0)) AS BIGINT)) AS qv
             |  FROM embeddings, ma),
             |q AS (SELECT qv AS q_qv FROM qvt WHERE vec_id = 0)
             |SELECT vec_id,
             |  CAST(list_sum(list_transform(generate_series(1, len(qv)),
             |    i -> qv[i] * q_qv[i])) AS BIGINT) AS qdot
             |FROM qvt, q
             |WHERE vec_id <> 0
             |ORDER BY qdot DESC, vec_id
             |LIMIT 10""".stripMargin),
      doc = "int8 scalar-quantized similarity search: global max-|x| scale " +
        "broadcast into the scan, symmetric floor grid, ALL-INTEGER quantized dot " +
        "product (exact, order-free) — the 4x-memory tier below PQ for ANN at scale"
    ),
    // ---------------------------------------------------------------- JL proj
    Q(
      "s14_random_projection",
      (s, d) => {
        // Johnson-Lindenstrauss ±1 random projection 64→16 dims with a
        // distortion audit — the dimensionality-reduction step before an
        // ANN index, verified the way a pipeline must verify it: measure
        // ||P(a)−P(b)||²/(k·||a−b||²) on known pairs (ideal → 1). The
        // projection matrix is never materialized: entry sign(i,j) derives
        // from a deterministic integer hash inside the codegen'd HOF chain,
        // and embeddings quantize to an integer micro-grid FIRST, so every
        // projected coordinate and both squared distances are exact integer
        // sums (order-free, oracle-exact); the one IEEE division happens at
        // output. Per-row narrow work + one id-shift equi-join — no shuffle
        // beyond the pair join, 4× less vector data shipped downstream.
        val proj = Tables.embeddings(s, d).select(
          col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
            .as("qv"))
          .withColumn("pv", expr(
            "transform(sequence(0, 15), j -> aggregate(" +
              "zip_with(qv, sequence(0, size(qv) - 1), (x, i) -> x * " +
              "(CASE WHEN ((i * 16 + j) * 2654435761) % 1000000007 % 2 = 0 " +
              "THEN 1 ELSE -1 END)), CAST(0 AS BIGINT), (acc, v) -> acc + v))"))
        val a = proj.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("a_id"), col("qv").as("qa"), col("pv").as("pa"))
        val b = proj.filter(col("vec_id") % 2 === 1)
          .select((col("vec_id") - 1).as("a_id"), col("vec_id").as("b_id"),
            col("qv").as("qb"), col("pv").as("pb"))
        a.join(b, Seq("a_id"))
          .select(
            col("a_id"), col("b_id"),
            expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), " +
              "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("orig_d2"),
            expr("aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)), " +
              "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("proj_d2"))
          .filter(col("orig_d2") > 0)
          .select(
            col("a_id"), col("b_id"), col("orig_d2"), col("proj_d2"),
            quant(col("proj_d2").cast("double") / (lit(16.0) * col("orig_d2").cast("double")),
              1e6).as("distortion"))
          .orderBy(col("a_id"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
             |  FROM embeddings),
             |p AS (
             |  SELECT vec_id, qv,
             |    list_transform(generate_series(0, 15), j ->
             |      list_sum(list_transform(generate_series(1, len(qv)), i ->
             |        qv[i] * (CASE WHEN (((i - 1) * 16 + j) * 2654435761)
             |          % 1000000007 % 2 = 0 THEN 1 ELSE -1 END)))) AS pv
             |  FROM q),
             |a AS (SELECT vec_id AS a_id, qv AS qa, pv AS pa FROM p WHERE vec_id % 2 = 0),
             |b AS (SELECT vec_id - 1 AS a_id, vec_id AS b_id, qv AS qb, pv AS pb
             |      FROM p WHERE vec_id % 2 = 1),
             |j AS (
             |  SELECT a_id, b_id,
             |    CAST(list_sum(list_transform(generate_series(1, len(qa)),
             |      i -> (qa[i] - qb[i]) * (qa[i] - qb[i]))) AS BIGINT) AS orig_d2,
             |    CAST(list_sum(list_transform(generate_series(1, 16),
             |      i -> (pa[i] - pb[i]) * (pa[i] - pb[i]))) AS BIGINT) AS proj_d2
             |  FROM a JOIN b USING (a_id))
             |SELECT a_id, b_id, orig_d2, proj_d2,
             |  floor(CAST(proj_d2 AS DOUBLE) / (16.0 * CAST(orig_d2 AS DOUBLE))
             |    * 1000000) / 1000000 AS distortion
             |FROM j
             |WHERE orig_d2 > 0
             |ORDER BY a_id""".stripMargin),
      doc = "JL +-1 random projection 64->16 with distortion audit: hash-derived " +
        "sign matrix inside codegen'd HOFs (never materialized), integer-grid " +
        "projections and exact integer squared distances, one output division"
    ),
    // ---------------------------------------------------------------- s15 mips
    Q(
      "s15_mips_topk",
      (s, d) => {
        // Maximum-inner-product search via the norm-augmentation reduction:
        // append sqrt(M² − ‖x‖²) to every database vector (M = max norm) and
        // 0 to the query, and cosine-NN over the augmented space ranks
        // EXACTLY by raw inner product — aug_cos = dot(x,q)/(M·‖q‖), a
        // monotone rescale. Output carries both the raw dot and the
        // augmented cosine so the rank equivalence is visible in the result.
        // Scale shape: one scan computes norms; max-norm is a scalar
        // aggregate broadcast back (single-row crossJoin); the query vector
        // broadcasts; top-k is TakeOrderedAndProject (per-partition heaps,
        // never a global sort).
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"))
        val db = e.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        val mx = db.agg(max(col("nrm")).as("mx"))
        db.crossJoin(broadcast(q))
          .crossJoin(broadcast(mx))
          .select(
            col("vec_id"),
            quant(dot(col("embedding"), col("q_emb")), 1e6).as("dot_q"),
            // NULL-guard the degenerate case (zero query vector or all-zero
            // db): 0/0 is NaN in Spark, NaN/inf in DuckDB — a NULL divisor
            // keeps both engines on NULL
            quant(
              dot(col("embedding"), col("q_emb")) /
                when(col("mx") * col("q_nrm") > 0.0, col("mx") * col("q_nrm")),
              1e9).as("aug_cos"))
          .orderBy(col("aug_cos").desc, col("vec_id"))
          .limit(20)
      },
      Some(s"""WITH q AS (
              |  SELECT embedding AS q_emb, ${normSql("embedding")} AS q_nrm
              |  FROM embeddings WHERE vec_id = 0),
              |db AS (
              |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
              |  FROM embeddings WHERE vec_id <> 0),
              |m AS (SELECT MAX(nrm) AS mx FROM db)
              |SELECT vec_id,
              |  floor(${dotSql("embedding", "q_emb")} * 1000000) / 1000000 AS dot_q,
              |  floor(${dotSql("embedding", "q_emb")} / nullif(mx * q_nrm, 0)
              |    * 1000000000) / 1000000000 AS aug_cos
              |FROM db CROSS JOIN q CROSS JOIN m
              |ORDER BY aug_cos DESC, vec_id
              |LIMIT 20""".stripMargin),
      doc = "MIPS via norm augmentation: rank by dot(x,q)/(M*||q||) — the " +
        "sqrt(M^2-||x||^2) augmented-coordinate reduction that turns inner-" +
        "product search into cosine NN; scalar max-norm broadcast, heap top-k"
    ),
    // ---------------------------------------------------------------- s16
    Q(
      "s16_batch_ann",
      (s, d) => {
        // BATCHED ANN — the retrieval shape a training pipeline actually
        // runs: a whole query SET (here every 50th vector) against the
        // index at once, not one broadcast query. Both sides take the same
        // 4-plane LSH cell, candidates come from the cell EQUI-JOIN
        // (per-cell fan-out, never |Q|×|DB|), exact cosine re-ranks, and
        // top-3 per query is a row_number window on the query key — which
        // TopKToNative rewrites to the bounded-heap native operator (k rows
        // per (query, partition) cross the shuffle, no partition sort).
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding"), 4).as("bucket"), norm(col("embedding")).as("nrm"))
        val qs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("bucket"),
            col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
        val db = e.filter(col("vec_id") % 50 =!= 0)
        val scored = db.join(qs, Seq("bucket"))
          .select(col("q_id"), col("vec_id").as("nn_id"),
            // NULL divisor on a zero-norm vector (when-guard here, nullif in
            // the oracle) — floor(NaN) would be 0 in Spark but NaN in DuckDB.
            quant(dot(col("embedding"), col("q_emb")) /
              when(col("nrm") * col("q_nrm") > 0.0, col("nrm") * col("q_nrm")), 1e6)
              .as("cos_sim"))
        scored
          .withColumn("rank",
            row_number().over(
              Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("nn_id")))
              .cast("long"))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("nn_id"), col("cos_sim"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        val bits = bucketAtSql(4, 0)
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding, CAST($bits AS BIGINT) AS bucket
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings)),
           |q AS (SELECT vec_id AS q_id, bucket, embedding AS q_emb
           |      FROM e WHERE vec_id % 50 = 0),
           |db AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
           |sc AS (
           |  SELECT q.q_id, db.vec_id AS nn_id,
           |    ${cosSql("db.embedding", "q.q_emb", 10)} AS cos_sim
           |  FROM db JOIN q ON db.bucket = q.bucket)
           |SELECT q_id, rank, nn_id, cos_sim FROM (
           |  SELECT q_id, nn_id, cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, nn_id) AS rank
           |  FROM sc) t
           |WHERE rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      },
      doc = "batched ANN retrieval: a query SET joins the index on the shared " +
        "LSH cell key (per-cell fan-out, never |Q|x|DB|), exact cosine rerank, " +
        "top-3 per query via the native bounded-heap top-k operator; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s22_adaptive_ann (LSH serving; IVF+PQ twin: s25_adaptive_ivf)"
    ),
    // ---------------------------------------------------------------- s17
    Q(
      "s17_multiprobe_lsh",
      (s, d) => {
        // MULTI-PROBE LSH: s16's batched retrieval, but each query also
        // probes the 4 Hamming-distance-1 cells (bucket XOR each plane
        // bit). Recall rises toward brute-force without adding hash tables
        // — the standard production trade (Lv et al., multi-probe LSH) —
        // and COST stays an equi-join: the query side fans out 5×, the
        // index side is untouched, and since every index vector lives in
        // exactly ONE cell the probe results are disjoint (no dedup pass).
        // n_cand per query is kept in the output so the artifact itself
        // shows the recall/candidate-count trade vs s16.
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding"), 4).as("bucket"), norm(col("embedding")).as("nrm"))
        val qs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"), col("bucket").as("qb"))
          .select(col("q_id"), col("q_emb"), col("q_nrm"), col("qb"),
            explode(array(Seq(0L, 1L, 2L, 4L, 8L).map(lit): _*)).as("probe"))
          .select(col("q_id"), col("q_emb"), col("q_nrm"),
            col("qb").bitwiseXOR(col("probe")).as("bucket"))
        val db = e.filter(col("vec_id") % 50 =!= 0)
        val scored = db.join(qs, Seq("bucket"))
          .select(col("q_id"), col("vec_id").as("nn_id"),
            quant(dot(col("embedding"), col("q_emb")) /
              when(col("nrm") * col("q_nrm") > 0.0, col("nrm") * col("q_nrm")), 1e6)
              .as("cos_sim"))
        scored
          .withColumn("n_cand", count(lit(1)).over(Window.partitionBy(col("q_id"))))
          .withColumn("rank",
            row_number().over(
              Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("nn_id")))
              .cast("long"))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("nn_id"), col("cos_sim"), col("n_cand"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        val bits = bucketAtSql(4, 0)
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding, CAST($bits AS BIGINT) AS bucket
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings)),
           |q AS (SELECT vec_id AS q_id, xor(bucket, p) AS bucket, embedding AS q_emb
           |      FROM e, (SELECT unnest([0, 1, 2, 4, 8]) AS p) probes
           |      WHERE vec_id % 50 = 0),
           |db AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
           |sc AS (
           |  SELECT q.q_id, db.vec_id AS nn_id,
           |    ${cosSql("db.embedding", "q.q_emb", 10)} AS cos_sim
           |  FROM db JOIN q ON db.bucket = q.bucket)
           |SELECT q_id, rank, nn_id, cos_sim, n_cand FROM (
           |  SELECT q_id, nn_id, cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, nn_id) AS rank,
           |    COUNT(*) OVER (PARTITION BY q_id) AS n_cand
           |  FROM sc) t
           |WHERE rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      },
      doc = "multi-probe LSH retrieval: each query probes its own cell plus the 4 " +
        "Hamming-1 cells (bucket XOR plane bit) — recall rises without extra hash " +
        "tables, cost stays a disjoint-cell equi-join; n_cand exposes the trade; BASELINE RUNG (COVERAGE.md registry) — production path at scale: s22_adaptive_ann (LSH serving; IVF+PQ twin: s25_adaptive_ivf)"
    ),
    // ---------------------------------------------------------------- s18
    Q(
      "s18_recall_curve",
      (s, d) => {
        // RECALL-vs-PROBES TUNING CURVE — the measurement that decides the
        // multi-probe config before a 100 TB index run: recall@3 of the
        // probe sequence (own cell, then Hamming-1 flips) at 1, 3, and 5
        // probes, against exact brute-force truth on the SAME sampled
        // query set. Ground truth is |Q|x|DB| by definition, so it is
        // computed as a BLOCK equi-join (db blocked by vec_id%8, queries
        // replicated x8) — distributed pair work, no cartesian, no
        // single-key shuffle. The probe ladder reuses one candidate join:
        // candidates tag their probe INDEX, explode to the probe counts
        // that include them, and rank per (query, probe-count).
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding"), 4).as("bucket"), norm(col("embedding")).as("nrm"))
        val qs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"), col("bucket").as("qb"))
        val db = e.filter(col("vec_id") % 50 =!= 0)
        val truth = exactTop3(db, qs, col("q_id"), col("q_emb"), col("q_nrm"))
        // probe sequence: pi=1 own cell, pi=2..5 the Hamming-1 flips
        val qcells = qs.select(col("q_id"), col("q_emb"), col("q_nrm"), col("qb"),
          explode(array(Seq((0L, 1), (1L, 2), (2L, 3), (4L, 4), (8L, 5)).map {
            case (m, i) => struct(lit(m).as("m"), lit(i).as("pi"))
          }: _*)).as("pr"))
          .select(col("q_id"), col("q_emb"), col("q_nrm"),
            col("qb").bitwiseXOR(col("pr.m")).as("bucket"), col("pr.pi").as("pi"))
        val cand = db.join(qcells, Seq("bucket"))
          .select(col("q_id"), col("pi"), col("vec_id").as("nn_id"), qCos.as("cs"))
          .filter(col("cs").isNotNull)
        val retrieved = cand
          .select(col("q_id"), col("nn_id"), col("cs"),
            explode(array(lit(1), lit(3), lit(5))).as("n_probes"))
          .filter(col("pi") <= col("n_probes"))
          .withColumn("rk",
            row_number().over(
              Window.partitionBy(col("q_id"), col("n_probes")).orderBy(col("cs").desc, col("nn_id"))))
          .filter(col("rk") <= 3)
        val nq = qs.agg(count(lit(1)).as("n_q"))
        retrieved
          .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "nn_id"), "left")
          .groupBy(col("n_probes"))
          .agg(count(lit(1)).as("n_retrieved"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .crossJoin(broadcast(nq))
          .select(col("n_probes"), col("n_retrieved"), col("n_hits"),
            expr("n_hits * 1000000 DIV (3 * n_q)").as("recall_ppm"))
          .orderBy(col("n_probes"))
      },
      Some {
        val bits = bucketAtSql(4, 0)
        val cs = cosSql("db.embedding", "q.q_emb", 10)
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding, CAST($bits AS BIGINT) AS bucket
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings)),
           |q AS (SELECT vec_id AS q_id, bucket AS qb, embedding AS q_emb
           |      FROM e WHERE vec_id % 50 = 0),
           |db AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
           |${truthSql(s"SELECT q.q_id, db.vec_id AS nn_id, $cs AS cs")},
           |pr AS (SELECT unnest([0, 1, 2, 4, 8]) AS m, unnest([1, 2, 3, 4, 5]) AS pi),
           |cand AS (
           |  SELECT * FROM (
           |    SELECT q.q_id, q.pi, db.vec_id AS nn_id, $cs AS cs
           |    FROM db JOIN (SELECT q_id, q_emb, xor(qb, m) AS bucket, pi FROM q, pr) q
           |      ON db.bucket = q.bucket) c WHERE cs IS NOT NULL),
           |ret AS (
           |  SELECT q_id, nn_id, n_probes FROM (
           |    SELECT cand.q_id, cand.nn_id, p.n_probes,
           |      ROW_NUMBER() OVER (PARTITION BY cand.q_id, p.n_probes
           |                         ORDER BY cand.cs DESC, cand.nn_id) AS rk
           |    FROM cand JOIN (SELECT unnest([1, 3, 5]) AS n_probes) p
           |      ON cand.pi <= p.n_probes) t WHERE rk <= 3),
           |nq AS (SELECT COUNT(*) AS n_q FROM q)
           |SELECT n_probes, COUNT(*) AS n_retrieved,
           |  CAST(SUM(CASE WHEN truth.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           |  CAST(SUM(CASE WHEN truth.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // (3 * (SELECT n_q FROM nq)) AS recall_ppm
           |FROM ret LEFT JOIN truth USING (q_id, nn_id)
           |GROUP BY n_probes
           |ORDER BY n_probes""".stripMargin
      },
      doc = "recall@3-vs-probe-count tuning curve (1/3/5 probes) against exact " +
        "brute-force truth on the sampled query set — truth via a blocked " +
        "equi-join (db%8 x replicated queries, distributed pair work), one " +
        "candidate join reused across the probe ladder"
    ),
    // ---------------------------------------------------------------- s19
    Q(
      "s19_hard_negatives",
      (s, d) => {
        // CONTRASTIVE HARD-NEGATIVE MINING — for every anchor vector, the
        // most-similar vectors with a DIFFERENT label: the negatives a
        // contrastive/embedding training run actually wants (easy negatives
        // teach nothing; the hard ones define the margin). Candidates come
        // from the anchor's 4-plane LSH cell (equi-join — per-cell fan-out,
        // never |A|x|DB|). At 100 TB this is s16's batched-ANN shape plus a
        // label guard: mining cost stays proportional to cell density and
        // the anchor set is the small side of every stage.
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding"),
            lshBucket(col("embedding"), 4).as("bucket"), norm(col("embedding")).as("nrm"))
        val anchors = e.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("q_id"), col("label").as("q_lbl"),
            col("bucket"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
        hardNegatives(e, anchors, Seq("bucket"), multiTable = false)
      },
      Some {
        s"""WITH e AS (
           |  SELECT vec_id, label, emb AS embedding, CAST(${bucketAtSql(4, 0)} AS BIGINT) AS bucket
           |  FROM (SELECT vec_id, label, embedding AS emb FROM embeddings)),
           |a AS (SELECT vec_id AS q_id, label AS q_lbl, bucket, embedding AS q_emb
           |      FROM e WHERE vec_id % 25 = 0),
           |sc AS (
           |  SELECT a.q_id, CAST(a.q_lbl AS BIGINT) AS q_label,
           |    e.vec_id AS neg_id, CAST(e.label AS BIGINT) AS neg_label,
           |    ${cosSql("e.embedding", "a.q_emb", 10)} AS cos_sim
           |  FROM e JOIN a ON e.bucket = a.bucket AND e.label <> a.q_lbl)
           |SELECT q_id, rank, neg_id, q_label, neg_label, cos_sim FROM (
           |  SELECT q_id, q_label, neg_id, neg_label, cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neg_id) AS rank
           |  FROM sc WHERE cos_sim IS NOT NULL) t
           |WHERE rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      },
      doc = "contrastive hard-negative mining: per anchor, the top-3 most-similar " +
        "DIFFERENT-label vectors — LSH-cell equi-join candidates with the label " +
        "guard on the join, exact cosine rerank, native bounded-heap top-k; " +
        "BASELINE RUNG (COVERAGE.md registry) — production path at scale: " +
        "s24_adaptive_negatives"
    ),
    // ---------------------------------------------------------------- s20
    Q(
      "s20_wide_ann",
      (s, d) => {
        // WIDE-CODE MULTI-TABLE ANN — the corpus-proof retrieval config the
        // 4-plane family (s3/s4/s16/s17/s19) is the small-corpus baseline
        // for. Those pin 16 cells, so per-cell density — and the candidate
        // equi-join's per-key fan-out — grows linearly with the corpus: the
        // same fixed-key-space density class d20/g6/d3 were in before
        // d26/g12/d25. Here the code is 12 planes = 4096 cells per table
        // (sized so cell density at the test corpus is O(1) vectors; at
        // 100 TB you bump k ~ log2(N/targetCellSize) — identical machinery,
        // see VectorOps.lshBucketAt), and recall lost to selectivity is
        // bought back the two ways that cost QUERY replication rather than
        // index density: L=4 independent tables (E2LSH OR-construction,
        // disjoint plane sets) and Hamming-1 multi-probe within each table
        // (13 probe cells/table). Index side carries L rows per vector —
        // the standard L-times space trade; query side fans out 52x; the
        // join stays an equi-join on (table, bucket).
        val K = 12
        val L = 4
        val masks = 0L +: (0 until K).map(b => 1L << b)
        val e = Tables.embeddings(s, d).select(
          Seq(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm")) ++
            (0 until L).map(t => lshBucketAt(col("embedding"), K, t * K).as(s"wb$t")): _*)
        val db = e.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            explode(array((0 until L).map(t =>
              struct(lit(t).as("tbl"), col(s"wb$t").as("bucket"))): _*)).as("tb"))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val qs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
            explode(array((for { t <- 0 until L; m <- masks } yield
              struct(lit(t).as("tbl"), col(s"wb$t").bitwiseXOR(lit(m)).as("bucket"))): _*)).as("tb"))
          .select(col("q_id"), col("q_emb"), col("q_nrm"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        annTop3(db, qs)
      },
      Some {
        val wcase = "CASE t.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        val pcase = "CASE p.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding,
           |    ${pinnedColsSql("wb").mkString(",\n    ")}
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings)),
           |db AS (
           |  SELECT e.vec_id, e.embedding, t.tbl, $wcase AS bucket
           |  FROM e, (SELECT unnest([0,1,2,3]) AS tbl) t
           |  WHERE e.vec_id % 50 <> 0),
           |q AS (
           |  SELECT e.vec_id AS q_id, e.embedding AS q_emb, p.tbl,
           |    xor($pcase, p.m) AS bucket
           |  FROM e, (VALUES $pinnedProbeRows) p(tbl, m)
           |  WHERE e.vec_id % 50 = 0),
           |${annTop3Sql("q", None)}""".stripMargin
      },
      doc = "corpus-proof ANN config: 4 tables x 12 planes (4096 cells each, " +
        "E2LSH OR-construction) + Hamming-1 multi-probe per table — per-cell " +
        "density stays O(1) as the corpus grows, recall is bought with query-side " +
        "fan-out (52 probes) and L-table index replication, never index density; " +
        "PINNED-K BASELINE — production path is s22_adaptive_ann (in-plan k)"
    ),
    // ---------------------------------------------------------------- s21
    Q(
      "s21_wide_recall",
      (s, d) => {
        // RECALL/COST LADDER, narrow vs wide — the s18-style measurement
        // that justifies s20's config: recall@3 against exact blocked-join
        // truth AND total candidate volume for (a) the pinned 16-cell code
        // single-probe, (b) 16-cell with s17's 5-probe ladder, (c) s20's
        // 4x12-plane multi-table Hamming-1 config. The index explodes to 5
        // keyed rows per vector (tbl=-1 the narrow code, 0..3 the wide
        // tables). The artifact shows the trade the 100 TB operator tunes:
        // candidates per unit recall, with the wide config's candidate
        // volume two orders below the narrow probes'.
        val K = 12
        val L = 4
        val wmasks = 0L +: (0 until K).map(b => 1L << b)
        val e = Tables.embeddings(s, d).select(
          Seq(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
            lshBucket(col("embedding"), 4).as("nb")) ++
            (0 until L).map(t => lshBucketAt(col("embedding"), K, t * K).as(s"wb$t")): _*)
        val probes =
          Seq(struct(lit("lsh_16c_1p").as("config"), lit(-1).as("tbl"), col("nb").as("bucket"))) ++
            Seq(0L, 1L, 2L, 4L, 8L).map(m =>
              struct(lit("lsh_16c_5p").as("config"), lit(-1).as("tbl"),
                col("nb").bitwiseXOR(lit(m)).as("bucket"))) ++
            (for { t <- 0 until L; m <- wmasks } yield
              struct(lit("lsh_4096c_x4_h1").as("config"), lit(t).as("tbl"),
                col(s"wb$t").bitwiseXOR(lit(m)).as("bucket")))
        recallLadder(e,
          array(
            struct(lit(-1).as("tbl"), col("nb").as("bucket")) +:
              (0 until L).map(t => struct(lit(t).as("tbl"), col(s"wb$t").as("bucket"))): _*),
          array(probes: _*))
      },
      Some {
        val tcase = "CASE t.tbl WHEN -1 THEN nb WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        val pcase = "CASE p.tbl WHEN -1 THEN nb WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        val probeRows = (
          Seq("('lsh_16c_1p',-1,0)") ++
            Seq(0L, 1L, 2L, 4L, 8L).map(m => s"('lsh_16c_5p',-1,$m)") ++
            (for { t <- 0 until 4; m <- 0L +: (0 until 12).map(b => 1L << b) }
              yield s"('lsh_4096c_x4_h1',$t,$m)")
          ).mkString(",")
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding,
           |    CAST(${bucketAtSql(4, 0)} AS BIGINT) AS nb,
           |    ${pinnedColsSql("wb").mkString(",\n    ")}
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings)),
           |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nb, wb0, wb1, wb2, wb3
           |      FROM e WHERE vec_id % 50 = 0),
           |db AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
           |dbx AS (
           |  SELECT db.vec_id, db.embedding, t.tbl, $tcase AS bucket
           |  FROM db, (SELECT unnest([-1,0,1,2,3]) AS tbl) t),
           |qp AS (
           |  SELECT q.q_id, q.q_emb, p.config, p.tbl, xor($pcase, p.m) AS bucket
           |  FROM q, (VALUES $probeRows) p(config, tbl, m)),
           |${recallLadderTailSql(
             s"SELECT q.q_id, db.vec_id AS nn_id, ${cosSql("db.embedding", "q.q_emb", 10)} AS cs")}""".stripMargin
      },
      doc = "recall@3/candidate-volume ladder vs exact blocked-join truth for the " +
        "pinned 16-cell code (1 and 5 probes) against s20's 4x12-plane multi-table " +
        "Hamming-1 config — one (table,bucket) equi-join serves all three configs; " +
        "the artifact quantifies candidates-per-unit-recall, the knob a 100 TB " +
        "index run tunes"
    ),
    // ---------------------------------------------------------------- s22
    Q(
      "s22_adaptive_ann",
      (s, d) => {
        // SERVING ANN WITH CORPUS-ADAPTIVE CODE WIDTH — d29's in-plan
        // adaptive-k pattern transplanted to the retrieval shape. s20 (the
        // pinned-k baseline this query is the production path for)
        // hardcodes K=12/L=4 and documents re-tuning as an offline step;
        // here k (LshCodes.adaptiveK) is derived from a broadcast count of
        // the INDEX side, so per-cell density stays ~8 vectors per table at
        // ANY corpus size — the index can never silently re-densify between
        // retunes. Query side fans out over the exact cell + Hamming-1
        // probes (k+1 probes/table, growing only as k ~ log2 n); index
        // carries L=4 rows/vector; the candidate join stays an equi-join on
        // (tbl, bucket). Scoring, zero-norm guard, dedup, and bounded-heap
        // top-3 are exactly s20's.
        val e = LshCodes.withAdaptiveCodes(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          LshCodes.adaptiveK(Tables.embeddings(s, d).filter(col("vec_id") % 50 =!= 0)))
        val db = e.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            explode(LshCodes.adaptiveIdxCells).as("tb"))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val qs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"), col("k").cast("long").as("k_planes"),
            explode(LshCodes.adaptiveProbeCells).as("tb"))
          .select(col("q_id"), col("q_emb"), col("q_nrm"), col("k_planes"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        annTop3(db, qs, col("k_planes"))
      },
      Some {
        val tcase = "CASE t.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        s"""WITH ${LshCodes.adaptiveKSql("embeddings WHERE vec_id % 50 <> 0")},
           |e AS (
           |  SELECT vec_id, emb AS embedding, k,
           |    ${LshCodes.adaptiveColsSql("wb").mkString(",\n    ")}
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings), kk),
           |db AS (
           |  SELECT e.vec_id, e.embedding, t.tbl, $tcase AS bucket
           |  FROM e, (SELECT unnest([0,1,2,3]) AS tbl) t
           |  WHERE e.vec_id % 50 <> 0),
           |qp AS (
           |  SELECT e.vec_id AS q_id, e.embedding AS q_emb,
           |    CAST(e.k AS BIGINT) AS k_planes, t.tbl,
           |    ${LshCodes.adaptiveProbeSql(tcase)} AS bucket
           |  ${LshCodes.adaptiveProbeFromSql("e")}
           |  WHERE e.vec_id % 50 = 0),
           |${annTop3Sql("qp q", Some("k_planes"))}""".stripMargin
      },
      doc = "serving ANN with corpus-adaptive code width — the production path " +
        "for pinned-k s20: k = len(bin(ceil(n_db/8))) planes per table derived " +
        "in-plan from a broadcast index-side count (integer-exact on both " +
        "engines) through the compiled LshBucketDyn kernel, so per-cell density " +
        "stays ~8 at any corpus size; exact-cell + Hamming-1 probes (k+1 per " +
        "table) buy recall with query fan-out that grows only as log2 n"
    ),
    // ---------------------------------------------------------------- s23
    Q(
      "s23_adaptive_recall",
      (s, d) => {
        // RECALL PARITY, pinned-k vs adaptive-k — the s21-style measurement
        // that certifies s22 as s20's production path: recall@3 against
        // exact blocked-join truth AND total candidate volume for (a) s20's
        // pinned 4x12-plane Hamming-1 config and (b) s22's adaptive-k
        // config, in one frame: the index explodes to 8 keyed rows per
        // vector (tbl 0..3 the pinned code, 10..13 the adaptive tables —
        // disjoint key spaces). At the test corpus the adaptive k lands
        // BELOW 12, so the adaptive config trades more candidates for
        // recall >= pinned — the direction that matters: adaptivity never
        // loses recall at small corpora, and caps density at large ones.
        import graft.functions.VectorExpressions.lshBucketDyn
        val K = 12
        val L = 4
        val kdf = LshCodes.adaptiveK(Tables.embeddings(s, d).filter(col("vec_id") % 50 =!= 0))
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(kdf))
          .select(
            Seq(col("vec_id"), col("embedding"), col("k"), norm(col("embedding")).as("nrm")) ++
              (0 until L).map(t => lshBucketAt(col("embedding"), K, t * K).as(s"fb$t")) ++
              (0 until L).map(t => lshBucketDyn(col("embedding"), col("k"), t * 20).as(s"ab$t")): _*)
        val idxArr = (
          (0 until L).map(t => s"named_struct('tbl', $t, 'bucket', fb$t)") ++
            (0 until L).map(t => s"named_struct('tbl', ${10 + t}, 'bucket', ab$t)")
          ).mkString("array(", ", ", ")")
        val fixedProbes = for { t <- 0 until L; m <- 0L +: (0 until K).map(b => 1L << b) }
          yield s"named_struct('config', 'wide_fixed_k12', 'tbl', $t, " +
            s"'bucket', fb$t ^ CAST($m AS BIGINT))"
        val adaptProbes = (0 until L).map(t =>
          s"""transform(sequence(0, k), p -> named_struct('config', 'wide_adaptive',
             |  'tbl', ${10 + t},
             |  'bucket', CASE WHEN p = 0 THEN ab$t
             |            ELSE ab$t ^ shiftleft(CAST(1 AS BIGINT), p - 1) END))""".stripMargin)
        val probeArr =
          (s"array(${fixedProbes.mkString(", ")})" +: adaptProbes).mkString("concat(", ", ", ")")
        recallLadder(e, expr(idxArr), expr(probeArr))
      },
      Some {
        val fcase = "CASE t.tbl WHEN 0 THEN fb0 WHEN 1 THEN fb1 WHEN 2 THEN fb2 ELSE fb3 END"
        val acase = "CASE t.tbl WHEN 0 THEN ab0 WHEN 1 THEN ab1 WHEN 2 THEN ab2 ELSE ab3 END"
        val pfix = "CASE p.tbl WHEN 0 THEN fb0 WHEN 1 THEN fb1 WHEN 2 THEN fb2 ELSE fb3 END"
        val wcols = pinnedColsSql("fb") ++ LshCodes.adaptiveColsSql("ab")
        s"""WITH ${LshCodes.adaptiveKSql("embeddings WHERE vec_id % 50 <> 0")},
           |e AS (
           |  SELECT vec_id, emb AS embedding, k,
           |    ${wcols.mkString(",\n    ")}
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings), kk),
           |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
           |db AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
           |dbx AS (
           |  SELECT e.vec_id, e.embedding, t.tbl, $fcase AS bucket
           |  FROM db e, (SELECT unnest([0,1,2,3]) AS tbl) t
           |  UNION ALL
           |  SELECT e.vec_id, e.embedding, 10 + t.tbl, $acase AS bucket
           |  FROM db e, (SELECT unnest([0,1,2,3]) AS tbl) t),
           |qp AS (
           |  SELECT e.vec_id AS q_id, e.embedding AS q_emb,
           |    'wide_fixed_k12' AS config, p.tbl, xor($pfix, p.m) AS bucket
           |  FROM q e, (VALUES $pinnedProbeRows) p(tbl, m)
           |  UNION ALL
           |  SELECT e.vec_id, e.embedding, 'wide_adaptive', 10 + t.tbl,
           |    ${LshCodes.adaptiveProbeSql(acase)}
           |  ${LshCodes.adaptiveProbeFromSql("q e")}),
           |${recallLadderTailSql("SELECT q.vec_id AS q_id, db.vec_id AS nn_id,\n        " +
             s"${cosSql("db.embedding", "q.embedding", 10)} AS cs")}""".stripMargin
      },
      doc = "recall@3/candidate-volume parity, pinned-k vs adaptive-k wide ANN " +
        "(s20 vs s22) against exact blocked-join truth — one (tbl,bucket) " +
        "equi-join serves both configs over disjoint table-id key spaces; " +
        "certifies the adaptive config trades candidates for recall >= pinned " +
        "at small corpora while capping per-cell density at large ones"
    ),
    // ---------------------------------------------------------------- s24
    Q(
      "s24_adaptive_negatives",
      (s, d) => {
        // HARD-NEGATIVE MINING ON THE ADAPTIVE CODE — closes the last
        // serving-family user of the pinned 4-plane code: s19's semantics
        // (per anchor, the top-3 most-similar DIFFERENT-label vectors)
        // with candidates from the corpus-adaptive 4-table wide code
        // instead of the 16 fixed cells. The label-inequality guard rides
        // the candidate join exactly as in s19; k derives in-plan from the
        // full corpus count (every vector is a potential negative, so the
        // index side IS the corpus); multi-table + Hamming-1 probes buy
        // back the recall the wider cells cost.
        // At 100 TB: mining cost ∝ (anchors × probes × ~8 per cell),
        // never anchor-count × corpus-fraction — and never retuned.
        val e = LshCodes.withAdaptiveCodes(
          Tables.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding")),
          LshCodes.adaptiveK(Tables.embeddings(s, d)))
        val idx = e
          .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
            explode(LshCodes.adaptiveIdxCells).as("tb"))
          .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val anchors = e.filter(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("q_id"), col("label").as("q_lbl"),
            col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
            col("k").cast("long").as("k_planes"),
            explode(LshCodes.adaptiveProbeCells).as("tb"))
          .select(col("q_id"), col("q_lbl"), col("q_emb"), col("q_nrm"), col("k_planes"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        hardNegatives(idx, anchors, Seq("tbl", "bucket"), multiTable = true)
      },
      Some {
        val tcase = "CASE t.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        s"""WITH ${LshCodes.adaptiveKSql("embeddings")},
           |e AS (
           |  SELECT vec_id, label, emb AS embedding, k,
           |    ${LshCodes.adaptiveColsSql("wb").mkString(",\n    ")}
           |  FROM (SELECT vec_id, label, embedding AS emb FROM embeddings), kk),
           |idx AS (
           |  SELECT e.vec_id, e.label, e.embedding, t.tbl, $tcase AS bucket
           |  FROM e, (SELECT unnest([0,1,2,3]) AS tbl) t),
           |qp AS (
           |  SELECT e.vec_id AS q_id, e.label AS q_lbl, e.embedding AS q_emb,
           |    CAST(e.k AS BIGINT) AS k_planes, t.tbl,
           |    ${LshCodes.adaptiveProbeSql(tcase)} AS bucket
           |  ${LshCodes.adaptiveProbeFromSql("e")}
           |  WHERE e.vec_id % 25 = 0),
           |cand AS (
           |  SELECT DISTINCT q_id, q_label, k_planes, neg_id, neg_label, cos_sim FROM (
           |    SELECT q.q_id, CAST(q.q_lbl AS BIGINT) AS q_label, q.k_planes,
           |      i.vec_id AS neg_id, CAST(i.label AS BIGINT) AS neg_label,
           |      ${cosSql("i.embedding", "q.q_emb", 12)} AS cos_sim
           |    FROM idx i JOIN qp q
           |      ON i.tbl = q.tbl AND i.bucket = q.bucket AND i.label <> q.q_lbl) t
           |  WHERE cos_sim IS NOT NULL)
           |SELECT q_id, rank, neg_id, q_label, neg_label, cos_sim, k_planes FROM (
           |  SELECT q_id, q_label, k_planes, neg_id, neg_label, cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neg_id) AS rank
           |  FROM cand) t
           |WHERE rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      },
      doc = "hard-negative mining on the corpus-adaptive wide code — s19's " +
        "production path: per anchor the top-3 most-similar different-label " +
        "vectors, candidates from 4 adaptive-width tables + Hamming-1 probes " +
        "(label guard rides the join, k in-plan from the corpus count), " +
        "deduped per (anchor, negative) before the bounded-heap top-3"
    ),
    // ---------------------------------------------------------------- s25
    Q(
      "s25_adaptive_ivf",
      (s, d) => {
        // ADAPTIVE-NLIST IVF — the adaptive-key-space pattern applied to
        // the THIRD pinned quantizer family: s5/s6/s10 coarse-quantize
        // over 4 FIXED deterministic centroids, so each IVF cell is a
        // fixed FRACTION of the corpus and per-query probe cost grows
        // linearly with it. Here nlist = clamp(4, 256, ceil(n_db/64))
        // derives from a broadcast index-side count (integer-exact — no
        // bin/log needed, the target is a ~64-vector cell), ALL nlist
        // centroid scores come from one compiled pass (CentroidScoresDyn:
        // same shift=0 hash family and 1e-6 floor quantization as s5, so
        // assignment ties break identically on both engines via
        // first-index-of-max), each query probes its top-2 centroids
        // (score desc, id asc — in-plan struct sort, no collect), and
        // candidates are an EQUI-JOIN on the centroid id — at 100 TB the
        // centroid is the physical partition key, so nprobe/nlist prunes
        // I/O and per-query cost is O(nprobe * 64) at any corpus size.
        import org.apache.spark.sql.expressions.Window
        import graft.functions.VectorExpressions.centroidScoresDyn
        val kdf = Tables.embeddings(s, d)
          .filter(col("vec_id") % 50 =!= 0)
          .agg(count(lit(1)).as("n"))
          .select(expr("GREATEST(4, LEAST(256, (n + 63) DIV 64)) AS c"))
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(kdf))
          .select(col("vec_id"), col("embedding"), col("c"),
            norm(col("embedding")).as("nrm"),
            centroidScoresDyn(col("embedding"), col("c")).as("scores"))
          .withColumn("centroid",
            (array_position(col("scores"), array_max(col("scores"))) - 1))
        val db = e.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid"))
        val qs = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"), col("c").cast("long").as("n_cent"),
            explode(slice(array_sort(zip_with(
              col("scores"), sequence(lit(0), col("c") - 1),
              (sc, j) => struct((-sc).as("neg"), j.as("cid")))), 1, 2)).as("pr"))
          .select(col("q_id"), col("q_emb"), col("q_nrm"), col("n_cent"),
            col("pr.cid").cast("long").as("centroid"))
        db.join(qs, Seq("centroid"))
          .select(col("q_id"), col("vec_id").as("nn_id"), col("centroid"), col("n_cent"),
            quant(dot(col("embedding"), col("q_emb")) /
              when(col("nrm") * col("q_nrm") > 0.0, col("nrm") * col("q_nrm")), 1e6)
              .as("cos_sim"))
          .filter(col("cos_sim").isNotNull)
          .withColumn("rank",
            row_number().over(
              Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("nn_id")))
              .cast("long"))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("nn_id"), col("centroid"),
            col("cos_sim"), col("n_cent"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        val scoreList =
          """list_transform(generate_series(0, c - 1), j ->
            |      floor(list_sum(list_transform(emb, (x, i) ->
            |        CAST(x AS DOUBLE) * ((((j*64 + (i-1)) * 2654435761) % 1000000007) / 1000000000.0))) * 1000000) / 1000000)""".stripMargin
        s"""WITH kk AS (
           |  SELECT GREATEST(4, LEAST(256, (COUNT(*) + 63) // 64)) AS c
           |  FROM embeddings WHERE vec_id % 50 <> 0),
           |e AS (
           |  SELECT vec_id, emb AS embedding, c,
           |    $scoreList AS scores
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings), kk),
           |a AS (
           |  SELECT vec_id, embedding, c, scores,
           |    CAST(list_position(scores, list_max(scores)) - 1 AS BIGINT) AS centroid
           |  FROM e),
           |db AS (SELECT * FROM a WHERE vec_id % 50 <> 0),
           |q AS (SELECT vec_id AS q_id, embedding AS q_emb, c, scores
           |      FROM a WHERE vec_id % 50 = 0),
           |probes AS (
           |  SELECT q_id, q_emb, CAST(c AS BIGINT) AS n_cent, CAST(j AS BIGINT) AS centroid
           |  FROM (
           |    SELECT q_id, q_emb, c, j, sc,
           |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sc DESC, j) AS rn
           |    FROM (
           |      SELECT q_id, q_emb, c,
           |        unnest(generate_series(0, c - 1)) AS j, unnest(scores) AS sc
           |      FROM q) t) t2
           |  WHERE rn <= 2)
           |SELECT q_id, rank, nn_id, centroid, cos_sim, n_cent FROM (
           |  SELECT p.q_id, db.vec_id AS nn_id, db.centroid, p.n_cent,
           |    ${cosSql("db.embedding", "p.q_emb", 10)} AS cos_sim,
           |    ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
           |      ${cosSql("db.embedding", "p.q_emb", 12)} DESC, db.vec_id) AS rank
           |  FROM db JOIN probes p ON db.centroid = p.centroid
           |  WHERE ${cosSql("db.embedding", "p.q_emb", 10)} IS NOT NULL) t
           |WHERE rank <= 10
           |ORDER BY q_id, rank""".stripMargin
      },
      doc = "adaptive-nlist IVF retrieval — the production path for the " +
        "fixed-4-centroid family (s5/s6/s10): nlist = clamp(4,256,ceil(n/64)) " +
        "from a broadcast index-side count keeps IVF cells at ~64 vectors at " +
        "any corpus size; one compiled pass scores all centroids, top-2 probes " +
        "per query resolve in-plan, candidates ride an equi-join on the " +
        "centroid id (the physical partition key at 100 TB — pruning is I/O)"
    )
  )

  /** Shared PQ/ADC formulation rendered in both dialects. The two texts are
    * structurally identical; only the array-HOF spellings differ
    * (transform/aggregate/sequence vs list_transform/list_sum/
    * generate_series, element_at vs [] indexing).
    */
  /** DataFrame-side PQ encode/ADC shared by s7 and s10, computing exactly
    * what [[PqSql]]'s SQL emits: `ds` is the 16-distance array from the
    * compiled [[graft.functions.PqDists]] kernel; `code_m` replicates the
    * oracle's `<=`-chain argmin; the ADC sum is 4 array lookups into the
    * broadcast query table `qds`, added m=0..3 left-to-right like the SQL.
    */
  private object PqCols {
    import org.apache.spark.sql.{Column, DataFrame}

    private def dmj(m: Int, j: Int): Column = element_at(col("ds"), m * 4 + j + 1)

    def codes(df: DataFrame): DataFrame = {
      val withDs =
        df.withColumn("ds", graft.functions.VectorExpressions.pqDists(col("embedding")))
      (0 until 4).foldLeft(withDs) { case (acc, m) =>
        acc.withColumn(
          s"code$m",
          when(dmj(m, 0) <= dmj(m, 1) && dmj(m, 0) <= dmj(m, 2) && dmj(m, 0) <= dmj(m, 3), 0L)
            .when(dmj(m, 1) <= dmj(m, 2) && dmj(m, 1) <= dmj(m, 3), 1L)
            .when(dmj(m, 2) <= dmj(m, 3), 2L)
            .otherwise(3L))
      }
    }

    def adcDist: Column =
      (0 until 4)
        .map(m => element_at(col("qds"), (col(s"code$m") + lit(m * 4 + 1)).cast("int")))
        .reduce(_ + _)
  }

  /** Dialect-shared PQ/IVF building blocks used by s7 (flat PQ-ADC) and s10
    * (IVF-PQ): identical arithmetic emitted in Spark-SQL or DuckDB spelling.
    */
  private object PqSql {
    val P = "1000000007"

    /** s6's coarse-quantizer plane score in SQL: floor-quantized dot of the
      * embedding with deterministic hash plane j (offset 0 — same arithmetic
      * as the [[graft.functions.VectorOps.hashPlaneDot]] codegen kernel,
      * certified equal by s6's green oracle).
      */
    def planeDot(j: Int, spark: Boolean): String =
      if (spark)
        s"floor(aggregate(transform(embedding, (x, i) -> CAST(x AS DOUBLE) * (((($j*64 + i) * 2654435761) % $P) / 1000000000.0)), CAST(0 AS DOUBLE), (acc, x) -> acc + x) * 1000000) / 1000000"
      else
        s"floor(list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * (((($j*64 + (i-1)) * 2654435761) % $P) / 1000000000.0))) * 1000000) / 1000000"

    /** Quantized squared L2 between subvector m of `emb` and centroid j:
      * elements i=1..16, centroid value = hash((m*4+j)*16 + i-1)/1e9 - 0.5.
      */
    def dist(emb: String, m: Int, j: Int, spark: Boolean): String = {
      val elem =
        if (spark) s"CAST(element_at($emb, ${m * 16} + i) AS DOUBLE)"
        else s"CAST($emb[${m * 16} + i] AS DOUBLE)"
      val cval = s"(((${(m * 4 + j) * 16} + i - 1) * 2654435761) % $P) / 1000000000.0 - 0.5"
      val term = s"power($elem - ($cval), 2)"
      if (spark)
        s"floor(aggregate(transform(sequence(1, 16), i -> $term), CAST(0 AS DOUBLE), (acc, x) -> acc + x) * 1000000) / 1000000"
      else
        s"floor(list_sum(list_transform(generate_series(1, 16), i -> $term)) * 1000000) / 1000000"
    }

    def argmin(d: Int => String): String =
      s"""CAST(CASE
         |    WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} AND ${d(0)} <= ${d(3)} THEN 0
         |    WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1
         |    WHEN ${d(2)} <= ${d(3)} THEN 2
         |    ELSE 3 END AS BIGINT)""".stripMargin

    def text(spark: Boolean): String = {
      val enc = (0 until 4).map { m =>
        s"${argmin(j => s"d_${m}_$j")} AS code$m"
      }
      val dcols = for { m <- 0 until 4; j <- 0 until 4 }
        yield s"${dist("embedding", m, j, spark)} AS d_${m}_$j"
      val qcols = for { m <- 0 until 4; j <- 0 until 4 }
        yield s"${dist("embedding", m, j, spark)} AS q_${m}_$j"
      val adc = (0 until 4).map { m =>
        s"(CASE code$m WHEN 0 THEN q_${m}_0 WHEN 1 THEN q_${m}_1 WHEN 2 THEN q_${m}_2 ELSE q_${m}_3 END)"
      }.mkString(" + ")
      s"""WITH dists AS (
         |  SELECT vec_id, ${dcols.mkString(",\n    ")}
         |  FROM embeddings),
         |enc AS (
         |  SELECT vec_id, ${enc.mkString(",\n    ")}
         |  FROM dists),
         |q AS (
         |  SELECT ${qcols.mkString(",\n    ")}
         |  FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, code0, code1, code2, code3,
         |  $adc AS adc_dist
         |FROM enc CROSS JOIN q
         |WHERE vec_id <> 0
         |ORDER BY adc_dist, vec_id
         |LIMIT 10""".stripMargin
    }

    /** IVF-PQ: coarse cells + nprobe=2 pruning around [[text]]'s PQ/ADC. */
    def textIvf(spark: Boolean): String = {
      val enc = (0 until 4).map { m =>
        s"${argmin(j => s"d_${m}_$j")} AS code$m"
      }
      val dcols = for { m <- 0 until 4; j <- 0 until 4 }
        yield s"${dist("embedding", m, j, spark)} AS d_${m}_$j"
      val qcols = for { m <- 0 until 4; j <- 0 until 4 }
        yield s"${dist("embedding", m, j, spark)} AS q_${m}_$j"
      val adc = (0 until 4).map { m =>
        s"(CASE code$m WHEN 0 THEN q_${m}_0 WHEN 1 THEN q_${m}_1 WHEN 2 THEN q_${m}_2 ELSE q_${m}_3 END)"
      }.mkString(" + ")
      s"""WITH scored AS (
         |  SELECT vec_id, embedding, s0, s1, s2, s3, CAST(CASE
         |    WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
         |    WHEN s1 >= s2 AND s1 >= s3 THEN 1
         |    WHEN s2 >= s3 THEN 2
         |    ELSE 3 END AS BIGINT) AS centroid
         |  FROM (SELECT vec_id, embedding,
         |          ${planeDot(0, spark)} AS s0,
         |          ${planeDot(1, spark)} AS s1,
         |          ${planeDot(2, spark)} AS s2,
         |          ${planeDot(3, spark)} AS s3
         |        FROM embeddings) t),
         |qprobe AS (SELECT * FROM scored WHERE vec_id = 0),
         |probes AS (
         |  SELECT c FROM (
         |    SELECT 0 AS c, s0 AS sc FROM qprobe UNION ALL SELECT 1, s1 FROM qprobe
         |    UNION ALL SELECT 2, s2 FROM qprobe UNION ALL SELECT 3, s3 FROM qprobe) u
         |  ORDER BY sc DESC, c LIMIT 2),
         |cand AS (
         |  SELECT vec_id, embedding, centroid FROM scored
         |  WHERE vec_id <> 0 AND centroid IN (SELECT c FROM probes)),
         |dists AS (
         |  SELECT vec_id, centroid, ${dcols.mkString(",\n    ")}
         |  FROM cand),
         |enc AS (
         |  SELECT vec_id, centroid, ${enc.mkString(",\n    ")}
         |  FROM dists),
         |q AS (
         |  SELECT ${qcols.mkString(",\n    ")}
         |  FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, centroid, code0, code1, code2, code3,
         |  $adc AS adc_dist
         |FROM enc CROSS JOIN q
         |ORDER BY adc_dist, vec_id
         |LIMIT 10""".stripMargin
    }
  }
}
