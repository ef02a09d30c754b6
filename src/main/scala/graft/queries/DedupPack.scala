package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps._

/** Deduplication operators over `documents` (SURVEY.md §2.9): exact dedup on
  * a normalized key, keep-first semantics (reference A2 first-match,
  * `/root/reference/task.ts:284,316`), blocked n-gram Jaccard near-dup,
  * MinHash signatures + LSH band-bucket candidate generation, SimHash.
  *
  * Scale notes: exact dedup and keep-first are single hash shuffles on the
  * dedup key. The Jaccard pair join is blocked on `source` here; at 100 TB
  * the blocking key becomes the LSH band bucket (d4/d5) which bounds the
  * candidate set independent of corpus size — never the O(n²) cross join.
  */
object DedupPack extends QueryPack {

  private def thSql(x: String): String =
    s"((length($x)*2654435761 + ascii($x)*131 + ascii($x[-1:])) % 1000000007)"

  /** SQL twin of [[graft.functions.TextExpressions.mix60]] — the two-round
    * 60-bit mix (see its Scaladoc for the band-degeneracy rationale).
    * Emitted as a chain of staged CTEs rather than one nested expression:
    * textual interpolation expanded the hash sub-expression 4× per mix
    * (8× per token in d26's two seeded halves), inflating oracle
    * parse/eval cost for every token (ADVICE r17). Each stage computes
    * every sub-expression exactly once, matching the Scala kernel's
    * single evaluation.
    *
    * Input CTE `from` must expose `doc_id` plus each column in `cols`
    * already holding the (optionally seeded) token hash; the emitted text
    * defines CTEs `mxa`..`mxc` and a final CTE named `mixed` carrying the
    * same column names fully mixed.
    */
  private def mix60StagedCtes(from: String, cols: Seq[String]): String = {
    val m = 1L << 60
    def stage(name: String, src: String, body: String => String) =
      s"$name AS (SELECT doc_id, " +
        cols.map(c => s"${body(c)} AS $c").mkString(", ") + s" FROM $src)"
    Seq(
      stage("mxa", from, c => s"(($c) * 2654435761) % $m"),
      stage("mxb", "mxa", c => s"xor($c, $c >> 30)"),
      stage("mxc", "mxb", c => s"((($c) % 1073741824) * 2654435761) % $m"),
      stage("mixed", "mxc", c => s"xor($c, $c >> 30)")
    ).mkString(",\n")
  }
  private def mhSql(a: Long, b: Long): String =
    s"list_aggregate(list_transform(toks, x -> ($a * ${thSql("x")} + $b) % 1000000007), 'min')"

  /** DuckDB twin of [[graft.functions.TextOps.gramFingerprints]] over a
    * token-hash list column `h`: the k-step polynomial fold is unrolled to a
    * nested expression (no list_reduce dependency), every step reduced mod
    * FpM so BIGINT arithmetic stays exact in both engines.
    */
  def fpSql(k: Int): String = {
    val fold = (0 until k).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * ${graft.functions.TextOps.FpB} + h[i + $j]) % ${graft.functions.TextOps.FpM})"
    }
    s"list_transform(generate_series(1, len(h) - ${k - 1}), i -> $fold)"
  }

  /** (a,b) parameters of the 4 MinHash permutations. */
  private val MhSeeds = Seq((7L, 3L), (11L, 17L), (13L, 41L), (17L, 59L))

  /** Shared by d25/d27: trigram-shingle MinHash band collisions → exact
    * integer-compare Jaccard (≥0.8) verified near-dup edges. Shingles (not
    * unigram tokens) keep band buckets near-dup-only — unigram minhash
    * mega-buckets on the Zipf head (measured 3,176-doc bucket at sf0.1).
    * Linear in the corpus: candidates are per-bucket-bounded, never the
    * source-blocked all-pairs join that goes quadratic in block density.
    */
  private def lshVerifiedEdges(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.{TextExpressions, TextOps}
    // `sh` feeds three subtrees (signatures + both verify-join sides) and
    // `sigs` four (two band self-joins × two sides): without
    // materialization each reference re-runs the scan + shingling, at the
    // source file count's parallelism (ONE task on a single-file corpus —
    // profiled 3 × ~720ms single-task stages at sf0.1). One explicit-count
    // repartition of the raw text (REPARTITION_BY_NUM — exempt from AQE
    // size coalescing; the exchange spreads per-doc shingling COMPUTE)
    // then one disk-backed materialization each of the encoded frames,
    // read N times — the same discipline TokenSets.jaccardPairs documents.
    val sh = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(col("doc_id"), TextExpressions.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val sigs = sh.select(
      col("doc_id") +: MhSeeds.zipWithIndex.map { case ((a, b), i) =>
        array_min(transform(col("sh"),
          t => (lit(a) * TextOps.tokenHash(t) + lit(b)) % lit(1000000007L))).as(s"mh$i")
      }: _*).localCheckpoint()
    def bandPairs(c1: String, c2: String) = {
      val x = sigs.select(col("doc_id").as("a_id"), col(c1), col(c2))
      val y = sigs.select(col("doc_id").as("b_id"), col(c1), col(c2))
      x.join(y, Seq(c1, c2)).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
    }
    val cand = bandPairs("mh0", "mh1").unionByName(bandPairs("mh2", "mh3")).distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("ni", size(array_intersect(col("a_sh"), col("b_sh"))).cast("long"))
      .filter(col("ni") * 10 >=
        (size(col("a_sh")).cast("long") + size(col("b_sh")) - col("ni")) * 8)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
  }

  /** The d25/d27 oracle's shared CTE chain, ending at `cc(doc_id, component)`
    * — DuckDB recomputes the identical shingle-MinHash bands, exact-Jaccard
    * verify, and reachability closure.
    */
  private def lshCcSql: String = {
    def mh(a: Long, b: Long) =
      s"list_aggregate(list_transform(sh, x -> ($a * ${thSql("x")} + $b) % 1000000007), 'min')"
    s"""WITH RECURSIVE sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(toks)-2),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |  WHERE len(toks) >= 3),
       |sigs AS (
       |  SELECT doc_id,
       |    ${mh(MhSeeds(0)._1, MhSeeds(0)._2)} AS m0,
       |    ${mh(MhSeeds(1)._1, MhSeeds(1)._2)} AS m1,
       |    ${mh(MhSeeds(2)._1, MhSeeds(2)._2)} AS m2,
       |    ${mh(MhSeeds(3)._1, MhSeeds(3)._2)} AS m3
       |  FROM sh),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sigs a JOIN sigs b
       |    ON a.m0 = b.m0 AND a.m1 = b.m1 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id FROM sigs a JOIN sigs b
       |    ON a.m2 = b.m2 AND a.m3 = b.m3 AND a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN sh ta ON ta.doc_id = a_id
       |  JOIN sh tb ON tb.doc_id = b_id
       |  WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS BIGINT) * 10 >=
       |        8 * (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))),
       |edges AS (SELECT a_id AS es, b_id AS ed FROM ver UNION SELECT b_id, a_id FROM ver),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS r FROM documents
       |  UNION
       |  SELECT reach.node, e.ed FROM reach JOIN edges e ON reach.r = e.es),
       |cc AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node)""".stripMargin
  }

  /** Prefix-filtered exact Jaccard pair generation shared by the d10/d21/d24
    * connected-components oracles. Semantically identical to a naive
    * within-source all-pairs join (prefix-filtering principle, Chaudhuri et
    * al. ICDE'06 / Xiao et al. WWW'08: under any global token order, a pair
    * with Jaccard >= t shares a token in both length-(|x| - ceil(t*|x|) + 1)
    * prefixes), but candidates come from a token equi-join on rare-token
    * prefixes (df-ascending canonical order, ties lexicographic) instead of
    * an O(n²-per-source) nested loop — the same blocking the engine's
    * ops/SetSimJoin uses. Keeps the DuckDB oracle inside its budget at 20×
    * corpus scale, where the per-source nested loop goes 400× while true
    * pairs grow 20× (measured: sf0.1 5.0s vs 10.0s naive, 606k candidates
    * vs 1.25M comparisons; identical pair set).
    */
  private val jaccardPairsSql: String =
    """WITH RECURSIVE toksets0 AS (
      |  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      |exploded AS (SELECT doc_id, source, unnest(toks) AS tok FROM toksets0),
      |tokdf AS (SELECT tok, COUNT(*) AS df FROM exploded GROUP BY tok),
      |toksets AS MATERIALIZED (
      |  SELECT e.doc_id, any_value(e.source) AS source,
      |    list(e.tok ORDER BY d.df, e.tok) AS toks
      |  FROM exploded e JOIN tokdf d USING (tok) GROUP BY e.doc_id),
      |pref AS (
      |  SELECT doc_id, source,
      |    unnest(toks[1:CAST(len(toks) - ceil(0.8 * len(toks)) + 1 AS BIGINT)]) AS tok
      |  FROM toksets),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM pref a JOIN pref b
      |    ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT a_id, b_id
      |  FROM cand JOIN toksets ta ON ta.doc_id = cand.a_id
      |            JOIN toksets tb ON tb.doc_id = cand.b_id
      |  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
      |        (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.8)""".stripMargin

  /** Connected components over [[jaccardPairsSql]]'s edge set, ending in a
    * CTE `cc(doc_id, component)` with component = min transitively reachable
    * doc_id. A direct recursive transitive closure is exact but its
    * semi-naive evaluation materializes Θ(k³) intermediate join rows per
    * k-node cluster — the corpus's near-dup clusters are ~170-doc
    * near-cliques, which OOM'd DuckDB at the 20× corpus. So three rounds of
    * min-neighbor star contraction run first as plain CTEs (O(E) join +
    * aggregate each; measured 295,678 → 1,340 → 78 → 2 edges at sf0.1) and
    * the recursive closure only finishes the residual graph. Exact for any
    * round count: contraction rounds merge provably-connected nodes
    * (n ~ min(n ∪ N(n)) is an edge-witnessed merge), the closure completes
    * whatever is left, and labels compose back through the round mappings;
    * min-composition holds because each round's rep is the min of an
    * edge-closed set. The MATERIALIZED hints pin multi-referenced CTEs —
    * DuckDB inlines by default, which re-ran the whole pair pipeline once
    * per reference (exponential in chained self-joining CTEs).
    * Cross-checked cell-identical against the direct closure at sf0.1;
    * 274.9s at the 20× corpus where the direct form exceeded 5400s.
    */
  private val ccSql: String = jaccardPairsSql + ",\n" +
    """edges AS MATERIALIZED (
      |  SELECT a_id AS es, b_id AS ed FROM pairs UNION SELECT b_id, a_id FROM pairs),
      |m1 AS MATERIALIZED (
      |  SELECT node, MIN(nb) AS rep FROM (
      |    SELECT es AS node, ed AS nb FROM edges
      |    UNION ALL SELECT doc_id, doc_id FROM documents) GROUP BY node),
      |e1 AS MATERIALIZED (
      |  SELECT DISTINCT ma.rep AS es, mb.rep AS ed
      |  FROM edges JOIN m1 ma ON edges.es = ma.node JOIN m1 mb ON edges.ed = mb.node
      |  WHERE ma.rep <> mb.rep),
      |m2 AS MATERIALIZED (
      |  SELECT node, MIN(nb) AS rep FROM (
      |    SELECT es AS node, ed AS nb FROM e1
      |    UNION ALL SELECT DISTINCT rep, rep FROM m1) GROUP BY node),
      |e2 AS MATERIALIZED (
      |  SELECT DISTINCT ma.rep AS es, mb.rep AS ed
      |  FROM e1 JOIN m2 ma ON e1.es = ma.node JOIN m2 mb ON e1.ed = mb.node
      |  WHERE ma.rep <> mb.rep),
      |m3 AS MATERIALIZED (
      |  SELECT node, MIN(nb) AS rep FROM (
      |    SELECT es AS node, ed AS nb FROM e2
      |    UNION ALL SELECT DISTINCT rep, rep FROM m2) GROUP BY node),
      |e3 AS MATERIALIZED (
      |  SELECT DISTINCT ma.rep AS es, mb.rep AS ed
      |  FROM e2 JOIN m3 ma ON e2.es = ma.node JOIN m3 mb ON e2.ed = mb.node
      |  WHERE ma.rep <> mb.rep),
      |reach AS (
      |  SELECT es AS node, es AS r FROM e3
      |  UNION
      |  SELECT reach.node, e.ed FROM reach JOIN e3 e ON reach.r = e.es),
      |comp3 AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
      |cc AS (
      |  SELECT d.doc_id, COALESCE(c3.component, l3.rep) AS component
      |  FROM documents d
      |  JOIN m1 l1 ON d.doc_id = l1.node
      |  JOIN m2 l2 ON l1.rep = l2.node
      |  JOIN m3 l3 ON l2.rep = l3.node
      |  LEFT JOIN comp3 c3 ON l3.rep = c3.node)""".stripMargin

  /** SemDeDup's candidate generation over a multi-table LSH code (d28, and
    * d29/d32 through [[semDedupAdaptive]]): `e(vec_id, embedding, nrm, …)`
    * explodes into index entries (`idxCells`) and probes (`probeCells`), each
    * an array of `(tbl, bucket)` structs; every lower-id index entry sharing a
    * probed cell becomes a `(a_id, b_id, cos_sim)` candidate. `cap = Some(C)`
    * keeps only each (table, cell)'s C lowest-id index entries — one hash
    * exchange on the cell key (the SAME key the candidate join shuffles on)
    * plus an in-partition sort; b_id is unique, so the kept set is
    * deterministic. Zero-norm pairs drop out (NULL cosine).
    */
  private def lshCosineCands(e: DataFrame, idxCells: Column, probeCells: Column,
      cap: Option[Int] = None): DataFrame = {
    import graft.functions.VectorOps.dot
    val idx0 = e
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"),
        explode(idxCells).as("tb"))
      .select(col("b_id"), col("b_emb"), col("b_nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val idx = cap.fold(idx0) { c =>
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tbl"), col("bucket")).orderBy(col("b_id"))
      idx0.withColumn("rn", row_number().over(win)).filter(col("rn") <= c).drop("rn")
    }
    val probes = e
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"),
        explode(probeCells).as("tb"))
      .select(col("a_id"), col("a_emb"), col("a_nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    idx.join(probes, Seq("tbl", "bucket"))
      .filter(col("b_id") < col("a_id"))
      .select(col("a_id"), col("b_id"),
        quant(dot(col("a_emb"), col("b_emb")) /
          when(col("a_nrm") * col("b_nrm") > 0.0, col("a_nrm") * col("b_nrm")), 1e6)
          .as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
  }

  /** SemDeDup with a CORPUS-ADAPTIVE code width — the g12 pattern (derive the
    * key space from a broadcast count IN-PLAN) applied to hyperplane LSH.
    * d28 widened d14's 4 cells to 4 tables x 2^12, but any pinned k
    * re-densifies eventually (measured: d28's marginal bends up at 20x as
    * cells fill). Here k comes from [[LshCodes.adaptiveK]], so per-cell
    * density stays ~8 vectors per table at ANY corpus size while the probe
    * fan-out grows only as k (Hamming-1 over k planes); candidates,
    * zero-norm guard, and keep-lowest-id semantics are exactly d28's. `cap`
    * is d32's per-cell verification cap (None = d29).
    */
  private def semDedupAdaptive(s: SparkSession, d: String, cap: Option[Int]): DataFrame = {
    val e = LshCodes.withAdaptiveCodes(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      LshCodes.adaptiveK(Tables.embeddings(s, d)))
    val cand = lshCosineCands(e, LshCodes.adaptiveIdxCells, LshCodes.adaptiveProbeCells, cap)
    // countDistinct, NOT distinct()-then-count: cos_sim is a pure
    // function of (a_id, b_id), so the distinct pair count and the max
    // over duplicates are unchanged — but the global DISTINCT was a
    // second full-width exchange of the pair stream (50M rows at 20x,
    // where multi-probe emits each true pair up to 4x(k+1) times) ON
    // TOP of the groupBy's own shuffle. One aggregate does both dedup
    // and fold with map-side partial aggregation (the D29Decomp probe,
    // since deleted — source at commit a7c9aea — attributes the 20x
    // marginal to exactly this stage; the pair VOLUME itself is
    // true duplicate mass — sharded corpora collide exact-dup codes at
    // any k — so the fix pays once per pair, never pretends fewer
    // exist). d28/d14 keep the literal DISTINCT as registered baselines.
    val best = cand.groupBy(col("a_id"))
      .agg(countDistinct(col("b_id")).as("n_cand_prior"),
        max(col("cos_sim")).as("best_prior_sim"))
    val ids = e.select(col("vec_id"), col("k").cast("long").as("k_planes"))
    ids
      .join(best, ids("vec_id") === best("a_id"), "left")
      .select(
        col("vec_id"),
        col("k_planes"),
        coalesce(col("n_cand_prior"), lit(0L)).as("n_cand_prior"),
        col("best_prior_sim"),
        coalesce(col("best_prior_sim") >= 0.85, lit(false)).as("is_sem_dup"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin of [[lshCosineCands]] + the per-vector best-prior fold, as
    * CTEs `cand` and `best` over CTEs `idx(b_id, b_emb, tbl, bucket)` and
    * `pr(a_id, a_emb, tbl, bucket)`.
    */
  private val semDedupCandSql: String = {
    val dotS = "list_sum(list_transform(list_zip(i.b_emb, p.a_emb), " +
      "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"
    def normS(c: String) =
      s"sqrt(list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""cand AS (
       |  SELECT DISTINCT a_id, b_id, cos_sim FROM (
       |    SELECT p.a_id, i.b_id,
       |      floor($dotS /
       |            nullif(${normS("i.b_emb")} * ${normS("p.a_emb")}, 0) * 1000000)
       |        / 1000000 AS cos_sim
       |    FROM idx i JOIN pr p
       |      ON i.tbl = p.tbl AND i.bucket = p.bucket AND i.b_id < p.a_id) t
       |  WHERE cos_sim IS NOT NULL),
       |best AS (
       |  SELECT a_id, COUNT(*) AS n_cand_prior, MAX(cos_sim) AS best_prior_sim
       |  FROM cand GROUP BY a_id)""".stripMargin
  }

  /** DuckDB twin of [[semDedupAdaptive]]; `cap` ranks each cell's index
    * entries by id and keeps the first C, as the engine does.
    */
  private def semDedupAdaptiveSql(cap: Option[Int]): String = {
    val tcase = "CASE t.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
    val capped = cap.fold("") { c =>
      s"""
         |idx AS (
         |  SELECT b_id, b_emb, tbl, bucket FROM (
         |    SELECT b_id, b_emb, tbl, bucket,
         |      ROW_NUMBER() OVER (PARTITION BY tbl, bucket ORDER BY b_id) AS rn
         |    FROM idx0) c WHERE rn <= $c),""".stripMargin
    }
    s"""WITH ${LshCodes.adaptiveKSql("embeddings")},
       |e AS (
       |  SELECT vec_id, emb AS embedding, k,
       |    ${LshCodes.adaptiveColsSql("wb").mkString(",\n    ")}
       |  FROM (SELECT vec_id, embedding AS emb FROM embeddings), kk),
       |${if (cap.isEmpty) "idx" else "idx0"} AS (
       |  SELECT e.vec_id AS b_id, e.embedding AS b_emb, t.tbl, $tcase AS bucket
       |  FROM e, (SELECT unnest([0,1,2,3]) AS tbl) t),$capped
       |pr AS (
       |  SELECT e.vec_id AS a_id, e.embedding AS a_emb, t.tbl,
       |    ${LshCodes.adaptiveProbeSql(tcase)} AS bucket
       |  ${LshCodes.adaptiveProbeFromSql("e")}),
       |$semDedupCandSql
       |SELECT e.vec_id, CAST(e.k AS BIGINT) AS k_planes,
       |  COALESCE(n_cand_prior, 0) AS n_cand_prior, best_prior_sim,
       |  COALESCE(best_prior_sim >= 0.85, FALSE) AS is_sem_dup
       |FROM e LEFT JOIN best ON e.vec_id = best.a_id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** Gram length of the d19/d31 duplicated-substring spans. */
  private val SpanK = 10

  /** d19/d31's shared plan: duplicated-substring spans per document. `grams`
    * turns the tokenized docs `(doc_id, t, n_tokens)` into stride-1 gram
    * postings `(doc_id, pos, <key>)`; the literal gram (d19) or its rolling
    * fingerprint (d31) is the only difference. Global df>=2 grams → their
    * positions per doc → overlapping/adjacent [pos, pos+k-1] intervals
    * merged into MAXIMAL duplicated spans (one per-doc window pass, the e14
    * interval-union shape). Grams explode to one row per corpus token —
    * inherent to substring dedup; the df agg and the position join are
    * plain hash shuffles on the key, the island window partitions per
    * DOCUMENT.
    */
  private def substringSpans(s: SparkSession, d: String, key: String)(
      grams: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanK
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")))
      .filter(col("n_tokens") >= k)
    val g = grams(docs)
    val dup = g.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col(key))
    val p = g.join(dup, Seq(key)).select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = p
      .withColumn("prev_end",
        max(col("pos") + (k - 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (k - 1)).as("e"))
    val per = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
    docs.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("n_tokens"),
        quant(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 1e6)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[substringSpans]]: `gramCtes` defines `g2(doc_id, pos,
    * <key>)` over `d(doc_id, toks)`; `docs` is the CTE the output rows come
    * from and `nTok` its token-count expression.
    */
  private def substringSpansSql(key: String, docs: String, nTok: String,
      gramCtes: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE len(string_split(text, ' ')) >= 10),
       |$gramCtes,
       |dup AS (SELECT $key FROM g2 GROUP BY $key HAVING COUNT(*) >= 2),
       |p AS (SELECT doc_id, pos FROM g2 JOIN dup USING ($key)),
       |m AS (
       |  SELECT doc_id, pos,
       |    MAX(pos + 9) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM p),
       |i AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS ni
       |  FROM m),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
       |      AS island
       |  FROM i),
       |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 9 AS e
       |       FROM isl GROUP BY 1, 2),
       |per AS (SELECT doc_id, COUNT(*) AS n_dup_spans,
       |          CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
       |        FROM sp GROUP BY 1)
       |SELECT $docs.doc_id,
       |  CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST($nTok AS BIGINT) AS n_tokens,
       |  floor(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / $nTok * 1000000) / 1000000
       |    AS dup_frac
       |FROM $docs LEFT JOIN per USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** d24/d27's keep-manifest over a near-dup edge list `(src, dst)`: CC
    * labels the clusters, then per multi-doc cluster ONE aggregate keyed by
    * component picks the representative to KEEP — longest text, ties to the
    * smallest doc_id, the deterministic min(struct(-len, id)) argmax (no
    * corpus window) — and accounts the chars dropped. d24 feeds it d10's
    * source-blocked exact Jaccard pairs, d27 d25's LSH-verified edges.
    */
  private def keepManifest(docs: DataFrame, edges: DataFrame): DataFrame = {
    val nodes = docs.select(col("doc_id").as("id"))
    val comp = graft.ops.ConnectedComponents.run(nodes, edges)
    comp.join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("tot_chars"),
        min(struct((-col("n_chars")).as("nl"), col("id").as("i"))).as("m"))
      .filter(col("n_docs") >= 2)
      .select(col("component"), col("n_docs"),
        col("m.i").as("keep_id"), (-col("m.nl")).as("keep_chars"),
        (col("tot_chars") - (-col("m.nl"))).as("dropped_chars"))
      .orderBy(col("component"))
  }

  /** DuckDB twin of [[keepManifest]] over a CTE chain ending in
    * `cc(doc_id, component)`; `alias` names the joined documents table.
    */
  private def keepManifestSql(ccCtes: String, alias: String): String =
    s"""$ccCtes,
       |j AS (SELECT cc.component, $alias.doc_id, $alias.n_chars
       |      FROM cc JOIN documents $alias USING (doc_id)),
       |ag AS (
       |  SELECT component, COUNT(*) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS tot_chars
       |  FROM j GROUP BY component),
       |keep AS (
       |  SELECT component, doc_id AS keep_id, n_chars AS keep_chars FROM (
       |    SELECT component, doc_id, n_chars,
       |      ROW_NUMBER() OVER (PARTITION BY component
       |                         ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM j) t WHERE rn = 1)
       |SELECT ag.component, ag.n_docs, keep.keep_id, keep.keep_chars,
       |  ag.tot_chars - keep.keep_chars AS dropped_chars
       |FROM ag JOIN keep USING (component)
       |WHERE ag.n_docs >= 2
       |ORDER BY ag.component""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ---------------------------------------------------------------- exact
    Q(
      "d1_exact_dedup",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            array_join(slice(tokens(col("text")), 1, 5), " ").as("prefix_key")
          )
          .groupBy(col("prefix_key"))
          .agg(min(col("doc_id")).as("keeper_doc_id"), (count(lit(1)) - 1).as("n_dups"))
          .orderBy(col("prefix_key")),
      Some("""SELECT prefix_key, MIN(doc_id) AS keeper_doc_id, COUNT(*) - 1 AS n_dups
             |FROM (SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ' ') AS prefix_key
             |      FROM documents)
             |GROUP BY prefix_key
             |ORDER BY prefix_key""".stripMargin),
      doc = "exact dedup on normalized 5-token prefix key; one hash shuffle, min-id keeper"
    ),
    // ---------------------------------------------------------------- keep-first
    Q(
      "d2_keep_first",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""SELECT lang, source, doc_id, n_chars FROM (
             |  SELECT lang, source, doc_id, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
             |  FROM documents) t
             |WHERE rn = 1
             |ORDER BY lang, source""".stripMargin),
      doc = "keep-first dedup (reference A2 features[0] semantics) as row_number window"
    ),
    // ---------------------------------------------------------------- jaccard
    Q(
      "d3_jaccard_near_dup",
      (s, d) =>
        // dictionary-encoded token sets (ops/TokenSets): the vocabulary is
        // mapped to dense ids once, each set becomes a bitmask / int array,
        // and the per-pair intersection is popcount / int-merge instead of
        // string compares — identical Jaccard integers, so the oracle's
        // list_intersect formulation is unchanged
        graft.ops.TokenSets
          .jaccardPairs(Tables.documents(s, d), "doc_id", "source", tokens(col("text")), 0.95)
          .select(col("a_id"), col("b_id"), col("jaccard"))
          .orderBy(col("a_id"), col("b_id")),
      Some("""WITH t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
             |           FROM documents)
             |SELECT a_id, b_id, jaccard FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
             |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id) p
             |WHERE jaccard >= 0.95
             |ORDER BY a_id, b_id""".stripMargin),
      doc = "blocked token-set Jaccard near-dup; block key = source (LSH bucket at scale); BASELINE RUNG (COVERAGE.md registry) — production path at scale: d25_lsh_clusters"
    ),
    // ---------------------------------------------------------------- minhash sigs
    Q(
      "d4_minhash_signatures",
      (s, d) => {
        // all 4 permutations in one compiled token loop (HOF lambdas are
        // interpreted — the codegen'd MinHashSignature expression is the
        // promoted form, SURVEY §7.3)
        import graft.functions.TextExpressions
        Tables.documents(s, d)
          .select(col("doc_id"), TextExpressions.minhashSignature(col("text"), MhSeeds).as("sig"))
          .select(
            col("doc_id") +: MhSeeds.indices.map(i => col("sig").getItem(i).as(s"mh$i")): _*
          )
          .orderBy(col("doc_id"))
      },
      Some {
        val cols = MhSeeds.zipWithIndex
          .map { case ((a, b), i) => s"${mhSql(a, b)} AS mh$i" }
          .mkString(",\n  ")
        s"""SELECT doc_id, $cols
           |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      doc = "4-permutation MinHash signatures; min() is order-independent → oracle-exact"
    ),
    // ---------------------------------------------------------------- lsh bands
    Q(
      "d5_lsh_candidates",
      (s, d) => {
        import graft.functions.TextExpressions
        val sigs = Tables.documents(s, d)
          .select(col("doc_id"), TextExpressions.minhashSignature(col("text"), MhSeeds).as("sig"))
          .select(
            col("doc_id") +: MhSeeds.indices.map(i => col("sig").getItem(i).as(s"mh$i")): _*
          )
        def bandPairs(bandId: Int, c1: String, c2: String) = {
          val x = sigs.select(col("doc_id").as("a_id"), col(c1), col(c2))
          val y = sigs.select(col("doc_id").as("b_id"), col(c1), col(c2))
          x.join(y, Seq(c1, c2))
            .filter(col("a_id") < col("b_id"))
            .select(lit(bandId).as("band"), col("a_id"), col("b_id"))
        }
        bandPairs(0, "mh0", "mh1")
          .unionByName(bandPairs(1, "mh2", "mh3"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_candidates"))
          .orderBy(col("band"))
      },
      Some {
        def band(id: Int, s1: (Long, Long), s2: (Long, Long)) =
          s"""SELECT CAST($id AS BIGINT) AS band, COUNT(*) AS n_candidates FROM (
             |  SELECT a.doc_id FROM sigs a JOIN sigs b
             |  ON a.s${id}1 = b.s${id}1 AND a.s${id}2 = b.s${id}2 AND a.doc_id < b.doc_id)""".stripMargin
        s"""WITH sigs AS (
           |  SELECT doc_id,
           |    ${mhSql(MhSeeds(0)._1, MhSeeds(0)._2)} AS s01,
           |    ${mhSql(MhSeeds(1)._1, MhSeeds(1)._2)} AS s02,
           |    ${mhSql(MhSeeds(2)._1, MhSeeds(2)._2)} AS s11,
           |    ${mhSql(MhSeeds(3)._1, MhSeeds(3)._2)} AS s12
           |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
           |${band(0, MhSeeds(0), MhSeeds(1))}
           |UNION ALL
           |${band(1, MhSeeds(2), MhSeeds(3))}
           |ORDER BY band""".stripMargin
      },
      doc = "MinHash-LSH banding: candidate pairs via equi-join on band keys — " +
        "bounded work per bucket at any corpus size, never O(n²)"
    ),
    // ---------------------------------------------------------------- simhash
    Q(
      "d6_simhash",
      (s, d) =>
        // compiled SimHash8 kernel (one token loop per row) — bit-identical
        // to the eight-aggregate-HOF TextOps.simhash8 spelling
        // (TextExpressionsSpec parity), so the oracle below is unchanged
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.TextExpressions.simhash8(col("text")).as("simhash"))
          .orderBy(col("doc_id")),
      Some {
        val bits = (0 until 8).map { b =>
          s"CASE WHEN list_aggregate(list_transform(toks, x -> CASE WHEN (${thSql("x")} >> $b) % 2 = 1 THEN 1 ELSE -1 END), 'sum') > 0 THEN ${1L << b} ELSE 0 END"
        }.mkString(" + ")
        s"""SELECT doc_id, CAST($bits AS BIGINT) AS simhash
           |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      doc = "8-bit SimHash from per-bit majority votes over token hashes; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d26_wide_simhash"
    ),
    // ---------------------------------------------------------------- shingles
    Q(
      "d7_shingle_jaccard",
      (s, d) => {
        // distinct trigram shingles via the codegen'd ShingleArray
        // expression — one compiled pass per row instead of interpreted
        // HOF lambdas (same set as array_distinct(transform(sequence...)))
        val toks = tokens(col("text"))
        val shingles = graft.functions.TextExpressions.shingles(col("text"), 3)
        // Inverted-index formulation hardened for the hot tail (the 100 TB
        // plan): [[graft.ops.SetSimJoin]] drops df=1 shingles exactly, joins
        // only each doc's PREFIX (rarest n−⌈t·n⌉+1 shingles) against the
        // pruned postings — a globally hot shingle can no longer go f² in
        // the candidate join — then verifies every candidate with one exact
        // array_intersect. Same result as the all-pairs set-intersection
        // (the DuckDB oracle keeps that formulation — a cross-formulation
        // differential check) at a cost proportional to rare-shingle
        // postings, not |pairs| x |set| and not hot-df².
        val docs = Tables.documents(s, d)
          .filter(size(toks) >= 3)
          .select(col("doc_id"), col("source"), shingles.as("sh"))
        graft.ops.SetSimJoin.verifiedPairs(docs, 0.5)
          .withColumn(
            "jaccard",
            col("inter").cast("double") / (col("a_n") + col("b_n") - col("inter"))
          )
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"), col("jaccard"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(generate_series(1, len(toks)-2),
             |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3)
             |SELECT a_id, b_id, jaccard FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
             |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id) p
             |WHERE jaccard >= 0.5
             |ORDER BY a_id, b_id""".stripMargin),
      doc = "token-trigram shingle Jaccard: order-sensitive n-gram near-dup (far more " +
        "discriminative than token sets — one true near-dup pair survives 0.5)"
    ),
    // ---------------------------------------------------------------- knn dedup
    Q(
      "d8_embedding_nn",
      (s, d) => {
        import graft.functions.VectorOps.{dot, norm}
        val e = Tables.embeddings(s, d).select(
          col("vec_id"), col("label"), col("embedding"), norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
        val b = e.select(col("vec_id").as("b_id"), col("label"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
        // top-1 neighbor as max_by with a (cos desc, b_id asc) key struct —
        // partial-aggregable (map-side combine), so the shuffle carries one
        // candidate per (a_id, mapper) instead of every pair through a
        // row_number window (the oracle keeps the window formulation)
        a.join(b, Seq("label"))
          .filter(col("a_id") =!= col("b_id"))
          .select(
            col("a_id"), col("b_id"),
            quant(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 1e6).as("cos_sim")
          )
          .groupBy(col("a_id"))
          .agg(
            max_by(
              struct(col("b_id"), col("cos_sim")),
              struct(col("cos_sim"), (-col("b_id")).as("nb"))
            ).as("best")
          )
          .select(
            col("a_id").as("vec_id"),
            col("best.b_id").as("nn_id"),
            col("best.cos_sim").as("cos_sim"),
            (col("best.cos_sim") >= 0.8).as("is_near_dup")
          )
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
             |p AS (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    floor(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) /
             |      (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             |       sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1000000) / 1000000 AS cos_sim
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
             |SELECT a_id AS vec_id, b_id AS nn_id, cos_sim, cos_sim >= 0.8 AS is_near_dup
             |FROM (SELECT a_id, b_id, cos_sim,
             |        ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS rnk
             |      FROM p) r
             |WHERE rnk = 1
             |ORDER BY vec_id""".stripMargin),
      doc = "embedding-cosine nearest neighbor within label blocks (IVF-style): the " +
        "near-dup primitive — is_near_dup thresholds the top match; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d29_semdedup_adaptive / s22_adaptive_ann"
    ),
    // ---------------------------------------------------------------- cross-source
    Q(
      "d9_cross_source_dup",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            col("source"),
            array_join(slice(tokens(col("text")), 1, 5), " ").as("prefix_key")
          )
          .groupBy(col("prefix_key"))
          .agg(
            countDistinct(col("source")).as("n_sources"),
            count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_doc")
          )
          .filter(col("n_sources") >= 2)
          .orderBy(col("prefix_key")),
      Some("""SELECT prefix_key, COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs,
             |  MIN(doc_id) AS first_doc
             |FROM (SELECT doc_id, source,
             |        array_to_string(string_split(text, ' ')[1:5], ' ') AS prefix_key
             |      FROM documents)
             |GROUP BY prefix_key
             |HAVING COUNT(DISTINCT source) >= 2
             |ORDER BY prefix_key""".stripMargin),
      doc = "cross-source duplicate detection: same content key appearing in 2+ sources " +
        "(provenance-aware dedup, one shuffle on the content key)"
    ),
    // ---------------------------------------------------------------- keep-best
    Q(
      "d12_keep_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // quality-aware canonical selection: within each exact-dup cluster
        // keep the HIGHEST-QUALITY document (not the first id — d2's
        // keep-first is the reference's features[0] semantics; curation
        // wants the best exemplar). Quality = t3's type-token ratio;
        // deterministic tie order (quality desc, doc_id).
        val toks = tokens(col("text"))
        val scored = Tables.documents(s, d)
          .select(
            col("doc_id"),
            array_join(slice(toks, 1, 5), " ").as("prefix_key"),
            (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr")
          )
        val w = Window.partitionBy(col("prefix_key"))
          .orderBy(col("ttr").desc, col("doc_id"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("prefix_key"), col("doc_id").as("keeper_doc_id"), col("ttr"))
          .orderBy(col("prefix_key"))
      },
      Some("""SELECT prefix_key, doc_id AS keeper_doc_id, ttr FROM (
             |  SELECT prefix_key, doc_id, ttr,
             |    ROW_NUMBER() OVER (PARTITION BY prefix_key ORDER BY ttr DESC, doc_id) AS rn
             |  FROM (
             |    SELECT doc_id,
             |      array_to_string(string_split(text, ' ')[1:5], ' ') AS prefix_key,
             |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
             |        len(string_split(text, ' ')) AS ttr
             |    FROM documents) s) r
             |WHERE rn = 1
             |ORDER BY prefix_key""".stripMargin),
      doc = "quality-aware dedup keeper: argmax-quality per cluster via a window " +
        "with deterministic tie order — the curation alternative to keep-first"
    ),
    // ---------------------------------------------------------------- clusters
    Q(
      "d10_dedup_clusters",
      (s, d) => {
        // near-dup pairs (d3 formulation, looser 0.8 threshold) are the edges;
        // each document's dedup cluster = min doc id transitively reachable.
        // Edge generation runs on dictionary-encoded sets (ops/TokenSets).
        val edges = graft.ops.TokenSets
          .jaccardPairs(Tables.documents(s, d), "doc_id", "source", tokens(col("text")), 0.8)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
        graft.ops.ConnectedComponents.run(nodes, edges)
          .select(col("id").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$ccSql
             |SELECT doc_id, component FROM cc ORDER BY doc_id""".stripMargin),
      doc = "dedup-cluster assignment: near-dup pairs as edges → distributed connected " +
        "components (iterative min-label propagation, ops/ConnectedComponents) vs a " +
        "DuckDB recursive-CTE transitive closure — the canonical-doc-per-cluster step; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d25_lsh_clusters"
    ),
    // ---------------------------------------------------------------- edit dist
    Q(
      "d11_edit_distance",
      (s, d) => {
        // candidate generation: (lang, 12-char prefix) block key — near-dups
        // share a prefix; the equi-join bounds pairs independent of corpus
        // size (1.5k pairs at sf0.1 vs 590k with length-band blocking).
        // Exact Levenshtein then verifies candidates — AFTER a pair-keyed
        // exchange + materialization of the candidate list. Without the
        // barrier, predicate pushdown collapses the rel_dist filter INTO
        // the broadcast join's residual condition: levenshtein runs once
        // per candidate inside the hash probe and AGAIN in the downstream
        // projection, confined to the probe scan's parallelism (ONE task
        // on a single-file corpus — profiled 2.8s at sf0.1). The exchange
        // is on CANDIDATE PAIRS (block-bounded, the rows the verify must
        // read anyway — never corpus-sized), the checkpoint pins it, and
        // the DP then runs across the full executor set. The partition
        // count is EXPLICIT (REPARTITION_BY_NUM): an ENSURE_REQUIREMENTS
        // exchange of a few thousand candidate rows gets AQE-coalesced to
        // one partition by size — but this exchange exists for COMPUTE
        // spreading (each row carries ~0.8ms of O(len²) DP), which row
        // bytes cannot see. Profiled at sf0.1: 3.06 → 0.67s.
        val t = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"), col("n_chars"),
            substring(col("text"), 1, 12).as("pfx"))
        val a = t.select(col("doc_id").as("a_id"), col("lang"), col("pfx"),
          col("text").as("a_text"), col("n_chars").as("a_len"))
        val b = t.select(col("doc_id").as("b_id"), col("lang"), col("pfx"),
          col("text").as("b_text"), col("n_chars").as("b_len"))
        val cand = a.join(b, Seq("lang", "pfx"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            col("a_text"), col("b_text"),
            greatest(col("a_len"), col("b_len")).as("max_len"))
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("a_id"), col("b_id"))
          // the DP runs once per pair INSIDE the materialized frame (after
          // the compute-spreading exchange, before the checkpoint): the
          // checkpoint then stores (a_id, b_id, edit_dist, max_len) — no
          // texts — and the rel_dist filter below has no levenshtein
          // expression to clone through the projection (PlanGuard rule 4b;
          // the r16 shape re-ran the DP in the pushed filter copy)
          .select(
            col("a_id"), col("b_id"),
            levenshtein(col("a_text"), col("b_text")).as("edit_dist"),
            col("max_len"))
          .localCheckpoint()
        cand
          .withColumn("rel_dist", quant(col("edit_dist").cast("double") / col("max_len"), 1e6))
          .filter(col("rel_dist") <= 0.3)
          .select(col("a_id"), col("b_id"), col("edit_dist"), col("rel_dist"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH t AS (SELECT doc_id, lang, text, n_chars, substring(text, 1, 12) AS pfx
             |           FROM documents)
             |SELECT a_id, b_id, edit_dist, rel_dist FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    levenshtein(a.text, b.text) AS edit_dist,
             |    floor(CAST(levenshtein(a.text, b.text) AS DOUBLE) /
             |          GREATEST(a.n_chars, b.n_chars) * 1000000) / 1000000 AS rel_dist
             |  FROM t a JOIN t b ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id) p
             |WHERE rel_dist <= 0.3
             |ORDER BY a_id, b_id""".stripMargin),
      doc = "edit-distance near-dup: prefix-fingerprint blocking (candidate equi-join) " +
        "+ exact Levenshtein verify with relative-distance threshold"
    ),
    // ---------------------------------------------------------------- decontam
    Q(
      "d13_decontaminate",
      (s, d) => {
        // benchmark decontamination: training documents sharing any trigram
        // shingle with the held-out eval set are flagged (the standard
        // n-gram-overlap contamination check run before training). The eval
        // set here is a deterministic slice (doc_id % 29 = 0 — in production
        // the benchmark corpus). Scale shape: the eval side is tiny relative
        // to the corpus, so its postings BROADCAST into the train-side
        // shingle explode — the 100 TB corpus is never shuffled before the
        // per-doc aggregate; distinct-counts are partial-aggregated.
        import org.apache.spark.sql.functions.broadcast
        val sh = graft.functions.TextExpressions.shingles(col("text"), 3)
        val postings = Tables.documents(s, d)
          .filter(size(tokens(col("text"))) >= 3)
          .select(col("doc_id"), explode(sh).as("shingle"))
        val ev = postings.filter(col("doc_id") % 29 === 0)
          .select(col("doc_id").as("eval_id"), col("shingle"))
        val tr = postings.filter(col("doc_id") % 29 =!= 0)
        tr.join(broadcast(ev), Seq("shingle"))
          .groupBy(col("doc_id"))
          .agg(
            countDistinct(col("shingle")).as("n_shared_shingles"),
            countDistinct(col("eval_id")).as("n_eval_docs")
          )
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3),
             |s AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
             |ev AS (SELECT doc_id AS eval_id, shingle FROM s WHERE doc_id % 29 = 0),
             |tr AS (SELECT doc_id, shingle FROM s WHERE doc_id % 29 <> 0)
             |SELECT tr.doc_id,
             |  COUNT(DISTINCT tr.shingle) AS n_shared_shingles,
             |  COUNT(DISTINCT ev.eval_id) AS n_eval_docs
             |FROM tr JOIN ev ON tr.shingle = ev.shingle
             |GROUP BY tr.doc_id
             |ORDER BY tr.doc_id""".stripMargin),
      doc = "benchmark decontamination: n-gram-overlap flagging of training docs " +
        "against a broadcast eval corpus — shared-shingle and eval-doc counts " +
        "per contaminated document"
    ),
    // ---------------------------------------------------------------- semdedup
    Q(
      "d14_semdedup",
      (s, d) => {
        // SemDeDup: coarse k-means cluster assignment (the s5 deterministic
        // quantizer) partitions the corpus, then cosine near-dups are found
        // ONLY within a cluster — the pair join is blocked on the centroid
        // key, so its cost is sum of per-cluster squares, never corpus².
        // A vector is a semantic duplicate if some LOWER-id vector in its
        // cluster has cosine >= 0.85 (keep-lowest-id canonical exemplar).
        import graft.functions.VectorOps.{dot, norm, hashPlaneDot}
        val e = Tables.embeddings(s, d)
        val assigned = (0 until 4)
          .foldLeft(e.select(col("vec_id"), col("embedding"))) { case (df, j) =>
            df.withColumn(s"s$j", quant(hashPlaneDot(col("embedding"), j, 0.0), 1e6))
          }
          .withColumn(
            "centroid",
            when(col("s0") >= col("s1") && col("s0") >= col("s2") && col("s0") >= col("s3"), 0L)
              .when(col("s1") >= col("s2") && col("s1") >= col("s3"), 1L)
              .when(col("s2") >= col("s3"), 2L)
              .otherwise(3L)
          )
          .select(col("vec_id"), col("embedding"), col("centroid"), norm(col("embedding")).as("nrm"))
        val a = assigned.select(col("vec_id").as("a_id"), col("centroid"),
          col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
        val b = assigned.select(col("vec_id").as("b_id"), col("centroid"),
          col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
        // best similarity to any PRIOR (lower-id) cluster member; map-side
        // partial max, then a zero-preserving left join back to all vectors
        val bestPrior = a.join(b, Seq("centroid"))
          .filter(col("b_id") < col("a_id"))
          .select(
            col("a_id"),
            quant(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 1e6).as("cos_sim")
          )
          .groupBy(col("a_id"))
          .agg(max(col("cos_sim")).as("best_prior_sim"))
        assigned
          .join(bestPrior, assigned("vec_id") === bestPrior("a_id"), "left")
          .select(
            col("vec_id"),
            col("centroid"),
            coalesce(col("best_prior_sim") >= 0.85, lit(false)).as("is_sem_dup")
          )
          .orderBy(col("vec_id"))
      },
      Some {
        def cdot(j: Int) =
          s"floor(list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * (((($j*64 + (i-1)) * 2654435761) % 1000000007) / 1000000000.0))) * 1000000) / 1000000"
        s"""WITH assigned AS (
           |  SELECT vec_id, embedding, CAST(CASE
           |    WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
           |    WHEN s1 >= s2 AND s1 >= s3 THEN 1
           |    WHEN s2 >= s3 THEN 2
           |    ELSE 3 END AS BIGINT) AS centroid
           |  FROM (SELECT vec_id, embedding, ${cdot(0)} AS s0, ${cdot(1)} AS s1,
           |               ${cdot(2)} AS s2, ${cdot(3)} AS s3
           |        FROM embeddings) t),
           |best AS (
           |  SELECT a.vec_id AS a_id,
           |    MAX(floor(list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) /
           |      (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1000000) / 1000000) AS best_prior_sim
           |  FROM assigned a JOIN assigned b
           |    ON a.centroid = b.centroid AND b.vec_id < a.vec_id
           |  GROUP BY a.vec_id)
           |SELECT assigned.vec_id, centroid,
           |  COALESCE(best_prior_sim >= 0.85, FALSE) AS is_sem_dup
           |FROM assigned LEFT JOIN best ON assigned.vec_id = best.a_id
           |ORDER BY assigned.vec_id""".stripMargin
      },
      doc = "SemDeDup semantic dedup: coarse-cluster assignment blocks the cosine " +
        "pair join, keep-lowest-id exemplar per semantic duplicate group; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d29_semdedup_adaptive"
    ),
    // ---------------------------------------------------------------- paragraph
    Q(
      "d15_paragraph_dedup",
      (s, d) => {
        // paragraph-level exact dedup: documents are chunked into 10-token
        // "paragraphs", chunks are deduplicated globally by content, and each
        // document reports how much of it is boilerplate (chunks that also
        // appear in ≥1 other document). One explode + one hash agg + one
        // equi-join back — every step is a plain hash shuffle at 100 TB.
        val toks = tokens(col("text"))
        val nChunks = ceil(size(toks) / lit(10.0)).cast("int")
        val chunkArr = transform(
          sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * lit(10) + 1, lit(10)), " ")
        )
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), explode(chunkArr).as("chunk"))
        val freq = chunks
          .groupBy(col("chunk"))
          .agg(countDistinct(col("doc_id")).as("ndocs"))
        chunks
          .join(freq, Seq("chunk"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks")
          )
          .withColumn(
            "dup_fraction",
            quant(col("n_dup_chunks").cast("double") / col("n_chunks"), 1e6)
          )
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(0, CAST(ceil(len(toks)/10.0) AS INT)),
             |      i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS chunk
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
             |f AS (SELECT chunk, COUNT(DISTINCT doc_id) AS ndocs FROM c GROUP BY chunk)
             |SELECT doc_id, COUNT(*) AS n_chunks,
             |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
             |  floor(CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS dup_fraction
             |FROM c JOIN f USING (chunk)
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin),
      doc = "paragraph-level exact dedup: 10-token chunking, global chunk dedup, " +
        "per-document boilerplate fraction (the CCNet/RefinedWeb line-dedup step)"
    ),
    // ---------------------------------------------------------------- containment
    Q(
      "d16_containment",
      (s, d) => {
        // ASYMMETRIC containment C(A,B) = |A∩B| / |A| over trigram shingles:
        // finds documents EMBEDDED inside larger ones, which symmetric
        // Jaccard misses when sizes differ. Same inverted-index shape as d7
        // but directed — both (a,b) and (b,a) scored.
        val toks = tokens(col("text"))
        val shingles = graft.functions.TextExpressions.shingles(col("text"), 3)
        // [[graft.ops.SetSimJoin]] generates UNDIRECTED verified pairs once
        // (df=1 prune + prefix filter + exact array_intersect verify — the
        // directed containment ≥ t on side X is caught via X's prefix);
        // both directions then emit from the tiny verified pair table — the
        // containment denominators differ per direction, the intersection
        // count doesn't
        val docs = Tables.documents(s, d)
          .filter(size(toks) >= 3)
          .select(col("doc_id"), col("source"), shingles.as("sh"))
        graft.ops.SetSimJoin.verifiedPairs(docs, 0.5)
          // both directions via a generator over the aggregated rows — a
          // union of two projections would re-execute the join+agg subtree
          .select(explode(array(
            struct(col("a_id"), col("b_id"), col("a_n"), col("inter")),
            struct(col("b_id").as("a_id"), col("a_id").as("b_id"),
              col("b_n").as("a_n"), col("inter"))
          )).as("r"))
          .select(col("r.a_id").as("a_id"), col("r.b_id").as("b_id"),
            col("r.a_n").as("a_n"), col("r.inter").as("inter"))
          .withColumn("containment", quant(col("inter").cast("double") / col("a_n"), 1e6))
          .filter(col("containment") >= 0.5)
          .select(col("a_id"), col("b_id"), col("containment"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(generate_series(1, len(toks)-2),
             |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3)
             |SELECT a_id, b_id, containment FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) * 1000000) / 1000000 AS containment
             |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id <> b.doc_id) p
             |WHERE containment >= 0.5
             |ORDER BY a_id, b_id""".stripMargin),
      doc = "asymmetric shingle containment |A∩B|/|A| (directed near-dup): catches " +
        "documents embedded inside larger ones that symmetric Jaccard misses"
    ),
    // ---------------------------------------------------------------- bloom
    Q(
      "d17_bloom_decontaminate",
      (s, d) => {
        // decontamination via BLOOM pre-filter + exact verify join — the
        // shape for when the eval corpus is too big to broadcast as rows
        // but its bloom filter (a few bits per element) fits on every
        // executor. The bloom probe drops almost every clean train shingle
        // NEXT TO THE SCAN (no shuffle, no join); only probable hits reach
        // the exact join, which removes the false positives — so the result
        // is bit-identical to the unfiltered join and the oracle needs no
        // bloom at all. PLAN-NATIVE build+probe (ops.BloomProbe): the
        // filter is a BloomFilterAggregate scalar subquery — no eager
        // driver action at construction, the filter ships as a subquery
        // constant rather than a closure capture, and the probe is the
        // codegen'd BloomFilterMightContain Spark's own runtime row
        // filtering uses, so the prune stays inside whole-stage codegen.
        val sh = graft.functions.TextExpressions.shingles(col("text"), 3)
        val postings = Tables.documents(s, d)
          .filter(size(tokens(col("text"))) >= 3)
          .select(col("doc_id"), explode(sh).as("shingle"))
        val ev = postings.filter(col("doc_id") % 31 === 1)
          .select(col("shingle")).distinct()
        val tr = postings.filter(col("doc_id") % 31 =!= 1)
        val totals = tr.groupBy(col("doc_id"))
          .agg(countDistinct(col("shingle")).as("n_shingles"))
        tr.filter(graft.ops.BloomProbe.mightContain(ev, "shingle", col("shingle")))
          .join(broadcast(ev), Seq("shingle"))             // exact: kills false positives
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("shingle")).as("n_shared"))
          .join(totals, Seq("doc_id"))
          .select(
            col("doc_id"), col("n_shared"), col("n_shingles"),
            quant(col("n_shared").cast("double") / col("n_shingles"), 1e6)
              .as("contamination_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3),
             |s AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
             |ev AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 31 = 1),
             |tr AS (SELECT doc_id, shingle FROM s WHERE doc_id % 31 <> 1),
             |tot AS (SELECT doc_id, COUNT(DISTINCT shingle) AS n_shingles FROM tr GROUP BY doc_id),
             |hit AS (SELECT tr.doc_id, COUNT(DISTINCT tr.shingle) AS n_shared
             |        FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY tr.doc_id)
             |SELECT hit.doc_id, n_shared, n_shingles,
             |  floor(CAST(n_shared AS DOUBLE) / n_shingles * 1000000) / 1000000 AS contamination_frac
             |FROM hit JOIN tot ON hit.doc_id = tot.doc_id
             |ORDER BY hit.doc_id""".stripMargin),
      doc = "bloom-prefiltered decontamination: eval-shingle bloom filter probes " +
        "train postings scan-side (no shuffle), exact join verifies — result " +
        "identical to the unfiltered join, at a fraction of the joined volume"
    ),
    // ---------------------------------------------------------------- estimator eval
    Q(
      "d18_minhash_estimate",
      (s, d) => {
        // estimator-quality eval for the dedup pipeline (the LSH analog of
        // s8's ANN recall): for every LSH candidate pair, the MinHash
        // Jaccard ESTIMATE (fraction of agreeing permutations) side by side
        // with the EXACT token-set Jaccard and the absolute error. The
        // exact side goes through the token postings (intersection counts
        // only for candidate pairs — never all pairs); estimates are exact
        // quarters, exact Jaccard is floor-quantized, so the error
        // subtraction is exact double math.
        import graft.functions.TextExpressions
        val docs = Tables.documents(s, d)
        // r20: SIX subtrees consume the signature frame (both sides of both
        // band joins + sa/sb), and three consume the token postings (sizes
        // + both intersection sides) — each previously re-ran the minhash
        // kernel / token explode from the scan. Materialize both once; the
        // signature frame is 5 longs per document, the postings are the
        // same token frame t14's feat checkpoint precedent covers.
        val sigs = docs
          .select(col("doc_id"), TextExpressions.minhashSignature(col("text"), MhSeeds).as("sig"))
          .select(
            col("doc_id") +: MhSeeds.indices.map(i => col("sig").getItem(i).as(s"mh$i")): _*)
          .localCheckpoint()
        // deterministic pair sample: an estimator eval measures error on a
        // reproducible slice, not on every candidate (the candidate set
        // grows superlinearly in corpus size; the eval must not). The hash
        // predicate commutes with distinct, so it applies INSIDE each band
        // join — sampled-out pairs never reach the union or the dedup.
        def bandPairs(c1: String, c2: String) = {
          val x = sigs.select(col("doc_id").as("a_id"), col(c1), col(c2))
          val y = sigs.select(col("doc_id").as("b_id"), col(c1), col(c2))
          x.join(y, Seq(c1, c2)).filter(col("a_id") < col("b_id"))
            .filter((col("a_id") * 31 + col("b_id")) % 199 === 0)
            .select(col("a_id"), col("b_id"))
        }
        val cands = bandPairs("mh0", "mh1").unionByName(bandPairs("mh2", "mh3")).distinct()
        val tok = docs.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
          .localCheckpoint()
        val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = cands
          .join(tok.select(col("doc_id").as("a_id"), col("token")), Seq("a_id"))
          .join(tok.select(col("doc_id").as("b_id"), col("token")), Seq("b_id", "token"))
          .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
        val sa = sigs.select(
          col("doc_id").as("a_id") +: MhSeeds.indices.map(i => col(s"mh$i").as(s"a$i")): _*)
        val sb = sigs.select(
          col("doc_id").as("b_id") +: MhSeeds.indices.map(i => col(s"mh$i").as(s"b$i")): _*)
        val est = MhSeeds.indices
          .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / MhSeeds.size
        val jac = quant(col("i").cast("double") / (col("na") + col("nb") - col("i")), 1e6)
        cands
          .join(inter, Seq("a_id", "b_id"), "left_outer")
          .na.fill(0L, Seq("i"))
          .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
          .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
          .join(sa, Seq("a_id")).join(sb, Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            est.as("est_jaccard"), jac.as("jaccard"),
            abs(est - jac).as("abs_err"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some {
        s"""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS toks,
           |         list_distinct(string_split(text, ' ')) AS dtoks
           |  FROM documents),
           |sigs AS (
           |  SELECT doc_id, dtoks,
           |    ${mhSql(MhSeeds(0)._1, MhSeeds(0)._2)} AS mh0,
           |    ${mhSql(MhSeeds(1)._1, MhSeeds(1)._2)} AS mh1,
           |    ${mhSql(MhSeeds(2)._1, MhSeeds(2)._2)} AS mh2,
           |    ${mhSql(MhSeeds(3)._1, MhSeeds(3)._2)} AS mh3
           |  FROM t),
           |cands AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sigs a JOIN sigs b
           |    ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
           |  UNION
           |  SELECT a.doc_id, b.doc_id FROM sigs a JOIN sigs b
           |    ON a.mh2 = b.mh2 AND a.mh3 = b.mh3 AND a.doc_id < b.doc_id),
           |sampled AS (
           |  SELECT a_id, b_id FROM cands WHERE (a_id * 31 + b_id) % 199 = 0),
           |scored AS (
           |  SELECT c.a_id, c.b_id,
           |    CAST(CAST(sa.mh0 = sb.mh0 AS INTEGER) + CAST(sa.mh1 = sb.mh1 AS INTEGER) +
           |         CAST(sa.mh2 = sb.mh2 AS INTEGER) + CAST(sa.mh3 = sb.mh3 AS INTEGER)
           |         AS DOUBLE) / 4 AS est_jaccard,
           |    floor(CAST(len(list_intersect(sa.dtoks, sb.dtoks)) AS DOUBLE) /
           |          (len(sa.dtoks) + len(sb.dtoks) - len(list_intersect(sa.dtoks, sb.dtoks)))
           |          * 1000000) / 1000000 AS jaccard
           |  FROM sampled c
           |  JOIN sigs sa ON c.a_id = sa.doc_id
           |  JOIN sigs sb ON c.b_id = sb.doc_id)
           |SELECT a_id, b_id, est_jaccard, jaccard, abs(est_jaccard - jaccard) AS abs_err
           |FROM scored
           |ORDER BY a_id, b_id""".stripMargin
      },
      doc = "MinHash-estimate vs exact Jaccard per LSH candidate pair (estimator " +
        "eval, the dedup analog of s8's ANN recall) — exact side via candidate-" +
        "scoped posting intersections, never all pairs"
    ),
    // ---------------------------------------------------------------- substring spans
    Q(
      "d19_substring_spans",
      // EXACT duplicated-substring spans (the Lee et al. "Deduplicating
      // Training Data" signal) over the literal 10-token gram string as the
      // join key (human-auditable baseline rung); the PRODUCTION path is
      // d31, identical plan shape with the gram key hashed to an 8-byte
      // rolling fingerprint (TextOps.gramFingerprints) — ~10× less shuffle
      // bytes per posting.
      (s, d) => substringSpans(s, d, "gram") { docs =>
        // grams feed two subtrees (df aggregate + position join): spread
        // the docs through an explicit-count repartition and materialize
        // the postings once (profiled: the re-run explode was a ~630ms
        // single-task stage per reference on the single-file corpus)
        docs
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"),
            posexplode(expr(
              s"transform(sequence(1, n_tokens - ${SpanK - 1}), i -> array_join(slice(t, i, $SpanK), ' '))"
            )).as(Seq("p0", "gram")))
          .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
          .localCheckpoint()
      },
      Some(substringSpansSql("gram", "d", "len(toks)",
        """g AS (
          |  SELECT doc_id, toks,
          |    unnest(generate_series(1, len(toks) - 9)) AS pos
          |  FROM d),
          |g2 AS (
          |  SELECT doc_id, pos, array_to_string(toks[pos:pos+9], ' ') AS gram FROM g)""".stripMargin)),
      doc = "exact duplicated-substring spans (Lee et al. substring dedup): " +
        "stride-1 10-gram postings, global df>=2, per-doc maximal interval merge — " +
        "span count, duplicated tokens and fraction per document"
    ),
    // ---------------------------------------------------------------- substring spans, hashed
    Q(
      "d31_substring_spans_hashed",
      // d19's PRODUCTION twin: identical duplicated-substring plan, but
      // the gram shuffle key is an 8-byte rolling fingerprint (polynomial
      // fold of the token hashes mod the 49-bit prime FpM) instead of the
      // literal 10-token string, computed by the compiled
      // TextExpressions.gramFingerprintsK kernel (the Column/HOF spelling
      // TextOps.gramFingerprints is its pinned-parity twin; interpreted
      // HOF lambdas cost ~10 s/query here, the kernel milliseconds). At
      // corpus scale the df aggregation + position join shuffle one long
      // per posting (~8 bytes) where d19 ships the whole gram text (~10×
      // token bytes) — this is THE reason Lee et al. fingerprint grams.
      // Fingerprint collisions can in principle merge two distinct grams
      // (odds < 1% per 10^8 grams at 49 bits; the d19↔d31 differential
      // spec pins zero divergence on the test corpus); the oracle
      // computes the identical fingerprints, so the check stays
      // cell-exact regardless.
      (s, d) => substringSpans(s, d, "fp") { docs =>
        docs
          .select(col("doc_id"),
            posexplode(graft.functions.TextExpressions.gramFingerprintsK(col("t"), SpanK))
              .as(Seq("p0", "fp")))
          .select(col("doc_id"), (col("p0") + 1).as("pos"), col("fp"))
      },
      Some(substringSpansSql("fp", "hd", "n_toks",
        s"""hd AS (
           |  SELECT doc_id, len(toks) AS n_toks,
           |    list_transform(toks, x -> ${thSql("x")}) AS h
           |  FROM d),
           |f AS (SELECT doc_id, n_toks, ${fpSql(10)} AS fps FROM hd),
           |g AS (SELECT doc_id, n_toks, fps,
           |        unnest(generate_series(1, len(fps))) AS pos FROM f),
           |g2 AS (SELECT doc_id, pos, fps[pos] AS fp FROM g)""".stripMargin)),
      doc = "duplicated-substring spans over 8-byte ROLLING-FINGERPRINT gram keys " +
        "(d19's production twin, Lee et al. §4.1): the gram postings shuffle " +
        "carries one u64 per gram instead of the literal 10-token string — " +
        "~10x less shuffle volume, same span/interval-merge plan"
    ),
    // ---------------------------------------------------------------- simhash LSH
    Q(
      "d20_simhash_hamming",
      (s, d) => {
        import graft.functions.TextExpressions
        // Multi-index Hamming near-dup — the Manku/Google simhash design at
        // its real scale shape: 60-bit fingerprints, 4 bands of 15 bits
        // (32768 buckets per band), candidate pairs ONLY from an equi-join on
        // (band, band-value), then one exact bit_count verify. Pigeonhole
        // makes the index EXACT for the d<=3 threshold: two fingerprints
        // within Hamming distance 3 differ in at most 3 of the 4 bands, so
        // they collide on at least one — recall 1 by construction, never a
        // probabilistic LSH bound. The all-pairs O(n^2) comparison the oracle
        // runs never happens engine-side; candidate volume is sum of per-
        // bucket squares, bounded by the fingerprint distribution.
        val sims = Tables.documents(s, d)
          .select(col("doc_id"), TextExpressions.simhash60(col("text")).as("sim"))
        val bands = sims.select(
          col("doc_id"),
          col("sim"),
          posexplode(array((0 until 4).map(k => shiftright(col("sim"), 15 * k) % 32768): _*))
        ).select(col("doc_id"), col("sim"), col("pos").as("band"), col("col").as("bv"))
        val x = bands.select(
          col("band"), col("bv"), col("doc_id").as("doc_a"), col("sim").as("sa"))
        val y = bands.select(
          col("band"), col("bv"), col("doc_id").as("doc_b"), col("sim").as("sb"))
        x.join(y, Seq("band", "bv"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
          .distinct()
          .select(
            col("doc_a"),
            col("doc_b"),
            expr("CAST(bit_count(sa ^ sb) AS BIGINT)").as("hamming"))
          .filter(col("hamming") <= 3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        val bits = (0 until 60).map { b =>
          s"(CASE WHEN SUM(CASE WHEN (v >> $b) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents),
           |th AS (SELECT doc_id, ${thSql("x")} AS v FROM tok),
           |${mix60StagedCtes("th", Seq("v"))},
           |tv AS (SELECT doc_id, v FROM mixed),
           |sims AS (SELECT doc_id, CAST($bits AS BIGINT) AS sim FROM tv GROUP BY doc_id)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
           |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sim, b.sim)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      },
      doc = "multi-index Hamming near-dup join: 60-bit SimHash (codegen'd one-pass " +
        "expression), 4x15-bit band index with pigeonhole-exact recall for d<=3, " +
        "exact bit_count verify — oracle runs the brute-force all-pairs comparison; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d26_wide_simhash"
    ),
    // ---------------------------------------------------------------- pipeline
    Q(
      "d21_dedup_pipeline",
      (s, d) => {
        // The dedup CAPSTONE — candidates → clusters → exemplar keep →
        // corpus-reduction report, i.e. what a curation run actually ships:
        // near-dup edges (d10's dictionary-encoded Jaccard ≥ 0.8), connected
        // components (min-label exemplar = the kept document), then ONE
        // aggregate producing the per-source before/after accounting
        // (docs and tokens kept, keep ratio). Everything after the edge join
        // operates on (doc, component) rows — corpus-sized, never pair-sized.
        val perDoc = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_toks"))
        val edges = graft.ops.TokenSets
          .jaccardPairs(Tables.documents(s, d), "doc_id", "source", tokens(col("text")), 0.8)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
        val comp = graft.ops.ConnectedComponents.run(nodes, edges)
          .select(col("id").as("doc_id"), col("component"))
        perDoc.join(comp, Seq("doc_id"))
          .withColumn("kept", (col("doc_id") === col("component")).cast("long"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("kept")).as("n_kept"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("kept") * col("n_toks")).as("tokens_kept"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("n_tokens"), col("tokens_kept"),
            quant(col("n_kept").cast("double") / col("n_docs"), 1e6).as("keep_ratio"))
          .orderBy(col("source"))
      },
      Some(s"""$ccSql,
             |d AS (SELECT doc_id, source,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
             |      FROM documents)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             |  CAST(SUM(CASE WHEN doc_id = component THEN n_toks ELSE 0 END) AS BIGINT)
             |    AS tokens_kept,
             |  floor(CAST(SUM(CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*) * 1000000) / 1000000 AS keep_ratio
             |FROM d JOIN cc USING (doc_id)
             |GROUP BY source
             |ORDER BY source""".stripMargin),
      doc = "end-to-end dedup pipeline: near-dup edges -> connected components -> " +
        "min-label exemplar keep -> per-source corpus-reduction report (docs/tokens " +
        "kept, keep ratio) — the accounting a curation run ships; BASELINE RUNG " +
        "(COVERAGE.md registry) — production path at scale: d27_keep_lsh"
    ),
    // ---------------------------------------------------------------- overlap
    Q(
      "d22_source_overlap",
      (s, d) => {
        // pairwise corpus-overlap matrix between sources: exact distinct-
        // shingle Jaccard + containment for every source pair — the
        // cross-corpus contamination report run before mixing corpora.
        // Scale shape: ONE aggregation collapses the corpus to per-shingle
        // posting lists (collect_set dedups, sort_array fixes pair order),
        // and source pairs are generated LOCALLY inside each list — at most
        // (#sources choose 2) pairs per shingle, bounded by the SOURCE
        // count, never the corpus size, with no posting self-join at all
        // (contrast d7, where postings fan out per document). Single-source
        // shingles are dropped exactly (size≥2 ≡ the df-prune); per-source
        // cardinalities come off the SAME posting-list aggregate (reused
        // exchange), so the corpus is shuffled exactly once. The DuckDB
        // oracle keeps the naive posting self-join — a cross-formulation
        // differential.
        val lists = Tables.documents(s, d)
          .filter(size(tokens(col("text"))) >= 3)
          .select(
            col("source"),
            explode(graft.functions.TextExpressions.shingles(col("text"), 3)).as("sh"))
          .groupBy(col("sh"))
          .agg(sort_array(collect_set(col("source"))).as("srcs"))
        val perSource = lists
          .select(explode(col("srcs")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
        val inter = lists
          .filter(size(col("srcs")) >= 2)
          // codegen generator chain instead of flatten(transform(...)):
          // higher-order functions are CodegenFallback, so every source
          // pair paid an interpreted lambda tree (r20, same rewrite as the
          // g-family pair builds); posexplode + explode(slice(...)) emit
          // the identical pair multiset inside whole-stage codegen
          .select(col("srcs"), posexplode(col("srcs")).as(Seq("i", "sa")))
          .select(col("sa"), explode(slice(col("srcs"), col("i") + 2,
            size(col("srcs")) - col("i") - 1)).as("sb"))
          .groupBy(col("sa").as("src_a"), col("sb").as("src_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(perSource.select(col("source").as("src_a"), col("n_sh").as("n_a"))), Seq("src_a"))
          .join(broadcast(perSource.select(col("source").as("src_b"), col("n_sh").as("n_b"))), Seq("src_b"))
          .select(
            col("src_a"), col("src_b"), col("inter"), col("n_a"), col("n_b"),
            quant(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 1e6)
              .as("jaccard"),
            quant(col("inter").cast("double") / least(col("n_a"), col("n_b")), 1e6)
              .as("containment"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH t AS (
             |  SELECT source,
             |    list_distinct(list_transform(generate_series(1, len(toks)-2),
             |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3),
             |p AS (SELECT DISTINCT source, unnest(sh) AS sh FROM t),
             |c AS (SELECT source, COUNT(*) AS n_sh FROM p GROUP BY source),
             |i AS (
             |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
             |  FROM p a JOIN p b ON a.sh = b.sh AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b, inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
             |  floor(CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) * 1000000) / 1000000
             |    AS jaccard,
             |  floor(CAST(inter AS DOUBLE) / least(ca.n_sh, cb.n_sh) * 1000000) / 1000000
             |    AS containment
             |FROM i JOIN c ca ON i.src_a = ca.source JOIN c cb ON i.src_b = cb.source
             |ORDER BY src_a, src_b""".stripMargin),
      doc = "pairwise source-overlap matrix (exact distinct-shingle Jaccard + " +
        "containment): inverted-index pair join bounded by #sources per shingle, " +
        "df>=2 prune — the cross-corpus contamination report before mixing corpora"
    ),
    // ---------------------------------------------------------------- d23
    Q(
      "d23_incremental_dedup",
      (s, d) => {
        // Cross-snapshot incremental dedup — the shape every standing
        // corpus runs daily: dedup an incoming batch (here doc_id%5==4)
        // against the existing corpus WITHOUT ever shuffling the corpus.
        // The batch's distinct keys broadcast into a semi-join over the
        // corpus scan (one pass, no exchange on the big side); the keys
        // that hit come back bounded by BATCH size and broadcast again to
        // flag each batch doc. Within-batch dups rank inside the (small)
        // batch only. Verdict per doc: dup_existing > batch_dup > novel.
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.broadcast
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            array_join(slice(tokens(col("text")), 1, 5), " ").as("pkey"))
        val batch = base.filter(col("doc_id") % 5 === 4)
        val corpus = base.filter(col("doc_id") % 5 =!= 4)
        val batchKeys = batch.select(col("pkey")).distinct()
        val hitKeys = corpus
          .join(broadcast(batchKeys), Seq("pkey"), "left_semi")
          .select(col("pkey")).distinct()
          .withColumn("hit", lit(1L))
        val ranked = batch.withColumn(
          "rn", row_number().over(Window.partitionBy(col("pkey")).orderBy(col("doc_id"))))
        ranked
          .join(broadcast(hitKeys), Seq("pkey"), "left")
          .select(
            col("source"),
            when(col("hit").isNotNull, "dup_existing")
              .when(col("rn") > 1, "batch_dup")
              .otherwise("novel").as("verdict"))
          .groupBy(col("source"), col("verdict"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("verdict"))
      },
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |    array_to_string(string_split(text, ' ')[1:5], ' ') AS pkey
             |  FROM documents),
             |batch AS (SELECT * FROM b WHERE doc_id % 5 = 4),
             |corpus AS (SELECT * FROM b WHERE doc_id % 5 <> 4),
             |hit AS (
             |  SELECT DISTINCT corpus.pkey FROM corpus
             |  JOIN (SELECT DISTINCT pkey FROM batch) bk ON corpus.pkey = bk.pkey),
             |r AS (
             |  SELECT batch.*, ROW_NUMBER() OVER (PARTITION BY pkey ORDER BY doc_id) AS rn
             |  FROM batch)
             |SELECT source,
             |  CASE WHEN r.pkey IN (SELECT pkey FROM hit) THEN 'dup_existing'
             |       WHEN rn > 1 THEN 'batch_dup'
             |       ELSE 'novel' END AS verdict,
             |  COUNT(*) AS n_docs
             |FROM r
             |GROUP BY source, verdict
             |ORDER BY source, verdict""".stripMargin),
      doc = "incremental (cross-snapshot) dedup: incoming batch deduped against " +
        "the standing corpus via broadcast batch-keys semi-join — the corpus is " +
        "scanned once and NEVER shuffled; hit keys return batch-bounded and " +
        "re-broadcast; within-batch dups rank inside the batch only"
    ),
    // ---------------------------------------------------------------- d24
    Q(
      "d24_cluster_keep",
      (s, d) => {
        // THE step after cluster assignment that actually shrinks the
        // corpus: per near-dup cluster (d10's CC over the 0.8-Jaccard
        // graph), choose the representative to KEEP — longest text, ties
        // to the smallest doc_id — and account the chars dropped. Keeper
        // selection is the deterministic min(struct(-len, id)) argmax
        // inside one aggregate keyed by component (no window over the
        // corpus); only multi-doc clusters surface. At 100 TB this is the
        // manifest a dedup job emits: keep-list + reclaimed bytes per
        // cluster.
        val docs = Tables.documents(s, d)
        keepManifest(docs, graft.ops.TokenSets
          .jaccardPairs(docs, "doc_id", "source", tokens(col("text")), 0.8)
          .select(col("a_id").as("src"), col("b_id").as("dst")))
      },
      Some(keepManifestSql(ccSql, "d")),
      doc = "dedup keep-list: per near-dup cluster (d10's CC graph) pick the " +
        "longest-text representative (deterministic min(struct(-len, id)) " +
        "argmax, no corpus window) and account reclaimed chars — the manifest " +
        "a dedup job actually emits; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d27_keep_lsh"
    ),
    // ------------------------------------------------------- d25 lsh clusters
    Q(
      "d25_lsh_clusters",
      (s, d) => {
        // d10's production twin: the CC edge list comes from LSH band
        // collisions (per-bucket-bounded candidates, linear in the corpus)
        // instead of the source-blocked all-pairs join, which goes
        // quadratic in per-source density (d10 measures 12.8× wall for
        // 10× rows on the fixed source set, SCALING.md). The MinHash runs
        // over TRIGRAM SHINGLES, not unigram tokens — unigram minhash over
        // a Zipf vocabulary collapses: whichever common token carries the
        // globally minimal hash puts most of the corpus into one bucket
        // (measured: 3,176-doc mega-bucket, 5.3M pairs/band at sf0.1).
        // Shingles are near-unique per document, so buckets hold only
        // genuine near-dups. Every candidate is then verified with EXACT
        // shingle Jaccard ≥ 0.8 via integer cross-multiplication (no
        // division, engine-exact): precision is exact, recall is the LSH
        // contract — at scale you buy recall with more bands, never with
        // quadratic blocking.
        val docs = Tables.documents(s, d)
        val verified = lshVerifiedEdges(docs)
        val nodes = docs.select(col("doc_id").as("id"))
        graft.ops.ConnectedComponents.run(nodes, verified)
          .select(col("id").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$lshCcSql
           |SELECT doc_id, component FROM cc ORDER BY doc_id""".stripMargin),
      doc = "LSH-edged dedup clusters (d10's scale path): shingle-MinHash band " +
        "collisions generate the candidate edges (linear in the corpus — " +
        "unigram minhash would mega-bucket on the Zipf head), exact integer-" +
        "compare shingle Jaccard verifies them, CC labels the clusters"
    ),
    // ------------------------------------------------------- d27 keep via lsh
    Q(
      "d27_keep_lsh",
      (s, d) => {
        // The END-TO-END dedup scale path: d24's keep-manifest (per-cluster
        // representative + reclaimed chars) computed on d25's LSH-verified
        // edges instead of d10's source-blocked all-pairs graph. This is
        // the composition a 100 TB dedup job actually runs — every stage
        // is corpus-linear: band-bucket candidates, exact-Jaccard verify,
        // CC, then ONE aggregate keyed by component for the keeper argmax
        // (min(struct(-len, id)) — no corpus window). d24 stays as the
        // oracle-pinned exact-blocked baseline; SCALING.md carries both
        // curves (d24 inherits d10's density-quadratic edges, this stays
        // near-linear).
        val docs = Tables.documents(s, d)
        keepManifest(docs, lshVerifiedEdges(docs))
      },
      Some(keepManifestSql(lshCcSql, "dd")),
      doc = "end-to-end dedup scale path: d24's keep-manifest (representative " +
        "+ reclaimed chars) over d25's LSH-verified edges — every stage " +
        "corpus-linear, keeper argmax one component-keyed aggregate"
    ),
    // ------------------------------------------------------- d26 wide simhash
    Q(
      "d26_wide_simhash",
      (s, d) => {
        // d20's production twin: d20's 4×15-bit band index lives in a FIXED
        // 32,768-value space per band, so bucket density — and with it the
        // candidate join — grows linearly with the corpus (d20 measures 9×
        // wall for 10× rows, SCALING.md). The scale lever is a WIDER
        // fingerprint: two independent 60-bit simhash halves (the second
        // seeded before the multiplicative mix), bands pair the k-th 15-bit
        // segment of BOTH halves into a 30-bit key (2^30 buckets — the
        // space now outgrows any realistic corpus density). Pigeonhole
        // stays EXACT for the d≤3 contract over the 120-bit fingerprint:
        // ≤3 differing bits touch ≤3 of the 4 band slots, so a qualifying
        // pair collides on at least one intact band. The oracle runs the
        // brute-force all-pairs comparison of both halves.
        import graft.functions.TextExpressions
        val sims = Tables.documents(s, d)
          .select(
            col("doc_id"),
            TextExpressions.simhash60(col("text")).as("s1"),
            TextExpressions.simhash60Seeded(col("text"), 777L).as("s2"))
        val bands = sims.select(
          col("doc_id"), col("s1"), col("s2"),
          posexplode(array((0 until 4).map(k =>
            (shiftright(col("s1"), 15 * k) % 32768) * 32768 +
              shiftright(col("s2"), 15 * k) % 32768): _*))
        ).select(col("doc_id"), col("s1"), col("s2"),
          col("pos").as("band"), col("col").as("bv"))
        val x = bands.select(col("band"), col("bv"),
          col("doc_id").as("doc_a"), col("s1").as("s1a"), col("s2").as("s2a"))
        val y = bands.select(col("band"), col("bv"),
          col("doc_id").as("doc_b"), col("s1").as("s1b"), col("s2").as("s2b"))
        x.join(y, Seq("band", "bv"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("s1a"), col("s1b"), col("s2a"), col("s2b"))
          .distinct()
          .select(
            col("doc_a"), col("doc_b"),
            expr("CAST(bit_count(s1a ^ s1b) + bit_count(s2a ^ s2b) AS BIGINT)").as("hamming"))
          .filter(col("hamming") <= 3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        def bits(v: String) = (0 until 60).map { b =>
          s"(CASE WHEN SUM(CASE WHEN ($v >> $b) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents),
           |th AS (SELECT doc_id, ${thSql("x")} AS h FROM tok),
           |seeded AS (SELECT doc_id, h AS v1, h + 777 AS v2 FROM th),
           |${mix60StagedCtes("seeded", Seq("v1", "v2"))},
           |tv AS (SELECT doc_id, v1, v2 FROM mixed),
           |sims AS (SELECT doc_id,
           |    CAST(${bits("v1")} AS BIGINT) AS s1,
           |    CAST(${bits("v2")} AS BIGINT) AS s2
           |  FROM tv GROUP BY doc_id)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) AS BIGINT) AS hamming
           |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      },
      doc = "wide (120-bit) multi-index Hamming near-dup — d20's scale path: two " +
        "independent codegen'd simhash halves, 4×30-bit band index (bucket space " +
        "outgrows corpus density), pigeonhole-exact recall for d<=3, exact " +
        "two-half bit_count verify — oracle runs brute-force all-pairs"
    ),
    // ---------------------------------------------------------------- d28
    Q(
      "d28_semdedup_wide",
      (s, d) => {
        // SemDeDup's SCALE PATH (the d25/d26/g12 pattern applied to d14).
        // d14 blocks the cosine pair join on 4 FIXED coarse centroids, so
        // per-cluster size — and the pair join — grows quadratically with
        // the corpus (measured marginal 6.6× at 20×, the steepest in the
        // suite once the honest bench basis exposed it). Here the candidate
        // set comes from the wide multi-table LSH code instead (s20's
        // machinery: 4 tables × 12 planes = 4096 cells each, Hamming-1
        // probes): per-cell density is O(1) in the corpus, so prior-
        // neighbor candidate volume tracks the corpus linearly. Semantics
        // stay SemDeDup's: a vector is a semantic duplicate if some
        // LOWER-id candidate has cosine >= 0.85 (keep-lowest-id exemplar);
        // the deterministic candidate set is replicated exactly in the
        // oracle, and n_cand_prior rides in the output so the artifact
        // shows the bounded candidate volume. Zero-norm guard as s19/s20.
        import graft.functions.VectorOps.{lshBucketAt, norm}
        val K = 12
        val L = 4
        val masks = 0L +: (0 until K).map(b => 1L << b)
        val e = Tables.embeddings(s, d).select(
          Seq(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm")) ++
            (0 until L).map(t => lshBucketAt(col("embedding"), K, t * K).as(s"wb$t")): _*)
        val cand = lshCosineCands(e,
          array((0 until L).map(t =>
            struct(lit(t).as("tbl"), col(s"wb$t").as("bucket"))): _*),
          array((for { t <- 0 until L; m <- masks } yield
            struct(lit(t).as("tbl"), col(s"wb$t").bitwiseXOR(lit(m)).as("bucket"))): _*))
          .distinct()
        val best = cand.groupBy(col("a_id"))
          .agg(count(lit(1)).as("n_cand_prior"), max(col("cos_sim")).as("best_prior_sim"))
        val ids = e.select(col("vec_id"))
        ids
          .join(best, ids("vec_id") === best("a_id"), "left")
          .select(
            col("vec_id"),
            coalesce(col("n_cand_prior"), lit(0L)).as("n_cand_prior"),
            col("best_prior_sim"),
            coalesce(col("best_prior_sim") >= 0.85, lit(false)).as("is_sem_dup"))
          .orderBy(col("vec_id"))
      },
      Some {
        val wcols = LshCodes.pinnedColsSql("wb").mkString(",\n    ")
        val tcase = "CASE t.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        val pcase = "CASE p.tbl WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        s"""WITH e AS (
           |  SELECT vec_id, emb AS embedding,
           |    $wcols
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings)),
           |idx AS (
           |  SELECT e.vec_id AS b_id, e.embedding AS b_emb, t.tbl, $tcase AS bucket
           |  FROM e, (SELECT unnest([0,1,2,3]) AS tbl) t),
           |pr AS (
           |  SELECT e.vec_id AS a_id, e.embedding AS a_emb, p.tbl,
           |    xor($pcase, p.m) AS bucket
           |  FROM e, (VALUES ${LshCodes.pinnedProbeRows}) p(tbl, m)),
           |$semDedupCandSql
           |SELECT e.vec_id, COALESCE(n_cand_prior, 0) AS n_cand_prior, best_prior_sim,
           |  COALESCE(best_prior_sim >= 0.85, FALSE) AS is_sem_dup
           |FROM e LEFT JOIN best ON e.vec_id = best.a_id
           |ORDER BY e.vec_id""".stripMargin
      },
      doc = "SemDeDup at corpus-proof density — d14's scale path: prior-neighbor " +
        "candidates from the wide multi-table LSH code (4x4096 cells + Hamming-1 " +
        "probes, per-cell density O(1)) instead of 4 fixed coarse clusters; " +
        "keep-lowest-id exemplar semantics unchanged, candidate volume in-output; BASELINE RUNG (COVERAGE.md registry) — production path at scale: d29_semdedup_adaptive"
    ),
    // ---------------------------------------------------------------- d29
    Q(
      "d29_semdedup_adaptive",
      (s, d) => semDedupAdaptive(s, d, cap = None),
      Some(semDedupAdaptiveSql(cap = None)),
      doc = "SemDeDup with corpus-adaptive code width (the g12 pattern for " +
        "hyperplane LSH): k = len(bin(ceil(n/8))) planes per table derived " +
        "in-plan from a broadcast count — integer-exact on both engines — so " +
        "per-cell density stays ~8 at any corpus size while probe fan-out " +
        "grows only as k; candidates/semantics exactly d28's; skew-hardened " +
        "production path at scale: d32_semdedup_capped (the sf10 decade " +
        "measured this rung's pair volume super-linear on skewed cells)"
    ),
    // ------------------------------------------------- d32 capped semdedup
    Q(
      "d32_semdedup_capped",
      // d29 hardened against SKEWED cells — the failure mode the 100×
      // (sf10) decade measured on d29 itself: candidate pairs grew 3.05×
      // for 2× vectors (D29Decomp, deleted; source at commit a7c9aea:
      // 252M → 767M, cell_max 1223 → 2320 at
      // stable ~10 avg density) because one extra adaptive plane halves a
      // UNIFORM background but shrinks a skew-concentrated one only
      // ~1.33×. The fix is the standard bounded-verification-set trick:
      // each (table, cell)'s INDEX side keeps only its C=32 lowest-id
      // entries (deterministic, oracle-replicable), so per-cell join cost
      // is density×C instead of density², killing the quadratic skew term
      // while preserving SemDeDup's keep-lowest-exemplar recall where it
      // matters — a hot cell IS a near-dup cluster, and the cluster's
      // exemplar (its lowest id) is by construction inside the capped
      // set. On cells at or below the cap (every cell at the committed
      // sf0.01–sf1 gates) the candidate set — and therefore the whole
      // output — is IDENTICAL to d29's (SemDedupCapSpec proves it
      // cell-exact); k, probes, zero-norm guard, output shape unchanged.
      (s, d) => semDedupAdaptive(s, d, cap = Some(32)),
      Some(semDedupAdaptiveSql(cap = Some(32))),
      doc = "SemDeDup with skew-capped cells — d29 plus a deterministic " +
        "C=32 lowest-id verification cap per (table, cell): per-cell join " +
        "cost density×C instead of density² (the sf10 decade measured d29's " +
        "pair volume at 3.05× for 2× vectors from skewed cells), exemplar " +
        "recall preserved (a hot cell is a near-dup cluster whose lowest id " +
        "IS the exemplar); identical to d29 wherever cells fit the cap"
    ),
    // ------------------------------------------------ d33 band-entropy probe
    Q(
      "d33_band_entropy_probe",
      (s, d) => {
        // INDEX-HEALTH PROBE — BandEntropySpec's bucket-occupancy invariant
        // as a first-class, oracle-checked query: the report a 100 TB
        // deployment runs BEFORE trusting a banded index, because the r17
        // band-degeneracy class is invisible to every correctness oracle
        // (hash compares are mix-agnostic: the oracle recomputes the same
        // degenerate key) and only shows up in these occupancy numbers.
        // One row per banded index family: entries (item×band rows),
        // buckets used, the largest bucket, and Σ c·(c−1)/2 — the
        // candidate-join pair volume that bucket histogram IMPLIES, i.e.
        // the cost model the d20/d26/d25/d29 candidate generators run on.
        // All-integer output → cell-exact on both engines. The probe's two
        // families share their key arithmetic with the production kernels
        // (simhash60 bands = d20's spelling; adaptive cells = d29's), so a
        // future kernel regression moves THESE numbers the same run it
        // moves the real indexes.
        import graft.functions.TextExpressions
        import graft.functions.VectorExpressions.lshBucketDyn
        val bands = Tables.documents(s, d)
          .select(TextExpressions.simhash60(col("text")).as("sim"))
          .select(posexplode(array((0 until 4).map(k =>
            shiftright(col("sim"), 15 * k) % 32768): _*)))
          .select(col("pos").as("g1"), col("col").as("g2"))
        val cells = Tables.embeddings(s, d)
          .select(col("embedding")).crossJoin(broadcast(LshCodes.adaptiveK(Tables.embeddings(s, d))))
          .select(posexplode(array((0 until 4).map(t =>
            lshBucketDyn(col("embedding"), col("k"), t * 20)): _*)))
          .select(col("pos").as("g1"), col("col").as("g2"))
        // c·(c−1) is always even, so element-wise integer DIV keeps the whole
        // aggregate in BIGINT on both engines — float '/' here would lose
        // integer precision past 2^53, exactly in the degenerate-huge-bucket
        // regime (c ≳ 1.3e8 per bucket) this probe exists to detect.
        def stats(df: org.apache.spark.sql.DataFrame, name: String) =
          df.groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("c"))
            .agg(
              sum(col("c")).cast("long").as("n_entries"),
              count(lit(1)).as("n_buckets"),
              max(col("c")).as("max_bucket"),
              sum(expr("(c * (c - 1)) DIV 2")).cast("long").as("cand_pairs"))
            // decision-grade verdict columns: BandEntropySpec's deployment
            // bounds (max-bucket fraction ≤ 10%, candidate pairs/item ≤ 128,
            // BandEntropySpec.scala MaxBucketFrac/MaxPairsPerItem) quantized
            // to integer arithmetic (basis points / floor div) so the
            // pre-flight yields a machine-checkable `healthy` verdict, not
            // raw counts a human must interpret against test-only bounds —
            // and stays cell-exact on both engines.
            .select(lit(name).as("index_name"), col("n_entries"),
              col("n_buckets"), col("max_bucket"), col("cand_pairs"),
              expr("max_bucket * 10000 DIV n_entries").as("max_bucket_bp"),
              expr("cand_pairs DIV n_entries").as("pairs_per_item"),
              expr("max_bucket * 10000 DIV n_entries <= 1000 " +
                "AND cand_pairs DIV n_entries <= 128").as("healthy"))
        stats(cells, "adaptive_lsh_cells_x4")
          .unionByName(stats(bands, "simhash15_bands_x4"))
          .orderBy(col("index_name"))
      },
      Some {
        // simhash bands: d20's oracle CTE chain (tokenHash → staged mix60 →
        // per-bit majority votes) + band slicing; adaptive cells: d29's
        // kk/e plane-sign machinery. Both grouped to occupancy stats.
        val bits = (0 until 60).map { b =>
          s"(CASE WHEN SUM(CASE WHEN (v >> $b) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        val tcase = "CASE t.g1 WHEN 0 THEN wb0 WHEN 1 THEN wb1 WHEN 2 THEN wb2 ELSE wb3 END"
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents),
           |th AS (SELECT doc_id, ${thSql("x")} AS v FROM tok),
           |${mix60StagedCtes("th", Seq("v"))},
           |tv AS (SELECT doc_id, v FROM mixed),
           |sims AS (SELECT doc_id, CAST($bits AS BIGINT) AS sim FROM tv GROUP BY doc_id),
           |sb AS (SELECT b.g1, (sim >> (15 * b.g1)) % 32768 AS g2
           |       FROM sims, (SELECT unnest([0,1,2,3]) AS g1) b),
           |${LshCodes.adaptiveKSql("embeddings")},
           |e AS (
           |  SELECT vec_id, k,
           |    ${LshCodes.adaptiveColsSql("wb").mkString(",\n    ")}
           |  FROM (SELECT vec_id, embedding AS emb FROM embeddings), kk),
           |ec AS (SELECT t.g1, $tcase AS g2
           |       FROM e, (SELECT unnest([0,1,2,3]) AS g1) t),
           |occ1 AS (SELECT g1, g2, COUNT(*) AS c FROM sb GROUP BY g1, g2),
           |occ2 AS (SELECT g1, g2, COUNT(*) AS c FROM ec GROUP BY g1, g2),
           |s1 AS (SELECT 'simhash15_bands_x4' AS index_name, CAST(SUM(c) AS BIGINT) AS n_entries,
           |         COUNT(*) AS n_buckets, MAX(c) AS max_bucket,
           |         CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs FROM occ1),
           |s2 AS (SELECT 'adaptive_lsh_cells_x4' AS index_name, CAST(SUM(c) AS BIGINT) AS n_entries,
           |         COUNT(*) AS n_buckets, MAX(c) AS max_bucket,
           |         CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs FROM occ2),
           |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
           |SELECT index_name, n_entries, n_buckets, max_bucket, cand_pairs,
           |  CAST(max_bucket * 10000 // n_entries AS BIGINT) AS max_bucket_bp,
           |  CAST(cand_pairs // n_entries AS BIGINT) AS pairs_per_item,
           |  (max_bucket * 10000 // n_entries <= 1000
           |     AND cand_pairs // n_entries <= 128) AS healthy
           |FROM u
           |ORDER BY index_name""".stripMargin
      },
      doc = "index-health probe: bucket-occupancy report (entries, buckets, " +
        "max bucket, implied candidate pairs) for the simhash 15-bit bands " +
        "and the adaptive LSH cells, PLUS decision-grade verdict columns " +
        "(max_bucket_bp, pairs_per_item, healthy at BandEntropySpec's " +
        "documented 10%/128 bounds) — the pre-flight a 100 TB deployment " +
        "runs because band degeneracy (r17) is invisible to every " +
        "value-level oracle; all-BIGINT arithmetic (element-wise DIV on the " +
        "even product c*(c-1)) so the report stays cell-exact past 2^53"
    ),
    // ---------------------------------------------------------------- kmv overlap
    Q(
      "d30_kmv_overlap",
      (s, d) => {
        // Bounded-state twin of d22_source_overlap (which stays the
        // oracle-pinned EXACT report): pairwise source-overlap estimates
        // from per-source KMV sketches over the hashed-shingle space
        // (Beyer et al. 2007 k-minimum-values set operations). d22's exact
        // path shuffles the whole shingle corpus into posting lists; here
        // the corpus collapses to ONE k=256-long sketch per source inside a
        // map-side-combined aggregate (the KmvSketch buffer is the partial
        // state), so the exchange carries O(sources x k) longs at ANY
        // corpus size. Pair math then runs on a single collected row
        // (bounded by the SOURCE count, never the corpus): for each pair,
        // merge = k smallest of the union; est_union from the classic
        // (k-1)*P DIV kth; n_both = |merge ∩ A ∩ B| gives the standard KMV
        // Jaccard estimator n_both/|merge| and, scaled by est_union, the
        // intersection estimate — all integer arithmetic except the final
        // quantized ratio, so DuckDB reproduces every sketch and estimate
        // bit-for-bit. Hash = position-weighted trigram-shingle hash on
        // the shared [0,P) grid (collisions shrink the DISTINCT-hash space
        // both engines measure identically — the estimator's target).
        import org.apache.spark.sql.Encoders
        val P = 1000000007L
        val kK = 256
        val estCap = (kK - 1).toLong * P // 255000001785, fits a long
        def thX(x: String): String =
          s"((length($x)*2654435761 + ascii($x)*131 + ascii(substring($x, -1, 1))) % $P)"
        val kmv = udaf(new graft.functions.Aggregates.KmvSketch(kK), Encoders.scalaLong)
        val hs = Tables.documents(s, d)
          .select(col("source"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("source"), explode(expr(
            "transform(sequence(1, size(toks) - 2), i -> " +
              s"(${thX("element_at(toks, i)")} * 131071 + " +
              s"${thX("element_at(toks, i + 1)")} * 8191 + " +
              s"${thX("element_at(toks, i + 2)")} * 127) % $P)")).as("h"))
        val perSrc = hs
          .groupBy(col("source")).agg(kmv(col("h")).as("ret"))
          .withColumn("est", expr(
            s"CASE WHEN size(ret) < $kK THEN CAST(size(ret) AS BIGINT) " +
              s"ELSE $estCap DIV element_at(ret, size(ret)) END"))
        val pairs = perSrc
          .agg(array_sort(collect_list(struct(col("source"), col("ret"), col("est")))).as("all"))
          .select(explode(expr(
            "flatten(transform(all, (a, i) -> transform(" +
              "slice(all, i + 2, size(all) - i - 1), " +
              "b -> named_struct('src_a', a.source, 'src_b', b.source, " +
              "'ra', a.ret, 'rb', b.ret, 'est_a', a.est, 'est_b', b.est))))")).as("p"))
          .select(col("p.*"))
        pairs
          .withColumn("merged", expr(s"slice(array_sort(array_distinct(concat(ra, rb))), 1, $kK)"))
          .withColumn("m", size(col("merged")).cast("long"))
          .withColumn("n_both", size(expr(
            "filter(merged, x -> array_contains(ra, x) AND array_contains(rb, x))")).cast("long"))
          .withColumn("est_union", expr(
            s"CASE WHEN m < $kK THEN m ELSE $estCap DIV element_at(merged, CAST(m AS INT)) END"))
          .select(col("src_a"), col("src_b"), col("m"), col("n_both"),
            col("est_a"), col("est_b"), col("est_union"),
            expr("(n_both * est_union) DIV m").as("est_inter"),
            quant(col("n_both").cast("double") / col("m"), 1e6).as("est_jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH t AS (
             |  SELECT source, string_split(text, ' ') AS toks FROM documents),
             |tt AS (SELECT source, toks FROM t WHERE len(toks) >= 3),
             |sh AS (
             |  SELECT DISTINCT source,
             |    unnest(list_transform(generate_series(1, len(toks) - 2),
             |      i -> ((${thSql("toks[i]")} * 131071 +
             |            ${thSql("toks[i+1]")} * 8191 +
             |            ${thSql("toks[i+2]")} * 127) % 1000000007))) AS h
             |  FROM tt),
             |r AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh),
             |kk AS (SELECT source, list(h ORDER BY h) AS ret FROM r WHERE rn <= 256 GROUP BY source),
             |ke AS (SELECT source, ret,
             |  CASE WHEN len(ret) < 256 THEN CAST(len(ret) AS BIGINT)
             |       ELSE 255000001785 // ret[len(ret)] END AS est
             |  FROM kk),
             |pr AS (SELECT a.source AS src_a, b.source AS src_b, a.ret AS ra, b.ret AS rb,
             |    a.est AS est_a, b.est AS est_b
             |  FROM ke a JOIN ke b ON a.source < b.source),
             |mg AS (SELECT *, (list_sort(list_distinct(ra || rb)))[1:256] AS merged FROM pr),
             |fin AS (SELECT src_a, src_b, est_a, est_b,
             |  CAST(len(merged) AS BIGINT) AS m,
             |  CAST(len(list_filter(merged, x -> list_contains(ra, x) AND list_contains(rb, x))) AS BIGINT) AS n_both,
             |  CASE WHEN len(merged) < 256 THEN CAST(len(merged) AS BIGINT)
             |       ELSE 255000001785 // merged[len(merged)] END AS est_union
             |  FROM mg)
             |SELECT src_a, src_b, m, n_both, est_a, est_b, est_union,
             |  (n_both * est_union) // m AS est_inter,
             |  floor(CAST(n_both AS DOUBLE) / m * 1000000) / 1000000 AS est_jaccard
             |FROM fin
             |ORDER BY src_a, src_b""".stripMargin),
      doc = "KMV set-operation overlap estimates (Beyer et al. 2007) — the " +
        "bounded-state scale path beside d22's exact posting-list report: " +
        "one k=256 KMV sketch per source (map-side-combined, O(sources x k) " +
        "exchange at any corpus size), pairwise union/intersection/Jaccard " +
        "estimates from merged sketches on a single bounded row; " +
        "integer-exact, hash-certified. k is a PRECISION knob (rsd ~ " +
        "1/sqrt(k), corpus-size-independent) — unlike LSH key spaces, it " +
        "never needs the d29 adaptive rule"
    )
  )
}
