package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.9):
  * tokenization + token stats, corpus wordcount, quality scoring,
  * marker-based language ID, positional fingerprints, BPE-ish regex token
  * counting. All per-row except wordcount (one shuffle on the token key).
  */
object TextPack extends QueryPack {

  /** DuckDB twin of [[TextOps.tokenHash]]. */
  private def thSql(x: String): String =
    s"((length($x)*2654435761 + ascii($x)*131 + ascii($x[-1:])) % 1000000007)"

  /** t12/t25's bigram language-model scores per document, add-one smoothed:
    * log P(w2 | w1) = ln((c(w1 w2) + 1) / (c(w1 ·) + V)), each bigram's
    * logprob floor-quantized to an integer micro-nat grid BEFORE the per-doc
    * sum (order-free, exact): `(doc_id, n_bigrams, sum_q)`. Two frequency
    * shuffles (bigram, left-token), both map-side combined; V is one
    * broadcast scalar. (r19 measured NEGATIVE: an explicit-count
    * repartition of the raw docs before the tokenize — t14's discipline —
    * read 0.90 → 2.08 s in a same-window A/B at sf0.1; on this 5 k-doc
    * corpus the extra exchange plus 32-way task fan-out costs far more
    * than the single-task explode it parallelizes. At a scale where the
    * scan splits, the parallelism comes from the input for free.)
    */
  private def bigramScores(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val bg = base.filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(tk) - 1), " +
          "i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // materialize the bigram stream ONCE: three subtrees consume it
      // (c2 with its c1 rollup, and the scoring join) — without the
      // checkpoint each re-runs tokenize + explode; that repeated
      // subtree made t25 the bench's highest rep-spread cell (8.7x
      // min/max under scheduler contention)
      .localCheckpoint()
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
    // left-token totals derive from the (much smaller) bigram counts —
    // one fewer pass over the exploded corpus at any scale
    val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
    val v = base.select(explode(col("tk")).as("token"))
      .agg(countDistinct(col("token")).as("vocab"))
    bg.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(
        col("doc_id"),
        floor(log((col("n2") + 1).cast("double") / (col("n1") + col("vocab")).cast("double")) * 1e6)
          .cast("long").as("q")
      )
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
  }

  /** DuckDB twin of [[bigramScores]] up to the per-bigram grid: CTEs through
    * `sc(doc_id, q)`.
    */
  private val bigramScoresSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |bg AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |  FROM toks, unnest(generate_series(1, len(tk)-1)) AS t(i)
      |  WHERE len(tk) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT token) AS vocab
      |      FROM (SELECT unnest(tk) AS token FROM toks)),
      |sc AS (
      |  SELECT doc_id,
      |    CAST(floor(ln(CAST(n2 + 1 AS DOUBLE) / CAST(n1 + vocab AS DOUBLE)) * 1000000) AS BIGINT) AS q
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)""".stripMargin

  /** t26/t27's DuckDB Count-Min sketch of the token stream and its probe
    * cells for the first ten documents' tokens: CTEs through
    * `pc(token, row_i, bucket)`.
    */
  private val cmsTokenProbeSql: String =
    s"""WITH v(row_i, a, b) AS (VALUES ${graft.ops.CmsSketch.rowSpecSql()}),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |cells AS (
       |  SELECT row_i, ((a * ${thSql("token")} + b) % 1000000007) % 512 AS bucket,
       |    COUNT(*) AS cnt
       |  FROM tok CROSS JOIN v GROUP BY 1, 2),
       |probe AS (SELECT DISTINCT token FROM tok WHERE doc_id < 10),
       |pc AS (
       |  SELECT token, row_i,
       |    ((a * ${thSql("token")} + b) % 1000000007) % 512 AS bucket
       |  FROM probe CROSS JOIN v)""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ---------------------------------------------------------------- stats
    Q(
      "t1_token_stats",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            size(col("toks")).as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_distinct"),
            (sumTokenLen(col("toks")).cast("double") / size(col("toks"))).as("avg_token_len")
          )
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  len(toks) AS n_tokens,
             |  len(list_distinct(toks)) AS n_distinct,
             |  CAST(list_aggregate(list_transform(toks, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE) / len(toks) AS avg_token_len
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |ORDER BY doc_id""".stripMargin),
      doc = "per-doc token counting; whitespace tokenizer, no shuffle"
    ),
    // ---------------------------------------------------------------- wordcount
    Q(
      "t2_wordcount",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")),
      Some("""SELECT token, COUNT(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token
             |ORDER BY n DESC, token""".stripMargin),
      doc = "explode (generator, reference T3 shape) + partial-agg shuffle on token"
    ),
    // ---------------------------------------------------------------- quality
    Q(
      "t3_quality_score",
      (s, d) => {
        val stop = Seq("the", "a")
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            (markerHits(col("toks"), stop).cast("double") / size(col("toks"))).as("stop_ratio"),
            (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr")
          )
          .withColumn("quality", lit(0.5) * col("ttr") + lit(0.5) * (lit(1.0) - col("stop_ratio")))
          .withColumn("is_low_quality", col("quality") < 0.5)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, stop_ratio, ttr,
             |  0.5 * ttr + 0.5 * (1.0 - stop_ratio) AS quality,
             |  0.5 * ttr + 0.5 * (1.0 - stop_ratio) < 0.5 AS is_low_quality
             |FROM (
             |  SELECT doc_id,
             |    CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / len(toks) AS stop_ratio,
             |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
             |ORDER BY doc_id""".stripMargin),
      doc = "quality scoring: stopword ratio + type-token ratio; exact int-derived doubles"
    ),
    // ---------------------------------------------------------------- langid
    Q(
      "t4_langid_markers",
      (s, d) => {
        val t = tokens(col("text"))
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            markerHits(t, EnMarkers).as("en_hits"),
            markerHits(t, DeMarkers).as("de_hits"),
            markerHits(t, FrMarkers).as("fr_hits"),
            markerHits(t, EsMarkers).as("es_hits")
          )
          .withColumn(
            "predicted",
            when(
              col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
                col("en_hits") >= col("es_hits"),
              lit("en")
            ).when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits"), lit("de"))
              .when(col("fr_hits") >= col("es_hits"), lit("fr"))
              .otherwise(lit("es"))
          )
          .orderBy(col("doc_id"))
      },
      Some {
        def hits(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        s"""SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
           |  CASE
           |    WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
           |    WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
           |    WHEN fr_hits >= es_hits THEN 'fr'
           |    ELSE 'es' END AS predicted
           |FROM (
           |  SELECT doc_id,
           |    ${hits(EnMarkers)} AS en_hits,
           |    ${hits(DeMarkers)} AS de_hits,
           |    ${hits(FrMarkers)} AS fr_hits,
           |    ${hits(EsMarkers)} AS es_hits
           |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
           |ORDER BY doc_id""".stripMargin
      },
      doc = "stopword-marker language ID with deterministic argmax tie order"
    ),
    // ---------------------------------------------------------------- t23
    Q(
      "t23_langid_confusion",
      (s, d) => {
        // Language-ID EVALUATION — the confusion matrix + margin profile a
        // pipeline publishes before trusting a classifier at 100 TB: t4's
        // marker argmax scored against the labeled `lang` column, rolled
        // up per (labeled, predicted) cell with the mean decision margin
        // (top score minus runner-up, in marker hits) — low-margin cells
        // are where routing is unstable. Per-row narrow math, one bounded
        // aggregate (#langs² cells); margins are exact integers.
        val t = tokens(col("text"))
        val scored = Tables.documents(s, d)
          .select(
            col("doc_id"), col("lang"),
            markerHits(t, EnMarkers).as("en_hits"),
            markerHits(t, DeMarkers).as("de_hits"),
            markerHits(t, FrMarkers).as("fr_hits"),
            markerHits(t, EsMarkers).as("es_hits"))
          .withColumn(
            "predicted",
            when(
              col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
                col("en_hits") >= col("es_hits"), lit("en"))
              .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits"), lit("de"))
              .when(col("fr_hits") >= col("es_hits"), lit("fr"))
              .otherwise(lit("es")))
          .withColumn("srt",
            sort_array(array(col("en_hits"), col("de_hits"), col("fr_hits"), col("es_hits")),
              asc = false))
          .withColumn("margin", (col("srt").getItem(0) - col("srt").getItem(1)).cast("long"))
        scored
          .groupBy(col("lang"), col("predicted"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("margin")).as("sum_margin"),
            sum(when(col("margin") === 0L, 1L).otherwise(0L)).as("n_ties"))
          .orderBy(col("lang"), col("predicted"))
      },
      Some {
        def hits(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        s"""WITH sc AS (
           |  SELECT doc_id, lang,
           |    ${hits(EnMarkers)} AS en_hits,
           |    ${hits(DeMarkers)} AS de_hits,
           |    ${hits(FrMarkers)} AS fr_hits,
           |    ${hits(EsMarkers)} AS es_hits
           |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
           |p AS (
           |  SELECT lang,
           |    CASE
           |      WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
           |      WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
           |      WHEN fr_hits >= es_hits THEN 'fr'
           |      ELSE 'es' END AS predicted,
           |    l[1] - l[2] AS margin
           |  FROM (SELECT lang, en_hits, de_hits, fr_hits, es_hits,
           |          list_sort([en_hits, de_hits, fr_hits, es_hits], 'DESC') AS l
           |        FROM sc) t)
           |SELECT lang, predicted, COUNT(*) AS n_docs,
           |  CAST(SUM(margin) AS BIGINT) AS sum_margin,
           |  CAST(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
           |FROM p
           |GROUP BY lang, predicted
           |ORDER BY lang, predicted""".stripMargin
      },
      doc = "language-ID confusion matrix vs the labeled column with exact " +
        "integer decision margins (top-minus-runner-up marker hits) and tie " +
        "counts — the classifier-trust report before routing a corpus by lang"
    ),
    // ---------------------------------------------------------------- fingerprint
    Q(
      "t5_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            fingerprint(col("toks")).as("fp"),
            size(col("toks")).as("n_tokens")
          )
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST(list_aggregate(list_transform(toks, (x, i) -> ${thSql("x")} * ((i*1315423911) % 1000000007) % 1000000007), 'sum') % 1000000007 AS BIGINT) AS fp,
              |  len(toks) AS n_tokens
              |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
              |ORDER BY doc_id""".stripMargin),
      doc = "position-weighted rolling-hash document fingerprint, pure int arithmetic"
    ),
    // ---------------------------------------------------------------- bpe-ish
    Q(
      "t6_regex_tokens",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_regex_tokens"),
            size(expr("regexp_extract_all(text, '[aeiou]+', 0)")).as("n_vowel_runs")
          )
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_regex_tokens,
             |  len(regexp_extract_all(text, '[aeiou]+')) AS n_vowel_runs
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      doc = "BPE-ish regex token counting (regexp_extract_all both engines)"
    ),
    // ---------------------------------------------------------------- tfidf
    Q(
      "t7_tfidf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
        val tf = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
        tf.join(df_, Seq("token"))
          .crossJoin(broadcast(nDocs))
          .select(
            col("doc_id"),
            col("token"),
            col("tf"),
            col("df"),
            quant(col("tf") * log(col("n_docs").cast("double") / col("df")), 1e6)
              .as("tfidf")
          )
          .filter(col("doc_id") < 20)
          .orderBy(col("doc_id"), col("token"))
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY doc_id, token),
             |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
             |SELECT doc_id, tf.token AS token, tf, df,
             |  floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000) / 1000000 AS tfidf
             |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
             |WHERE doc_id < 20
             |ORDER BY doc_id, token""".stripMargin),
      doc = "TF-IDF: explode->tf agg, token df agg, broadcast corpus size; ln() output " +
        "floor-quantized for cross-libm parity"
    ),
    // ---------------------------------------------------------------- unigram LM
    Q(
      "t11_unigram_logprob",
      (s, d) => {
        // unigram language-model scoring (perplexity-style quality signal):
        // avg log P(token) under the corpus unigram distribution. Each
        // token's logprob is floor-quantized to an integer grid BEFORE the
        // per-doc sum — double summation is order-dependent and would never
        // hash-match across engines; integer sums are exact and order-free.
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("n_t"))
        // corpus total derives from the aggregated frequencies — one fewer
        // pass over the exploded corpus at any scale
        val total = freq.agg(sum(col("n_t")).as("total"))
        tok
          .join(freq, Seq("token"))
          .crossJoin(broadcast(total))
          .select(
            col("doc_id"),
            floor(log(col("n_t").cast("double") / col("total").cast("double")) * 1e6)
              .cast("long").as("q")
          )
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("q")).as("sum_q"))
          .select(
            col("doc_id"),
            col("n_tokens"),
            (col("sum_q").cast("double") / 1e6 / col("n_tokens")).as("avg_logprob")
          )
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |freq AS (SELECT token, COUNT(*) AS n_t FROM tok GROUP BY token),
             |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS total FROM freq)
             |SELECT doc_id, n_tokens,
             |  CAST(sum_q AS DOUBLE) / 1000000 / n_tokens AS avg_logprob
             |FROM (
             |  SELECT doc_id, COUNT(*) AS n_tokens,
             |    CAST(SUM(CAST(floor(ln(CAST(n_t AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q
             |  FROM tok JOIN freq USING (token) CROSS JOIN tot
             |  GROUP BY doc_id) s
             |ORDER BY doc_id""".stripMargin),
      doc = "unigram LM scoring (avg log-prob, the perplexity quality gate): corpus " +
        "frequency join + broadcast total; per-token logprobs integer-grid-quantized " +
        "so the per-doc sum is order-independent"
    ),
    // ---------------------------------------------------------------- zipf
    Q(
      "t8_zipf_rank",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
        // distributed global rank (range shuffle + per-partition offsets) —
        // the vocabulary is data-sized at scale, so no single-task window;
        // the rank's internal materialization also feeds the 1-row max, so
        // the corpus is tokenized exactly once.
        // r19: counts materializes first — repartitionByRange executes its
        // input twice (sampling + shuffle write), and this input is the
        // full tokenize + explode + count aggregate
        val ranked = graft.ops.GlobalOrder.withRowNumber(
          counts.localCheckpoint(), "rank", col("n").desc, col("token"))
        val top = ranked.agg(max(col("n")).as("top_n"))
        ranked
          .crossJoin(broadcast(top))
          .select(
            col("rank"),
            col("token"),
            col("n"),
            (col("n").cast("double") / col("top_n")).as("freq_ratio")
          )
          .orderBy(col("rank"))
      },
      Some("""WITH counts AS (
             |  SELECT token, COUNT(*) AS n
             |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY token)
             |SELECT ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank, token, n,
             |  CAST(n AS DOUBLE) / MAX(n) OVER () AS freq_ratio
             |FROM counts
             |ORDER BY rank""".stripMargin),
      doc = "Zipf rank-frequency: distributed global rank (GlobalOrder: range shuffle " +
        "+ per-partition prefix offsets, no single-task window) + broadcast 1-row max"
    ),
    // ---------------------------------------------------------------- top terms
    Q(
      "t9_top_terms",
      (s, d) => {
        import s.implicits._
        // custom Aggregator (§2.10) via the public udaf() API: the term→count
        // buffer is built map-side, so the shuffle carries one buffer per
        // (group, mapper) instead of one row per token occurrence — compare
        // the explode+groupBy formulation the oracle uses, which shuffles
        // every occurrence
        val topk = udaf(new graft.functions.Aggregates.TopKTerms(3))
        Tables.documents(s, d)
          .select(col("lang"), tokens(col("text")).as("toks"))
          .groupBy(col("lang"))
          .agg(topk(col("toks")).as("top"))
          .select(col("lang"), posexplode(col("top")))
          .select(
            col("lang"),
            (col("pos") + 1).cast("long").as("rnk"),
            col("col.term").as("term"),
            col("col.n").as("n")
          )
          .orderBy(col("lang"), col("rnk"))
      },
      Some("""SELECT lang, rnk, term, n FROM (
             |  SELECT lang, term, n,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
             |  FROM (SELECT lang, term, COUNT(*) AS n
             |        FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
             |              FROM documents) u
             |        GROUP BY lang, term) c) r
             |WHERE rnk <= 3
             |ORDER BY lang, rnk""".stripMargin),
      doc = "per-group top-k heavy hitters via a custom Aggregator (exact SpaceSaving " +
        "form): deterministic (count desc, term asc) tie-break, cross-formulation " +
        "oracle (explode+groupBy+window on the DuckDB side)"
    ),
    // ---------------------------------------------------------------- pipeline
    Q(
      "t10_corpus_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the end-to-end training-corpus preparation flow, composed from the
        // engine's own primitives: quality gate → exact dedup (keep first) →
        // per-(source, lang) corpus stats. Each stage is one narrow pass or
        // one key shuffle; nothing is quadratic.
        val docs = Tables.documents(s, d)
          .filter(col("n_chars") >= 100 && col("lang").isin("en", "de", "fr", "es", "zh"))
          .withColumn("toks", tokens(col("text")))
          .filter(size(col("toks")) >= 20)
          .withColumn("prefix_key", array_join(slice(col("toks"), 1, 5), " "))
        val keepFirst = Window.partitionBy(col("prefix_key")).orderBy(col("doc_id"))
        docs
          .withColumn("rn", row_number().over(keepFirst))
          .filter(col("rn") === 1)
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            sum(size(col("toks")).cast("long")).cast("long").as("total_tokens")
          )
          .orderBy(col("source"), col("lang"))
      },
      Some("""WITH gated AS (
             |  SELECT doc_id, source, lang, n_chars,
             |    string_split(text, ' ') AS toks,
             |    array_to_string(string_split(text, ' ')[1:5], ' ') AS prefix_key
             |  FROM documents
             |  WHERE n_chars >= 100 AND lang IN ('en','de','fr','es','zh')
             |    AND len(string_split(text, ' ')) >= 20),
             |kept AS (
             |  SELECT source, lang, n_chars, len(toks) AS n_toks FROM (
             |    SELECT source, lang, n_chars, toks,
             |      ROW_NUMBER() OVER (PARTITION BY prefix_key ORDER BY doc_id) AS rn
             |    FROM gated) t
             |  WHERE rn = 1)
             |SELECT source, lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens
             |FROM kept
             |GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin),
      doc = "end-to-end corpus preparation: quality gate (length floors, language " +
        "allowlist) → exact dedup keep-first → per-(source, lang) token/char stats — " +
        "the composed flagship of the LLM-pipeline primitives"
    ),
    // ---------------------------------------------------------------- bigram LM
    Q(
      "t12_bigram_logprob",
      (s, d) => {
        // bigram language-model scoring with add-one smoothing: avg
        // log P(w2 | w1) — the conditional upgrade of t11's unigram gate,
        // catching word-salad documents whose unigram profile looks normal.
        // Same parity discipline as t11 (see bigramScores).
        bigramScores(s, d)
          .select(
            col("doc_id"), col("n_bigrams"),
            (col("sum_q").cast("double") / 1e6 / col("n_bigrams")).as("avg_logprob")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""$bigramScoresSql
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / 1000000 / COUNT(*) AS avg_logprob
             |FROM sc GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin),
      doc = "bigram LM scoring (add-one-smoothed avg conditional log-prob): bigram + " +
        "left-token frequency joins, broadcast vocabulary size, integer-grid " +
        "quantization for order-free sums"
    ),
    // ---------------------------------------------------------------- keywords
    Q(
      "t13_keyword_degree",
      (s, d) => {
        // RAKE-style keyword scoring: degree(word) = number of adjacency
        // co-occurrences the word participates in (left or right slot of any
        // bigram occurrence), freq(word) = occurrences; score = degree/freq
        // ranks words that appear in varied contexts over mere repetition.
        // ONE posexplode + ONE aggregate: an occurrence at position p of an
        // n-token doc sits in the right slot of a bigram iff p > 0 and the
        // left slot iff p < n-1, so its degree contribution is
        // (2 - [p=0] - [p=n-1]) when n >= 2 and 0 in a 1-token doc — degree
        // and freq fall out of the same grouped sum, with no bigram-struct
        // HOF, no second explode, and no vocabulary join (the oracle keeps
        // the literal two-aggregate + join spelling; the counts are
        // identical per occurrence, repeats included).
        val toks = tokens(col("text"))
        Tables.documents(s, d)
          .select(size(toks).as("n"), posexplode(toks).as(Seq("pos", "token")))
          .groupBy(col("token"))
          .agg(
            count(lit(1)).as("freq"),
            sum(when(col("n") >= 2,
              lit(2L) - when(col("pos") === 0, 1L).otherwise(0L) -
                when(col("pos") === col("n") - 1, 1L).otherwise(0L))
              .otherwise(0L)).as("degree"))
          .select(
            col("token"),
            col("freq"),
            col("degree"),
            quant(col("degree").cast("double") / col("freq"), 1e6).as("score")
          )
          .orderBy(col("token"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |bg AS (
             |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |           i -> [t[i], t[i+1]])) AS pair
             |  FROM toks WHERE len(t) >= 2),
             |deg AS (SELECT token, COUNT(*) AS degree
             |        FROM (SELECT unnest(pair) AS token FROM bg) u GROUP BY token),
             |freq AS (SELECT token, COUNT(*) AS freq
             |         FROM (SELECT unnest(t) AS token FROM toks) u GROUP BY token)
             |SELECT freq.token, freq, COALESCE(degree, 0) AS degree,
             |  floor(CAST(COALESCE(degree, 0) AS DOUBLE) / freq * 1000000) / 1000000 AS score
             |FROM freq LEFT JOIN deg USING (token)
             |ORDER BY freq.token""".stripMargin),
      doc = "RAKE-style keyword scoring: adjacency-degree / frequency per word — " +
        "contextual-variety keyword signal from two exploded aggregates"
    ),
    // ---------------------------------------------------------------- tfidf cosine
    Q(
      "t14_tfidf_cosine",
      (s, d) => {
        // document similarity on SPARSE idf-weighted feature vectors via the
        // inverted index. Features are trigram SHINGLES, not raw tokens —
        // the feature choice IS the performance model: shingle postings are
        // cold (df is small), so the self-join materializes only genuinely
        // similar pairs, while a raw-token index on a small vocabulary
        // degenerates to all-pairs (every posting hot). Weights are
        // integer-grid idf (quantized to 1e-4), so per-doc norms and
        // per-pair dot products are exact integer sums — order-free,
        // oracle-exact. The sparse twin of d8's dense embedding similarity.
        val docs = Tables.documents(s, d)
        val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
        val sh = graft.functions.TextExpressions.shingles(col("text"), 3)
        // the exploded postings feed FOUR subtrees (df aggregate, norm
        // aggregate, both pair-join sides): materialize them once behind an
        // explicit-count repartition of the raw docs — profiled without it,
        // each reference re-ran the scan + shingle explode at the source
        // file count's parallelism (4 single-task ~300ms stages at sf0.1)
        val feat = docs
          .filter(size(tokens(col("text"))) >= 3)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), col("source"), sh.as("sh"))
          .select(col("doc_id"), col("source"), explode(col("sh")).as("shingle"))
          .localCheckpoint()
        // df and norms join back by SHUFFLE on purpose: they aggregate from
        // the same materialized postings; broadcasting them would re-run
        // the checkpoint read once per broadcast subtree (measured 40%
        // slower here pre-materialization)
        val df_ = feat.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        val w = feat.join(df_, Seq("shingle"))
          .crossJoin(broadcast(nDocs))
          .select(
            col("doc_id"), col("source"), col("shingle"), col("df"),
            floor(log(col("n_docs").cast("double") / col("df")) * 1e4).cast("long").as("wq")
          )
        val norm2 = w.groupBy(col("doc_id")).agg(sum(col("wq") * col("wq")).as("n2"))
        val postings = w.join(norm2, Seq("doc_id"))
        // norms use EVERY posting, but the pair join can't match a shingle
        // that occurs in only one document: df >= 2 prunes those postings
        // from both join inputs for free (df already rides along) without
        // changing any pair's dot product. Singleton shingles dominate a
        // natural corpus, so this is most of the join volume.
        val joinable = postings.filter(col("df") >= 2)
        val pa = joinable.select(col("doc_id").as("a_id"), col("source"), col("shingle"),
          col("wq").as("a_w"), col("n2").as("a_n2"))
        val pb = joinable.select(col("doc_id").as("b_id"), col("source"), col("shingle"),
          col("wq").as("b_w"), col("n2").as("b_n2"))
        pa.join(pb, Seq("source", "shingle"))
          .filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"), col("a_n2"), col("b_n2"))
          .agg(sum(col("a_w") * col("b_w")).as("dot"))
          .withColumn(
            "cos_sim",
            quant(col("dot").cast("double") /
              (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double"))), 1e6)
          )
          .filter(col("cos_sim") >= 0.35)
          .select(col("a_id"), col("b_id"), col("cos_sim"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH feat AS (
             |  SELECT doc_id, source, unnest(sh) AS shingle FROM (
             |    SELECT doc_id, source,
             |      list_distinct(list_transform(generate_series(1, len(toks)-2),
             |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
             |    WHERE len(toks) >= 3)),
             |df AS (SELECT shingle, COUNT(*) AS df FROM feat GROUP BY shingle),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
             |w AS (
             |  SELECT doc_id, source, feat.shingle AS shingle,
             |    CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS wq
             |  FROM feat JOIN df ON feat.shingle = df.shingle CROSS JOIN n),
             |norm2 AS (SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
             |p AS (SELECT w.doc_id, source, shingle, wq, n2 FROM w JOIN norm2 ON w.doc_id = norm2.doc_id)
             |SELECT a_id, b_id, cos_sim FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    floor(CAST(SUM(a.wq * b.wq) AS DOUBLE) /
             |          (sqrt(CAST(MIN(a.n2) AS DOUBLE)) * sqrt(CAST(MIN(b.n2) AS DOUBLE))) * 1000000) / 1000000 AS cos_sim
             |  FROM p a JOIN p b ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id) t
             |WHERE cos_sim >= 0.35
             |ORDER BY a_id, b_id""".stripMargin),
      doc = "sparse idf-weighted cosine over trigram-shingle features through the " +
        "inverted index: integer-grid weights make norms and dot products exact " +
        "integer sums; cold shingle postings mean only near-dup pairs materialize"
    ),
    // ---------------------------------------------------------------- KL divergence
    Q(
      "t15_kl_divergence",
      (s, d) => {
        // domain-shift measurement: KL(P_lang ‖ P_corpus) of each language's
        // unigram distribution against the whole corpus — the statistic
        // behind data-mixture rebalancing (which slices diverge from the
        // blend). One explode pass; the corpus marginals DERIVE from the
        // per-(lang, token) aggregate (vocab-sized, never re-reads the
        // corpus), the 5-row language totals broadcast. Each KL term is
        // floor-quantized to an integer grid before the order-dependent sum
        // (same parity discipline as t11). P_lang ≪ P_corpus by
        // construction (corpus ⊇ language), so no zero-q terms exist.
        val tok = Tables.documents(s, d)
          .select(col("lang"), explode(tokens(col("text"))).as("token"))
        val lc = tok.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n_lt"))
        val ct = lc.groupBy(col("token")).agg(sum(col("n_lt")).as("n_t"))
        val lt = lc.groupBy(col("lang")).agg(sum(col("n_lt")).as("n_l"))
        val nn = ct.agg(sum(col("n_t")).as("n_total"))
        val p = col("n_lt").cast("double") / col("n_l")
        val q = col("n_t").cast("double") / col("n_total")
        lc.join(ct, Seq("token"))
          .join(broadcast(lt), Seq("lang"))
          .crossJoin(broadcast(nn))
          .select(col("lang"), col("n_l"),
            floor(p * log(p / q) * 1e9).cast("long").as("term"))
          .groupBy(col("lang"))
          .agg(max(col("n_l")).as("n_tokens"), sum(col("term")).as("klq"))
          .select(col("lang"), col("n_tokens"),
            (col("klq").cast("double") / 1e9).as("kl"))
          .orderBy(col("lang"))
      },
      Some("""WITH tok AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
             |lc AS (SELECT lang, token, COUNT(*) AS n_lt FROM tok GROUP BY lang, token),
             |ct AS (SELECT token, CAST(SUM(n_lt) AS BIGINT) AS n_t FROM lc GROUP BY token),
             |lt AS (SELECT lang, CAST(SUM(n_lt) AS BIGINT) AS n_l FROM lc GROUP BY lang),
             |n AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_total FROM ct)
             |SELECT lang, MAX(n_l) AS n_tokens,
             |  CAST(SUM(CAST(floor((CAST(n_lt AS DOUBLE) / n_l) *
             |    ln((CAST(n_lt AS DOUBLE) / n_l) / (CAST(n_t AS DOUBLE) / n_total)) *
             |    1000000000) AS BIGINT)) AS DOUBLE) / 1000000000 AS kl
             |FROM lc JOIN ct USING (token) JOIN lt USING (lang) CROSS JOIN n
             |GROUP BY lang
             |ORDER BY lang""".stripMargin),
      doc = "KL(P_lang ‖ P_corpus) unigram domain-shift per language — corpus " +
        "marginals derived from the per-slice aggregate, integer-grid KL terms"
    ),
    // ---------------------------------------------------------------- entropy
    Q(
      "t16_token_entropy",
      (s, d) => {
        // per-document Shannon entropy of the token distribution — the
        // information-theoretic repetition filter (low entropy = boilerplate
        // / keyword-stuffed spam; complements p9's ratio-based repetition
        // stats). Per-doc term counts shuffle once on doc_id; the doc-length
        // marginal derives from the same aggregate and joins back on the
        // SAME key, so the exchange is reused. Terms quantize to the integer
        // grid before the per-doc sum (order-free, oracle-exact).
        val tc = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("n"))
        val dl = tc.groupBy(col("doc_id")).agg(sum(col("n")).as("len"))
        val pr = col("n").cast("double") / col("len")
        tc.join(dl, Seq("doc_id"))
          .select(col("doc_id"), col("len"),
            floor(-pr * log(pr) * 1e9).cast("long").as("term"))
          .groupBy(col("doc_id"))
          .agg(max(col("len")).as("n_tokens"), sum(col("term")).as("hq"))
          .select(col("doc_id"), col("n_tokens"),
            (col("hq").cast("double") / 1e9).as("entropy"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tc AS (
             |  SELECT doc_id, token, COUNT(*) AS n FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY doc_id, token),
             |dl AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS len FROM tc GROUP BY doc_id)
             |SELECT doc_id, MAX(len) AS n_tokens,
             |  CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / len) *
             |    ln(CAST(n AS DOUBLE) / len) * 1000000000) AS BIGINT)) AS DOUBLE)
             |    / 1000000000 AS entropy
             |FROM tc JOIN dl USING (doc_id)
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin),
      doc = "per-document Shannon entropy of the token distribution (low-entropy " +
        "boilerplate filter) — doc-keyed exchange reused between counts and marginal"
    ),
    // ---------------------------------------------------------------- fertility
    Q(
      "t17_token_fertility",
      (s, d) => {
        // tokenizer-fertility diagnostics per language: bytes per token and
        // tokens per document — the mixture-planning numbers that decide how
        // much compute a language slice really costs. Pure map + one
        // aggregate keyed by lang: per-doc token counts come from the
        // codegen'd size(split()), ratios are single IEEE divisions of
        // exact integer sums.
        Tables.documents(s, d)
          .select(
            col("lang"),
            col("n_chars"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"),
            (sum(col("n_chars")).cast("double") / sum(col("n_tok"))).as("bytes_per_token"),
            (sum(col("n_tok")).cast("double") / count(lit(1))).as("tokens_per_doc"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / CAST(SUM(n_tok) AS BIGINT) AS bytes_per_token,
             |  CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) / COUNT(*) AS tokens_per_doc
             |FROM (SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tok FROM documents)
             |GROUP BY lang
             |ORDER BY lang""".stripMargin),
      doc = "tokenizer fertility per language (bytes/token, tokens/doc) — the " +
        "mixture-planning cost numbers; one map + one lang-keyed aggregate"
    ),
    // ---------------------------------------------------------------- dispersion
    Q(
      "t18_term_dispersion",
      (s, d) => {
        // term burstiness: variance-to-mean ratio (index of dispersion) of
        // per-document occurrence counts for the 20 most frequent terms.
        // Uniformly-spread function words sit near Poisson (VMR ≈ 1);
        // topical terms clump (VMR >> 1) — the signal behind burstiness-
        // aware keyword extraction. Moments are exact integer sums (Σc,
        // Σc²) from one (term, doc) aggregate; absent docs contribute zero
        // through the corpus-size denominator, never a row.
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val pc = tok.groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
        val st = pc.groupBy(col("token")).agg(
          sum(col("c")).as("tot"),
          sum(col("c") * col("c")).as("tot2"),
          count(lit(1)).as("n_docs_with"))
        val nn = Tables.documents(s, d).agg(count(lit(1)).as("nn"))
        val mean = col("tot").cast("double") / col("nn")
        val vmr = quant(
          (col("tot2").cast("double") / col("nn") - mean * mean) / mean, 1e6)
        st.crossJoin(broadcast(nn))
          .orderBy(col("tot").desc, col("token"))
          .limit(20)
          .select(col("token"), col("n_docs_with"), col("tot"),
            mean.as("mean_per_doc"), vmr.as("vmr"))
          .orderBy(col("token"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |pc AS (SELECT token, doc_id, COUNT(*) AS c FROM tok GROUP BY token, doc_id),
             |st AS (SELECT token, CAST(SUM(c) AS BIGINT) AS tot,
             |         CAST(SUM(c*c) AS BIGINT) AS tot2, COUNT(*) AS n_docs_with
             |       FROM pc GROUP BY token),
             |n AS (SELECT COUNT(*) AS nn FROM documents),
             |top AS (SELECT * FROM st CROSS JOIN n ORDER BY tot DESC, token LIMIT 20)
             |SELECT token, n_docs_with, tot,
             |  CAST(tot AS DOUBLE) / nn AS mean_per_doc,
             |  floor(((CAST(tot2 AS DOUBLE) / nn - (CAST(tot AS DOUBLE) / nn) * (CAST(tot AS DOUBLE) / nn))
             |    / (CAST(tot AS DOUBLE) / nn)) * 1000000) / 1000000 AS vmr
             |FROM top
             |ORDER BY token""".stripMargin),
      doc = "term burstiness (variance-to-mean of per-doc counts, top-20 terms) — " +
        "exact integer moments from one (term, doc) aggregate; VMR≈1 Poisson vs " +
        "clumped topical terms"
    ),
    // ---------------------------------------------------------------- vocab growth
    Q(
      "t19_vocab_growth",
      (s, d) => {
        // Vocabulary-growth (Heaps'-law) curve — the tokenizer-budget
        // question "how fast does new vocabulary appear as the corpus
        // grows": each token's FIRST document (one token-keyed aggregate
        // over the postings — min is order-free), novelty counts per doc,
        // then cumulative tokens + cumulative distinct vocabulary along the
        // doc_id order. Both prefix sums run over a frame of ONE ROW PER
        // DOCUMENT via GlobalOrder (two range shuffles of a doc-sized
        // frame; the token-sized postings never enter a window), so the
        // curve costs two small shuffles beyond the postings aggregate at
        // any corpus size.
        val docs = Tables.documents(s, d).select(col("doc_id"), tokens(col("text")).as("tk"))
        val perDoc = docs.select(col("doc_id"), size(col("tk")).cast("long").as("n_toks"))
        val firstSeen = docs.select(col("doc_id"), explode(col("tk")).as("token"))
          .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
        val newPerDoc = firstSeen.groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_new"))
        val joined = perDoc.join(newPerDoc, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_toks"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        // r19 (guide §2.4 — two operations keyed the same way share one
        // exchange): both curves ride ONE multi-measure prefix pass instead
        // of chaining two independent range shuffles over the same
        // doc_id-ordered frame; the joined frame materializes first because
        // repartitionByRange executes its input (here the postings-derived
        // novelty join) twice — sampling pass + shuffle-write pass
        val c = graft.ops.GlobalOrder.withGroupedRunningSums(
          joined.localCheckpoint(),
          Seq(("cum_tokens", "tot_tokens", col("n_toks")),
            ("cum_vocab", "tot_vocab", col("n_new"))),
          Seq.empty, Seq(col("doc_id")))
        c.select(col("doc_id"), col("n_toks"), col("n_new"),
            col("cum_tokens"), col("cum_vocab"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |pd AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks FROM tk),
             |fs AS (SELECT doc_id, unnest(tk) AS token FROM tk),
             |fd AS (SELECT token, MIN(doc_id) AS first_doc FROM fs GROUP BY token),
             |np AS (SELECT first_doc AS doc_id, COUNT(*) AS n_new FROM fd GROUP BY 1)
             |SELECT p.doc_id, n_toks,
             |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
             |  CAST(SUM(n_toks) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
             |    AS BIGINT) AS cum_tokens,
             |  CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
             |    AS BIGINT) AS cum_vocab
             |FROM pd p LEFT JOIN np USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      doc = "vocabulary-growth (Heaps-law) curve: first-occurrence attribution via " +
        "one token-keyed min aggregate, then cumulative tokens/vocab from doc-level " +
        "prefix sums (GlobalOrder over a one-row-per-document frame — the postings " +
        "never enter a window)"
    ),
    // ---------------------------------------------------------------- holdout
    Q(
      "t20_holdout_crossentropy",
      (s, d) => {
        // Held-out cross-entropy: train an add-1-smoothed unigram LM on the
        // deterministic 80% hash split (p4's exact split function), score
        // every held-out document under it — the train/eval methodology
        // t11's in-corpus scoring skips, and the quality gate that actually
        // generalizes (OOV tokens get mass 1/(N+V+1) instead of crashing
        // the score). Per-token logprobs floor-quantize to integer
        // micro-nats BEFORE the per-doc sum (order-free, oracle-exact);
        // the two LM scalars (token total, vocab size) broadcast into the
        // scoring join, which is one postings-shaped equi-join on token.
        val P = 1000000007L
        val split = ((col("doc_id") % P) * lit(2654435761L % P)) % P % 100
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"), split.as("b"))
        val freq = docs.filter(col("b") < 80)
          .select(explode(col("toks")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("c"))
        val lm = freq.agg(sum(col("c")).as("ntr"), count(lit(1)).as("v"))
        docs.filter(col("b") >= 80)
          .select(col("doc_id"), explode(col("toks")).as("token"))
          .join(freq, Seq("token"), "left")
          .crossJoin(broadcast(lm))
          .select(
            col("doc_id"),
            when(col("c").isNull, 1L).otherwise(0L).as("oov"),
            floor(
              log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
                (col("ntr") + col("v") + 1).cast("double")) * 1e6).cast("long").as("q"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("oov")).as("n_oov"), sum(col("q")).as("sq"))
          .select(
            col("doc_id"), col("n_tokens"), col("n_oov"),
            (col("sq").cast("double") / 1e6 / col("n_tokens")).as("avg_logprob"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks,
             |    ((doc_id % 1000000007) * 654435747) % 1000000007 % 100 AS b
             |  FROM documents),
             |freq AS (
             |  SELECT token, COUNT(*) AS c
             |  FROM (SELECT unnest(toks) AS token FROM docs WHERE b < 80) tr
             |  GROUP BY token),
             |lm AS (SELECT CAST(SUM(c) AS BIGINT) AS ntr, COUNT(*) AS v FROM freq),
             |te AS (SELECT doc_id, unnest(toks) AS token FROM docs WHERE b >= 80)
             |SELECT doc_id, n_tokens, n_oov,
             |  CAST(sq AS DOUBLE) / 1000000 / n_tokens AS avg_logprob
             |FROM (
             |  SELECT doc_id, COUNT(*) AS n_tokens,
             |    CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |    CAST(SUM(CAST(floor(ln((CAST(COALESCE(c, 0) AS DOUBLE) + 1.0) /
             |      CAST(ntr + v + 1 AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS sq
             |  FROM te LEFT JOIN freq USING (token) CROSS JOIN lm
             |  GROUP BY doc_id) g
             |ORDER BY doc_id""".stripMargin),
      doc = "held-out cross-entropy under an add-1-smoothed train-split unigram LM " +
        "(deterministic hash split, OOV mass, micro-nat integer sums) — the " +
        "generalizing quality gate, one token equi-join + broadcast LM scalars"
    ),
    // ---------------------------------------------------------------- pmi
    Q(
      "t21_pmi_collocations",
      (s, d) => {
        // PMI collocation mining: ln(P(w1w2)/(P(w1·)·P(·w2))) over adjacent
        // bigrams — the phrase detector (statistically-glued word pairs)
        // behind tokenizer-vocab and stop-phrase curation. Everything
        // derives from ONE bigram frequency aggregate: both marginals and
        // the grand total are re-aggregations of the (much smaller) bigram
        // count table, never second passes over the corpus; count products
        // go through DECIMAL(38,0) so n2·N cannot overflow at any corpus
        // size, and the PMI is floor-quantized after one ln. Support filter
        // n2 ≥ 5 keeps the report to stable pairs.
        val bg = Tables.documents(s, d)
          .select(tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(explode(expr("transform(sequence(1, size(tk) - 1), " +
            "i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
        val left = c2.groupBy(col("w1")).agg(sum(col("n2")).as("nl"))
        val right = c2.groupBy(col("w2")).agg(sum(col("n2")).as("nr"))
        val tot = c2.agg(sum(col("n2")).as("nn"))
        c2.filter(col("n2") >= 5)
          .join(left, Seq("w1"))
          .join(right, Seq("w2"))
          .crossJoin(broadcast(tot))
          .select(
            col("w1"), col("w2"), col("n2"),
            quant(
              log((col("n2").cast("decimal(38,0)") * col("nn")).cast("double") /
                (col("nl").cast("decimal(38,0)") * col("nr")).cast("double")),
              1e6).as("pmi"))
          .filter(col("pmi") > 0)
          .orderBy(col("w1"), col("w2"))
      },
      Some("""WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
             |bg AS (
             |  SELECT tk[i] AS w1, tk[i+1] AS w2
             |  FROM toks, unnest(generate_series(1, len(tk)-1)) AS t(i)
             |  WHERE len(tk) >= 2),
             |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
             |l AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS nl FROM c2 GROUP BY w1),
             |r AS (SELECT w2, CAST(SUM(n2) AS BIGINT) AS nr FROM c2 GROUP BY w2),
             |t AS (SELECT CAST(SUM(n2) AS BIGINT) AS nn FROM c2),
             |p AS (
             |  SELECT w1, w2, n2,
             |    floor(ln(CAST(CAST(n2 AS DECIMAL(38,0)) * nn AS DOUBLE) /
             |             CAST(CAST(nl AS DECIMAL(38,0)) * nr AS DOUBLE)) * 1000000)
             |      / 1000000 AS pmi
             |  FROM c2 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
             |  WHERE n2 >= 5)
             |SELECT w1, w2, n2, pmi
             |FROM p
             |WHERE pmi > 0
             |ORDER BY w1, w2""".stripMargin),
      doc = "PMI collocation mining over adjacent bigrams: marginals + total " +
        "re-aggregated from one bigram count table (no second corpus pass), " +
        "DECIMAL(38,0) count products, quantized ln — the phrase detector"
    ),
    // ---------------------------------------------------------------- t22 code
    Q(
      "t22_code_detect",
      (s, d) => {
        // Code-vs-prose heuristic — the corpus-filtering classifier every
        // pretraining pipeline runs before language ID. Symbol densities
        // (braces/semicolons/operators, digits) in integer ppm: counts via
        // length-minus-stripped (codegen'd, single scan pass, no UDF), one
        // integer division per feature, a fixed decision rule. Embarrassingly
        // parallel per row; the per-source rollup is a bounded aggregate.
        val n = length(col("text"))
        val sym = n - length(regexp_replace(col("text"), "[{}();=<>\\[\\]]", ""))
        val dig = n - length(regexp_replace(col("text"), "[0-9]", ""))
        val perDoc = Tables.documents(s, d)
          .filter(n > 0)
          .select(
            col("doc_id"), col("source"),
            sym.cast("long").as("sy"), dig.cast("long").as("dg"),
            n.cast("long").as("nc"))
          // integer ppm via explicit DIV (exact floor on both engines; a
          // double divide + cast can round across an integer boundary)
          .select(
            col("doc_id"), col("source"),
            expr("sy * 1000000 DIV nc").as("sym_ppm"),
            expr("dg * 1000000 DIV nc").as("digit_ppm"))
          .withColumn(
            "is_code",
            (col("sym_ppm") >= 20000L) ||
              (col("sym_ppm") >= 8000L && col("digit_ppm") >= 30000L))
        perDoc
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"),
            sum(col("sym_ppm")).cast("long").as("ssum"))
          .select(
            col("source"), col("n_docs"), col("n_code"),
            expr("ssum DIV n_docs").as("mean_sym_ppm"))
          .orderBy(col("source"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, source,
             |    CAST((length(text) - length(regexp_replace(text, '[{}();=<>\[\]]', '', 'g')))
             |      * 1000000 // length(text) AS BIGINT) AS sym_ppm,
             |    CAST((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
             |      * 1000000 // length(text) AS BIGINT) AS digit_ppm
             |  FROM documents WHERE length(text) > 0),
             |c AS (
             |  SELECT source, sym_ppm,
             |    (sym_ppm >= 20000 OR (sym_ppm >= 8000 AND digit_ppm >= 30000)) AS is_code
             |  FROM f)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
             |  CAST(CAST(SUM(sym_ppm) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_sym_ppm
             |FROM c
             |GROUP BY source
             |ORDER BY source""".stripMargin),
      doc = "code-vs-prose heuristic classifier: symbol/digit densities in " +
        "integer ppm from length-minus-stripped counts (no UDF, one scan), " +
        "fixed decision rule, per-source rollup — the pretraining code filter"
    ),
    // ---------------------------------------------------------------- t24
    Q(
      "t24_readability",
      (s, d) => {
        // Flesch-Kincaid-style readability per (lang, source) slice — the
        // classic curation signal for "too simple / too dense" text. The
        // three counts are cheap in-row integer facts: words = tokens,
        // sentences = non-empty [.!?] splits (floor 1 so fragments don't
        // divide by zero), syllables ≈ vowel GROUPS of the lowercased text
        // (groups never span a space, so whole-text counting equals
        // per-word counting — one regex pass, no per-word explode). Grade
        // is computed from the exact integer SUMS per group, not averaged
        // per-doc doubles, so the result is order-independent and
        // engine-exact; per-doc min/max grades are order-independent too.
        val nw = size(filter(tokens(col("text")), x => length(x) > 0)).cast("long")
        val ns = greatest(
          lit(1L),
          size(filter(split(col("text"), "[.!?]"), x => length(trim(x)) > 0)).cast("long"))
        val syl = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long")
        def grade(w: org.apache.spark.sql.Column, se: org.apache.spark.sql.Column,
            sy: org.apache.spark.sql.Column) =
          quant(lit(0.39) * w.cast("double") / se
            + lit(11.8) * sy.cast("double") / w - lit(15.59), 1e6)
        Tables.documents(s, d)
          .select(col("lang"), col("source"), nw.as("nw"), ns.as("ns"), syl.as("syl"))
          .filter(col("nw") > 0)
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nw")).as("n_words"),
            sum(col("ns")).as("n_sents"),
            sum(col("syl")).as("n_syllables"),
            min(grade(col("nw"), col("ns"), col("syl"))).as("min_grade"),
            max(grade(col("nw"), col("ns"), col("syl"))).as("max_grade"))
          .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
            col("n_sents"), col("n_syllables"),
            grade(col("n_words"), col("n_sents"), col("n_syllables")).as("grade"),
            col("min_grade"), col("max_grade"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH f AS (
             |  SELECT lang, source,
             |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS nw,
             |    GREATEST(1, CAST(len(list_filter(string_split_regex(text, '[.!?]'),
             |      x -> len(trim(x)) > 0)) AS BIGINT)) AS ns,
             |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
             |  FROM documents),
             |g AS (
             |  SELECT lang, source, nw, ns, syl,
             |    floor((0.39 * CAST(nw AS DOUBLE) / ns
             |           + 11.8 * CAST(syl AS DOUBLE) / nw - 15.59) * 1000000) / 1000000 AS dg
             |  FROM f WHERE nw > 0),
             |a AS (
             |  SELECT lang, source, COUNT(*) AS n_docs,
             |    CAST(SUM(nw) AS BIGINT) AS n_words,
             |    CAST(SUM(ns) AS BIGINT) AS n_sents,
             |    CAST(SUM(syl) AS BIGINT) AS n_syllables,
             |    MIN(dg) AS min_grade, MAX(dg) AS max_grade
             |  FROM g GROUP BY lang, source)
             |SELECT lang, source, n_docs, n_words, n_sents, n_syllables,
             |  floor((0.39 * CAST(n_words AS DOUBLE) / n_sents
             |         + 11.8 * CAST(n_syllables AS DOUBLE) / n_words - 15.59) * 1000000)
             |    / 1000000 AS grade,
             |  min_grade, max_grade
             |FROM a
             |ORDER BY lang, source""".stripMargin),
      doc = "Flesch-Kincaid readability per (lang, source): words/sentences/" +
        "vowel-group syllables as in-row integer facts, grade from exact " +
        "integer sums (order-independent) plus per-doc min/max — one scan, " +
        "one bounded aggregate"
    ),
    // ---------------------------------------------------------------- t25
    Q(
      "t25_perplexity_buckets",
      (s, d) => {
        // CCNet-style perplexity bucketing — THE canonical pretraining
        // filter: score every document under the corpus bigram LM (t12's
        // add-one-smoothed formulation, integer micro-nat grid so per-doc
        // sums are order-free), then split the corpus into head / middle /
        // tail by GLOBAL score rank and report each bucket's doc and
        // bigram budget. The global tertile uses ops/GlobalOrder's range
        // shuffle — never a single-partition ORDER BY window — and the
        // per-doc score is an exact integer DIV, so bucket edges are
        // bit-identical across engines and partitionings.
        val scored = bigramScores(s, d)
          .select(col("doc_id"), col("n_bigrams"),
            expr("sum_q DIV n_bigrams").as("score"))
        // r19: materialize the scored frame BEFORE the rank — GlobalOrder's
        // range shuffle samples its input and then shuffles it, executing
        // the input subtree TWICE (repartitionByRange = RangePartitioner
        // sampling pass + shuffle-write pass); `scored` is the full bigram
        // scoring join chain, the most expensive subtree of this query, so
        // the recompute is worth one doc-sized materialization
        val ranked = graft.ops.GlobalOrder
          .withRowNumber(scored.localCheckpoint(), "rn", col("score").desc, col("doc_id"))
        // r19: n_total counts the RANKED frame (GlobalOrder's internal
        // materialization), not `scored` — counting `scored` re-executed
        // the whole bigram scoring join chain a second time (profiled: two
        // duplicate 265 k-row join stages per rep) for one scalar the
        // checkpoint already holds
        val n = ranked.agg(count(lit(1)).as("n_total"))
        ranked.crossJoin(broadcast(n))
          .withColumn("bucket",
            when(col("rn") * 3 <= col("n_total"), "head")
              .when(col("rn") * 3 <= col("n_total") * 2, "middle")
              .otherwise("tail"))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_bigrams")).as("n_bigrams"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score"))
          .crossJoin(broadcast(n))
          .select(col("bucket"), col("n_docs"), col("n_bigrams"),
            col("min_score"), col("max_score"),
            expr("n_docs * 1000000 DIV n_total").as("share_ppm"))
          .orderBy(col("bucket"))
      },
      Some(s"""$bigramScoresSql,
             |scored AS (
             |  SELECT doc_id, COUNT(*) AS n_bigrams,
             |    CAST(SUM(q) AS BIGINT) // COUNT(*) AS score
             |  FROM sc GROUP BY doc_id),
             |n AS (SELECT COUNT(*) AS n_total FROM scored),
             |ranked AS (
             |  SELECT doc_id, n_bigrams, score,
             |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
             |  FROM scored),
             |bk AS (
             |  SELECT CASE WHEN rn * 3 <= n_total THEN 'head'
             |              WHEN rn * 3 <= n_total * 2 THEN 'middle'
             |              ELSE 'tail' END AS bucket,
             |         n_bigrams, score
             |  FROM ranked, n)
             |SELECT bucket, COUNT(*) AS n_docs,
             |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
             |  MIN(score) AS min_score, MAX(score) AS max_score,
             |  COUNT(*) * 1000000 // (SELECT n_total FROM n) AS share_ppm
             |FROM bk
             |GROUP BY bucket
             |ORDER BY bucket""".stripMargin),
      doc = "CCNet-style perplexity bucketing: bigram-LM doc scores on the " +
        "integer micro-nat grid (order-free sums, exact integer DIV mean), " +
        "global head/middle/tail tertiles via GlobalOrder's range shuffle " +
        "(no single-partition window), per-bucket doc/bigram budget"
    ),
    // ---------------------------------------------------------------- cms
    Q(
      "t26_cms_token_freq",
      (s, d) => {
        // Count-Min point-frequency sketch over the token stream (see
        // ops/CmsSketch): exact per-token counts (t2_wordcount) shuffle one
        // row PER DISTINCT TOKEN — unbounded as the vocabulary grows; the
        // CMS collapses every mapper to <= 4x512 cells before the exchange,
        // so the shuffle is O(2048) rows at ANY corpus size and the sketch
        // merges across shards/days by adding cells. Probing broadcasts the
        // 2048-cell sketch against a BOUNDED probe set (the distinct tokens
        // of the first ten documents — a deterministic watchlist, the shape
        // of a production "how often do these terms appear" query); unseen
        // cells read 0. All-integer affine hashes mod P mod width, so the
        // whole sketch is hash-certified against DuckDB — identical cells,
        // identical estimates. t27 certifies the one-sided error bound.
        import graft.ops.CmsSketch
        val docs = Tables.documents(s, d)
        val hashed = docs
          .select(explode(tokens(col("text"))).as("token"))
          .select(tokenHash(col("token")).as("h"))
        val sketch = CmsSketch.counts(CmsSketch.bucketize(hashed, col("h")))
        val probe = docs.filter(col("doc_id") < 10)
          .select(explode(tokens(col("text"))).as("token"))
          .distinct()
        CmsSketch
          .probe(probe, sketch, tokenHash(col("token")), col("token"))
          .orderBy(col("token"))
      },
      Some(s"""$cmsTokenProbeSql
              |SELECT token, MIN(COALESCE(cnt, 0)) AS est
              |FROM pc LEFT JOIN cells USING (row_i, bucket)
              |GROUP BY token
              |ORDER BY token""".stripMargin),
      doc = "Count-Min point-frequency sketch (4x512 all-integer affine-hash " +
        "cells, ONE map-side-combined O(2048)-row shuffle at any corpus " +
        "size): broadcast-probe estimates for a bounded token watchlist — " +
        "the bounded-state production path beside exact t2 wordcount; " +
        "hash-certified cell-for-cell"
    ),
    Q(
      "t27_cms_certify",
      (s, d) => {
        // CERTIFY rung for t26 (the x33/s21 class: carries exact truth by
        // construction, production path is t26 alone): the CMS estimate is
        // provably >= the exact count for EVERY key (each counter holds the
        // key's true count plus non-negative collision mass), checked key
        // by key, with the measured overestimate beside it. The truth side
        // is the full token-keyed count shuffle — priced like every certify
        // rung, it exists to measure the sketch, not to run at 100 TB.
        import graft.ops.CmsSketch
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        val sketch = CmsSketch.counts(
          CmsSketch.bucketize(tok.select(tokenHash(col("token")).as("h")), col("h")))
        val probe = tok.filter(col("doc_id") < 10).select(col("token")).distinct()
        val est = CmsSketch
          .probe(probe, sketch, tokenHash(col("token")), col("token"))
        val exact = tok.groupBy(col("token")).agg(count(lit(1)).as("exact"))
        est.join(exact, Seq("token"))
          .select(col("token"), col("est"), col("exact"),
            (col("est") - col("exact")).as("overest"),
            (col("est") >= col("exact")).as("ge_ok"))
          .orderBy(col("token"))
      },
      Some(s"""$cmsTokenProbeSql,
              |e AS (
              |  SELECT token, MIN(COALESCE(cnt, 0)) AS est
              |  FROM pc LEFT JOIN cells USING (row_i, bucket)
              |  GROUP BY token),
              |x AS (SELECT token, COUNT(*) AS exact FROM tok GROUP BY token)
              |SELECT e.token AS token, e.est AS est, x.exact AS exact,
              |  e.est - x.exact AS overest, e.est >= x.exact AS ge_ok
              |FROM e JOIN x USING (token)
              |ORDER BY token""".stripMargin),
      doc = "t26's certify rung (production path: t26): the CMS estimate is " +
        ">= the exact count for every probed key — the deterministic " +
        "one-sided Count-Min guarantee checked key by key, with the " +
        "measured overestimate; truth side carries the full token shuffle " +
        "by construction"
    )
  )
}
