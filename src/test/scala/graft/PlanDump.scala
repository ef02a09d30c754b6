package graft

/** Regenerates PLANS.md: the executed physical plans of the headline
  * queries, annotated with what to look for. Run after plan-affecting
  * changes: `sbt "Test/runMain graft.PlanDump"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // 32 cores, not SPARK_GRAFT_CPUS: PLANS.md must not depend on the host
    val spark = GraftSession.create(32)
    val d = "/root/testdata/sf0.001"

    val picks: Seq[(String, String)] = Seq(
      "q2_filter_project" -> ("Predicate + projection pushdown: PushedFilters lists the " +
        "shipdate/quantity predicates; ReadSchema carries only the 5 projected columns."),
      "q5_local_supplier_volume" -> ("Star join: fixed dims broadcast (BroadcastHashJoin), " +
        "fact scan stays columnar; one shuffle for the final aggregate."),
      "q1_pricing_summary" -> ("Partial aggregation: two HashAggregate levels " +
        "(partial_sum map-side, then final after the 6-group shuffle)."),
      "b2_correlated_scalar_avg" -> ("Correlated scalar subquery DECORRELATED: no Subquery " +
        "node survives — one per-nation aggregate joined back."),
      "b9_multi_exists" -> ("EXISTS + NOT EXISTS simultaneously: LeftSemi and LeftAnti " +
        "hash joins on l_orderkey, never per-row subquery execution."),
      "d8_embedding_nn" -> ("Top-1 neighbor as objHashAggregate with partial_max_by — " +
        "map-side combine, no Window over the pair set."),
      "s6_ivf_topk" -> ("IVF search: 1-row query vector broadcast; candidate filter on " +
        "the probed centroids; TakeOrderedAndProject for the final top-k."),
      "t2_wordcount" -> ("Explode + count inside WholeStageCodegen with partial " +
        "aggregation before the token shuffle."),
      "d3_jaccard_near_dup" -> ("Dictionary-encoded set-similarity join (ops/TokenSets): " +
        "both sides of the pair self-join read the SAME checkpointed encoded table " +
        "(Scan ExistingRDD — encode runs once), and the per-pair intersection is " +
        "bit_count(a_sig & b_sig); no string comparison survives into the pair loop."),
      "p2_stopword_prune" -> ("Corpus-driven vocabulary: the global top-k aggregate " +
        "broadcasts into a map-side BroadcastHashJoin probe over the exploded corpus; " +
        "the per-doc count is partial-aggregated before the doc_id shuffle."),
      "p3_shingle_novelty" -> ("Posting-list novelty: shingle doc-frequency is a " +
        "partial aggregate on the shingle key joined back to the postings on the same " +
        "key — work scales with postings, never O(n²) document pairs."),
      "q28_important_nations" -> ("Global-fraction HAVING (TPC-H Q11 shape): the corpus " +
        "total is a single-row aggregate broadcast into the per-group filter — " +
        "evaluated once, never per group."),
      "d13_decontaminate" -> ("Benchmark decontamination: the eval slice's shingle " +
        "postings broadcast (BroadcastHashJoin) into the train-side explode — the " +
        "corpus is never shuffled before the per-doc distinct-count aggregate."),
      "p9_repetition_stats" -> ("Gopher repetition filters: unigram and bigram term " +
        "frequencies are both partial-aggregated map-side before their doc_id " +
        "shuffles; the final per-doc join is on the already-aggregated frames."),
      "b10_scalar_in_select" -> ("Two scalar COUNT subqueries in the SELECT list: " +
        "decorrelated to grouped counts with zero-preserving outer joins (the " +
        "COUNT-bug pattern) — no per-row subquery execution."),
      "b11_disjunctive_exists" -> ("EXISTS under OR: planned as an ExistenceJoin " +
        "whose match flag feeds the disjunction filter — not a cross product, " +
        "not per-row execution."),
      "q9_topk_per_group" -> ("NATIVE per-group top-k (plans/TopKPerGroup): the " +
        "row_number <= k window rewrote to TopKPerGroupMerge over the hash " +
        "exchange over TopKPerGroupLocal — the shuffle carries at most k rows " +
        "per (group, input partition) and no WindowExec partition sort remains."),
      "x1_salted_join" -> ("Skew-ADAPTIVE salted join (ops/Salting.saltedJoinHot): hot " +
        "keys detected EXACTLY by a keys-only map-side-combined count whose shuffle is " +
        "strictly smaller than the join's own (the ≤1/hotFraction-row hot set and its " +
        "threshold aggregate both broadcast, and ReuseExchange serves the count and its " +
        "total from one shuffle); only hot keys replicate build rows — " +
        "cold keys join at salt 0, so build shuffle volume stays ~1x."),
      "x39_ams_salt" -> ("Salt width derived IN-PLAN from the AMS skew sketch " +
        "(ops/AmsSketch.saltWidth + Salting.saltedJoinHotDyn): the planning subtree " +
        "is a 16-row sign-sum aggregate (map-side combined O(16) exchange) feeding a " +
        "one-row width frame that BROADCASTS into the salt/spray expressions — " +
        "no pinned constant anywhere; the join itself keeps the x1 shape and the " +
        "build side explodes sequence(0, __nsalts-1) only for hot keys."),
      "g4_pagerank" -> ("Iterative PageRank, 3 unrolled rounds: the fact-fact edge " +
        "build (SortMergeJoin lineitem ⋈ orders + broadcast dims) aggregates once; " +
        "every iteration re-joins only the 25x25 edge table — look for ReusedExchange " +
        "under rounds 2-3 instead of three fact scans."),
      "t14_tfidf_cosine" -> ("Sparse idf-weighted cosine through the inverted index: " +
        "df and norm aggregates REUSE the postings exchange (ReusedExchange) rather " +
        "than broadcasting (which would re-run the explode per subtree); the pair " +
        "join+agg is the only full shuffle."),
      "d14_semdedup" -> ("SemDeDup: the coarse-quantizer assignment blocks the cosine " +
        "pair join on the centroid key; best-prior-similarity is a partial max " +
        "aggregate, then a zero-preserving left join back to all vectors."),
      "e14_interval_union" -> ("Interval union: one window pass per user (running max " +
        "of interval ends → island ids) feeding two hash aggregates — no self-join " +
        "over intervals, state bounded by the window frame."),
      "x17_weighted_median" -> ("Distributed decimal prefix sums (GlobalOrder." +
        "withGroupedRunningSum): the range exchange spreads each 3-value group over " +
        "every partition; after the checkpointed shuffle the running sum is a " +
        "partition-local Sort + narrow InternalRow scan (prefix offsets ride in the "+
        "closure; encoder-free since round 10) — " +
        "NO Window node, NO second exchange, no whole-group single task."),
      "g6_grid_knn" -> ("Grid-blocked spatial kNN: candidates come from a plain " +
        "equi-join on the cell key (query side ×9 replication via explode), " +
        "never a nested-loop range join; the rank window partitions by the " +
        "query key, whose cardinality scales with the data."),
      "x20_ks_test" -> ("Two-sample KS at VALUE level (ties pre-aggregated before " +
        "the CDF gap): ONE range exchange (the checkpointed prefix-sum shuffle) " +
        "carries BOTH cumulative counts packed into a single accumulator — then a " +
        "partition-local Sort + narrow InternalRow scan and one tiny aggregate. No Window " +
        "over data-sized input, no second shuffle, packing bound driver-checked."),
      "d7_shingle_jaccard" -> ("Pruned set-similarity join (ops/SetSimJoin): the " +
        "shingle arrays materialize ONCE (Scan ExistingRDD under every subtree); " +
        "document frequency aggregates on the (source, shingle) key and df=1 " +
        "postings are dropped exactly; candidates join each doc's PREFIX (rarest " +
        "n/2+1 shingles — the row_number window partitions per DOCUMENT, even " +
        "distribution) against the pruned postings, so a hot shingle can't go " +
        "df²; one exact array_intersect verifies each surviving pair."),
      "d16_containment" -> ("Directed containment over the SAME pruned index as " +
        "d7 (shared ops/SetSimJoin subtree): undirected candidates verified once, " +
        "then both directions emitted from the tiny verified pair table by a " +
        "generator — the denominators differ per direction, the intersection " +
        "count doesn't."),
      "d19_substring_spans" -> ("Exact substring-dedup spans: the stride-1 10-gram " +
        "explode feeds one hash aggregate (global gram frequency) joined back to " +
        "positions on the gram key; the interval merge is ONE window pass " +
        "partitioned per DOCUMENT (cardinality scales with the corpus — never a " +
        "low-cardinality window), then two small aggregates. Postings volume = " +
        "corpus tokens, inherent to substring dedup."),
      "d31_substring_spans_hashed" -> ("d19's production twin: the gram key is " +
        "the compiled GramFingerprints kernel's 8-byte rolling fingerprint " +
        "computed inside the scan projection (no nested HOF lambdas survive), " +
        "so the df aggregate and the position join shuffle ONE LONG per " +
        "posting instead of the literal 10-token string (~10x token bytes, " +
        "measured 2.7x fewer shuffle-write bytes at sf0.01); plan shape " +
        "otherwise identical to d19 — explode, hash aggregate, key join, " +
        "one per-document window pass."),
      "m18_phash_cross_codec" -> ("Cross-codec perceptual stability: BOTH " +
        "codec round trips (PNG encode+decode, JPEG encode+decode) and both " +
        "aHash folds run inside the ONE scan projection — no shuffle at all " +
        "until the final orderBy of 3 narrow columns; image bytes never " +
        "leave the scan stage."),
      "d20_simhash_hamming" -> ("Multi-index Hamming near-dup: the codegen'd " +
        "SimHash60 runs inside the scan projection; candidates come from ONE " +
        "equi-join on (band, 15-bit value) — pigeonhole-exact recall for d<=3 — " +
        "and the exact bit_count verify is a scalar on the joined row. The " +
        "oracle's all-pairs O(n^2) comparison never appears in this plan."),
      "x22_heavy_hitters" -> ("Sketch-guided exact heavy hitters: pass 1 is the " +
        "bounded Misra-Gries udaf (ObjectHashAggregate with partial buffers " +
        "map-side); pass 2's exact recount shows the candidate InSet filter " +
        "EVALUATED AT THE SCAN — the full-vocabulary shuffle the oracle pays " +
        "never happens; the aggregate shuffles at most cap candidate keys."),
      "s10_ivfpq_topk" -> ("IVF-PQ: the coarse quantizer (codegen'd " +
        "hashPlaneDot) routes rows to centroid cells; the single-row query " +
        "(probes + ADC table) broadcasts; the candidate filter prunes to " +
        "nprobe=2 cells BEFORE the compiled PqDists encode runs; " +
        "TakeOrderedAndProject keeps the final top-k. At 100 TB the centroid " +
        "id is the partition key, so the prune is I/O skipped, not compute."),
      "f10_pointintime_join" -> ("Point-in-time SCD2 lookup: both sides " +
        "equi-shuffle on the entity key; the [valid_from, valid_to) interval " +
        "predicate stays a residual on the SortMergeJoin/HashJoin — versions " +
        "per entity are bounded, so per-key fan-out is too. No range join, " +
        "no broadcast of an SF-scaled side."),
      "t19_vocab_growth" -> ("Heaps-law vocabulary growth: one token-keyed " +
        "min aggregate attributes first occurrences; both cumulative series " +
        "run through GlobalOrder range shuffles over a ONE-ROW-PER-DOCUMENT " +
        "frame (Sort + narrow InternalRow scan, no Window) — the token-sized postings " +
        "never enter a window."),
      "g8_kcore" -> ("Iterative k-core peel (ops/KCore): the fact-derived " +
        "adjacency aggregates and localCheckpoints ONCE (Scan ExistingRDD " +
        "under every round — the fact join runs once, measured 80x), then " +
        "each peel round is two semi-joins + one degree aggregate over the " +
        "tiny edge table; no forced broadcast hint, AQE picks it when the " +
        "shrinking alive-set fits."),
      "p17_token_budget_cut" -> ("Token-budget curriculum cut: the corpus' " +
        "global quality-ordered running token sum is ONE GlobalOrder range " +
        "exchange + partition-local Sort + narrow InternalRow scan (prefix offsets in " +
        "the closure) — a SUM OVER (ORDER BY) window would move the whole " +
        "corpus into a single task; the budget filter and per-source " +
        "aggregate run on the same pass's output."),
      "x24_autocorrelation" -> ("Lag-k autocorrelation: the raw table " +
        "collapses to a calendar-bounded daily series FIRST, so each lag " +
        "alignment is a BroadcastHashJoin on shifted dates over " +
        "aggregate-sized input — no global-order window, no self-join of " +
        "the fact table; exact decimal moments partial-aggregate per lag."),
      "s11_embedding_dim_moments" -> ("Per-dimension embedding moments: " +
        "posexplode is a narrow generator inside the scan stage — the only " +
        "exchange is the 64-group aggregate, partial-combined map-side; " +
        "integer-grid sums + DECIMAL(38,0) squares keep the aggregate " +
        "order-free at any corpus size."),
      "d22_source_overlap" -> ("Pairwise source-overlap matrix: the posting " +
        "self-join keys on shingle AFTER the df>=2 prune, and each shingle " +
        "fans out to at most (#sources choose 2) pairs — the join output is " +
        "bounded by the SOURCE count, never the corpus; per-source " +
        "cardinalities broadcast into the final 190-row report."),
      "x25_gini" -> ("Gini concentration: ascending per-segment ranks come " +
        "from GlobalOrder's range exchange + partition-local sort + " +
        "encoder-free scan prefix offsets — no whole-segment window task; rank " +
        "products accumulate in DECIMAL(38,0), one IEEE division at the " +
        "end."),
      "t20_holdout_crossentropy" -> ("Held-out cross-entropy: train-split " +
        "token counts flow into ONE postings-shaped equi-join on token " +
        "against the held-out explode; the two LM scalars ride a broadcast " +
        "(BroadcastNestedLoopJoin over one row); micro-nat integer logprobs " +
        "partial-sum map-side."),
      "g9_label_propagation" -> ("Mode-label propagation: co-occurrence " +
        "pairs generate locally inside per-order posting lists (one corpus " +
        "shuffle, no fact self-join), aggregate to an edge list that " +
        "localCheckpoints once (Scan ExistingRDD under both rounds); " +
        "round 1 specializes to one map-reducible min(v) aggregate (labels " +
        "start as identity and adjacency rows are distinct, so every " +
        "(u,lbl) count is 1 — r20), round 2 is the general adjacency-" +
        "labels equi-join + count aggregate + min(struct) argmax — all " +
        "exchange-sized by the edge table."),
      "x26_bootstrap_ci" -> ("One-pass bootstrap: all 32 weighted-replicate " +
        "sums live in ONE HashAggregate (64 partial-combined accumulators), " +
        "so resampling costs zero extra scans and zero row duplication — " +
        "no explode, no shuffle beyond the 3-group aggregate; the order " +
        "statistics come from a bounded 32-element sort_array."),
      "x27_changepoint" -> ("Changepoint split-point scan: the corpus " +
        "collapses to the calendar-bounded daily series first, so every " +
        "window (prefix sums, candidate argmax) is year-partitioned over " +
        "<=366 rows — the raw table never enters a window; one aggregate " +
        "exchange dominates."),
      "s15_mips_topk" -> ("MIPS via norm augmentation: the max-norm scalar " +
        "and the query vector enter as 1-row BroadcastNestedLoopJoins (both " +
        "provably bounded); scoring is one codegen'd scan pass and the " +
        "top-k is TakeOrderedAndProject — per-partition heaps, no global " +
        "sort of the corpus."),
      "g10_khop_frontier" -> ("k-hop BFS: the aggregated co-order edge list " +
        "localCheckpoints once (Scan ExistingRDD under every hop); each hop " +
        "is adjacency BroadcastHashJoin frontier + HashAggregate(distinct) " +
        "+ broadcast LeftAnti against the visited set — the checkpointed " +
        "adjacency never re-shuffles across hops, and the tiny frontier " +
        "coalesces to 4 partitions before each checkpoint so hop latency " +
        "is not 32-task scheduling overhead."),
      "p20_dedup_aware_mixture" -> ("Dedup-aware mixture accounting: one " +
        "shuffle groups the dup key, the group-size join flows back without " +
        "re-exchanging (same key partitioning reused), and the per-source " +
        "rollup is a bounded final aggregate — integer-ppm weights keep the " +
        "whole plan in exact arithmetic."),
      "p23_pipeline_manifest" -> ("End-to-end curation manifest: ONE " +
        "corpus scan feeds the dedup shuffle on the prefix key; the keeper " +
        "join reuses that partitioning; eval keys and the global token " +
        "total enter as broadcasts (anti join / 1-row scalar join); the " +
        "split is per-row hash math and the manifest aggregate is bounded " +
        "by #sources x 3 rows — the composed pipeline stays one-shuffle-" +
        "dominated at any corpus size."),
      "d23_incremental_dedup" -> ("Cross-snapshot incremental dedup: the " +
        "standing corpus is scanned once and NEVER shuffled — batch keys " +
        "broadcast into the LeftSemi BroadcastHashJoin over the corpus " +
        "scan, hit keys return batch-bounded and re-enter broadcast; " +
        "within-batch dups rank inside the (small) batch partition only."),
      "s16_batch_ann" -> ("Batched ANN: query set and index meet on the " +
        "LSH cell equi-join (per-cell fan-out, never |Q|x|DB|), exact " +
        "cosine reranks in the join projection, and the per-query top-3 " +
        "runs as the native bounded-heap TopKPerGroup operators — k rows " +
        "per (query, partition) cross the shuffle, no partition sort."),
      "m12_scene_segments" -> ("Scene segmentation: FrameSums does one " +
        "compiled byte pass per payload inside the scan projection; " +
        "deltas/threshold/scene count are in-row integer HOFs, so the " +
        "only exchange in the plan is the final ORDER BY — payload bytes " +
        "never shuffle."),
      "s17_multiprobe_lsh" -> ("Multi-probe LSH: the query side explodes to " +
        "5 probe cells (bucket XOR plane bit) BEFORE the join, the index " +
        "side computes its single cell in the scan projection, and the " +
        "candidate set is one shuffled equi-join on the cell key — probe " +
        "fan-out costs |Q|x5 rows, never |Q|x|DB|."),
      "p27_bpe_pair_stats" -> ("BPE pair counting: two HashAggregate pairs " +
        "(partial + final) — corpus tokens collapse to the distinct-word " +
        "frequency table first (map-side combine does the volume), then " +
        "char pairs explode once per TYPE; the final pair aggregate is " +
        "alphabet2-bounded regardless of corpus size."),
      "m13_keyframe_pick" -> ("Keyframe selection: frame sums AND per-frame " +
        "scene ids are in-row HOFs over the FrameSums array; the explode " +
        "emits 4 longs per frame (never payload bytes) into a partial-agg " +
        "min(struct) argmax keyed by (doc, scene)."),
      "g11_link_prediction" -> ("Link prediction: candidate pairs generate " +
        "LOCALLY from each node's sorted neighbor posting list (triangle " +
        "bound), the existing-edge removal is a hash anti-join, degrees " +
        "re-enter via two shuffled equi-joins on the tiny node table."),
      "t24_readability" -> ("Readability: all three counts (words, " +
        "sentences, vowel-group syllables) are single-pass in-row regex/" +
        "split facts inside the scan projection; one partial-agg shuffle " +
        "on (lang, source) carries 5 longs per doc."),
      "s18_recall_curve" -> ("Recall-vs-probes eval: brute-force truth is a " +
        "BLOCKED equi-join (db%8 x replicated queries) — the |Q|x|DB| pair " +
        "work distributes over the block key, no BroadcastNestedLoopJoin " +
        "in the plan; the probe ladder reuses ONE candidate join and both " +
        "rank windows run partitioned (per query / per query+probe-count)."),
      "d27_keep_lsh" -> ("End-to-end dedup scale path: the keep-manifest " +
        "runs on d25's LSH-verified edge machinery (shared helper — both " +
        "plans carry the same band equi-joins and exact-Jaccard verify, " +
        "no source-blocked all-pairs join anywhere); CC labels come from " +
        "the checkpointed component table and the keeper argmax is ONE " +
        "component-keyed aggregate, no corpus window."),
      "s19_hard_negatives" -> ("Hard-negative mining: anchors and index " +
        "meet on the LSH-cell equi-join with the label-inequality guard " +
        "riding the join condition (never |A|x|DB|, no post-join label " +
        "filter stage); exact cosine reranks in the join projection and " +
        "the per-anchor top-3 lowers to the native bounded-heap operator."),
      "t25_perplexity_buckets" -> ("Perplexity bucketing: t12's LM joins " +
        "feed per-doc integer scores; the global tertile is GlobalOrder's " +
        "range exchange + narrow scan rank — NO single-partition Window " +
        "sort appears anywhere in the plan; bucket rollup is a 3-row " +
        "aggregate."),
      "d24_cluster_keep" -> ("Cluster representative selection: component " +
        "ids come from the checkpointed ConnectedComponents edge table " +
        "(Scan ExistingRDD, no recompute); keeper + reclaimed-chars are " +
        "ONE aggregate on the component key — count/sum/min(struct) argmax " +
        "partial-combine map-side, no per-cluster window sort anywhere."),
      "g12_adaptive_knn" -> ("Density-adaptive grid kNN: the corpus count " +
        "enters as a broadcast 1-row aggregate (BroadcastNestedLoopJoin " +
        "over one row) and BOTH join sides derive the same cell size from " +
        "it in-plan; candidates remain a plain cell equi-join. Constant " +
        "per-cell occupancy ⇒ linear candidate volume: measured 1.3× wall " +
        "for 10× rows vs fixed-cell g6's 9.0× (SCALING.md)."),
      "d25_lsh_clusters" -> ("LSH-edged dedup clusters: shingle arrays " +
        "compile once (ShingleArray inside the scan projection) and the " +
        "four minhash lanes are in-row array_min/transform HOFs; band " +
        "candidates are TWO equi-joins on (mh,mh) keys unioned + distinct; " +
        "exact shingle-Jaccard verify touches only candidate pairs; CC " +
        "runs over the verified edge table, not the corpus."),
      "s20_wide_ann" -> ("Corpus-proof wide-code ANN (4 tables x 12 planes " +
        "+ Hamming-1 multi-probe): the 48 plane dots compile into the scan " +
        "projection once per side; index explodes to L=4 keyed rows/vector " +
        "and queries to 52 probe rows; candidates are ONE ShuffledHashJoin/" +
        "SortMergeJoin on (tbl, bucket); HashAggregate dedups (q,nn) pairs " +
        "before the bounded-heap top-k. Per-cell density O(1) in the " +
        "corpus: measured marginal 1.47x at 20x vs the 16-cell config's " +
        "1.9-3.3x; production path = s22_adaptive_ann (SCALING.md)."),
      "x31_robust_zscore_dist" -> ("Distributed median+MAD: both order " +
        "statistics ride GlobalOrder's range shuffle (RangePartitioning " +
        "over (group, value) then Scan ExistingRDD of the checkpointed " +
        "ranged frame — each group spread over ALL partitions, prefix " +
        "offsets from a driver-bounded partials collect); no " +
        "whole-group-in-one-buffer percentile aggregate anywhere; the " +
        "final outlier count reuses the second pass's materialization."),
      "d29_semdedup_adaptive" -> ("Corpus-adaptive SemDeDup: the code " +
        "width k enters as a broadcast 1-row aggregate " +
        "(BroadcastNestedLoopJoin over one row — the g12 pattern) and " +
        "BOTH join sides derive their lsh_bucket_dyn(embedding, k, " +
        "offset) cells from it inside the scan projection (one compiled " +
        "pass per table, no per-plane array materialization); candidates " +
        "stay a (tbl, bucket) equi-join feeding ONE aggregate that both " +
        "dedups (partial-distinct on (a_id, b_id) map-side) and folds — the " +
        "round-15 countDistinct form; no separate full-width DISTINCT " +
        "exchange of the pair stream survives. Per-cell density ~8 at any " +
        "corpus size: marginal 3.7× at 20× is measured TRUE pair volume " +
        "(3.11×) at flat per-pair cost vs the fixed-cluster baseline's " +
        "7.6× (SCALING.md decomposition bullet)."),
      "d32_semdedup_capped" -> ("Skew-capped SemDeDup (d29 + the C=32 " +
        "lowest-id verification cap the sf10 decade motivated): the cap " +
        "is ONE row_number window over the index side, partitioned by " +
        "exactly the (tbl, bucket) key the candidate equi-join shuffles " +
        "on — so the window's exchange IS the join's build-side exchange " +
        "(no extra shuffle class), and every cell feeds at most 32 index " +
        "rows into the join. Everything downstream (probe fan-out, " +
        "countDistinct candidate fold, left-join flag projection) is " +
        "d29's plan unchanged."),
      "s22_adaptive_ann" -> ("Adaptive-width SERVING ANN (d29's pattern on " +
        "the retrieval shape): the broadcast index-side count fixes k " +
        "in-plan, lsh_bucket_dyn(embedding, k, t*20) compiles into the " +
        "scan projection on both sides, the query side explodes to " +
        "4·(k+1) Hamming-1 probe rows (fan-out grows as log2 n), and " +
        "candidates are ONE (tbl, bucket) equi-join + HashAggregate " +
        "dedup + bounded-heap top-3. Per-cell density ~8 at any corpus " +
        "size with no retune knob: measured marginal 1.29× at 20×, " +
        "fastest serving config absolute (SCALING.md)."),
      "s25_adaptive_ivf" -> ("Adaptive-nlist IVF: the broadcast index-side " +
        "count fixes nlist in-plan (clamp(4,256,ceil(n/64)) — ~64-vector " +
        "cells at any corpus size); centroid_scores_dyn computes ALL " +
        "centroid similarities in one compiled pass inside the scan " +
        "projection, assignment is first-index-of-max over that array, " +
        "per-query top-2 probes resolve via an in-plan struct sort " +
        "(no collect), and candidates ride ONE equi-join on the centroid " +
        "id — the physical partition key at 100 TB, so nprobe/nlist " +
        "pruning is I/O, not compute — before the native bounded-heap " +
        "top-10."),
      "x32_hdr_quantiles" -> ("HDR log-bucket quantile sketch: the scan " +
        "reads ONLY (l_extendedprice, l_returnflag); bucket/lo/hi are pure " +
        "codegen'd integer projections (length(bin()), shifts, masks); " +
        "partial_count runs map-side so the exchange carries bucket-level " +
        "rows (O(groups x 2k) at ANY corpus size — this shuffle does not " +
        "grow with rows); the cum/total windows then run over that bounded " +
        "frame partitioned by group, and the 3-row quantile spec is a " +
        "broadcast LocalTableScan. The sketch path's whole data-dependent " +
        "cost is the one partial-aggregated scan."),
      "e21_windowed_quantiles" -> ("Windowed observability quantiles: the " +
        "same HDR sketch grouped by (window(ts), event_type) — the window " +
        "struct is a per-row projection, NOT a blow-up; partial aggregation " +
        "still collapses each mapper to bucket-level rows before the " +
        "shuffle. Identical column spelling runs as the watermark-append " +
        "streaming twin, where finalized windows are evicted from state."),
      "t26_cms_token_freq" -> ("Count-Min point-frequency sketch: the " +
        "token scan explodes to 4 (row_i, bucket) integer projections per " +
        "token (codegen'd affine hashes), partial_count collapses every " +
        "mapper to <= 2,048 cells BEFORE the exchange — the sketch " +
        "shuffle is O(depth x width) at ANY corpus size. The probe side " +
        "is a broadcast hash join of the 2,048-cell sketch against the " +
        "bounded watchlist (missing cells read 0 via the left join + " +
        "coalesce), then a min aggregate per key — no corpus-sized side " +
        "moves for a point query."),
      "x35_cms_join_size" -> ("CMS join-cardinality estimate: the " +
        "distinct-key count broadcasts ONE row whose derived width " +
        "parameterizes both sides' bucket projections in-plan (the d29 " +
        "adaptive-key-space shape on the estimator); each side's " +
        "partial_count collapses mappers to O(depth x width) cells before " +
        "its exchange; the cellwise-product join runs over two bounded " +
        "cell tables and min-reduces 4 rows — the join whose size is " +
        "being estimated never executes."),
      "x37_sketch_partition" -> ("Sketch-guided equi-depth partitioning: " +
        "the planning pass is the HDR sketch's one map-side-combined " +
        "count shuffle; the 7 cut points derive from a SINGLE collected " +
        "bucket row via array HOFs (a global window here would funnel " +
        "the frame through one unpartitioned window task — the " +
        "grouping-free collect of a <= ~2k-bucket frame is the " +
        "provably-bounded spelling), broadcast back, and every row bins " +
        "against the 7-cut array in its scan projection. No sample " +
        "collection, no second pass over the data."),
      "d30_kmv_overlap" -> ("KMV set-operation overlap: ONE " +
        "map-side-combined aggregate collapses each source to a k=256-long " +
        "sorted-array sketch (the KmvSketch UDAF buffer IS the partial " +
        "state), so the only data-dependent exchange carries " +
        "O(sources x k) longs; the pair matrix then expands LOCALLY from a " +
        "single collected row bounded by the SOURCE count (the d22 " +
        "pattern) — merged sketches, union estimates, and Jaccard all " +
        "compute as array expressions with zero joins.")
    )

    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of headline queries\n\n")
    sb.append("Auto-generated by `sbt \"Test/runMain graft.PlanDump\"` at sf0.001 ")
    sb.append("(plans are shape-identical at larger SFs; AQE may re-pick join strategies ")
    sb.append("as sides outgrow the broadcast threshold — by design, see README scale notes).\n")
    picks.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, d)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .linesIterator.take(40).mkString("\n")
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
