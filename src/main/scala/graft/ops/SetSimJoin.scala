package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity join via a df-pruned, prefix-filtered inverted index
  * — the PPJoin-family plan that keeps shingle near-dup sub-quadratic at
  * corpus scale (reference near-dup semantics; formulation from the public
  * prefix-filtering literature: Chaudhuri et al. ICDE'06, Xiao et al.
  * WWW'08).
  *
  * The naive inverted-index join explodes every distinct shingle into a
  * posting self-join: one globally hot shingle with document frequency f
  * contributes f² candidate rows — quadratic in the hot tail, the scale
  * killer at 100 TB. Two exact prunes fix it:
  *
  *   1. '''df=1 prune''' — a shingle that occurs in exactly one document of
  *      a block can never contribute to any pair's intersection; dropping
  *      those postings changes nothing (most shingles in natural text are
  *      singletons, so this alone shrinks the index severalfold).
  *   2. '''Prefix filter''' — order each document's shingles by a global
  *      total order: df=1 shingles first, then df≥2 by (df ascending,
  *      shingle) — rarest SHAREABLE first. Any pair whose qualifying
  *      direction needs intersection ≥ α = ⌈t·n_a⌉ must expose at least one
  *      shared shingle among a's first n_a − α + 1 shingles (pigeonhole: the
  *      tail holds only α−1), and every shared shingle has df ≥ 2, so with
  *      singletons ordered first it must sit among a's first
  *      m_a − α + 1 PRUNED shingles (m_a = a's df≥2 count; r20 — the d1 =
  *      n_a − m_a singleton slots of the full-set prefix cannot host it).
  *      So candidate generation joins each doc's PREFIX postings against
  *      full (df-pruned) postings — the join keys on the rarest shingles,
  *      exactly the ones with tiny posting lists, a hot shingle is
  *      consulted only by the few docs whose prefix reaches it (never f²
  *      times), and a document whose pruned list cannot reach its own
  *      α (m_a < α, the common case in singleton-dominated corpora) has an
  *      EMPTY prefix — it is still reachable as the full side of a
  *      qualifying partner's prefix.
  *   3. '''Positional filter''' (PPJoin, Xiao et al. WWW'08 §3.2) — a match
  *      on shingle w at rank i of a's ordered (df-pruned) list and rank j of
  *      b's bounds the whole intersection: common elements ordered ≤ w
  *      number at most min(i, j) (they occupy ranks ≤ i in a AND ≤ j in b),
  *      and those ordered > w at most min(m_a − i, m_b − j). Since every
  *      common element has df ≥ 2 within the block, the intersection lives
  *      entirely in the pruned lists, so ub(w) = min(i,j) + min(m_a−i,
  *      m_b−j) is exact. Candidates keep the TIGHTEST bound over all their
  *      prefix matches and are dropped before verification when even that
  *      bound is below α_min = ⌈t·min(n_a, n_b)⌉ — the weakest requirement
  *      any caller direction (symmetric Jaccard or either-side containment)
  *      can pose, so completeness is unaffected while the expensive
  *      verify join shrinks.
  *
  * Candidates are then verified EXACTLY: one join back to the two shingle
  * arrays, intersection via a single `array_intersect`. Output is every
  * unordered pair (a_id < b_id) that could satisfy a similarity threshold
  * t on EITHER side's size — complete for symmetric Jaccard ≥ t (which
  * implies inter ≥ t·n on both sides) and for directed containment
  * inter/n_side ≥ t (caught via the prefix of that side); callers apply
  * their own final predicate on the exact counts.
  *
  * The prefix rank runs per document (millions of small window partitions —
  * even distribution, no global or low-cardinality window anywhere).
  */
object SetSimJoin {

  /** Verified candidate pairs with exact intersection counts.
    *
    * @param docs  one row per document: `idCol` (orderable id), `blockCol`
    *              (join block, e.g. source), `setCol` array of distinct
    *              shingles (must be non-empty)
    * @param t     similarity threshold the caller will apply on inter/n for
    *              at least one side of each wanted pair (prefix lengths
    *              derive from it; smaller t = longer prefixes = more
    *              candidates, same exactness)
    * @param materialize the multi-consumer barrier (shingle arrays and the
    *         verify frame are each read by several subtrees — see the inline
    *         notes). The default `localCheckpoint()` is EAGER and stores
    *         unreplicated executor-local blocks: construction runs jobs
    *         immediately and the result cannot be recomputed after executor
    *         loss — the right trade on a single-node/local-mode runner (this
    *         repo's bench frees the blocks between queries). Cluster callers
    *         on preemptible executors should pass a fault-tolerant barrier
    *         instead, e.g. `df => df.persist(StorageLevel.MEMORY_AND_DISK)`
    *         (lazy, lineage kept, recomputable) and unpersist downstream.
    * @return (a_id, b_id, a_n, b_n, inter) for unordered candidate pairs,
    *         a_id < b_id, inter computed exactly
    */
  def verifiedPairs(
      docs: DataFrame,
      t: Double,
      idCol: String = "doc_id",
      blockCol: String = "source",
      setCol: String = "sh",
      materialize: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    // materialize the shingle arrays ONCE — four subtrees consume them (df
    // agg, pruned postings, both verify sides); without the checkpoint each
    // re-runs the scan + shingle computation
    val base = docs.select(
      col(idCol).as("__id"), col(blockCol).as("__blk"),
      col(setCol).as("__sh"), size(col(setCol)).as("__n"))
      .transform(materialize)
    val postings = base.select(
      col("__id"), col("__blk"), col("__n"), explode(col("__sh")).as("__t"))
    // document frequency per (block, shingle); df=1 postings are exact dead
    // weight (see Scaladoc) — pruned before anything joins
    val dfs = postings
      .groupBy(col("__blk"), col("__t"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
    val pruned = postings.join(dfs, Seq("__blk", "__t"))
    // prefix of the FULL set under the global order (df=1 shingles first,
    // then df≥2 by (df asc, shingle) — rarest-shareable-first). The order is
    // a consistent global total order because df is a per-(block, shingle)
    // property; df=1 members can never be shared, so placing them FIRST
    // makes the full-set prefix of length n − ⌈t·n⌉ + 1 spend its first
    // n − m slots (the doc's singleton count) on unshareable elements, and
    // the shared element the pigeonhole guarantees must sit among the first
    //   plen = (n − ⌈t·n⌉ + 1) − (n − m) = m − ⌈t·n⌉ + 1
    // PRUNED postings. (r20: the previous cut ranked df=1 last — plen was
    // n − ⌈t·n⌉ + 1 over the pruned list, i.e. d1 = n − m positions looser
    // per document. Singletons dominate natural corpora, so most documents'
    // m < ⌈t·n⌉ now yields an EMPTY prefix — exactly the docs whose own
    // direction can never qualify since inter ≤ m; they remain reachable as
    // the full side of a qualifying partner's prefix join. Measured at
    // sf0.1/t=0.5 (R20ProbeSetSim, deleted; source at commit a7c9aea):
    // prefix postings 99,016 → 1,078,
    // distinct candidate pairs 56,261 → 802, verified rows 4,136 → 580,
    // identical qualifying pairs.) __m (pruned list size)
    // rides along for the positional bound — same window partitioning, so
    // it costs no extra shuffle.
    val w = Window.partitionBy(col("__id"))
    val ranked = pruned
      .withColumn("__rn", row_number().over(w.orderBy(col("__df"), col("__t"))))
      .withColumn("__m", count(lit(1)).over(w))
    val prefix = ranked
      .filter(col("__rn") <= col("__m") - ceil(lit(t) * col("__n")).cast("int") + 1)
      .select(col("__blk"), col("__t"), col("__id").as("__pid"),
        col("__rn").as("__pi"), col("__m").as("__pm"), col("__n").as("__pn"))
    // positional filter: each prefix match bounds the intersection (see
    // Scaladoc item 3); keep the tightest bound per pair and reject pairs
    // whose bound can't reach ⌈t·min(n_a, n_b)⌉ for any caller direction
    val candidates = prefix
      .join(ranked.select(col("__blk"), col("__t"), col("__id").as("__fid"),
        col("__rn").as("__fi"), col("__m").as("__fm"), col("__n").as("__fn")),
        Seq("__blk", "__t"))
      .filter(col("__pid") =!= col("__fid"))
      .select(
        least(col("__pid"), col("__fid")).as("a_id"),
        greatest(col("__pid"), col("__fid")).as("b_id"),
        (least(col("__pi"), col("__fi")) +
          least(col("__pm") - col("__pi"), col("__fm") - col("__fi"))).as("__ub"),
        least(col("__pn"), col("__fn")).as("__minn"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("__ub")).as("__ub"), first(col("__minn")).as("__minn"))
      .filter(col("__ub") >= ceil(lit(t) * col("__minn")).cast("long"))
      .select(col("a_id"), col("b_id"))
    // exact verification: one array_intersect per surviving pair,
    // computed BEFORE the materialization barrier so the barrier holds
    // five longs per pair (not two shingle arrays) and the kernel runs
    // EXACTLY once. Materializing after the intersect also closes the
    // clone hole: callers filter on `inter`, and with the arrays gone
    // from the materialized frame there is no expression for predicate
    // pushdown to duplicate into a filter below the projection — the
    // r16 shape (checkpoint of the paired ARRAYS, intersect in a
    // downstream projection) re-ran the intersect in the pushed filter
    // clone and again in the projection (PlanGuardSpec rule 4b, the
    // d11 failure class).
    val a = base.select(col("__id").as("a_id"), col("__sh").as("__a_sh"), col("__n").as("a_n"))
    val b = base.select(col("__id").as("b_id"), col("__sh").as("__b_sh"), col("__n").as("b_n"))
    candidates
      .join(a, Seq("a_id"))
      .join(b, Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("a_n"), col("b_n"),
        size(array_intersect(col("__a_sh"), col("__b_sh"))).cast("long").as("inter"))
      .transform(materialize)
  }
}
