package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextExpressions

/** One (band key, document) hit of the LSH banding. */
case class BandHit(bandKey: String, docId: Long)

/** Keyed first-claim state: the first document that claimed a bucket. */
case class ClaimOwner(docId: Long)

/** A later document colliding with the bucket owner on one band. */
case class DupCandidate(docId: Long, dupOf: Long, bandKey: String)

/** Streaming MinHash-LSH near-duplicate detection — the Structured
  * Streaming twin of the batch LSH candidate generation (`d4`/`d5`
  * oracles): documents arrive as a stream, and any document whose LSH band
  * key was already claimed by an earlier document surfaces as a
  * [[DupCandidate]] in the SAME micro-batch, without ever re-joining
  * history.
  *
  * Mechanics:
  *   1. [[bandHits]] maps each document to `seeds.size / 2` band keys
  *     (2 MinHash values per band — the exact signature scheme the batch
  *     `d5_lsh_candidates` oracle verifies, via
  *     [[TextExpressions.minhashSignature]]).
  *   2. [[candidates]] groups the hit stream by band key; per-key state is
  *     ONE tiny record (the first claimant). Later hits emit candidates
  *     against the owner and the state never grows with corpus size —
  *     bounded state per distinct band bucket, the streaming analog of the
  *     batch equi-join on band keys (never O(n²)).
  *
  * In-batch ties resolve to the minimum doc id (deterministic under
  * micro-batch replay, like the batch keep-first `d2`). Candidates are
  * RAW band collisions: one document pair can emit up to `bands` rows —
  * downstream consumers dedup/verify (exact Jaccard, `d7`) per batch,
  * mirroring the batch pipeline's candidate → verify split.
  *
  * State eviction: this keeps every bucket owner forever (NoTimeout) —
  * correct for corpus-wide dedup, where an old duplicate is still a
  * duplicate. For bounded retention (dedup within a freshness horizon),
  * key the state map by (band, day) or use ProcessingTimeTimeout — the
  * collision semantics are unchanged.
  */
object StreamingDedup {

  /** Default seeds — identical to the batch DedupPack's `MhSeeds`, so the
    * streaming candidates match the oracle-checked batch banding.
    */
  val DefaultSeeds: Seq[(Long, Long)] = Seq((7L, 3L), (11L, 17L), (13L, 41L), (17L, 59L))

  /** `(doc_id, text)` stream → exploded band-key hits (pure per-row map:
    * no shuffle, codegen'd expressions, safe on unbounded streams).
    */
  def bandHits(docs: DataFrame, seeds: Seq[(Long, Long)] = DefaultSeeds): Dataset[BandHit] = {
    require(seeds.size % 2 == 0, "two MinHash values per band")
    val nBands = seeds.size / 2
    implicit val enc = Encoders.product[BandHit]
    val bandKeys = array((0 until nBands).map { b =>
      concat_ws(":", lit(b), col("sig").getItem(2 * b), col("sig").getItem(2 * b + 1))
    }: _*)
    docs
      .select(col("doc_id"), TextExpressions.minhashSignature(col("text"), seeds).as("sig"))
      .select(col("doc_id").as("docId"), explode(bandKeys).as("bandKey"))
      .as[BandHit]
  }

  /** Band-hit stream → duplicate candidates via per-bucket first-claim
    * state. Append mode: a candidate emits exactly once, in the micro-batch
    * where the collision happens.
    */
  def candidates(hits: Dataset[BandHit]): Dataset[DupCandidate] = {
    implicit val outEnc = Encoders.product[DupCandidate]
    implicit val keyEnc = Encoders.STRING
    firstClaim(hits)(_.bandKey, _.docId)(DupCandidate(_, _, _))
  }

  /** The first-claim fold shared by the streaming dedup twins: hits group
    * by `key`; per key the state is ONE [[ClaimOwner]] (the first claimant),
    * so state is bounded by distinct keys, never stream length. Every later
    * `id` under an owned key emits `dup(id, ownerId, key)` exactly once, in
    * its own micro-batch (append mode). In-batch ties resolve to the minimum
    * id (deterministic under micro-batch replay, like the batch keep-first
    * `d2`). NoTimeout keeps every owner forever.
    */
  def firstClaim[H, K: Encoder, O: Encoder](hits: Dataset[H])(key: H => K, id: H => Long)(
      dup: (Long, Long, K) => O): Dataset[O] = {
    implicit val stateEnc = Encoders.product[ClaimOwner]
    hits
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (k: K, it: Iterator[H], state: GroupState[ClaimOwner]) => {
          val ids = it.map(id).toSeq.distinct.sorted
          state.getOption match {
            case Some(owner) =>
              ids.filterNot(_ == owner.docId).map(i => dup(i, owner.docId, k)).iterator
            case None =>
              state.update(ClaimOwner(ids.head))
              ids.tail.map(i => dup(i, ids.head, k)).iterator
          }
        }
      )
  }

  /** Full pipeline: document stream → streaming near-dup candidates. */
  def run(docs: DataFrame, seeds: Seq[(Long, Long)] = DefaultSeeds): Dataset[DupCandidate] =
    candidates(bandHits(docs, seeds))

  /** Stream-STATIC incremental dedup — the streaming twin of the batch
    * `d23_incremental_dedup` oracle: an incoming document stream is flagged
    * against a standing (static) corpus key set via a stream-static left
    * join. Stateless per micro-batch: nothing accumulates, the static side
    * is re-planned per batch (so at scale it rides whatever layout the
    * corpus table has — broadcast when small, bucketed/co-located when
    * not), and the stream side only ever shuffles if the join does.
    *
    * The corpus is deliberately NOT updated with novel stream keys — that
    * matches the batch d23 semantics (cross-snapshot dedup against a fixed
    * snapshot); intra-stream dup tracking is the stateful [[candidates]]
    * path's job.
    *
    * @param docs       streaming `(doc_id, text)` frame
    * @param corpusKeys static frame with one `pkey` column (distinct keys
    *                   of the standing corpus at d1's 5-token-prefix grain)
    */
  def againstCorpus(docs: DataFrame, corpusKeys: DataFrame): DataFrame = {
    val pkey = array_join(slice(split(col("text"), " "), 1, 5), " ")
    docs
      .select(col("doc_id"), pkey.as("pkey"))
      .join(corpusKeys.select(col("pkey")).distinct().withColumn("hit", lit(1L)),
        Seq("pkey"), "left")
      .select(
        col("doc_id"), col("pkey"),
        when(col("hit").isNotNull, "dup_existing").otherwise("novel").as("verdict"))
  }
}
