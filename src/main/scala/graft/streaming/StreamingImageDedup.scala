package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.MediaExpressions

/** One perceptual-hash hit: a decoded image's 64-bit aHash and its owner. */
case class ImageHashHit(hash: Long, docId: Long)

/** A later image whose decoded plane hashes into an owned bucket. */
case class ImageDup(docId: Long, dupOf: Long, hash: Long)

/** Streaming perceptual image dedup — the Structured Streaming twin of the
  * batch aHash-keyed dedup (`m15_image_ahash_dedup` oracle), extended with
  * m18's cross-codec property: the hash is [[MediaExpressions.imageAHash]]
  * over each image's OWN stored container (PNG, BMP, GIF or lossy JPEG —
  * whatever the corpus holds), so one streaming dedup index spans
  * encodings, exactly like the batch registry.
  *
  * Mechanics mirror [[StreamingDedup]]: a per-row decode+hash projection
  * (no shuffle, the codec runs once per image in the scan), then per-hash
  * first-claim state ([[StreamingDedup.firstClaim]]) — ONE tiny
  * [[ClaimOwner]] per distinct perceptual hash, never per image, so state
  * is bounded by distinct content, not stream length. Later arrivals emit
  * an [[ImageDup]] in their own micro-batch (append mode, exactly once).
  * In-batch ties resolve to the minimum doc id (deterministic under
  * micro-batch replay — the batch keep-first semantics).
  *
  * At 100 TB: image payloads stay in the scan stage; only (hash, docId)
  * pairs — 16 bytes — reach the shuffle, and the state store holds one
  * long-keyed owner per distinct plane. Retention follows StreamingDedup's
  * contract (NoTimeout = corpus-lifetime dedup; key by (hash, horizon) for
  * bounded retention).
  */
object StreamingImageDedup {

  /** `(doc_id, img)` stream → decoded-plane hash hits. Rows whose bytes do
    * not decode (null hash) are dropped here — the parse-don't-throw edge
    * contract; route them to a dead-letter sink in production.
    */
  def hashHits(docs: DataFrame): Dataset[ImageHashHit] = {
    implicit val enc = Encoders.product[ImageHashHit]
    docs
      .select(MediaExpressions.imageAHash(col("img")).as("hash"), col("doc_id").as("docId"))
      .filter(col("hash").isNotNull)
      .as[ImageHashHit]
  }

  /** Hash-hit stream → duplicate verdicts via per-bucket first-claim state. */
  def dups(hits: Dataset[ImageHashHit]): Dataset[ImageDup] = {
    implicit val outEnc = Encoders.product[ImageDup]
    implicit val keyEnc = Encoders.scalaLong
    StreamingDedup.firstClaim(hits)(_.hash, _.docId)(ImageDup(_, _, _))
  }

  /** Full pipeline: `(doc_id, img)` stream → streaming cross-codec dups. */
  def run(docs: DataFrame): Dataset[ImageDup] = dups(hashHits(docs))
}
