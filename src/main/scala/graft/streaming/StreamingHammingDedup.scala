package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The hamming-ball admission shared by the perceptual
  * media stores ([[StreamingImageDedup]] dHash, [[StreamingAudioDedup]]
  * audio fingerprint): admit a batch of 64-bit perceptual signatures
  * that land outside the hamming ball of every ALREADY-ADMITTED one.
  *
  * A [[PostingAdmission]] store: the postings are the signature
  * banding `(id, <hashCol>, band, chunk)` under the
  * [[Dedup.hamming64Bands]] radius-derived banding (pigeonhole: any
  * in-radius pair shares a band chunk), bucketed by `(band, chunk)`.
  * The full hash rides in the posting row, so hamming verification
  * needs no second store read. The sink keeps `(id, hash)`.
  *
  * Admission contract (the [[Dedup.minhashIncremental]] contract
  * lifted to hamming balls): a batch item is admitted iff (a) it is
  * the min-id representative of its within-batch hamming component and
  * (b) no admitted item lies within `maxHamming`. Replay is a content
  * no-op by construction: a replayed batch's postings are already in
  * the store, every item collides with itself at hamming 0 and is
  * rejected, so the admitted set is empty and the posting union is
  * idempotent.
  *
  * Scale shape: the signature pass is the caller's scan-local
  * mapPartitions; the store probe is an equi-join of the batch's
  * ≤(maxHamming+1)·|batch| posting rows against bucket-pruned store
  * partitions; the in-batch pair join is [[Dedup.hamming64Pairs]]
  * (capped buckets). The corpus is never rescanned or re-decoded.
  *
  * A store is an `object` extending this class with its marker name,
  * hash column and signature pass `sigOf(items, idCol, contentCol)`;
  * all stores share [[StreamingHammingDedup.Params]]. */
abstract class StreamingHammingDedup(
    marker: String, val hashCol: String,
    val sigOf: (DataFrame, String, String) => DataFrame)
  extends PostingAdmission(marker, s"$hashCol BIGINT, band INT, chunk BIGINT", "band", "chunk")
  with PostingAdmission.PayloadContent {

  type Params = StreamingHammingDedup.Params
  val Params: StreamingHammingDedup.Params.type = StreamingHammingDedup.Params

  protected def postingsOf(
      items: DataFrame, idCol: String, contentCol: String, p: Params): DataFrame =
    Dedup.hamming64Bands(sigOf(items, idCol, contentCol), idCol, hashCol, p.maxHamming)

  override protected def bootstrapSink(
      corpus: DataFrame, posts: DataFrame, idCol: String): DataFrame =
    posts.select(col(idCol), col(hashCol)).distinct()

  /** Rejected: within `maxHamming` of an admitted signature. */
  protected def admit(
      batch: DataFrame, batchPosts: DataFrame, stored: DataFrame,
      idCol: String, contentCol: String, sinkPath: String, p: Params): DataFrame = {
    val hashes = batchPosts.select(col(idCol), col(hashCol)).distinct()
    // (b) corpus rejection: chunk-equality candidates verified by
    // exact hamming. No same-id exclusion — a REPLAYED item finds
    // its own posting at hamming 0 and self-rejects (the NearDup
    // replay-as-rejection construction).
    val corpusMatched = batchPosts.as("a")
      .join(stored.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk"))
      .filter(bit_count(col(s"a.$hashCol").bitwiseXOR(col(s"b.$hashCol"))) <= p.maxHamming)
      .select(col(s"a.$idCol")).distinct()
    // (a) in-batch min-id component representative
    val inBatchPairs = Dedup.hamming64Pairs(
      hashes, idCol, hashCol, p.maxHamming, p.maxBucket)
    Dedup.survivors(hashes, idCol, inBatchPairs)
      .join(corpusMatched, Seq(idCol), "left_anti")
  }
}

object StreamingHammingDedup {
  final case class Params(
      numBuckets: Int, maxHamming: Int = 3, maxBucket: Int = 1000)
    extends PostingAdmission.Params {
    def encoded: String = s"$numBuckets;$maxHamming;$maxBucket"
  }
}
