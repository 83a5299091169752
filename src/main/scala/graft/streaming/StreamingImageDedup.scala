package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Streaming/batch PERCEPTUAL image admission — the media member of
  * the admission ladder ([[StreamingAdmission]] exact text →
  * [[StreamingNearDup]] Jaccard → [[StreamingWinnowDedup]] local
  * overlap → [[StreamingSemDedup]] semantic → this): admit a batch of
  * images whose dHash lands outside the hamming ball of every
  * ALREADY-ADMITTED image. Recompressed, losslessly re-encoded, and
  * exact-factor-rescaled copies of an admitted image hash into the
  * ball (see [[Multimodal.dHash]]'s invariances) and are rejected
  * without the corpus ever being re-decoded.
  *
  * Store layout, admission contract, replay-idempotence and the 100 TB
  * shape are [[StreamingHammingDedup]]'s — the shared hamming-ball
  * admission this store instantiates with the dHash signature pass
  * (decode + hash, scan-local mapPartitions).
  */
object StreamingImageDedup extends StreamingHammingDedup(
  marker = "_graft_dhash", hashCol = "dhash",
  sigOf = (images, idCol, payloadCol) =>
    Multimodal.dHash(
        images.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload")))
      .toDF().select(col("doc_id").as(idCol), col("dhash")))
