package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Streaming/batch PERCEPTUAL audio admission — the audio member of
  * the media admission ladder, [[StreamingImageDedup]]'s twin over
  * [[Multimodal.audioFingerprint]]: admit a batch of clips whose
  * sign-of-energy-delta fingerprint lands outside the hamming ball of
  * every ALREADY-ADMITTED clip. Attenuated (turned-down) and
  * losslessly re-encoded copies of an admitted clip fingerprint into
  * the ball (the Haitsma–Kalker delta-sign robustness — see
  * [[Multimodal.audioFingerprint]]) and are rejected without the
  * corpus ever being re-decoded.
  *
  * Store layout, admission contract, replay-idempotence and the 100 TB
  * shape are [[StreamingHammingDedup]]'s — the shared hamming-ball
  * admission this store instantiates with the audio-fingerprint
  * signature pass (real WAV decode + windowed energies, scan-local
  * mapPartitions).
  */
object StreamingAudioDedup extends StreamingHammingDedup(
  marker = "_graft_afp", hashCol = "afp",
  sigOf = (clips, idCol, payloadCol) =>
    Multimodal.audioFingerprint(
        clips.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload")))
      .toDF().select(col("doc_id").as(idCol), col("afp")))
