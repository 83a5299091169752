package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

/** Streaming VIDEO near-dup admission — the 12th maintenance store and
  * the last media member of the admission ladder
  * ([[StreamingAdmission]] exact text → [[StreamingNearDup]] Jaccard →
  * [[StreamingWinnowDedup]] local overlap → [[StreamingSemDedup]]
  * semantic → [[StreamingImageDedup]] dHash → [[StreamingAudioDedup]]
  * fingerprint → this): admit a batch of frame-container videos whose
  * frame-hash SET overlaps no already-admitted video at ≥ ½ — the
  * `dedup_video` criterion, integer cross-multiplication
  * `3·shared ≥ n_batch + n_corpus`, so trimmed and transcoded copies
  * of an admitted video reject while disjoint clips admit, and the
  * corpus is never re-demuxed or re-decoded.
  *
  * A [[PostingAdmission]] store laid out like [[StreamingWinnowDedup]]
  * (`(id, fp)` frame-hash postings bucketed by `fp`; the sink keeps the
  * batch rows whole) with one denormalization the RELATIVE criterion
  * needs: every posting row carries its video's total distinct-frame
  * count `__nf` ([[Multimodal.videoFrameSet]] — content-derived and
  * immutable, so the ½-overlap check is computable from matched
  * postings alone; no sizes side-table, no second store read). A batch
  * demuxes + decodes + hashes its own frames scan-locally.
  *
  * Replay is a content no-op via the winnow store's self-id posting
  * exclusion: a replayed video's own stored postings never match it,
  * so the admitted set is a pure function of (batch,
  * store-without-this-batch) and a replay rewrites its corpus
  * partition and posting buckets byte-identically
  * (replay-permutation property-tested with the other stores). The
  * `maxBucket` cap trades exact replay identity at the cap boundary
  * for bounded worst-case cost, like every blocking join in the repo.
  */
object StreamingVideoDedup extends PostingAdmission("_graft_vfp", "fp STRING, __nf INT", "fp")
  with PostingAdmission.PayloadContent {

  final case class Params(numBuckets: Int, maxBucket: Int = 1000)
    extends PostingAdmission.Params {
    def encoded: String = s"$numBuckets;$maxBucket"
  }

  /** One posting row per distinct frame hash, set size riding on every
    * row — one scan-local pass, no shuffle. */
  protected def postingsOf(
      videos: DataFrame, idCol: String, payloadCol: String, p: Params): DataFrame =
    Multimodal.videoFrameSet(
        videos.select(col(idCol).cast("long").as("doc_id"), col(payloadCol)),
        payloadCol)
      .toDF().select(col("doc_id").as(idCol), col("fp"), col("nf").as("__nf"))

  /** Rejected: sharing at least half of the two frame sets
    * (`3·shared ≥ n_batch + n_corpus`) with one admitted video of
    * another id. */
  protected def admit(
      batch: DataFrame, batchFps: DataFrame, stored: DataFrame,
      idCol: String, payloadCol: String, sinkPath: String, p: Params): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    // degenerate frame hashes (a black frame shared by thousands of
    // videos) are dropped from matching like every blocking cap
    val matchable = stored
      .withColumn("__fn", count(lit(1)).over(w))
      .filter(col("__fn") <= p.maxBucket)
      .select(col(idCol).as("__corpus_id"), col("fp"), col("__nf").as("__corpus_nf"))
    val rejectedByCorpus = batchFps
      .join(matchable, Seq("fp"))
      // self-postings (same id) only exist on replay — excluding them
      // keeps the admitted set a pure function of the pre-batch store
      .filter(col("__corpus_id") =!= col(idCol))
      .groupBy(col(idCol), col("__nf"), col("__corpus_id"), col("__corpus_nf"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") * 3 >= col("__nf") + col("__corpus_nf"))
      .select(col(idCol)).distinct()
    // in-batch ≥½-overlap pairs off the SAME persisted signature pass
    // (the demux + decode + hash is the dominant per-batch cost)
    val sizes = batchFps.select(col(idCol), col("__nf")).distinct()
    val inPairs = Dedup.winnowPairsFromFps(
        batchFps.select(col(idCol), col("fp")), idCol, 1L, p.maxBucket)
      .join(sizes.select(col(idCol).as("doc_a"), col("__nf").as("n_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("__nf").as("n_b")), "doc_b")
      .filter(col("shared") * 3 >= col("n_a") + col("n_b"))
    Dedup.survivors(batch, idCol, inPairs)
      .join(rejectedByCorpus, Seq(idCol), "left_anti")
  }
}
