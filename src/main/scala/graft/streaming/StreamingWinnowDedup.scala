package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import MaintainedStore.BucketCol

/** Streaming WINNOW-dup corpus admission — the foreachBatch twin of
  * [[graft.operators.Dedup.winnowPairs]], completing the admission
  * ladder: [[StreamingAdmission]] drops byte-identical content,
  * [[StreamingNearDup]] drops MinHash-verified Jaccard near-dups, this
  * drops documents sharing at least `minShared` winnowed local
  * fingerprints with the admitted corpus — the MOSS criterion, which
  * catches LOCAL overlap (a copied passage inside an otherwise new
  * document) that whole-document Jaccard dilutes away.
  *
  * A [[PostingAdmission]] store: the postings are the `(id, fp)`
  * winnowed fingerprints ([[Dedup.winnowFingerprints]] is one compiled
  * pass, no shuffle), bucketed by `fp`; the sink keeps the admitted
  * documents whole. No text re-read, no verification pass: the
  * shared-fingerprint count IS the criterion.
  *
  * Replay is a content no-op by construction, with one subtlety the
  * Jaccard twin doesn't have: a replayed document whose total
  * fingerprint count is BELOW `minShared` can never be rejected by its
  * own stored postings, so a naive self-match rule would re-admit it
  * while rejecting its batch-mates — a PARTIAL partition rewrite.
  * Corpus postings carrying the SAME id as the probing batch document
  * are therefore excluded from the match (only a replay produces that
  * collision — distinct documents sharing an id would violate the key
  * contract anyway), which makes the admitted set a pure function of
  * (batch, store-without-this-batch): any replay rewrites its corpus
  * partition and its posting buckets byte-identically
  * (replay-permutation property-tested with the other stores). Two
  * admitted batch-mates can never cross-reject on replay either: a
  * pair sharing `minShared`+ fingerprints is an IN-batch pair, so only
  * one of them was admitted. The one caveat (shared with the Jaccard
  * twin): `maxBucket` is evaluated against the store AT MATCH TIME, so
  * a replay whose own admitted postings push a fingerprint bucket
  * across the cap can see a smaller matchable set — caps trade exact
  * replay identity at the cap boundary for bounded worst-case cost,
  * deliberately.
  *
  * The winnowing parameters are table properties recorded in the
  * `_graft_buckets` sidecar and re-checked fail-loud — postings from
  * different (n, w) must never merge.
  */
object StreamingWinnowDedup extends PostingAdmission("_graft_buckets", "fp STRING", "fp") {

  final case class Params(
      numBuckets: Int, n: Int = 4, w: Int = 5,
      minShared: Long = 2L, maxBucket: Int = 1000) extends PostingAdmission.Params {
    def encoded: String = s"$numBuckets;$n;$w;$minShared;$maxBucket"
  }

  protected def postingsOf(
      docs: DataFrame, idCol: String, textCol: String, p: Params): DataFrame = {
    requireBigintId(docs, idCol)
    Dedup.winnowFingerprints(docs, idCol, textCol, p.n, p.w)
      .select(col(idCol), col("fp")).distinct()
  }

  /** Rejected: sharing at least `minShared` fingerprints with one
    * admitted document of another id. */
  protected def admit(
      batch: DataFrame, batchFps: DataFrame, stored: DataFrame,
      idCol: String, textCol: String, corpusOutPath: String, p: Params): DataFrame = {
    // degenerate fingerprint buckets (boilerplate fps shared by
    // thousands of docs) are dropped from matching like every other
    // blocking join's cap — counted within the touched restriction
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val matchable = stored
      .withColumn("__fn", count(lit(1)).over(w))
      .filter(col("__fn") <= p.maxBucket)
      .select(col(idCol).as("__corpus_id"), col("fp"))
    val rejectedByCorpus = batchFps
      .join(matchable, Seq("fp"))
      // self-postings (same id) only exist on replay — excluding them
      // keeps the admitted set a pure function of the pre-batch store
      .filter(col("__corpus_id") =!= col(idCol))
      .groupBy(col(idCol), col("__corpus_id"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= p.minShared)
      .select(col(idCol)).distinct()
    // in-batch pairs off the SAME persisted fingerprint pass (the
    // tokenize + MD5 + deque winnowing is the dominant per-batch
    // cost — never pay it twice)
    Dedup.survivors(batch, idCol, Dedup.winnowPairsFromFps(
        batchFps.drop(BucketCol), idCol, p.minShared, p.maxBucket))
      .join(rejectedByCorpus, Seq(idCol), "left_anti")
  }
}
