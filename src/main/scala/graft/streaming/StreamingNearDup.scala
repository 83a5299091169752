package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import MaintainedStore.{BatchCol, BucketCol}

/** Streaming NEAR-dup corpus admission — the foreachBatch twin of
  * [[graft.operators.Dedup.minhashIncremental]], completing the
  * admission family: [[StreamingAdmission]] drops content seen
  * byte-identically, this drops content whose n-gram Jaccard against
  * the admitted corpus clears the threshold.
  *
  * A [[PostingAdmission]] store: the postings are the `(id, band, bh)`
  * LSH band hashes, bucketed by `bh`. The sink keeps the admitted
  * documents whole, because it is ALSO the text source the
  * verification pass re-reads (left-semi pushdown to colliding ids
  * only) — so a bootstrap corpus must live there too, or its near-dups
  * could never verify.
  *
  * Replay is a content no-op by construction: a replayed batch's
  * postings are already in the store, so every doc collides with
  * itself, verifies at Jaccard 1.0, and is rejected — the admitted
  * set is empty, dynamic overwrite touches no corpus partition, and
  * the posting union is idempotent.
  *
  * The LSH parameters (n, k, r, threshold) are table properties beside
  * `numBuckets` in the `_graft_buckets` sidecar — postings from
  * different parameters must never merge.
  */
object StreamingNearDup extends PostingAdmission("_graft_buckets", "band INT, bh BIGINT", "bh") {

  final case class Params(
      numBuckets: Int, n: Int = 3, k: Int = 64, r: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 1000) extends PostingAdmission.Params {
    def encoded: String = s"$numBuckets;$n;$k;$r;$minJaccard;$maxBucket"
  }

  /** Whether the corpus sink holds a batch partition yet. An empty
    * bootstrap leaves none, and schema inference over it would throw. */
  private def hasBatches(corpusOutPath: String): Boolean =
    Files.isDirectory(Paths.get(corpusOutPath)) && {
      val entries = Files.list(Paths.get(corpusOutPath))
      try entries.anyMatch(_.getFileName.toString.startsWith(BatchCol + "="))
      finally entries.close()
    }

  protected def postingsOf(
      docs: DataFrame, idCol: String, textCol: String, p: Params): DataFrame = {
    // the store read-back schema pins the id to BIGINT — fail here
    // (actionable) rather than on a parquet schema-conversion error
    requireBigintId(docs, idCol)
    Dedup.bandPostings(docs, idCol, textCol, p.n, p.k, p.r)
  }

  /** Candidates from shared band hashes, verified by exact Jaccard
    * over the corpus sink's text. */
  protected def admit(
      batch: DataFrame, posts: DataFrame, stored: DataFrame,
      idCol: String, textCol: String, corpusOutPath: String, p: Params): DataFrame = {
    // existence-checked, not Try-swallowed: only the cold start (no
    // batch partition yet) reads as empty; any other read failure —
    // a text column the sink lacks, a corrupt file — fails the batch
    // instead of admitting near-duplicates against an empty corpus
    val corpus =
      if (hasBatches(corpusOutPath))
        batch.sparkSession.read.parquet(corpusOutPath).select(col(idCol), col(textCol))
      else batch.select(col(idCol), col(textCol)).limit(0)
    Dedup.minhashIncremental(
      batch, corpus, stored.drop(BucketCol), idCol, textCol,
      p.n, p.k, p.r, p.minJaccard, p.maxBucket)
  }
}
