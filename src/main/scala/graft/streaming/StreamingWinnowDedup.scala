package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import MaintainedStore.{BatchCol, BucketCol}

/** Streaming WINNOW-dup corpus admission — the foreachBatch twin of
  * [[graft.operators.Dedup.winnowPairs]], completing the admission
  * ladder: [[StreamingAdmission]] drops byte-identical content,
  * [[StreamingNearDup]] drops MinHash-verified Jaccard near-dups, this
  * drops documents sharing at least `minShared` winnowed local
  * fingerprints with the admitted corpus — the MOSS criterion, which
  * catches LOCAL overlap (a copied passage inside an otherwise new
  * document) that whole-document Jaccard dilutes away.
  *
  * Store layout mirrors [[StreamingNearDup]]: the maintained artifact
  * is the `(id, fp)` fingerprint posting table, partitioned by a
  * fingerprint-hash bucket — a micro-batch computes its own
  * fingerprints scan-locally ([[Dedup.winnowFingerprints]] is one
  * compiled pass, no shuffle), READS only the buckets its fingerprints
  * land in, and REWRITES only those as a set union (distinct + dynamic
  * partition overwrite). Admitted documents append to the corpus sink
  * under their own batch-id partition. No text re-read, no
  * verification pass: the shared-fingerprint count IS the criterion.
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
object StreamingWinnowDedup extends MaintainedStore {

  protected val marker = "_graft_buckets"

  final case class Params(
      numBuckets: Int, n: Int = 4, w: Int = 5,
      minShared: Long = 2L, maxBucket: Int = 1000) {
    def encoded: String = s"$numBuckets;$n;$w;$minShared;$maxBucket"
  }

  private def bucketOf(numBuckets: Int) = pmod(hash(col("fp")), lit(numBuckets))

  // explicit schema: survives the empty-store cold start. Ids are
  // constrained to BIGINT by the store, checked at initialize.
  private def readStore(
      spark: org.apache.spark.sql.SparkSession, path: String, idCol: String) =
    spark.read
      .schema(s"`$idCol` BIGINT, fp STRING, $BucketCol INT")
      .parquet(path)

  /** Bootstrap the fingerprint store AND the corpus sink from the
    * existing corpus (batch id -1; static overwrite truncates; marker
    * written after the data). */
  def initialize(
      corpus: DataFrame, idCol: String, textCol: String,
      storePath: String, corpusOutPath: String, p: Params): Unit = {
    require(corpus.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"StreamingWinnowDedup requires a BIGINT id column; '$idCol' is " +
        corpus.schema(idCol).dataType.simpleString)
    Dedup.winnowFingerprints(corpus, idCol, textCol, p.n, p.w)
      .select(col(idCol), col("fp")).distinct()
      .withColumn(BucketCol, bucketOf(p.numBuckets))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(storePath)
    corpus
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").partitionBy(BatchCol).parquet(corpusOutPath)
    writeMarker(storePath, p.encoded)
  }

  /** Admit one micro-batch against the fingerprint store. Exposed for
    * tests, the pipeline's `dedup_winnow: mode: admit`, and custom
    * sinks. */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      storePath: String, corpusOutPath: String, p: Params): Unit = {
    if (batch.isEmpty) return
    checkMarker(storePath, p.encoded, "fingerprint-table parameter",
      "mixed winnowing parameters silently corrupt the shared-fingerprint criterion")
    val spark = batch.sparkSession
    val batchFps = Dedup.winnowFingerprints(batch, idCol, textCol, p.n, p.w)
      .select(col(idCol), col("fp")).distinct()
      .withColumn(BucketCol, bucketOf(p.numBuckets))
    // the fingerprint stream feeds the touched-bucket probe, the match
    // join, and the posting union — persist or it recomputes per use
    batchFps.persist()
    try {
      // bounded driver materialization: at most numBuckets ints
      val touched = batchFps.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq
      // degenerate fingerprint buckets (boilerplate fps shared by
      // thousands of docs) are dropped from matching like every other
      // blocking join's cap — counted within the touched restriction
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val stored = readStore(spark, storePath, idCol)
        .filter(col(BucketCol).isin(touched: _*))
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
      val batchReps = Dedup.survivors(batch, idCol, Dedup.winnowPairsFromFps(
        batchFps.drop(BucketCol), idCol, p.minShared, p.maxBucket))
      val admitted = batchReps
        .join(rejectedByCorpus, Seq(idCol), "left_anti")
        .persist()
      try {
        admitted
          .withColumn(BatchCol, lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BatchCol).parquet(corpusOutPath)
        val admittedFps = batchFps
          .join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
        stored.unionByName(admittedFps).distinct()
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BucketCol).parquet(storePath)
      } finally admitted.unpersist(blocking = false)
    } finally batchFps.unpersist()
  }
}
