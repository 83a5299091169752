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
  * Store layout: the maintained artifact is the `(id, band, bh)` LSH
  * posting table, partitioned by a band-hash bucket
  * (`pmod(hash(bh), numBuckets)`) — a micro-batch computes its own
  * postings scan-locally, READS only the buckets those postings land
  * in, and REWRITES only those buckets as a set union
  * (distinct + dynamic partition overwrite — replay rebuilds
  * byte-identical buckets). Admitted documents append to the corpus
  * sink under their OWN batch-id partition, which is ALSO the text
  * source the verification pass re-reads (left-semi pushdown to
  * colliding ids only).
  *
  * Replay is a content no-op by construction: a replayed batch's
  * postings are already in the store, so every doc collides with
  * itself, verifies at Jaccard 1.0, and is rejected — the admitted
  * set is empty, dynamic overwrite touches no corpus partition, and
  * the posting union is idempotent.
  *
  * `numBuckets` is a table property (`_graft_buckets` sidecar,
  * re-checked fail-loud) exactly as in [[StreamingAdmission]]; the
  * LSH parameters (n, k, r, threshold) are ALSO table properties —
  * postings from different parameters must never merge — recorded in
  * the same sidecar.
  */
object StreamingNearDup extends MaintainedStore {

  protected val marker = "_graft_buckets"

  final case class Params(
      numBuckets: Int, n: Int = 3, k: Int = 64, r: Int = 4,
      minJaccard: Double = 0.5, maxBucket: Int = 1000) {
    def encoded: String = s"$numBuckets;$n;$k;$r;$minJaccard;$maxBucket"
  }

  private def bucketOf(numBuckets: Int) = pmod(hash(col("bh")), lit(numBuckets))

  /** Whether the corpus sink holds a batch partition yet. An empty
    * bootstrap leaves none, and schema inference over it would throw. */
  private def hasBatches(corpusOutPath: String): Boolean =
    Files.isDirectory(Paths.get(corpusOutPath)) && {
      val entries = Files.list(Paths.get(corpusOutPath))
      try entries.anyMatch(_.getFileName.toString.startsWith(BatchCol + "="))
      finally entries.close()
    }

  // explicit schema: survives the empty-store cold start (marker but no
  // parquet files yet). Doc ids are constrained to BIGINT by the store.
  private def readStore(
      spark: org.apache.spark.sql.SparkSession, path: String, idCol: String) =
    spark.read
      .schema(s"`$idCol` BIGINT, band INT, bh BIGINT, $BucketCol INT")
      .parquet(path)

  /** Bootstrap the posting store AND the corpus sink from the existing
    * corpus (batch id -1, the [[StreamingKmeans]] bootstrap shape) —
    * the sink doubles as the verification text source, so the
    * bootstrap corpus must live there or its near-dups could never
    * verify. Static overwrite truncates; marker written after the
    * data. */
  def initialize(
      corpus: DataFrame, idCol: String, textCol: String,
      storePath: String, corpusOutPath: String, p: Params): Unit = {
    // the store read-back schema pins the id to BIGINT — fail at
    // initialize (actionable) rather than on the first applyBatch's
    // parquet schema-conversion error
    require(corpus.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"StreamingNearDup requires a BIGINT id column; '$idCol' is " +
        corpus.schema(idCol).dataType.simpleString)
    Dedup.bandPostings(corpus, idCol, textCol, p.n, p.k, p.r)
      .withColumn(BucketCol, bucketOf(p.numBuckets))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(storePath)
    corpus
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").partitionBy(BatchCol).parquet(corpusOutPath)
    writeMarker(storePath, p.encoded)
  }

  /** Admit one micro-batch against the posting store + corpus sink.
    * Exposed for tests and custom sinks. */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      storePath: String, corpusOutPath: String, p: Params): Unit = {
    if (batch.isEmpty) return
    checkMarker(storePath, p.encoded, "posting-table parameter",
      "mixed LSH parameters silently corrupt candidate generation")
    val spark = batch.sparkSession
    val batchBands = Dedup.bandPostings(batch, idCol, textCol, p.n, p.k, p.r)
      .withColumn(BucketCol, bucketOf(p.numBuckets))
    batchBands.persist()
    try {
      // bounded driver materialization: at most numBuckets ints
      val touched = batchBands.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq
      val stored = readStore(spark, storePath, idCol)
        .filter(col(BucketCol).isin(touched: _*))
      // existence-checked, not Try-swallowed: only the cold start (no
      // batch partition yet) reads as empty; any other read failure —
      // a text column the sink lacks, a corrupt file — fails the batch
      // instead of admitting near-duplicates against an empty corpus
      val corpus =
        if (hasBatches(corpusOutPath))
          spark.read.parquet(corpusOutPath).select(col(idCol), col(textCol))
        else batch.select(col(idCol), col(textCol)).limit(0)
      // persist: the admission plan (signatures, candidate join, exact
      // Jaccard verification over corpus text) feeds TWO actions — the
      // corpus-sink write and the posting semi-join below; without the
      // persist it would execute end-to-end twice per micro-batch, and
      // the second run would race the corpus write it follows
      val admitted = Dedup.minhashIncremental(
        batch, corpus, stored.drop(BucketCol), idCol, textCol,
        p.n, p.k, p.r, p.minJaccard, p.maxBucket).persist()
      try {
        admitted
          .withColumn(BatchCol, lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BatchCol).parquet(corpusOutPath)
        // posting union over the touched buckets (set semantics: replay
        // rebuilds identical buckets). Admitted postings are a subset of
        // the batch's, so they land only in touched buckets.
        val admittedBands = batchBands
          .join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
        stored.unionByName(admittedBands).distinct()
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BucketCol).parquet(storePath)
      } finally admitted.unpersist(blocking = false)
    } finally batchBands.unpersist()
  }
}
