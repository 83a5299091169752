package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import MaintainedStore.{BatchCol, BucketCol}

/** The generic hamming-ball admission core shared by the perceptual
  * media stores ([[StreamingImageDedup]] dHash, [[StreamingAudioDedup]]
  * audio fingerprint): admit a batch of 64-bit perceptual signatures
  * that land outside the hamming ball of every ALREADY-ADMITTED one.
  *
  * Store layout: the maintained artifact is the signature POSTING
  * table `(id, <hashCol>, band, chunk)` under the
  * [[Dedup.hamming64Bands]] radius-derived banding (pigeonhole: any
  * in-radius pair shares a band chunk), partitioned by a chunk-hash
  * bucket — a batch computes its own postings scan-locally, READS only
  * the buckets those postings land in, and REWRITES only those buckets
  * as a set union. The full hash rides in the posting row, so hamming
  * verification needs no second store read. Admitted items append
  * `(id, hash)` to the sink under their own batch partition.
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
  * hash column and signature pass `sigOf(items, idCol)`; all stores
  * share [[StreamingHammingDedup.Params]]. */
abstract class StreamingHammingDedup(
    protected val marker: String, hashCol: String,
    sigOf: (DataFrame, String) => DataFrame) extends MaintainedStore {

  type Params = StreamingHammingDedup.Params
  val Params: StreamingHammingDedup.Params.type = StreamingHammingDedup.Params

  private def bucketOf(numBuckets: Int) =
    pmod(hash(col("band"), col("chunk")), lit(numBuckets))

  // explicit schema: survives the empty-store cold start
  private def readStore(
      spark: org.apache.spark.sql.SparkSession, path: String, idCol: String) =
    spark.read
      .schema(s"`$idCol` BIGINT, $hashCol BIGINT, band INT, chunk BIGINT, $BucketCol INT")
      .parquet(path)

  /** Banded postings of a payload table (`idCol`, `payload`). */
  private def postingsOf(items: DataFrame, idCol: String, p: Params): DataFrame =
    Dedup.hamming64Bands(sigOf(items, idCol), idCol, hashCol, p.maxHamming)
      .withColumn(BucketCol, bucketOf(p.numBuckets))

  /** Bootstrap the posting store AND the admitted sink from an
    * existing corpus (batch -1, admitted wholesale). Marker written
    * last, so a crashed initialize is detectable (no marker →
    * applyBatch fails actionably). */
  def initialize(
      corpus: DataFrame, idCol: String,
      storePath: String, sinkPath: String, p: Params): Unit = {
    val posts = postingsOf(corpus, idCol, p)
    posts.write.mode("overwrite").partitionBy(BucketCol).parquet(storePath)
    posts.select(col(idCol), col(hashCol)).distinct()
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").partitionBy(BatchCol).parquet(sinkPath)
    writeMarker(storePath, p.encoded)
  }

  /** Admit one batch against the posting store + sink. */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String,
      storePath: String, sinkPath: String, p: Params): Unit = {
    if (batch.isEmpty) return
    checkMarker(storePath, p.encoded, s"$hashCol posting-table parameter",
      "a different radius bands differently and mixed postings silently lose recall")
    val spark = batch.sparkSession
    val batchPosts = postingsOf(batch, idCol, p).persist()
    try {
      // bounded driver materialization: at most numBuckets ints
      val touched = batchPosts.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq
      val stored = readStore(spark, storePath, idCol)
        .filter(col(BucketCol).isin(touched: _*))
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
      val admitted = Dedup.survivors(hashes, idCol, inBatchPairs)
        .join(corpusMatched, Seq(idCol), "left_anti")
        .persist()
      try {
        // sink FIRST, postings second: a crash in between replays with
        // the admitted docs' bands still absent from the store, so the
        // same admitted set recomputes and both writes repeat
        // byte-identically
        admitted.select(col(idCol), col(hashCol))
          .withColumn(BatchCol, lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BatchCol).parquet(sinkPath)
        val admittedPosts = batchPosts
          .join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
        stored.unionByName(admittedPosts).distinct()
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BucketCol).parquet(storePath)
      } finally admitted.unpersist(blocking = false)
    } finally batchPosts.unpersist(blocking = false)
  }

  /** This batch's admitted `(id, hash)` — empty when nothing
    * admitted. Existence-checked, not Try-swallowed. */
  def admittedOf(
      spark: org.apache.spark.sql.SparkSession, sinkPath: String,
      idCol: String, batchId: Long): DataFrame =
    if (Files.isDirectory(Paths.get(sinkPath)))
      spark.read
        .schema(s"`$idCol` BIGINT, $hashCol BIGINT, $BatchCol BIGINT")
        .parquet(sinkPath)
        .filter(col(BatchCol) === batchId)
        .select(col(idCol), col(hashCol))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF(idCol, hashCol)
    }
}

object StreamingHammingDedup {
  final case class Params(
      numBuckets: Int, maxHamming: Int = 3, maxBucket: Int = 1000) {
    def encoded: String = s"$numBuckets;$maxHamming;$maxBucket"
  }
}
