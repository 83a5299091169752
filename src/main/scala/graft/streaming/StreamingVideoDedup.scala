package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}
import MaintainedStore.{BatchCol, BucketCol}

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
  * Store layout follows [[StreamingWinnowDedup]] (set-overlap posting
  * table, fingerprint-hash bucket partitioning, batch-owned corpus
  * sink partitions) with one denormalization the RELATIVE criterion
  * needs: every posting row carries its video's total distinct-frame
  * count `__nf` ([[Multimodal.videoFrameSet]] — content-derived and
  * immutable, so the ½-overlap check is computable from matched
  * postings alone; no sizes side-table, no second store read). A batch
  * demuxes + decodes + hashes its own frames scan-locally, probes only
  * the buckets its postings land in, and rewrites only those as a set
  * union.
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
object StreamingVideoDedup extends MaintainedStore {

  protected val marker = "_graft_vfp"

  final case class Params(numBuckets: Int, maxBucket: Int = 1000) {
    def encoded: String = s"$numBuckets;$maxBucket"
  }

  private def bucketOf(numBuckets: Int) = pmod(hash(col("fp")), lit(numBuckets))

  // explicit schema: survives the empty-store cold start
  private def readStore(
      spark: org.apache.spark.sql.SparkSession, path: String, idCol: String) =
    spark.read
      .schema(s"`$idCol` BIGINT, fp STRING, __nf INT, $BucketCol INT")
      .parquet(path)

  /** The batch's posting rows: one per distinct frame hash, set size
    * riding on every row — one scan-local pass, no shuffle. */
  private def postingsOf(
      videos: DataFrame, idCol: String, payloadCol: String, p: Params): DataFrame =
    Multimodal.videoFrameSet(
        videos.select(col(idCol).cast("long").as("doc_id"), col(payloadCol)),
        payloadCol)
      .toDF().select(col("doc_id").as(idCol), col("fp"), col("nf").as("__nf"))
      .withColumn(BucketCol, bucketOf(p.numBuckets))

  /** Bootstrap the posting store AND the corpus sink from an existing
    * video corpus (batch -1, admitted wholesale; marker written
    * last). */
  def initialize(
      corpus: DataFrame, idCol: String,
      storePath: String, sinkPath: String, p: Params,
      payloadCol: String = "payload"): Unit = {
    postingsOf(corpus, idCol, payloadCol, p)
      .write.mode("overwrite").partitionBy(BucketCol).parquet(storePath)
    corpus
      .withColumn(BatchCol, lit(-1L))
      .write.mode("overwrite").partitionBy(BatchCol).parquet(sinkPath)
    writeMarker(storePath, p.encoded)
  }

  /** Admit one video batch against the posting store + corpus sink.
    * Batch rows pass through WHOLE (the sink keeps the caller's
    * schema), so pipeline callers read their batch partition back
    * directly. */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String,
      storePath: String, sinkPath: String, p: Params,
      payloadCol: String = "payload"): Unit = {
    if (batch.isEmpty) return
    checkMarker(storePath, p.encoded, "video posting-table parameter",
      "mixed bucket layouts silently lose overlap recall")
    val spark = batch.sparkSession
    val batchFps = postingsOf(batch, idCol, payloadCol, p).persist()
    try {
      // bounded driver materialization: at most numBuckets ints
      val touched = batchFps.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val stored = readStore(spark, storePath, idCol)
        .filter(col(BucketCol).isin(touched: _*))
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
      val admitted = Dedup.survivors(batch, idCol, inPairs)
        .join(rejectedByCorpus, Seq(idCol), "left_anti")
        .persist()
      try {
        // sink FIRST, postings second: a crash in between replays with
        // the admitted videos' postings still absent, so the same
        // admitted set recomputes and both writes repeat byte-identically
        admitted
          .withColumn(BatchCol, lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BatchCol).parquet(sinkPath)
        val admittedFps = batchFps
          .join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
        stored.unionByName(admittedFps).distinct()
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(BucketCol).parquet(storePath)
      } finally admitted.unpersist(blocking = false)
    } finally batchFps.unpersist()
  }

  /** This batch's admitted ids — empty when the batch admitted
    * nothing (dynamic overwrite with zero rows writes no partition) or
    * the sink doesn't exist yet (an empty FIRST batch). The sink keeps
    * the CALLER's row schema, so the caller passes it (`rowSchema` =
    * the batch schema) — an explicit schema also survives the
    * data-less cold start where inference would fail. Existence-
    * checked, not Try-swallowed: a corrupt sink fails instead of
    * silently reading as an empty batch. */
  def admittedIdsOf(
      spark: org.apache.spark.sql.SparkSession, sinkPath: String,
      idCol: String, batchId: Long,
      rowSchema: org.apache.spark.sql.types.StructType): DataFrame =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sinkPath)))
      spark.read
        .schema(org.apache.spark.sql.types.StructType(
          rowSchema.fields :+ org.apache.spark.sql.types.StructField(
            BatchCol, org.apache.spark.sql.types.LongType)))
        .parquet(sinkPath)
        .filter(col(BatchCol) === batchId)
        .select(col(idCol))
    else {
      import spark.implicits._
      Seq.empty[Long].toDF(idCol)
    }
}
