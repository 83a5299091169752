package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import MaintainedStore.{BatchCol, BucketCol, append, bucketOf, publish, readTouched}

/** Streaming corpus admission — the foreachBatch twin of
  * [[graft.operators.Dedup.exactIncremental]]: every micro-batch of
  * documents is admitted against a PERSISTENT fingerprint store (drop
  * if the content was ever seen; in-batch min-id survivor rule),
  * admitted docs append to the corpus sink and their fingerprints
  * join the store — the "never train on the same text twice" loop.
  *
  * Store layout mirrors [[StreamingUpsert]]: fingerprints partitioned
  * by a fingerprint-hash bucket, so a micro-batch READS only the
  * buckets its own fingerprints land in and APPENDS only fingerprints
  * the store has never seen (set semantics — a replayed batch
  * anti-joins empty and appends nothing, and no live file is ever
  * deleted under a concurrent reader). The corpus sink is
  * partitioned by batch id and each batch overwrites ITS partition —
  * the standard idempotent foreachBatch sink: a replayed batch
  * replaces its own output instead of duplicating it. Both writes are
  * idempotent, so failure recovery is a content no-op end to end.
  *
  * `numBuckets` is a table property recorded in a `_graft_buckets`
  * sidecar and re-checked fail-loud (a reader pruning with the wrong
  * modulus would silently re-admit known content).
  */
object StreamingAdmission extends MaintainedStore {

  protected val marker = "_graft_buckets"

  // explicit schema: an empty-corpus bootstrap writes a marker but no
  // parquet files — the natural cold start (begin streaming with no
  // pre-existing corpus) must work
  private val StoreSchema = s"fingerprint STRING, $BucketCol INT"

  private def requireCleanColumns(df: DataFrame): Unit =
    Seq("fingerprint", BucketCol, BatchCol).foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column — rename it first (it would be " +
          "silently overwritten by the admission plumbing)")
    }

  /** Bootstrap the fingerprint store from the existing corpus
    * (static overwrite: re-initializing truncates; marker after
    * data). */
  def initialize(
      corpus: DataFrame, textCol: String, fpStorePath: String, numBuckets: Int
  ): Unit = {
    bootstrap(Dedup.fingerprints(corpus, textCol)
      .withColumn(BucketCol, bucketOf(numBuckets, col("fingerprint"))),
      fpStorePath, BucketCol)(numBuckets.toString)
  }

  /** Admit one micro-batch: anti-join the touched store buckets,
    * in-batch survivor rule, write admitted docs to
    * `corpusOutPath/<BatchCol>=<batchId>` (overwriting that partition
    * — replay-idempotent) and append the never-seen fingerprints to
    * their buckets (set semantics — replay-idempotent). Exposed for
    * tests and custom sinks. */
  def applyBatch(
      batch: DataFrame, idCol: String, textCol: String,
      fpStorePath: String, corpusOutPath: String, numBuckets: Int, batchId: Long
  ): Unit = {
    if (checkedEmpty(batch)(checkMarker(fpStorePath, numBuckets.toString, "bucket-count",
      "pruning with the wrong modulus re-admits known content"))) return
    requireCleanColumns(batch)
    // fingerprint the batch ONCE (normalize+md5 is the hottest
    // expression of the loop) and feed every consumer from the cached
    // frame — the anti-join/survivor logic below is the
    // Dedup.exactIncremental algebra inlined over the same columns
    // (batch parity is spec-pinned against the batch operator)
    val withFp = batch
      .withColumn("fingerprint", Dedup.contentFingerprint(col(textCol)))
      .withColumn(BucketCol, bucketOf(numBuckets, col("fingerprint")))
    withFp.persist()
    try {
      val stored = readTouched(withFp, fpStorePath, Some(StoreSchema))
        .select(col("fingerprint"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint")).orderBy(col(idCol))
      val admitted = withFp
        .join(stored, Seq("fingerprint"), "left_anti")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "fingerprint", BucketCol)
      publish(admitted.withColumn(BatchCol, lit(batchId)), corpusOutPath, BatchCol)
      // APPEND-ONLY store publish: the fingerprint store is a SET, so
      // only fingerprints it has never seen land, instead of
      // dynamic-overwriting every touched bucket with (stored ∪ batch).
      // A batch's store write is O(new fingerprints), not O(touched
      // buckets) — the same set semantics and idempotence, cheaper.
      append(withFp.select(col("fingerprint"), col(BucketCol)).distinct()
        .join(stored, Seq("fingerprint"), "left_anti"), fpStorePath, BucketCol)
    } finally withFp.unpersist()
  }
}
