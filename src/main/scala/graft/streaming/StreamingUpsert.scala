package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import MaintainedStore.{BucketCol, bucketOf, publish, readTouched}

/** Streaming upsert maintenance for dimension tables: the
  * `foreachBatch` twins of the two batch merge primitives —
  * [[graft.operators.Scd2.merge]] (Type-2 versioned history) and the
  * latest-wins CDC compaction (Type-1, the `max_by` shape of
  * `dim_merge_latest`).
  *
  * The reference refreshes dimensions with periodic batch SQL
  * (`/root/reference/src/Ringo/Generator/Populate/Dimension.hs:50-60`);
  * on a change STREAM the Spark shape is a micro-batch fold into a
  * stored table. Plain parquet has no MERGE, so the store is laid out
  * for surgical rewrites instead:
  *
  *   - the table is partitioned by a key-hash bucket column
  *     ([[MaintainedStore.BucketCol]], `pmod(hash(key), numBuckets)`), so
  *   - each micro-batch READS only the buckets its keys touch
  *     (partition pruning against the bucket dirs), and
  *   - WRITES back only those buckets, via dynamic partition
  *     overwrite — untouched buckets (at 100 TB, the overwhelming
  *     majority of the dimension) are never read, never rewritten.
  *
  * Effective exactly-once without a transactional sink, on two
  * grounds: the merge step is CONTENT-idempotent (re-applying a batch
  * the store already absorbed rebuilds byte-identical bucket contents
  * — for SCD2 because compression drops a change row equal to its
  * predecessor, for latest-wins because max is idempotent), and the
  * write is bucket-atomic-enough (a replay after a partial write
  * overwrites the damaged buckets wholesale). StreamingSpec pins both
  * batch parity and the replay no-op.
  *
  * `numBuckets` is a TABLE property, not a call argument to vary: a
  * reader pruning with a different modulus than the writer's layout
  * would silently miss keys. It is recorded in a `_graft_buckets`
  * sidecar at [[initialize]] time (underscore-prefixed files are
  * invisible to Spark's parquet reader) and re-checked fail-loud on
  * every maintenance step. Sizing: rewrite amplification per batch is
  * `touched_buckets / numBuckets` of the table, so more buckets means
  * finer rewrites but more (and smaller) files — hundreds to a few
  * thousand at warehouse scale.
  */
object StreamingUpsert extends MaintainedStore {

  protected val marker = "_graft_buckets"

  private def checkBuckets(path: String, numBuckets: Int): Unit =
    checkMarker(path, numBuckets.toString, "bucket-count",
      "pruning with the wrong modulus would drop keys")

  private def requireNoBucketCol(df: DataFrame): Unit =
    require(!df.columns.contains(BucketCol),
      s"input already has a '$BucketCol' column — rename it first")

  // ================================================================ SCD2 (Type 2)

  /** Create the bucket-partitioned SCD2 store from an initial change
    * log (full [[Scd2.history]] build — the batch bootstrap the
    * reference also assumes before incremental refresh). */
  def initializeScd2(
      changes: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      attrCols: Seq[String], path: String, numBuckets: Int
  ): Unit = {
    requireNoBucketCol(changes)
    bootstrap(Scd2.history(changes, keyCol, tsCol, tieCol, attrCols)
      .withColumn(BucketCol, bucketOf(numBuckets, col(keyCol))),
      path, BucketCol)(numBuckets.toString)
  }

  /** Fold one micro-batch of change rows into the stored history:
    * prune to the touched buckets, [[Scd2.merge]] within them, rewrite
    * only them. A stream drives it through [[MaintainedStore.maintain]];
    * calling it twice with the same batch is a content no-op. */
  def applyScd2Batch(
      batch: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      attrCols: Seq[String], path: String, numBuckets: Int
  ): Unit = {
    if (checkedEmpty(batch)(checkBuckets(path, numBuckets))) return
    requireNoBucketCol(batch)
    val withKb = batch.withColumn(BucketCol, bucketOf(numBuckets, col(keyCol)))
    withKb.persist()
    try {
      val bucketHistory = readTouched(withKb, path, schema = None)
      publish(Scd2.merge(bucketHistory, withKb, keyCol, tsCol, tieCol, attrCols),
        path, BucketCol)
    } finally withKb.unpersist()
  }

  // ================================================================ latest-wins CDC (Type 1)

  /** One surviving row per key, the (ts, tie)-greatest of stored ∪
    * batch — the partial-aggregable `max_by` shape (map-side combine
    * keeps one candidate per key per task before the single shuffle),
    * same contract as the batch `dim_merge_latest` gate. */
  private[streaming] def latestWins(
      all: DataFrame, keyCol: String, tsCol: String, tieCol: String
  ): DataFrame = {
    val payload = all.columns.filterNot(_ == keyCol).toSeq
    all.groupBy(col(keyCol))
      .agg(max_by(
        struct(payload.map(col): _*),
        struct(col(tsCol), col(tieCol))).as("__last"))
      .select(col(keyCol) +: payload.map(p => col(s"__last.`$p`").as(p)): _*)
  }

  /** Create the bucket-partitioned Type-1 store from an initial change
    * set (latest row per key wins). */
  def initializeLatest(
      changes: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      path: String, numBuckets: Int
  ): Unit = {
    requireNoBucketCol(changes)
    bootstrap(latestWins(changes, keyCol, tsCol, tieCol)
      .withColumn(BucketCol, bucketOf(numBuckets, col(keyCol))),
      path, BucketCol)(numBuckets.toString)
  }

  /** Fold one micro-batch of upserts into the Type-1 store: prune to
    * touched buckets, latest-wins over stored ∪ batch, rewrite only
    * those buckets. Content-idempotent on replay (max is max). */
  def applyLatestBatch(
      batch: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      path: String, numBuckets: Int
  ): Unit = {
    if (checkedEmpty(batch)(checkBuckets(path, numBuckets))) return
    requireNoBucketCol(batch)
    val withKb = batch.withColumn(BucketCol, bucketOf(numBuckets, col(keyCol)))
    withKb.persist()
    try {
      val stored = readTouched(withKb, path, schema = None)
      publish(latestWins(stored.unionByName(withKb), keyCol, tsCol, tieCol), path, BucketCol)
    } finally withKb.unpersist()
  }
}
