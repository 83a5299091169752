package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.HeavyHitters
import MaintainedStore.BatchCol

/** Streaming heavy-hitter maintenance — the foreachBatch twin of
  * [[graft.operators.HeavyHitters]]: each micro-batch contributes its
  * own bounded Misra-Gries summary (≤ k `(value, cnt)` rows plus the
  * batch's non-null total) to a batch-owned store partition; the
  * query side merges the stored summaries with the standard mergeable
  * rule [Agarwal et al., PODS 2012] without ever rescanning the
  * stream.
  *
  * Guarantees preserved under merge: the merged summary is a SUPERSET
  * of every value with true frequency > N/(k+1) over the whole
  * history, and each merged count underestimates the true count by at
  * most N/(k+1). That makes [[approx]] the production query ("which
  * tokens MIGHT exceed 1/k, with bounded-error counts"), and an exact
  * recount — when wanted — a candidate-set `isin` probe over the
  * corpus, exactly the [[HeavyHitters.exact]] second phase.
  *
  * Idempotency: summaries are pure functions of their batch, written
  * to the batch's OWN partition via dynamic partition overwrite (the
  * [[StreamingKmeans]] ownership shape) — replay rewrites identical
  * rows. The store grows one ≤(k+1)-row partition per batch;
  * [[compact]] folds history into the bootstrap partition when batch
  * count, not data size, becomes the nuisance.
  *
  * `k` is a table property (`_graft_hh_k` sidecar, re-checked
  * fail-loud): summaries with different k have different error
  * budgets and must not merge silently.
  */
object StreamingHeavyHitters extends MaintainedStore {

  protected val marker = "_graft_hh_k"

  /** Sentinel row carrying the batch's non-null total (`cnt` = n). */
  val TotalKey = "\u0000__total__"

  private def checkK(path: String, k: Int): Unit =
    checkMarker(path, k.toString, "sketch-size",
      "summaries with different error budgets must not merge")

  private def summarize(rows: DataFrame, valueCol: String, k: Int): DataFrame = {
    val mg = udaf(new HeavyHitters.MisraGries(k))
    // a stream value literally equal to the reserved total sentinel is
    // excluded from maintenance entirely (it would collide with the
    // total's map key and fail the batch at runtime) — cheap insurance
    // for an untrusted value column; the sentinel starts with NUL, so
    // no real token ever pays this
    val agged = rows
      .select(col(valueCol).cast("string").as("__v"))
      .filter(col("__v").isNotNull && col("__v") =!= lit(TotalKey))
      .agg(mg(col("__v")).as("cand"), count(lit(1)).as("n"))
    agged.select(
      explode(map_concat(col("cand"),
        map(lit(TotalKey), col("n")))).as(Seq("value", "cnt")))
  }

  private def readStore(spark: SparkSession, path: String) =
    spark.read
      .schema(s"value STRING, cnt BIGINT, $BatchCol BIGINT")
      .parquet(path)

  /** Bootstrap from an existing corpus (batch id -1; static overwrite
    * truncates, marker after data). */
  def initialize(
      corpus: DataFrame, valueCol: String, path: String, k: Int): Unit = {
    bootstrap(summarize(corpus, valueCol, k).withColumn(BatchCol, lit(-1L)),
      path, BatchCol)(k.toString)
  }

  /** Fold one micro-batch's summary into its own store partition. */
  def applyBatch(
      batch: DataFrame, batchId: Long, valueCol: String,
      path: String, k: Int): Unit = {
    if (checkedEmpty(batch)(checkK(path, k))) return
    MaintainedStore.publish(summarize(batch, valueCol, k).withColumn(BatchCol, lit(batchId)),
      path, BatchCol)
  }

  /** Merge a list of summaries with the mergeable-summaries rule:
    * key-wise sum, then cut back to k by subtracting the (k+1)-th
    * largest combined count. Driver-side over ≤ batches·(k+1) rows. */
  private[graft] def mergeSummaries(
      maps: Seq[Map[String, Long]], k: Int): Map[String, Long] = {
    val combined = new scala.collection.mutable.HashMap[String, Long]()
    maps.foreach(_.foreach { case (v, c) =>
      combined.update(v, combined.getOrElse(v, 0L) + c)
    })
    if (combined.size <= k) combined.toMap
    else {
      val cut = combined.values.toSeq.sorted(Ordering[Long].reverse)(k)
      combined.iterator
        .map { case (v, c) => v -> (c - cut) }
        .filter(_._2 > 0L)
        .toMap
    }
  }

  /** Candidate heavy hitters with bounded-error counts off the store:
    * `(total, candidates)` where every value with true frequency
    * > total/(k+1) is guaranteed present and each count
    * underestimates by at most total/(k+1). */
  def approx(spark: SparkSession, path: String, k: Int): (Long, Map[String, Long]) = {
    checkK(path, k)
    val rows = readStore(spark, path)
      .groupBy(col(BatchCol))
      .agg(map_from_entries(collect_list(struct(col("value"), col("cnt")))).as("m"))
      .collect()
      .map(_.getAs[Map[String, Long]]("m"))
    val total = rows.map(_.getOrElse(TotalKey, 0L)).sum
    (total, mergeSummaries(rows.map(_ - TotalKey).toSeq, k))
  }

  /** Fold batch partitions with id ≤ `upToBatchId` into the bootstrap
    * partition, leaving later partitions untouched. The watermark is
    * the REPLAY-SAFETY line: Structured Streaming only re-delivers
    * batches AFTER the last committed checkpoint, so pass the
    * checkpoint's committed batch id — a folded batch can never
    * replay, and a replay of a later batch still rewrites its own
    * (untouched) partition. Folding an uncommitted batch would count
    * it twice after a replay (inside the compacted bootstrap AND in
    * its recreated partition).
    *
    * The fold is driver-side over the same bounded data [[approx]]
    * already collects (≤ batches·(k+1) rows — run compaction before
    * batch count makes that large); the merged summary keeps the
    * superset + error guarantees, so compaction never loses a true
    * heavy hitter.
    *
    * Crash contract: the compacted store is written to a sibling temp
    * directory and swapped in with two renames, so committed batch
    * summaries (which Structured Streaming will never replay — they
    * are behind the checkpoint) survive a crash at ANY point. Before
    * the first rename the original store is untouched; between the
    * renames there is no directory at `path` (readers fail loud on the
    * missing marker) while the COMPLETE pre-compaction store sits at
    * `<path>.__compact_old` for manual restore; stale temp/old
    * directories from a crash are cleaned on the next compact. */
  def compact(spark: SparkSession, path: String, k: Int, upToBatchId: Long): Unit = {
    // below -1 nothing folds, but the rewrite would still emit a fresh
    // synthetic (TotalKey, 0) row NEXT TO the kept bootstrap rows in
    // partition -1 — a duplicate map key that fails approx() at read
    require(upToBatchId >= -1L,
      s"upToBatchId must be >= -1 (the bootstrap partition), got $upToBatchId")
    checkK(path, k)
    val byBatch = readStore(spark, path)
      .groupBy(col(BatchCol))
      .agg(map_from_entries(collect_list(struct(col("value"), col("cnt")))).as("m"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Map[String, Long]]("m"))
    val (fold, keep) = byBatch.partition(_._1 <= upToBatchId)
    val total  = fold.map(_._2.getOrElse(TotalKey, 0L)).sum
    val merged = mergeSummaries(fold.map(_._2 - TotalKey).toSeq, k)
    val rows =
      (merged + (TotalKey -> total)).toSeq.map { case (v, c) => (v, c, -1L) } ++
        keep.flatMap { case (b, m) => m.toSeq.map { case (v, c) => (v, c, b) } }
    import spark.implicits._
    MaintainedStore.swapCompacted(path) { tmp =>
      bootstrap(rows.toDF("value", "cnt", BatchCol), tmp, BatchCol)(k.toString)
    }
  }
}
