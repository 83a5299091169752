package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import MaintainedStore.BatchCol

/** Streaming maintenance of the line-document-frequency store — the
  * foreachBatch twin of [[graft.operators.Dedup.lineDedup]]'s df pass:
  * every micro-batch of documents writes its per-line distinct-doc
  * counts as a batch-owned summary partition; the corpus-wide df of a
  * line is the SUM of its per-batch counts (exact, because the corpus
  * stream delivers each document once, so batches are disjoint doc
  * sets — the admission-store contract), and the boilerplate set at
  * any moment is `sum >= minDf`.
  *
  * Maintenance algebra (the [[StreamingHeavyHitters]] shape): each
  * batch OWNS partition `__batch_id=<id>` and a replay overwrites
  * exactly that partition with identical content — any interleaving of
  * replays and new batches converges to the once-each store
  * (replay-permutation property-tested with the other six stores).
  * Summaries are additive, so [[compact]] can fold committed
  * partitions into the bootstrap partition with a plain group-sum;
  * the fold is exact, not an approximation.
  *
  * What the store answers:
  *  - [[hotLines]]: the current duplicated-line (boilerplate) set;
  *  - [[cleanWith]]: strip any document set against it WITHOUT
  *    rescanning the corpus ([[Dedup.lineDedupAgainst]]).
  * Hotness is monotone (df only grows), so a batch cleaned at arrival
  * used the df known THEN; the batch-parity contract is on the STORE
  * (streaming df == batch [[Dedup.lineDf]] over the same corpus,
  * spec-pinned) and on [[cleanWith]] over the full corpus, which
  * equals batch [[Dedup.lineDedup]] exactly.
  *
  * The line delimiter is a table property: recorded in a
  * `_graft_line_delim` sidecar at initialize and re-checked fail-loud
  * (summaries split with a different delimiter would silently count a
  * different line universe).
  */
object StreamingLineDedup extends MaintainedStore {

  protected val marker = "_graft_line_delim"

  // exact bytes, NO trim: the default delimiter IS whitespace
  private def checkDelim(path: String, delim: String): Unit =
    checkMarker(path, delim, "delimiter", "different line universes")

  // explicit schema: the empty-corpus bootstrap writes only the marker,
  // and the first micro-batch must still be able to read the store
  private def readStore(spark: SparkSession, path: String) =
    spark.read.schema(s"line STRING, n_docs BIGINT, $BatchCol LONG").parquet(path)

  /** Bootstrap the df store from an existing corpus (batch id -1;
    * static overwrite — re-initializing truncates). */
  def initialize(
      corpus: DataFrame, idCol: String, textCol: String,
      storePath: String, delim: String = "\n"
  ): Unit = {
    bootstrap(Dedup.lineDf(corpus, idCol, textCol, delim).withColumn(BatchCol, lit(-1L)),
      storePath, BatchCol)(delim)
  }

  /** Fold one micro-batch's line summary into the store: the batch's
    * per-line distinct-doc counts overwrite partition
    * `__batch_id=<batchId>` — a replay rewrites identical content. */
  def applyBatch(
      batch: DataFrame, idCol: String, textCol: String,
      storePath: String, delim: String, batchId: Long
  ): Unit = {
    if (checkedEmpty(batch)(checkDelim(storePath, delim))) return
    MaintainedStore.publish(
      Dedup.lineDf(batch, idCol, textCol, delim).withColumn(BatchCol, lit(batchId)),
      storePath, BatchCol)
  }

  /** The current duplicated-line set: lines whose summed df reached
    * `minDf` — one aggregation over the (line-universe-sized, NOT
    * corpus-sized) store. */
  def hotLines(
      spark: SparkSession, storePath: String, minDf: Int, delim: String = "\n"
  ): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    checkDelim(storePath, delim)
    readStore(spark, storePath)
      .groupBy(col("line"))
      .agg(sum(col("n_docs")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("line"))
  }

  /** Strip `docs` against the maintained store ([[Dedup
    * .lineDedupAgainst]] semantics: id, n_lines, n_removed,
    * text_clean). Over the full maintained corpus this equals batch
    * [[Dedup.lineDedup]] exactly (spec-pinned). */
  def cleanWith(
      docs: DataFrame, idCol: String, textCol: String,
      storePath: String, minDf: Int, delim: String = "\n"
  ): DataFrame =
    Dedup.lineDedupAgainst(docs, idCol, textCol,
      hotLines(docs.sparkSession, storePath, minDf, delim), delim)

  /** Fold batch partitions with id ≤ `upToBatchId` into the bootstrap
    * partition (-1) by exact group-sum — run it when partition count,
    * not data volume, is the cost. Pass the checkpoint's committed
    * batch id: a folded batch can never replay (Structured Streaming
    * re-delivers only past the checkpoint), and a replay of a later
    * batch still rewrites its own untouched partition.
    *
    * MUST run with the [[MaintainedStore.maintain]] stream STOPPED (or
    * between triggers) — the `upToBatchId` contract implies it, but not only
    * for replay reasons: compact reads the live store lazily and then
    * swaps directories, so a partition written by a concurrent
    * micro-batch between the read and the rename would be silently
    * ABSENT from the compacted store, and the concurrent batch's write
    * can itself fail on the missing directory during the rename
    * window. Stop the query, compact, restart.
    *
    * Crash contract (the [[StreamingHeavyHitters]] two-rename swap):
    * the compacted store builds in a sibling temp dir and swaps in via
    * two renames — before the first rename the original store is
    * untouched; between them readers fail loud on the missing marker
    * while the complete pre-compaction store sits at
    * `<path>.__compact_old` for manual restore. */
  def compact(
      spark: SparkSession, storePath: String, delim: String, upToBatchId: Long
  ): Unit = {
    require(upToBatchId >= -1L,
      s"upToBatchId must be >= -1 (the bootstrap partition), got $upToBatchId")
    checkDelim(storePath, delim)
    val store  = readStore(spark, storePath)
    val folded = store.filter(col(BatchCol) <= upToBatchId)
      .groupBy(col("line"))
      .agg(sum(col("n_docs")).as("n_docs"))
      .withColumn(BatchCol, lit(-1L))
    val keep = store.filter(col(BatchCol) > upToBatchId)
    MaintainedStore.swapCompacted(storePath) { tmp =>
      bootstrap(folded.unionByName(keep.select(col("line"), col("n_docs"), col(BatchCol))),
        tmp, BatchCol)(delim)
    }
  }
}
