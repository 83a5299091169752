package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RegisterSketch

/** Streaming maintenance of a daily count-distinct sketch table — the
  * foreachBatch twin of the batch register build
  * (`sketch_count_distinct`), feeding the rolling-window distinct
  * query (`sketch_rolling_distinct`) without ever rescanning the
  * event log.
  *
  * Store layout: one row per day, `(ts_day_id, sk map<int,int>)`,
  * PARTITIONED BY day — a micro-batch touches only the days its
  * events land in (normally one or two trailing partitions at
  * 100 TB), reads exactly those, merges register-wise and rewrites
  * only them via dynamic partition overwrite. History partitions are
  * never read, never rewritten.
  *
  * Effective exactly-once without a transactional sink: register
  * merge is max per bucket, and max is idempotent — re-applying a
  * micro-batch the store already absorbed rebuilds byte-identical
  * day rows, so a replay after a checkpoint/write race is a content
  * no-op (StreamingSpec pins this and batch parity).
  *
  * The register count `m` is a TABLE property: merging stores built
  * with different m silently drops registers (same hazard as a
  * bucket-modulus mismatch in [[StreamingUpsert]]), so it is recorded
  * in a `_graft_sketch_m` sidecar at [[initialize]] and re-checked
  * fail-loud on every maintenance step.
  */
object StreamingSketch extends MaintainedStore {

  protected val marker = "_graft_sketch_m"

  val DayCol = "ts_day_id"

  private def dayOf(tsCol: String) =
    floor(unix_timestamp(col(tsCol)) / 86400L).cast("long").as(DayCol)

  // explicit schema on read-back: pins the partition-directory day id
  // to long (inference narrows it to int, breaking unions against
  // freshly-built daily sketches) AND survives an empty store (an
  // empty-events bootstrap writes a marker but no parquet files;
  // inference over the empty dir would throw on the first batch)
  private val StoreSchema = s"sk MAP<INT, INT>, $DayCol BIGINT"

  private def checkM(path: String, m: Int): Unit =
    checkMarker(path, m.toString, "register-count",
      "merging mismatched registers silently corrupts estimates")

  private def dailySketches(rows: DataFrame, tsCol: String, valueCol: String, m: Int): DataFrame =
    rows.groupBy(dayOf(tsCol))
      .agg(RegisterSketch.buildAgg(m)(RegisterSketch.hashColumn(col(valueCol))).as("sk"))

  /** Create the day-partitioned sketch store from an initial event
    * log (the batch bootstrap). */
  def initialize(
      events: DataFrame, tsCol: String, valueCol: String, path: String, m: Int
  ): Unit = {
    bootstrap(dailySketches(events, tsCol, valueCol, m), path, DayCol)(m.toString)
  }

  /** Fold one micro-batch of events into the store: sketch the batch
    * per day, read ONLY the touched day partitions, merge
    * register-wise, rewrite only those partitions. Idempotent on
    * replay (register max). Exposed for tests and custom sinks. */
  def applyBatch(
      batch: DataFrame, tsCol: String, valueCol: String, path: String, m: Int
  ): Unit = {
    if (checkedEmpty(batch)(checkM(path, m))) return
    val batchDaily = dailySketches(batch, tsCol, valueCol, m)
    batchDaily.persist()
    try {
      val stored = MaintainedStore.readTouched(batchDaily, path, Some(StoreSchema), DayCol)
      MaintainedStore.publish(stored.unionByName(batchDaily)
        .groupBy(col(DayCol))
        .agg(RegisterSketch.mergeAgg(m)(col("sk")).as("sk")), path, DayCol)
    } finally batchDaily.unpersist()
  }

  /** Rolling `windowDays`-day distinct estimate per day, straight off
    * the maintained store (|days|-row data; RANGE frame skips
    * calendar gaps) — the query side of `sketch_rolling_distinct`
    * with the corpus scan already amortized into maintenance. */
  def rollingDistinct(
      spark: org.apache.spark.sql.SparkSession, path: String, m: Int, windowDays: Int
  ): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    checkM(path, m)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(DayCol)).rangeBetween(-(windowDays - 1L), 0L)
    spark.read.schema(StoreSchema).parquet(path)
      .withColumn("rsk", RegisterSketch.mergeAgg(m)(col("sk")).over(w))
      .select(col(DayCol),
        RegisterSketch.estimateUdf(m)(col("rsk")).as("approx_users"))
  }
}
