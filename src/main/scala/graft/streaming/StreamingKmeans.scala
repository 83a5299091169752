package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Kmeans

/** Streaming maintenance of k-means cluster statistics — the
  * foreachBatch twin of [[graft.operators.Kmeans]]: every micro-batch
  * of embeddings is assigned to the FIXED reference centroids
  * (scan-local, codegen'd), and its per-(cluster, dimension) counts
  * and sums land in the store; [[recenter]] answers "where are the
  * clusters now" straight off the store, never rescanning the corpus.
  * This is mini-batch k-means factored for replayable streams: the
  * expensive half (assignment over the corpus) is amortized into
  * maintenance, the cheap half (fold + divide over k·d rows) runs at
  * query time.
  *
  * Store layout: `(cluster, pos, n, s)` rows PARTITIONED BY the
  * micro-batch id — a replayed batch overwrites ITS OWN partition via
  * dynamic partition overwrite, so duplicate delivery after a
  * checkpoint/write race is a content no-op (the [[StreamingAdmission]]
  * idempotency shape; sums are not idempotent like register max, so
  * idempotency comes from partition ownership instead). Sums are
  * exact DECIMAL(38,15), making every rewrite byte-identical, not just
  * approximately equal — replay produces the same bytes, and
  * [[recenter]] is deterministic at any parallelism.
  *
  * The reference centroids are a TABLE property: statistics assigned
  * against different centroids must never merge (same hazard as a
  * register-count mismatch in [[StreamingSketch]]), so they are
  * recorded in a `_graft_centroids` sidecar at [[initialize]] and
  * re-checked fail-loud on every batch. Periodic re-training =
  * [[recenter]] → new store via [[initialize]] with the new centroids.
  */
object StreamingKmeans extends MaintainedStore {

  protected val marker = "_graft_centroids"

  /** Decimal type for per-dimension sums: exact, order-independent. */
  private val SumType = "decimal(38,15)"

  private def encode(centroids: Seq[Array[Double]]): String =
    centroids.map(_.mkString(",")).mkString(";")

  private def checkCentroids(path: String, centroids: Seq[Array[Double]]): Unit =
    checkMarker(path, encode(centroids), "centroid",
      "merging statistics assigned against different centroids would corrupt every mean")

  /** Per-(cluster, dim) stats of one batch: `(cluster, pos, n, s)`.
    * One scan-local in-projection assignment ([[Kmeans.clusterColumn]],
    * no join back to the vectors) + ONE partial-aggregated exchange. */
  private def batchStats(
      batch: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame =
    batch
      .withColumn("cluster", Kmeans.clusterColumn(col(vecCol), centroids))
      .where(col("cluster").isNotNull)
      .select(col("cluster"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(SumType)).as("s"))

  private def readStore(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(s"cluster INT, pos INT, n BIGINT, s $SumType, batch_id BIGINT")
      .parquet(path)

  /** Create the store from a bootstrap corpus (batch id -1). */
  def initialize(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], path: String): Unit = {
    bootstrap(batchStats(corpus, idCol, vecCol, centroids).withColumn("batch_id", lit(-1L)),
      path, "batch_id")(encode(centroids))
  }

  /** Fold one micro-batch into the store: assignment stats written to
    * the batch's OWN partition (replay = byte-identical rewrite of
    * that partition, nothing else touched). */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], path: String): Unit = {
    if (checkedEmpty(batch)(checkCentroids(path, centroids))) return
    MaintainedStore.publish(batchStats(batch, idCol, vecCol, centroids)
      .withColumn("batch_id", lit(batchId)), path, "batch_id")
  }

  /** Current cluster means and populations off the store (k·d-row
    * fold, no corpus scan): `(cluster, n, centroid array<double>)`.
    * Clusters that never received a member are absent — callers keep
    * the reference centroid for those (the Lloyd empty-cluster rule).
    */
  def recenter(spark: SparkSession, path: String,
      centroids: Seq[Array[Double]]): DataFrame = {
    checkCentroids(path, centroids)
    readStore(spark, path)
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .withColumn("mean", (col("s") / col("n")).cast("double"))
      .groupBy(col("cluster"))
      .agg(max(col("n")).as("n"),
        array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("cluster"), col("n"),
        transform(col("pm"), x => x.getField("mean")).as("centroid"))
  }
}
