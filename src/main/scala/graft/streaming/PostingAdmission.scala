package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import MaintainedStore.{BatchCol, BucketCol, bucketOf, overwrite, publish, readBatch, readTouched}

/** The posting-admission core of the near-dup ([[StreamingNearDup]]),
  * winnow ([[StreamingWinnowDedup]]), hamming ([[StreamingImageDedup]],
  * [[StreamingAudioDedup]]) and video ([[StreamingVideoDedup]]) stores:
  * admit a batch of items against a POSTING table of everything
  * admitted so far, append the admitted rows to a batch-owned sink,
  * and fold their postings into the store. The incremental load is
  * written once, as one shape: probe what is already loaded, then
  * publish.
  *
  *  - '''Store.''' `(id, <posting columns>)` rows partitioned by
  *    `pmod(hash(<bucket keys>), numBuckets)`
  *    ([[MaintainedStore.bucketOf]]). A batch computes its own postings
  *    scan-locally, READS only the buckets they land in, and REWRITES
  *    only those buckets as a set union (distinct + dynamic partition
  *    overwrite), so a replay rebuilds byte-identical buckets.
  *  - '''Sink.''' Admitted rows under their own
  *    [[MaintainedStore.BatchCol]] partition, dynamically overwritten:
  *    a replay replaces its partition instead of duplicating it. The
  *    bootstrap corpus is batch -1, admitted wholesale.
  *  - '''Sink first, postings second.''' A crash between the two
  *    writes replays with the admitted items' postings still absent
  *    from the store, so the same admitted set recomputes and both
  *    writes repeat byte-identically. In the other order, a store
  *    whose replay self-rejects (near-dup, hamming) would reject the
  *    items against their own fresh postings and leave them out of
  *    the sink for good.
  *  - '''Parameters''' are table properties: `Params.encoded` is the
  *    marker `initialize` writes last and every batch checks
  *    byte-exactly, because postings built under other parameters must
  *    never merge.
  *
  * A store is an object that supplies its marker name, its posting
  * columns (the store's read-back schema after the BIGINT id, explicit
  * so the empty-store cold start reads), its bucket keys, its `Params`,
  * its postings pass [[postingsOf]] and its match rule [[admit]];
  * [[bootstrapSink]] says what its sink keeps of a bootstrap corpus.
  * Every store's admission is the in-batch min-id representative of
  * each match component that matches nothing already admitted.
  *
  * [[StreamingAdmission]] is not one of these: its fingerprint store
  * is a set that publishes append-only (never-seen fingerprints as new
  * files), not by rewriting touched buckets.
  */
abstract class PostingAdmission(
    protected val marker: String, postingSchema: String, bucketKeys: String*)
  extends MaintainedStore {

  type Params <: PostingAdmission.Params

  /** The posting rows `(id, <posting columns>)` of `items`. */
  protected def postingsOf(
      items: DataFrame, idCol: String, contentCol: String, p: Params): DataFrame

  /** The batch rows to admit (the sink rows): `posts` are the batch's
    * bucketed postings (persisted), `stored` the store's touched
    * buckets, `sinkPath` the admitted corpus so far. */
  protected def admit(
      batch: DataFrame, posts: DataFrame, stored: DataFrame,
      idCol: String, contentCol: String, sinkPath: String, p: Params): DataFrame

  /** What the sink keeps of a bootstrap corpus: its rows whole. */
  protected def bootstrapSink(corpus: DataFrame, posts: DataFrame, idCol: String): DataFrame =
    corpus

  protected def requireBigintId(items: DataFrame, idCol: String): Unit =
    require(items.schema(idCol).dataType == LongType,
      s"${getClass.getSimpleName.stripSuffix("$")} requires a BIGINT id column; " +
        s"'$idCol' is ${items.schema(idCol).dataType.simpleString}")

  private def bucketed(items: DataFrame, idCol: String, contentCol: String, p: Params) =
    postingsOf(items, idCol, contentCol, p)
      .withColumn(BucketCol, bucketOf(p.numBuckets, bucketKeys.map(col): _*))

  /** Bootstrap the posting store AND the sink from an existing corpus
    * (static overwrite truncates; marker written after the data). */
  def initialize(
      corpus: DataFrame, idCol: String, contentCol: String,
      storePath: String, sinkPath: String, p: Params): Unit = {
    val posts = bucketed(corpus, idCol, contentCol, p)
    overwrite(bootstrapSink(corpus, posts, idCol).withColumn(BatchCol, lit(-1L)),
      sinkPath, BatchCol)
    bootstrap(posts, storePath, BucketCol)(p.encoded)
  }

  /** Admit one batch against the posting store + sink. */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String, contentCol: String,
      storePath: String, sinkPath: String, p: Params): Unit = {
    if (checkedEmpty(batch)(checkMarker(storePath, p.encoded, "posting-table parameter",
      "postings built under other parameters must never merge — mixing " +
        "them silently corrupts candidate generation"))) return
    // the postings feed the touched-bucket probe, the match and the
    // posting union — persist or they recompute per use
    val posts = bucketed(batch, idCol, contentCol, p).persist()
    try {
      val stored = readTouched(posts, storePath,
        Some(s"`$idCol` BIGINT, $postingSchema, $BucketCol INT"))
      // persist: the admitted set feeds both writes; recomputed, the
      // second run would race the sink write it follows
      val admitted = admit(batch, posts, stored, idCol, contentCol, sinkPath, p).persist()
      try {
        publish(admitted.withColumn(BatchCol, lit(batchId)), sinkPath, BatchCol)
        // admitted postings are a subset of the batch's, so they land
        // only in touched buckets
        publish(
          stored.unionByName(posts.join(admitted.select(col(idCol)), Seq(idCol), "left_semi"))
            .distinct(),
          storePath, BucketCol)
      } finally admitted.unpersist(blocking = false)
    } finally posts.unpersist()
  }

  /** The ids batch `batchId` admitted ([[MaintainedStore.readBatch]]):
    * empty when it admitted nothing or no sink exists yet, while a
    * corrupt sink fails. Read as BIGINT (every store's id casts to it;
    * a narrower stored id widens). */
  def admittedIds(
      spark: SparkSession, batchId: Long, idCol: String, sinkPath: String): DataFrame =
    readBatch(spark, sinkPath, batchId, StructType.fromDDL(s"`$idCol` BIGINT"))
}

object PostingAdmission {

  /** What the core needs of a store's parameters: the bucket count and
    * the marker payload. */
  trait Params {
    def numBuckets: Int
    def encoded: String
  }

  /** The media stores' bootstrap shape: content in a `payload`
    * column. */
  trait PayloadContent { this: PostingAdmission =>
    def initialize(
        corpus: DataFrame, idCol: String,
        storePath: String, sinkPath: String, p: this.Params): Unit =
      initialize(corpus, idCol, "payload", storePath, sinkPath, p)
  }
}
