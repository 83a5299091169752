package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import MaintainedStore.{BucketCol, bucketOf}

/** Maintained ANN postings/codes store — the incremental half of the
  * [[graft.operators.AnnIndex]] train-once workflow: the model
  * (IVF centroids / PQ codebooks) is FROZEN, and each batch of corpus
  * vectors encodes ONLY its new ids against it, appending to a
  * persistent encoded table. A nightly 100 TB corpus pays encoding
  * once per vector over its lifetime, not once per night — and
  * because the model never moves, the incrementally-built table is
  * IDENTICAL to a from-scratch encode of the full corpus
  * (spec-pinned), so search quality cannot drift batch to batch.
  *
  * Store layout is the [[StreamingAdmission]] bucket discipline:
  * encoded rows partitioned by an id-hash bucket; a batch reads only
  * the buckets its own ids land in and APPENDS only its new rows
  * (the store is insert-only by contract — one frozen-model encode
  * per id, ever — so nothing is rewritten and no live file is ever
  * deleted under a concurrent reader). Replay idempotent by
  * construction: encoding is a pure function of (id, vector, model),
  * and a replayed batch's ids anti-join out against the store, so
  * re-runs append nothing.
  *
  * The store is family-agnostic — the caller supplies the encode
  * function and the store schema (`id BIGINT, cell INT, vector
  * ARRAY<FLOAT>` for IVF postings; `id BIGINT, codes ARRAY<INT>` for
  * PQ codes); this object owns only keying, pruning, and replay.
  */
object StreamingAnnIndex extends MaintainedStore {

  // initialize writes _graft_schema LAST: the other two markers are
  // meaningless without the family it pins, and every generation of
  // the store (including those from before _graft_partitioning
  // existed) carries it
  protected val marker = "_graft_schema"
  private val BucketsMarker = "_graft_buckets"
  private val PartitioningMarker = "_graft_partitioning"

  /** Field names of a DDL schema string via the real parser — a naive
    * comma split breaks on parameterized types (`DECIMAL(38,2)`,
    * `MAP<INT,INT>`) the moment a future family uses one. */
  private def schemaFieldNames(schema: String): Array[String] =
    org.apache.spark.sql.types.StructType.fromDDL(schema).fieldNames

  // The SCHEMA is a marker too: the store's family is a property of
  // the data, and a caller whose model param silently switched family
  // (ivf store read with the pq schema) would otherwise read stored
  // rows as NULLs, anti-join nothing out, and append wrong-schema rows
  // — permanent silent corruption. Fail loud instead.
  private def checkSchema(path: String, schema: String): Unit =
    checkMarker(path, schema.trim, "schema",
      "did the model table's family change? Re-reading with the wrong " +
        "schema would silently corrupt the store")

  /** Read the full encoded table (plumbing dropped) — what a `knn`
    * step searches. `schema` must be the same string the store was
    * initialized with (explicit: an empty bootstrap has a marker but
    * no files, and inference would throw on the cold start). */
  def readEncoded(
      spark: org.apache.spark.sql.SparkSession, storePath: String, schema: String
  ): DataFrame = {
    checkSchema(storePath, schema)
    // partition columns surface at the END of a partitioned read's
    // schema regardless of the declared order — re-select the declared
    // order so positional consumers see the same shape on every layout
    val declared = schemaFieldNames(schema)
    spark.read.schema(s"$schema, $BucketCol INT").parquet(storePath)
      .select(declared.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }

  /** The store's on-disk partition layout — a data property recorded
    * at initialize time (`_graft_partitioning` marker) and read back
    * by every write, so one store can never mix layouts. A store
    * initialized before the marker existed IS the bucket-only layout
    * by construction — defaulting (instead of failing) keeps
    * long-lived pay-encode-once stores usable across the upgrade. */
  private def partitioning(path: String): Seq[String] =
    MaintainedStore.readMarker(path, PartitioningMarker)
      .fold(Seq(BucketCol))(_.trim.split(",").map(_.trim).toSeq)

  /** Bootstrap an empty store (markers only; the first batch encodes
    * everything it sees). `schema` pins the store's family for every
    * later read. `partitionCols` pins the physical layout: the default
    * id-hash bucket only, or — for cell-carrying families — a
    * two-level `(cell, bucket)` layout, which keeps the admit
    * anti-join's bucket pruning AND gives stored-index queries
    * partition pruning on their probed cells (at 1024 cells and
    * nProbe 3 a query batch reads ~nProbe/nCells of the index
    * instead of row-filtering a full scan — the
    * [[graft.operators.AnnIndex]] `partitionBy("cell")` discipline,
    * now available on the MAINTAINED store too). Must include
    * [[MaintainedStore.BucketCol]]; every other column must exist in `schema`. */
  def initialize(storePath: String, numBuckets: Int, schema: String,
      partitionCols: Seq[String] = Seq(BucketCol)): Unit = {
    MaintainedStore.requireBuckets(numBuckets)
    require(partitionCols.contains(BucketCol),
      s"partitionCols must include $BucketCol (the admit anti-join's " +
        s"bucket pruning depends on it), got ${partitionCols.mkString(", ")}")
    val schemaCols = schemaFieldNames(schema).toSet
    partitionCols.filterNot(_ == BucketCol).foreach(c =>
      require(schemaCols.contains(c),
        s"partition column '$c' is not in the store schema '$schema'"))
    MaintainedStore.writeMarker(storePath, PartitioningMarker, partitionCols.mkString(","))
    MaintainedStore.writeMarker(storePath, BucketsMarker, numBuckets.toString)
    writeMarker(storePath, schema.trim)
  }

  /** Encode one batch's NEW vectors and append them. `batch` carries
    * `(id, ...vector columns...)` — `encode` maps the new-rows subset
    * to its encoded shape, which must start with the same `id`
    * values (one row per id). Duplicate ids within a batch fail loud
    * (two embeddings for one id is a corrupt corpus, not a policy
    * choice). Returns the batch's row count (one scheduled pass gives
    * it for free — callers like [[graft.operators.AnnLifecycle]] would
    * otherwise pay a separate full corpus `count()` every night). */
  def applyBatch(
      batch: DataFrame, idCol: String, storePath: String, schema: String,
      numBuckets: Int, encode: DataFrame => DataFrame
  ): Long = {
    if (checkedEmpty(batch) {
      MaintainedStore.checkMarker(storePath, BucketsMarker, numBuckets.toString,
        "bucket-count", "pruning with the wrong modulus would re-encode known " +
          "vectors or miss stored ones")
      checkSchema(storePath, schema)
    }) return 0L
    require(!batch.columns.contains(BucketCol),
      s"input already has a '$BucketCol' column — rename it first")
    require(idCol == "id" || !batch.columns.contains("id"),
      s"input has both an 'id' column and id column '$idCol' — rename one")
    val spark = batch.sparkSession
    val keyed = batch.withColumn("id", col(idCol).cast("long"))
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    // a NULL id passes the integral-type check but never matches the
    // left_anti join below (null join keys match nothing), so the row
    // would re-encode and append a duplicate store row on EVERY batch
    // that carries it — fail loud beside the duplicate-id guard
    val guarded = keyed.withColumn("__dup",
      when(col("id").isNull,
        raise_error(lit("StreamingAnnIndex: NULL id in batch — null ids " +
          "evade the seen-id anti-join and would re-append every batch")))
      .when(count(lit(1)).over(wk) > 1,
        raise_error(concat(lit("StreamingAnnIndex: id "), col("id").cast("string"),
          lit(" appears more than once in the batch — one embedding per id"))))
        .otherwise(lit(true)))
      .filter(col("__dup")).drop("__dup")
      .withColumn(BucketCol, bucketOf(numBuckets, col("id")))
    guarded.persist()
    try {
      // bounded driver materialization: at most numBuckets rows — and
      // the same pass yields the batch row count, so callers never pay
      // a second corpus scan just to count what they admitted
      val bucketCounts = guarded.groupBy(col(BucketCol)).count().collect()
      val nBatch = bucketCounts.map(_.getLong(1)).sum
      val stored = MaintainedStore.readTouched(spark, storePath,
        Some(s"$schema, $BucketCol INT"), BucketCol, bucketCounts.map(_.get(0)).toSeq)
      // only vectors the store has never seen encode — the model is
      // frozen, so known ids' stored codes are already THE codes
      val newRows = guarded
        .join(stored.select(col("id")), Seq("id"), "left_anti")
        .drop(BucketCol)
      val encoded = encode(newRows)
      require(encoded.columns.headOption.contains("id"),
        "StreamingAnnIndex: encode must return rows keyed by 'id' " +
          s"(got ${encoded.columns.mkString(", ")})")
      // APPEND-ONLY publish: the store is insert-only by contract (one
      // frozen-model encode per id, ever), so a night's write is
      // O(batch), not O(store), and no live file is ever deleted
      // mid-read (the old rewrite was the FileNotFoundException source
      // under concurrent readers)
      MaintainedStore.append(encoded.withColumn(BucketCol, bucketOf(numBuckets, col("id"))),
        storePath, partitioning(storePath): _*)
      nBatch
    } finally guarded.unpersist()
  }
}
