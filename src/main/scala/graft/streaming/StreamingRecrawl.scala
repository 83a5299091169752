package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Recrawl
import MaintainedStore.{BatchCol, BucketCol, bucketOf, publish, readTouched}

/** Maintained last-fetch store + recrawl admission — the stateful
  * twin of [[Recrawl.dueVerdicts]] and the 13th maintenance store:
  * each batch of discovered URLs (sitemap/feed listings with their
  * `lastmod`/`changefreq` hints) is judged against the persistent
  * last-fetch table, the DUE subset becomes the batch's frontier
  * (written to the sink's batch partition), and the store records the
  * due URLs as fetched at the batch's scheduling instant — the loop
  * that keeps a 100 TB corpus fresh instead of merely built.
  *
  * Store layout is the [[StreamingUpsert]] bucket discipline: rows
  * `(url_fp, url, last_fetch_ts, prev_fetch_ts, last_batch_id,
  * last_fp, prev_fp, fp_batch_id)` partitioned by a
  * url-fingerprint-hash bucket, so a batch READS only the buckets its
  * own URLs land in and REWRITES only those via dynamic partition
  * overwrite. `numBuckets` is a table property in the shared
  * `_graft_buckets` sidecar, re-checked fail-loud.
  *
  * The store serves BOTH halves of the freshness loop: the DISCOVERY
  * loop ([[applyBatch]]) reads `last_fetch_ts` to judge due-ness; the
  * POST-FETCH loop ([[applyFetchBatch]]) compares each fetched page's
  * content fingerprint against `last_fp` ([[Recrawl.changeVerdicts]])
  * so a re-fetched-but-identical page emits `content_changed = false`
  * and downstream re-processing (extraction, dedup admission,
  * annotation) is suppressed — and then records the new fingerprint +
  * fetch instant. A store written before the fingerprint columns
  * existed reads them as NULL (= no fingerprint recorded →
  * conservative `new`).
  *
  * Replay idempotency needs more than latest-wins here, because the
  * batch's own write CHANGES the verdict input (a URL marked fetched
  * "now" is no longer aged): store rows carry the PREVIOUS fetch
  * instant and the id of the batch that last touched them, and a row
  * whose `last_batch_id` equals the CURRENT batch id is evaluated at
  * its `prev_fetch_ts` — the value it had before this batch's first
  * (partial) run. foreachBatch replays only the most recent batch, so
  * one step of history is exactly enough: a replayed batch computes
  * identical verdicts, rewrites an identical sink partition, and
  * rebuilds byte-identical store buckets. Spec-pinned.
  *
  * In-batch duplicate URLs collapse to ONE frontier row (min lastmod
  * ordering is irrelevant — hints merge by max lastmod-parse, the
  * conservative "some channel says it changed" rule) so two sitemaps
  * listing the same resource schedule one fetch.
  */
object StreamingRecrawl extends MaintainedStore {

  protected val marker = "_graft_buckets"

  private val StoreSchema =
    s"__url_fp STRING, url STRING, last_fetch_ts LONG, prev_fetch_ts LONG, " +
      s"last_batch_id LONG, last_fp STRING, prev_fp STRING, fp_batch_id LONG, " +
      s"unchanged_streak LONG, prev_streak LONG, " +
      s"fp_ts LONG, prev_fp_ts LONG, $BucketCol INT"

  private def checkBuckets(path: String, numBuckets: Int): Unit =
    checkMarker(path, numBuckets.toString, "bucket-count",
      "pruning with the wrong modulus would miss fetch records and re-crawl " +
        "the whole frontier")

  /** Bootstrap an EMPTY last-fetch store (or from an existing fetch
    * log carrying `(urlCol, last_fetch_ts)`). */
  def initialize(
      fetchLog: DataFrame, urlCol: String, storePath: String, numBuckets: Int
  ): Unit = {
    bootstrap(fetchLog
      .select(md5(col(urlCol).cast("string")).as("__url_fp"),
        col(urlCol).cast("string").as("url"),
        col("last_fetch_ts").cast("long").as("last_fetch_ts"),
        lit(null).cast("long").as("prev_fetch_ts"),
        lit(-1L).as("last_batch_id"),
        lit(null).cast("string").as("last_fp"),
        lit(null).cast("string").as("prev_fp"),
        lit(-1L).as("fp_batch_id"),
        lit(null).cast("long").as("unchanged_streak"),
        lit(null).cast("long").as("prev_streak"),
        lit(null).cast("long").as("fp_ts"),
        lit(null).cast("long").as("prev_fp_ts"))
      .withColumn(BucketCol, bucketOf(numBuckets, col("__url_fp")))
      // cluster by bucket before the partitioned write: unclustered,
      // EVERY upstream partition writes a file into EVERY bucket dir
      // (tasks × buckets tiny files); clustered it is one file per
      // bucket. Explicit partition count so AQE cannot coalesce the
      // write to a single sequential task (MaintainedStore.append note).
      .repartition(fetchLog.sparkSession.sessionState.conf.numShufflePartitions,
        col(BucketCol)),
      storePath, BucketCol)(numBuckets.toString)
  }

  /** Judge one discovery batch and advance the store. Due rows land in
    * `sinkPath/<BatchCol>=<batchId>` with `recrawl_reason` attached
    * (input columns preserved — survivor-step composability); the
    * touched store buckets are rewritten with the due URLs stamped
    * `last_fetch_ts = nowTs`. `nowTs` is the batch's scheduling
    * instant (epoch seconds) — explicit, because a replayed batch must
    * re-evaluate at the ORIGINAL instant to rebuild identical state. */
  def applyBatch(
      batch: DataFrame, idCol: String, urlCol: String,
      lastmodCol: String, changefreqCol: String,
      storePath: String, sinkPath: String, numBuckets: Int, batchId: Long,
      nowTs: Long, defaultAgeS: Long, adaptive: Boolean = false
  ): Unit = {
    if (checkedEmpty(batch)(checkBuckets(storePath, numBuckets))) return
    Seq("__url_fp", BucketCol, BatchCol, "recrawl_due", "recrawl_reason").foreach(c =>
      require(!batch.columns.contains(c),
        s"input already has a '$c' column — rename it first"))
    val spark = batch.sparkSession

    // in-batch collapse: one row per URL — keep the min-id
    // representative's row, but merge the change hints conservatively
    // (max parseable lastmod across the duplicates; a changefreq
    // disagreement keeps the representative's value — revisit POLICY
    // belongs to one listing, change EVIDENCE to all of them)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__url_fp")).orderBy(col(idCol))
    val withFp = batch
      .withColumn("__url_fp", md5(col(urlCol).cast("string")))
      .withColumn(lastmodCol,
        max(try_to_timestamp(nullif(trim(col(lastmodCol)), lit(""))))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__url_fp")))
          .cast("string"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn(BucketCol, bucketOf(numBuckets, col("__url_fp")))
    withFp.persist()
    try {
      val stored = readTouched(withFp, storePath, Some(StoreSchema))
      // replay self-exclusion: a row this batch already touched is
      // evaluated at its pre-batch value
      val evalTs = when(col("last_batch_id") === batchId, col("prev_fetch_ts"))
        .otherwise(col("last_fetch_ts"))
      val evalStreak = when(col("fp_batch_id") === batchId, col("prev_streak"))
        .otherwise(col("unchanged_streak"))
      val lastFetch = stored
        .select(col("url").as(urlCol), evalTs.as("last_fetch_ts"),
          evalStreak.as("unchanged_streak"))
        .filter(col("last_fetch_ts").isNotNull)
      val verdicts =
        if (adaptive) Recrawl.dueVerdictsAdaptive(
          withFp, urlCol, lastmodCol, changefreqCol, lastFetch, nowTs, defaultAgeS)
        else Recrawl.dueVerdicts(
          withFp, urlCol, lastmodCol, changefreqCol, lastFetch, nowTs, defaultAgeS)
      verdicts.persist()
      try {
        // the batch's frontier: due rows, plumbing dropped
        publish(verdicts.filter(col("recrawl_due"))
          .drop("recrawl_due", "__url_fp", BucketCol)
          .withColumn(BatchCol, lit(batchId))
          // AQE-sized sink files: unbalanced, every post-shuffle
          // partition of the persisted verdicts writes its own tiny
          // file into the batch dir; rebalanced, files target the
          // advisory partition size (one at batch scale, split at
          // cluster scale)
          .hint("rebalance"), sinkPath, BatchCol)
        // store advance: due URLs get last_fetch_ts = nowTs with one
        // step of history; everything else in the touched buckets
        // rewrites VERBATIM (all history columns as-read — a replayed
        // batch rewrites the same rows again, and the post-fetch
        // loop's fingerprint stamps survive untouched even when the
        // two loops interleave in one night). The fingerprint triple
        // is never evaluated here — this loop does not write it.
        val dueFps = verdicts.filter(col("recrawl_due"))
          .select(col("__url_fp"),
            col(urlCol).cast("string").as("__due_url"))
        val kept = stored
          .join(dueFps.select(col("__url_fp")), Seq("__url_fp"), "left_anti")
          .select(col("__url_fp"), col("url"), col("last_fetch_ts"),
            col("prev_fetch_ts"), col("last_batch_id"),
            col("last_fp"), col("prev_fp"), col("fp_batch_id"),
            col("unchanged_streak"), col("prev_streak"),
            col("fp_ts"), col("prev_fp_ts"))
        val advanced = dueFps
          .join(stored.select(col("__url_fp"), evalTs.as("__prev_ts"),
            col("last_fp"), col("prev_fp"), col("fp_batch_id"),
            col("unchanged_streak"), col("prev_streak"),
            col("fp_ts"), col("prev_fp_ts")),
            Seq("__url_fp"), "left")
          .select(col("__url_fp"), col("__due_url").as("url"),
            lit(nowTs).as("last_fetch_ts"),
            col("__prev_ts").as("prev_fetch_ts"),
            lit(batchId).as("last_batch_id"),
            col("last_fp"), col("prev_fp"),
            coalesce(col("fp_batch_id"), lit(-1L)).as("fp_batch_id"),
            col("unchanged_streak"), col("prev_streak"),
            col("fp_ts"), col("prev_fp_ts"))
        publish(kept.unionByName(advanced)
          .withColumn(BucketCol, bucketOf(numBuckets, col("__url_fp")))
          // cluster by bucket: one rewritten file per touched bucket
          // instead of one per (upstream partition × bucket) — see
          // initialize()'s note
          .repartition(spark.sessionState.conf.numShufflePartitions,
            col(BucketCol)), storePath, BucketCol)
      } finally verdicts.unpersist()
    } finally withFp.unpersist()
  }

  /** Judge one POST-FETCH batch against the store's fingerprints and
    * advance them — the change-detection half of the loop. `batch`
    * carries fetched pages `(idCol, urlCol, fpCol, ...)` where `fpCol`
    * is a stable content address (text md5, pixel_md5). Every batch
    * row lands in `sinkPath/<BatchCol>=<batchId>` annotated with
    * `change_kind` / `content_changed` ([[Recrawl.changeVerdicts]] —
    * downstream suppresses `content_changed = false` rows); the
    * touched store buckets rewrite with `last_fp` = the batch's
    * fingerprint and `last_fetch_ts = nowTs` (a completed fetch IS the
    * authoritative fetch record), one step of history on both triples
    * for replay self-exclusion. `unchanged_streak` counts consecutive
    * unchanged re-fetches (any change or first sight resets to 0) —
    * the adaptive-revisit signal [[Recrawl.dueVerdictsAdaptive]]
    * stretches intervals by. In-batch duplicate URLs collapse to
    * the min-id representative's row. Untouched rows in touched
    * buckets rewrite verbatim, so the discovery loop's stamps survive
    * interleaving. */
  def applyFetchBatch(
      batch: DataFrame, idCol: String, urlCol: String, fpCol: String,
      storePath: String, sinkPath: String, numBuckets: Int, batchId: Long,
      nowTs: Long
  ): Unit = {
    if (checkedEmpty(batch)(checkBuckets(storePath, numBuckets))) return
    Seq("__url_fp", BucketCol, BatchCol, "change_kind", "content_changed")
      .foreach(c => require(!batch.columns.contains(c),
        s"input already has a '$c' column — rename it first"))
    val spark = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__url_fp")).orderBy(col(idCol))
    val withFp = batch
      .withColumn("__url_fp", md5(col(urlCol).cast("string")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn(BucketCol, bucketOf(numBuckets, col("__url_fp")))
    withFp.persist()
    try {
      val stored = readTouched(withFp, storePath, Some(StoreSchema))
      // replay self-exclusion on the FINGERPRINT triple: a row this
      // batch already stamped is compared at its pre-batch fingerprint
      val evalFp = when(col("fp_batch_id") === batchId, col("prev_fp"))
        .otherwise(col("last_fp"))
      val evalTs = when(col("last_batch_id") === batchId, col("prev_fetch_ts"))
        .otherwise(col("last_fetch_ts"))
      // the capture instant of the payload-bearing record (the batch
      // that last CHANGED the content) — what a WARC revisit's
      // Refers-To-Date must point at, with the same one-step history
      // for replay self-exclusion
      val evalFpTs = when(col("fp_batch_id") === batchId, col("prev_fp_ts"))
        .otherwise(col("fp_ts"))
      val lastFp = stored.select(col("url").as(urlCol), evalFp.as("last_fp"))
      val verdicts = Recrawl.changeVerdicts(withFp, urlCol, fpCol, lastFp)
      verdicts.persist()
      try {
        // sink rows carry content_fp_ts: for an unchanged row, the
        // payload-bearing capture's instant (pre-batch fp_ts) — an
        // export_warc revisit points its Refers-To-Date there, so a
        // page unchanged across MANY nights always refers to the
        // response record, never to an intermediate revisit
        val refTs = stored.select(col("url").as("__rd_url"),
          evalFpTs.as("content_fp_ts"))
        publish(verdicts
          .join(refTs, verdicts(urlCol).cast("string") === col("__rd_url"), "left")
          .drop("__rd_url")
          .drop("__url_fp", BucketCol)
          .withColumn(BatchCol, lit(batchId))
          // AQE-sized sink files (see applyBatch's sink note)
          .hint("rebalance"), sinkPath, BatchCol)
        val batchFps = verdicts.select(col("__url_fp"),
          col(urlCol).cast("string").as("__b_url"),
          col(fpCol).cast("string").as("__b_fp"),
          col("change_kind").as("__b_kind"))
        val kept = stored
          .join(batchFps.select(col("__url_fp")), Seq("__url_fp"), "left_anti")
          .select(col("__url_fp"), col("url"), col("last_fetch_ts"),
            col("prev_fetch_ts"), col("last_batch_id"),
            col("last_fp"), col("prev_fp"), col("fp_batch_id"),
            col("unchanged_streak"), col("prev_streak"),
            col("fp_ts"), col("prev_fp_ts"))
        val evalStreak = when(col("fp_batch_id") === batchId, col("prev_streak"))
          .otherwise(col("unchanged_streak"))
        val advanced = batchFps
          .join(stored.select(col("__url_fp"), evalTs.as("__prev_ts"),
            evalFp.as("__prev_fp"), evalStreak.as("__prev_streak"),
            evalFpTs.as("__prev_fp_ts")),
            Seq("__url_fp"), "left")
          .select(col("__url_fp"), col("__b_url").as("url"),
            lit(nowTs).as("last_fetch_ts"),
            col("__prev_ts").as("prev_fetch_ts"),
            lit(batchId).as("last_batch_id"),
            col("__b_fp").as("last_fp"),
            col("__prev_fp").as("prev_fp"),
            lit(batchId).as("fp_batch_id"),
            // the adaptive-revisit signal: consecutive unchanged
            // re-fetches count up, any change (or first sight) resets
            when(col("__b_kind") === "unchanged",
              coalesce(col("__prev_streak"), lit(0L)) + 1L)
              .otherwise(lit(0L)).as("unchanged_streak"),
            col("__prev_streak").as("prev_streak"),
            // unchanged keeps the payload-bearing capture's instant
            // (null for a pre-upgrade store — honest unknown);
            // new/changed content was captured THIS batch
            when(col("__b_kind") === "unchanged", col("__prev_fp_ts"))
              .otherwise(lit(nowTs)).as("fp_ts"),
            col("__prev_fp_ts").as("prev_fp_ts"))
        publish(kept.unionByName(advanced)
          .withColumn(BucketCol, bucketOf(numBuckets, col("__url_fp")))
          // cluster by bucket: one rewritten file per touched bucket
          // instead of one per (upstream partition × bucket) — see
          // initialize()'s note
          .repartition(spark.sessionState.conf.numShufflePartitions,
            col(BucketCol)), storePath, BucketCol)
      } finally verdicts.unpersist()
    } finally withFp.unpersist()
  }
}
