package graft.operators

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{MaintainedStore, StreamingAnnIndex}

/** Stored-ANN index LIFECYCLE: drift monitor → thresholded retrain →
  * staged re-encode → atomic whole-index swap while queries read.
  *
  * [[AnnIndex]] owns train-once/store/query and
  * [[graft.streaming.StreamingAnnIndex]] owns frozen-model incremental
  * encoding; neither measures when the frozen model has gone STALE. A
  * nightly corpus that triples between trainings silently degrades:
  * cell occupancy skews (probe pruning loses selectivity), and the
  * residual codebooks quantize vectors the training sample never saw
  * (ADC shortlists drift off the true top-k). This object closes the
  * loop — the `monitor → retrain → re-encode → swap` shape FAISS
  * deployments script by hand:
  *
  *  - '''Health''': per-night [[Decision]] over the live index — cell
  *    occupancy max/median skew, rows-since-train fresh fraction, and
  *    mean PQ reconstruction error over an id-hash-sampled slice of
  *    the CURRENT corpus (the residual-quantization drift signal; the
  *    exact-vs-ADC score gap of any query is bounded by it).
  *  - '''Decision''': integer-arithmetic fresh-fraction trigger
  *    (`fresh · 1000 > freshPermille · nCodes` — exact, so an external
  *    oracle can re-derive which night retrains from row counts alone)
  *    plus optional float thresholds on skew and reconstruction error.
  *  - '''Swap''': retrain + full re-encode land in `index__staged/`
  *    and promote via [[graft.exec.Staging.promoteStaged]]'s
  *    move-aside → move-in discipline — ONE directory rename covers
  *    all three tables (centroids, books, codes), so readers never see
  *    new centroids over old codes (reader-during-swap pinned in
  *    AnnLifecycleSpec).
  *
  * Determinism contract: training is seeded ([[AnnIndex.trainIvf]] /
  * [[AnnIndex.trainIvfPq]]) and the staged build round-trips the
  * centroids through parquet before training the residual books —
  * exactly the from-scratch build path — so a post-swap index answers
  * queries BITWISE identical to a same-seed from-scratch build (the
  * `ann_retrain_swap` gate asserts it).
  *
  * Scale posture (100 TB): every corpus pass is a scan (admit
  * anti-join, sampled reconstruction, re-encode; the health profile is
  * ONE `groupBy(cell)` pass) — nothing persists or collects the
  * corpus; driver materialization is bounded by
  * [[AnnIndex.MaxModelRows]] (models) and nCells (occupancy rows).
  * The codes store uses [[graft.streaming.StreamingAnnIndex]]'s
  * two-level `(cell, bucket)` layout: the admit anti-join prunes on
  * buckets, and a stored query's probed-cell filter is PARTITION
  * pruning (PlanSpec-pinned), the same selectivity as the one-shot
  * [[AnnIndex.encode]] `partitionBy("cell")` tables.
  */
object AnnLifecycle {

  /** Live index directory name under a lifecycle step's state root —
    * `<state>/<step>/index/{centroids,books,codes}` + markers. */
  val IndexDirName = "index"

  /** Staged-rebuild suffix: the whole-index sibling that one rename
    * promotes (the [[graft.exec.Staging]] convention). */
  val StagedSuffix = "__staged"

  /** The composed IVF-PQ codes-store schema
    * ([[graft.streaming.StreamingAnnIndex]] family string). */
  val CodesSchema = "id BIGINT, cell INT, codes ARRAY<INT>"

  // markers live INSIDE the index dir so the atomic swap carries them
  private val TrainedRowsMarker = "_graft_trained_rows"
  private val RetrainsMarker    = "_graft_retrains"
  private val InitHint =
    "not a lifecycle index (bootstrap happens on the first maintainNight)"

  /** Retrain triggers. `freshPermille` compares in exact integer
    * arithmetic; `skewMax`/`reconMax` default to disabled (∞) so a
    * deployment opts into the float signals explicitly. */
  final case class Thresholds(
      freshPermille: Long = 600L,
      skewMax: Double = Double.PositiveInfinity,
      reconMax: Double = Double.PositiveInfinity) {
    require(freshPermille >= 0 && freshPermille <= 1000,
      s"freshPermille must be in [0, 1000], got $freshPermille")
  }

  /** One night's health readings + what the maintainer did about them.
    * Counts are exact; `cellSkew` is occupancy max/median over
    * NON-EMPTY cells; `reconErr` is the mean L2 distance between the
    * unit-normalized sampled vector and its IVF-PQ reconstruction
    * (centroid + decoded residual), `-1.0` when the hash sample was
    * empty (signal unavailable — never trips). */
  final case class Decision(
      bootstrap: Boolean, nCorpus: Long, nCodes: Long,
      trainedRowsBefore: Long, freshSinceTrain: Long,
      cellOccMax: Long, cellOccMedian: Long, cellSkew: Double,
      reconErr: Double,
      freshTripped: Boolean, skewTripped: Boolean, reconTripped: Boolean,
      retrained: Boolean, nReencoded: Long, nRetrains: Long,
      trainedRowsAfter: Long)

  /** The live centroids table of a lifecycle index. */
  def liveCentroids(spark: SparkSession, idxDir: String): DataFrame =
    spark.read.parquet(s"$idxDir/centroids")

  /** The live residual-codebooks table. */
  def liveBooks(spark: SparkSession, idxDir: String): DataFrame =
    spark.read.parquet(s"$idxDir/books")

  /** The live codes table `(id, cell, codes)` — the
    * [[AnnIndex.search]] `codes` argument. Checked to come from one
    * unchanging index state ([[sameGeneration]]). */
  def liveCodes(spark: SparkSession, idxDir: String): DataFrame =
    sameGeneration(idxDir)(
      StreamingAnnIndex.readEncoded(spark, s"$idxDir/codes", CodesSchema))

  /** The IVF-PQ model (centroids + residual codebooks) under `idxDir`,
    * loaded. Unchecked: the build loads it from the staged dir. */
  def liveModel(spark: SparkSession, idxDir: String): AnnIndex.Model =
    AnnIndex.load(centroids = Some(liveCentroids(spark, idxDir)),
      codebooks = Some(liveBooks(spark, idxDir)))

  /** What a reader searches: the loaded model and the codes table, both
    * from one unchanging index state. */
  def liveIndex(spark: SparkSession, idxDir: String): (AnnIndex.Model, DataFrame) =
    sameGeneration(idxDir)((liveModel(spark, idxDir),
      StreamingAnnIndex.readEncoded(spark, s"$idxDir/codes", CodesSchema)))

  /** Run `read` (model collects and the codes file listing happen
    * eagerly inside it) and fail loud if the index changed meanwhile.
    * Paths resolve by name, so a read could otherwise mix two states:
    * a listing that straddles the two renames of
    * [[graft.exec.Staging.promoteStaged]] sees parts of the old and new
    * generation, and one that overlaps a night's in-place admit (a
    * Spark append to `codes`, whose files move in one by one at job
    * commit) sees part of the batch. */
  private def sameGeneration[A](idxDir: String)(read: => A): A = {
    val before = generation(idxDir)
    val result = read
    if (generation(idxDir) != before)
      throw new IllegalStateException(s"$idxDir: the index changed during the read — retry")
    result
  }

  /** The retrain count (every swap bumps it; it moves with the index
    * directory) and the codes directory's mtime (an append's output
    * committer creates `codes/_temporary` before its file moves and
    * deletes it after, each changing the mtime). Throws while an
    * append is in flight. */
  private def generation(idxDir: String): (Long, FileTime) = {
    val codes = Paths.get(idxDir, "codes")
    if (Files.exists(codes.resolve("_temporary")))
      throw new IllegalStateException(s"$idxDir: a write to the codes is in flight — retry")
    (retrains(idxDir), Files.getLastModifiedTime(codes))
  }

  /** Rows the index was last trained on (carried through swaps). */
  def trainedRows(idxDir: String): Long =
    MaintainedStore.requireMarker(idxDir, TrainedRowsMarker, InitHint).trim.toLong

  /** Lifetime retrain count (bootstrap is not a retrain). */
  def retrains(idxDir: String): Long =
    MaintainedStore.requireMarker(idxDir, RetrainsMarker, InitHint).trim.toLong

  /** Mean reconstruction error of the CURRENT corpus against a frozen
    * model, over the deterministic id-hash sample
    * `pmod(hash(id), sampleMod) == 0` — scan-local (the model rides
    * the UDF closures; encoding reuses [[AnnIndex.encode]]'s IVF-PQ
    * UDFs verbatim so the measured codes ARE the stored codes).
    * Returns `-1.0` on an empty sample. */
  private[operators] def reconErrSampled(
      corpus: DataFrame, idCol: String, vecCol: String,
      index: AnnIndex.Model, sampleMod: Int): Double = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val AnnIndex.Model(_, Some(cents), AnnIndex.Pq(model)) = index
    val bounds = model.bounds; val codebooks = model.codebooks
    val mV = model.m
    val errUdf = udf { (v: Seq[Float], cell: java.lang.Integer, codes: Seq[Int]) =>
      if (v == null || cell == null || codes == null) null
      else {
        val x = v.toArray.map(_.toDouble)
        val n = math.sqrt(x.map(a => a * a).sum)
        val u = if (n > 0) x.map(_ / n) else x
        val c = cents(cell.intValue)
        var s = 0.0
        var j = 0
        while (j < mV) {
          val lo = bounds(j); val hi = bounds(j + 1)
          val cb = codebooks(j)(codes(j))
          var i = lo
          while (i < hi) {
            val r = u(i) - (if (i < c.length) c(i) else 0.0) - cb(i - lo)
            s += r * r
            i += 1
          }
          j += 1
        }
        java.lang.Double.valueOf(math.sqrt(s))
      }
    }
    val sampled = corpus
      .filter(pmod(hash(col(idCol)), lit(sampleMod)) === 0)
      .select(col(idCol).cast("string").as("id"), col(vecCol).as("v"))
      .withColumn("cell", Similarity.ivfAssignUdf(cents)(col("v")))
      .withColumn("codes",
        Similarity.ivfPqCodesUdf(cents, model)(col("id"), col("v"), col("cell")))
      .select(errUdf(col("v"), col("cell"), col("codes")).as("err"))
    val row = sampled.agg(avg(col("err"))).collect()(0)
    if (row.isNullAt(0)) -1.0 else row.getDouble(0)
  }

  /** Row count + cell occupancy (max, median, skew) of the live codes
    * table in ONE scan (`groupBy(cell).count` — at most nCells + 1
    * rows collect; a separate `count()` would pay a second full pass
    * of the store every night at 100 TB). NULL-cell rows (no
    * geometry) count toward the total but not the occupancy. */
  private def codesProfile(codes: DataFrame): (Long, Long, Long, Double) = {
    val rows = codes.groupBy(col("cell")).count().collect()
    val total = rows.map(_.getLong(1)).sum
    val counts = rows.filterNot(_.isNullAt(0)).map(_.getLong(1)).sorted
    if (counts.isEmpty) (total, 0L, 0L, 1.0)
    else {
      val max = counts.last
      val med = counts(counts.length / 2)
      (total, max, med, if (med > 0) max.toDouble / med else 1.0)
    }
  }

  /** Build a complete index (centroids + books + codes store) under
    * `dir`, wiping any stale content first (a crashed prior staged
    * build). The centroids round-trip parquet BEFORE the residual
    * books train — the same arithmetic path a from-scratch
    * store-then-query build takes, which is what makes post-swap ≡
    * from-scratch bitwise. Returns the encoded row count plus the
    * LOADED model (the encode and the caller's health scan reuse it
    * instead of paying fresh driver collects). */
  private def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nCells: Int, m: Int, kCodes: Int, buckets: Int, seed: Long
  ): (Long, AnnIndex.Model) = {
    val spark = corpus.sparkSession
    MaintainedStore.deleteRecursively(Paths.get(dir))
    AnnIndex.trainIvf(corpus, idCol, vecCol, nCells, seed = seed)
      .write.parquet(s"$dir/centroids")
    AnnIndex.trainIvfPq(corpus, idCol, vecCol, liveCentroids(spark, dir), m, kCodes)
      .write.parquet(s"$dir/books")
    val model = liveModel(spark, dir)
    // two-level (cell, bucket) layout: the admit anti-join prunes on
    // buckets, stored queries partition-prune on their probed cells
    StreamingAnnIndex.initialize(s"$dir/codes", buckets, CodesSchema,
      partitionCols = Seq("cell", MaintainedStore.BucketCol))
    val n = StreamingAnnIndex.applyBatch(
      corpus.select(col(idCol), col(vecCol)), idCol, s"$dir/codes",
      CodesSchema, buckets,
      newRows => AnnIndex.encode(model, newRows, "id", vecCol))
    (n, model)
  }

  /** One maintenance night over the CUMULATIVE corpus `(id, vector)`:
    * bootstrap on first contact (train + encode + publish — not a
    * retrain), otherwise admit-encode the fresh ids against the frozen
    * model, measure health, and retrain + re-encode + atomically swap
    * when a threshold trips. Known ids never re-encode between
    * retrains (the frozen-model contract: one embedding per id;
    * content revisions enter the index at the next retrain).
    *
    * The whole mutation happens under `stateStepDir`: the admit
    * appends to the live codes in place, and a retrain publishes via
    * ONE `index__staged` → `index` rename. A concurrent [[liveCodes]] /
    * [[liveIndex]] read either sees one complete, unchanging index
    * state or fails loud (retry). */
  def maintainNight(
      corpus: DataFrame, idCol: String, vecCol: String, stateStepDir: String,
      nCells: Int = 16, m: Int = 8, kCodes: Int = 16, buckets: Int = 64,
      th: Thresholds = Thresholds(), seed: Long = 42L, sampleMod: Int = 8
  ): Decision = {
    val spark = corpus.sparkSession
    val idxDir = s"$stateStepDir/$IndexDirName"
    // cheap emptiness probe (limit-1 scan): the corpus row count itself
    // comes for free out of the admit pass below — a dedicated full
    // count() here was one whole extra corpus scan per night
    require(!corpus.isEmpty, "maintainNight: empty corpus — nothing to index")

    if (!Files.exists(Paths.get(idxDir, TrainedRowsMarker))) {
      // -------- bootstrap: first contact trains and publishes
      val staged = idxDir + StagedSuffix
      val (nCorpus, built) =
        buildIndex(corpus, idCol, vecCol, staged, nCells, m, kCodes, buckets, seed)
      MaintainedStore.writeMarker(staged, TrainedRowsMarker, nCorpus.toString)
      MaintainedStore.writeMarker(staged, RetrainsMarker, "0")
      graft.exec.Staging.promoteStaged(spark, stateStepDir, IndexDirName, StagedSuffix)
      val (_, occMax, occMed, skew) = codesProfile(liveCodes(spark, idxDir))
      val recon = reconErrSampled(corpus, idCol, vecCol, built, sampleMod)
      return Decision(bootstrap = true, nCorpus, nCodes = nCorpus,
        trainedRowsBefore = 0L, freshSinceTrain = 0L,
        occMax, occMed, skew, recon,
        freshTripped = false, skewTripped = false, reconTripped = false,
        retrained = false, nReencoded = 0L, nRetrains = 0L,
        trainedRowsAfter = nCorpus)
    }

    // -------- incremental: admit-encode fresh ids against the frozen
    // model. The model is loaded ONCE per night and shared by the
    // encode and the reconstruction-error scan (these collects are
    // bounded but each was a scheduled job).
    val model = liveModel(spark, idxDir)
    val nCorpus = StreamingAnnIndex.applyBatch(
      corpus.select(col(idCol), col(vecCol)), idCol, s"$idxDir/codes",
      CodesSchema, buckets,
      newRows => AnnIndex.encode(model, newRows, "id", vecCol))

    // -------- health on the post-admit, pre-decision state (one scan)
    val (nCodes, occMax, occMed, skew) = codesProfile(liveCodes(spark, idxDir))
    val trainedBefore = trainedRows(idxDir)
    val retrainsBefore = retrains(idxDir)
    val fresh = nCodes - trainedBefore
    val recon = reconErrSampled(corpus, idCol, vecCol, model, sampleMod)
    // exact integer trigger — an external oracle re-derives it from
    // row counts alone; float signals are opt-in refinements
    val freshTripped = fresh * 1000L > th.freshPermille * nCodes
    val skewTripped  = skew > th.skewMax
    val reconTripped = recon >= 0.0 && recon > th.reconMax

    if (freshTripped || skewTripped || reconTripped) {
      // -------- retrain on the full current corpus, staged + swapped
      val staged = idxDir + StagedSuffix
      val _ = buildIndex(corpus, idCol, vecCol, staged, nCells, m, kCodes, buckets, seed)
      MaintainedStore.writeMarker(staged, TrainedRowsMarker, nCorpus.toString)
      MaintainedStore.writeMarker(staged, RetrainsMarker, (retrainsBefore + 1).toString)
      graft.exec.Staging.promoteStaged(spark, stateStepDir, IndexDirName, StagedSuffix)
      Decision(bootstrap = false, nCorpus, nCodes, trainedBefore, fresh,
        occMax, occMed, skew, recon,
        freshTripped, skewTripped, reconTripped,
        retrained = true, nReencoded = nCorpus,
        nRetrains = retrainsBefore + 1, trainedRowsAfter = nCorpus)
    } else
      Decision(bootstrap = false, nCorpus, nCodes, trainedBefore, fresh,
        occMax, occMed, skew, recon,
        freshTripped, skewTripped, reconTripped,
        retrained = false, nReencoded = 0L,
        nRetrains = retrainsBefore, trainedRowsAfter = trainedBefore)
  }
}
