package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, AnnLifecycle}

/** ANN index lifecycle: bootstrap → frozen-model nights → thresholded
  * retrain → atomic whole-index swap. Pins the trigger recurrence, the
  * frozen-model no-touch contract between retrains, the float-signal
  * triggers, post-swap ≡ from-scratch determinism, and the
  * reader-during-swap snapshot-isolation race. */
class AnnLifecycleSpec extends SparkSpec {

  private val dim = 16
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)

  private def corpus(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).map(i => i -> vec(i.toInt)).toDF("vec_id", "embedding")
  }

  private def tempState(): String =
    java.nio.file.Files.createTempDirectory("graft-annlc").toString

  private def night(c: DataFrame, state: String,
      th: AnnLifecycle.Thresholds = AnnLifecycle.Thresholds(),
      sampleMod: Int = 4): AnnLifecycle.Decision =
    AnnLifecycle.maintainNight(c, "vec_id", "embedding", state,
      nCells = 4, m = 4, kCodes = 8, buckets = 4, th = th, sampleMod = sampleMod)

  test("bootstrap publishes a queryable index; under-threshold nights stay frozen; the over-threshold night retrains and swaps") {
    val state = tempState()
    val idx = s"$state/${AnnLifecycle.IndexDirName}"

    // night 1: 20 vectors — bootstrap (not a retrain)
    val d1 = night(corpus(20), state)
    assert(d1.bootstrap && !d1.retrained && d1.nRetrains == 0)
    assert(d1.nCodes == 20 && d1.trainedRowsAfter == 20)
    assert(AnnLifecycle.trainedRows(idx) == 20 && AnnLifecycle.retrains(idx) == 0)
    val books1 = AnnLifecycle.liveBooks(spark, idx).collect().toSet

    // night 2: 30 vectors — fresh 10/30 = 333‰ < 600‰, model frozen
    val d2 = night(corpus(30), state)
    assert(!d2.bootstrap && !d2.retrained && !d2.freshTripped)
    assert(d2.nCodes == 30 && d2.freshSinceTrain == 10 && d2.trainedRowsAfter == 20)
    assert(AnnLifecycle.liveBooks(spark, idx).collect().toSet == books1,
      "an under-threshold night must not touch the model tables")
    // night-1 ids' codes are untouched (frozen-model contract)
    val codes2 = AnnLifecycle.liveCodes(spark, idx)
      .filter(col("id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(codes2.size == 20)

    // night 3: 70 vectors — fresh 50/70 = 714‰ > 600‰ → retrain + swap
    val d3 = night(corpus(70), state)
    assert(d3.freshTripped && d3.retrained && d3.nRetrains == 1)
    assert(d3.nReencoded == 70 && d3.trainedRowsAfter == 70)
    assert(AnnLifecycle.trainedRows(idx) == 70 && AnnLifecycle.retrains(idx) == 1)
    // the swap is complete: no staged or move-aside leftovers
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx + AnnLifecycle.StagedSuffix)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx + AnnLifecycle.StagedSuffix + "__old")))

    // post-swap ≡ from-scratch BITWISE: same seed, same parquet
    // round-trip path for the centroids before the residual training
    val full = corpus(70)
    val scratch = tempState()
    AnnIndex.trainIvf(full, "vec_id", "embedding", nCells = 4)
      .write.parquet(s"$scratch/centroids")
    val cents = spark.read.parquet(s"$scratch/centroids")
    AnnIndex.trainIvfPq(full, "vec_id", "embedding", cents, m = 4, kCodes = 8)
      .write.parquet(s"$scratch/books")
    val books = spark.read.parquet(s"$scratch/books")
    assert(AnnLifecycle.liveBooks(spark, idx).collect().toSet ==
      books.collect().toSet, "post-swap books must equal a from-scratch train")
    val expected = AnnIndex.encode(
        AnnIndex.load(centroids = Some(cents), codebooks = Some(books)),
        full, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Int](2))).toSet
    val got = AnnLifecycle.liveCodes(spark, idx)
      .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Int](2))).toSet
    assert(got == expected, "post-swap codes must equal a from-scratch encode")
  }

  test("float signals trip alone: a tiny reconMax forces retrain even under the fresh threshold; skewMax likewise") {
    val state = tempState()
    night(corpus(20), state)
    // 25 rows: fresh 5/25 = 200‰ — fresh never trips, recon does
    // (quantized reconstruction of real vectors always has error > 0)
    val d = night(corpus(25), state,
      th = AnnLifecycle.Thresholds(freshPermille = 600, reconMax = 1e-12))
    assert(!d.freshTripped && d.reconTripped && d.retrained && d.reconErr > 1e-12)

    val state2 = tempState()
    night(corpus(20), state2)
    // any real occupancy profile has max >= median, so skewMax just
    // under 1.0 must trip regardless of the data
    val d2 = night(corpus(25), state2,
      th = AnnLifecycle.Thresholds(freshPermille = 600, skewMax = 0.99))
    assert(!d2.freshTripped && d2.skewTripped && d2.retrained)
    assert(d2.cellSkew >= 1.0)
  }

  test("reader-during-swap race: concurrent index reads see only complete snapshots") {
    // The lifecycle twin of RunnerSpec's staged-swap race: a reader
    // loops over the live codes table while night 3 retrains and
    // promotes. Every successful read returns exactly the old or the
    // new row count — never a partial directory — and transient
    // listing failures (a read that catches the rename mid-move) must
    // not persist past the swap.
    val state = tempState()
    val idx = s"$state/${AnnLifecycle.IndexDirName}"
    night(corpus(20), state)
    val count1 = AnnLifecycle.liveCodes(spark, idx).count()
    assert(count1 == 20)

    val seen       = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val transients = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try seen.add(AnnLifecycle.liveCodes(spark, idx).count())
        catch { case _: Exception => transients.incrementAndGet() }
      }
    })
    reader.setDaemon(true)
    reader.start()
    try {
      val warmupDeadline = System.currentTimeMillis() + 10000
      while (seen.isEmpty && System.currentTimeMillis() < warmupDeadline) Thread.sleep(10)
      assert(!seen.isEmpty, "reader thread must observe the old index before the swap")
      val d = night(corpus(70), state) // 50/70 fresh → retrain + swap
      assert(d.retrained)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(70L) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally {
      stop = true
      reader.join(10000)
    }
    import scala.jdk.CollectionConverters._
    val counts = seen.asScala.toSet
    assert(counts.subsetOf(Set(20L, 70L)),
      s"reads during the swap must see a full old or new snapshot, got $counts")
    assert(counts.contains(70L), "the post-swap snapshot must become visible")
    assert(AnnLifecycle.liveCodes(spark, idx).count() == 70,
      s"post-swap reads must succeed (transients during swap: ${transients.get()})")
  }

  test("maintainNight fails loud on an empty corpus and records -1 recon on an empty sample") {
    val state = tempState()
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](night(empty, state))
    assert(ex.getMessage.contains("empty corpus"))
    // a sampleMod far above the corpus size can produce an empty hash
    // sample — the recon signal reads -1.0 (unavailable) and NEVER
    // trips, even with reconMax = 0
    val d = night(corpus(8), state, sampleMod = 1000000)
    if (d.reconErr == -1.0) assert(!d.reconTripped)
  }
}
