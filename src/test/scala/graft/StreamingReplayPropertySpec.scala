package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.streaming._
import graft.streaming.StreamingNearDup.Params

/** Replay-permutation invariance of the streaming maintenance stores
  * (sketch, k-means stats, exact/near-dup/winnow/semantic admission,
  * line-df, heavy hitters, SCD2 upsert, image/audio/video media
  * admission) — one property per store.
  *
  * All share one design: either batch-OWNED partitions (a batch's
  * contribution is a pure function of the batch, rewritten in place on
  * replay) or an idempotent merge (set union / register max /
  * latest-wins). The common consequence, checked here as ONE property
  * per store: applying batches 0..n once each in order, with
  * ScalaCheck-chosen REPLAYS of any already-applied batch interleaved
  * anywhere after its first application, leaves the store content
  * identical to the once-each sequential run. This generalizes the
  * point replay specs (each store's own suite pins immediate replay):
  * Structured Streaming re-delivers the last uncommitted batch after a
  * crash, and the ownership/merge algebra makes WHEN that re-delivery
  * lands irrelevant — any interleaving converges to the same store.
  */
class StreamingReplayPropertySpec extends SparkSpec {
  import spark.implicits._

  private val NBatches = 3

  /** First occurrences 0..n-1 in order; after batch i, 0–2 replays of
    * any batch already applied (including i itself — the immediate
    * crash-replay — and strictly earlier ones — the delayed form). */
  private val genSchedule: Gen[List[Int]] =
    (0 until NBatches).toList.foldLeft(Gen.const(List.empty[Int])) { (acc, i) =>
      for {
        sofar   <- acc
        nrep    <- Gen.choose(0, 2)
        replays <- Gen.listOfN(nrep, Gen.choose(0, i))
      } yield sofar ++ (i :: replays)
    }

  private def rowsOf(path: String): Set[String] =
    scala.util.Try(spark.read.parquet(path).toJSON.collect().toSet)
      .getOrElse(Set.empty)

  /** `build(dir)` initializes a fresh store under `dir` and returns
    * (apply batch-by-id, read canonical content). The reference run
    * applies each batch exactly once; every generated schedule must
    * converge to its content. */
  private def checkStore(name: String)(
      build: String => (Int => Unit, () => Set[String])): Unit = {
    val refDir = Files.createTempDirectory(s"graft-rp-$name-ref").toString
    val (applyRef, contentRef) = build(refDir)
    (0 until NBatches).foreach(applyRef)
    val want = contentRef()
    assert(want.nonEmpty, s"$name: reference store must not be empty")
    val prop = Prop.forAll(genSchedule) { sched =>
      val dir = Files.createTempDirectory(s"graft-rp-$name").toString
      val (apply, content) = build(dir)
      sched.foreach(apply)
      content() == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(res.passed, s"$name: $res")
  }

  test("property: sketch store converges under any replay interleaving") {
    // batches 0,1 share a day (register max across batches), batch 2
    // opens a new day; values overlap across batches
    def events(b: Int) = (0 until 5).map { j =>
      (s"2024-01-0${1 + b / 2} 0$j:00:00", s"user_${(b * 3 + j * 5) % 7}")
    }.toDF("ts_s", "uid")
      .select(to_timestamp(col("ts_s")).as("ts"), col("uid"))
    checkStore("sketch") { dir =>
      val path = s"$dir/store"
      StreamingSketch.initialize(events(0).limit(0), "ts", "uid", path, 64)
      (b => StreamingSketch.applyBatch(events(b), "ts", "uid", path, 64),
        () => rowsOf(path))
    }
  }

  test("property: k-means stats store converges under any replay interleaving") {
    val cents = Seq(Array(0.0, 0.0), Array(10.0, 10.0))
    def vecs(b: Int) = (0 until 4).map { j =>
      (b * 10L + j,
        Seq((j % 2) * 10f + b * 0.1f, (j % 2) * 10f + j * 0.1f))
    }.toDF("id", "v")
    checkStore("kmeans") { dir =>
      val path = s"$dir/store"
      StreamingKmeans.initialize(vecs(9), "id", "v", cents, path)
      (b => StreamingKmeans.applyBatch(vecs(b), b.toLong, "id", "v", cents, path),
        () => rowsOf(path))
    }
  }

  test("property: exact-admission stores converge under any replay interleaving") {
    // cross-batch duplicates: batch 1 re-sends batch 0's first text,
    // batch 2 re-sends batch 1's; in-batch duplicate in every batch
    val texts = Vector(
      "alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "nu xi omicron pi")
    def docs(b: Int) = Seq(
      (b * 100L + 1, texts(b)),
      (b * 100L + 2, texts(b)), // in-batch duplicate
      (b * 100L + 3, texts(if (b == 0) 3 else b - 1)))
      .toDF("doc_id", "text")
    checkStore("admission") { dir =>
      val fp  = s"$dir/fp"
      val out = s"$dir/corpus"
      StreamingAdmission.initialize(
        Seq((0L, texts(3))).toDF("doc_id", "text"), "text", fp, 8)
      (b => StreamingAdmission.applyBatch(
        docs(b), "doc_id", "text", fp, out, 8, b.toLong),
        () => rowsOf(fp).map("fp:" + _) ++ rowsOf(out).map("c:" + _))
    }
  }

  test("property: near-dup admission stores converge under any replay interleaving") {
    val base  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val fresh = Vector(
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet cyan magenta amber teal jade",
      "north south east west up down left right front back inner outer")
    def docs(b: Int) = Seq(
      (b * 100L + 1, base.replace("mu", s"w$b")), // near-dup of the bootstrap
      (b * 100L + 2, fresh(b)))                   // novel
      .toDF("doc_id", "text")
    checkStore("neardup") { dir =>
      val store = s"$dir/postings"
      val out   = s"$dir/corpus"
      val p     = Params(numBuckets = 8)
      StreamingNearDup.initialize(
        Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", store, out, p)
      (b => StreamingNearDup.applyBatch(
        docs(b), b.toLong, "doc_id", "text", store, out, p),
        () => rowsOf(store).map("p:" + _) ++ rowsOf(out).map("c:" + _))
    }
  }

  test("property: heavy-hitter store converges under any replay interleaving") {
    def toks(b: Int) =
      (Seq.fill(10 + b)("hot") ++ (1 to 5).map(j => s"t${b}_$j")).toDF("tok")
    checkStore("heavyhitters") { dir =>
      val path = s"$dir/store"
      StreamingHeavyHitters.initialize(toks(9), "tok", path, 4)
      (b => StreamingHeavyHitters.applyBatch(toks(b), b.toLong, "tok", path, 4),
        () => rowsOf(path))
    }
  }

  test("property: SCD2 store converges under any replay interleaving") {
    // every batch touches the shared keys with later timestamps; a
    // delayed replay re-merges OLD change rows after newer history
    // exists — the merge must reconstruct identical intervals
    def changes(b: Int) = Seq(
      ("u1", b * 100L + 1, b * 10L + 1, s"v${b}a"),
      ("u2", b * 100L + 2, b * 10L + 2, s"v${b}b"),
      (s"u${b + 3}", b * 100L + 3, b * 10L + 3, s"v${b}c"))
      .toDF("user_id", "ts_s", "event_id", "attr")
      .select(col("user_id"),
        timestamp_seconds(lit(1700000000L) + col("ts_s")).as("ts"),
        col("event_id"), col("attr"))
    checkStore("scd2") { dir =>
      val path = s"$dir/store"
      StreamingUpsert.initializeScd2(
        changes(9), "user_id", "ts", "event_id", Seq("attr"), path, 4)
      (b => StreamingUpsert.applyScd2Batch(
        changes(b), "user_id", "ts", "event_id", Seq("attr"), path, 4),
        () => rowsOf(path))
    }
  }

  test("property: line-df store converges under any replay interleaving") {
    // a shared boilerplate line in every batch plus batch-unique lines;
    // per-batch summaries are batch-owned partitions
    def docs(b: Int) = Seq(
      (b * 10L + 1, s"SHARED HEADER\nbody ${b}a"),
      (b * 10L + 2, s"SHARED HEADER\nbody ${b}b"))
      .toDF("doc_id", "text")
    checkStore("linedf") { dir =>
      val path = s"$dir/store"
      StreamingLineDedup.initialize(
        Seq((1L, "SHARED HEADER\nbootstrap body")).toDF("doc_id", "text"),
        "doc_id", "text", path)
      (b => StreamingLineDedup.applyBatch(
        docs(b), "doc_id", "text", path, "\n", b.toLong),
        () => rowsOf(path))
    }
  }

  test("property: image-dhash-admission stores converge under any replay interleaving") {
    import graft.operators.Multimodal
    // batch b: a 2x re-encode of the bootstrap image (always rejected —
    // identical dHash), a novel formula image (admitted), so replays
    // exercise both the self-rejection and the posting-union paths
    def imgs(b: Int) = Multimodal.reencodeScaled(
      Multimodal.syntheticImages(Seq(1L).toDF("doc_id"), "doc_id"),
      factor = 2, idOffset = b * 100L + 10L)
      .unionByName(Multimodal.syntheticImages(
        Seq(b * 100L + 20L + b).toDF("doc_id"), "doc_id"))
    checkStore("imagededup") { dir =>
      val store = s"$dir/posts"
      val sink  = s"$dir/admitted"
      val p = StreamingImageDedup.Params(numBuckets = 8, maxHamming = 3)
      StreamingImageDedup.initialize(
        Multimodal.syntheticImages(Seq(1L).toDF("doc_id"), "doc_id"),
        "doc_id", store, sink, p)
      (b => StreamingImageDedup.applyBatch(
        imgs(b), b.toLong, "doc_id", "payload", store, sink, p),
        () => rowsOf(store).map("p:" + _) ++ rowsOf(sink).map("s:" + _))
    }
  }

  test("property: audio-fingerprint-admission stores converge under any replay interleaving") {
    import graft.operators.Multimodal
    // batch b: an attenuated re-encode of the bootstrap clip (always
    // rejected — in-ball fingerprint), a novel formula clip (admitted),
    // so replays exercise both the self-rejection and the
    // posting-union paths
    def wavs(b: Int) = Multimodal.reencodeAttenuated(
      Multimodal.syntheticAudioVaried(Seq(1L).toDF("doc_id"), "doc_id"),
      shift = 1, idOffset = b * 100L + 10L)
      .unionByName(Multimodal.syntheticAudioVaried(
        Seq(b * 100L + 20L + b).toDF("doc_id"), "doc_id"))
    checkStore("audiodedup") { dir =>
      val store = s"$dir/posts"
      val sink  = s"$dir/admitted"
      val p = StreamingAudioDedup.Params(numBuckets = 8, maxHamming = 3)
      StreamingAudioDedup.initialize(
        Multimodal.syntheticAudioVaried(Seq(1L).toDF("doc_id"), "doc_id"),
        "doc_id", store, sink, p)
      (b => StreamingAudioDedup.applyBatch(
        wavs(b), b.toLong, "doc_id", "payload", store, sink, p),
        () => rowsOf(store).map("p:" + _) ++ rowsOf(sink).map("s:" + _))
    }
  }

  test("property: video-overlap-admission stores converge under any replay interleaving") {
    import graft.operators.Multimodal
    // batch b: a per-frame transcode of the bootstrap video (always
    // rejected — identical frame-hash set), a frame-disjoint novel
    // video (admitted), so replays exercise both the self-excluded
    // re-admission and the posting-union paths
    def vids(b: Int) = Multimodal.reencodeScaledVideo(
      Multimodal.syntheticVideos(Seq(1L).toDF("doc_id"), "doc_id"),
      factor = 2, idOffset = b * 100L + 10L)
      .unionByName(Multimodal.syntheticVideos(
        Seq(b * 101L + 20L).toDF("doc_id"), "doc_id"))
    checkStore("videodedup") { dir =>
      val store = s"$dir/postings"
      val sink  = s"$dir/admitted"
      val p = StreamingVideoDedup.Params(numBuckets = 8)
      StreamingVideoDedup.initialize(
        Multimodal.syntheticVideos(Seq(1L).toDF("doc_id"), "doc_id"),
        "doc_id", store, sink, p)
      (b => StreamingVideoDedup.applyBatch(
        vids(b), b.toLong, "doc_id", "payload", store, sink, p),
        () => rowsOf(store).map("p:" + _) ++ rowsOf(sink).map("s:" + _))
    }
  }

  test("property: semdedup-admission stores converge under any replay interleaving") {
    // batch b: a near-dup of the bootstrap's cluster-0 anchor (always
    // pruned), a novel direction (always admitted), and a vector near
    // the PREVIOUS batch's novel one (pruned once that batch is seen —
    // the cross-batch seen-member dependency replay must preserve)
    def v(x: Double, y: Double, z: Double) = Seq(x.toFloat, y.toFloat, z.toFloat)
    val novel = Vector(v(0, 1, 0), v(0, 0, 1), v(0, -1, 0.1))
    def docs(b: Int) = Seq(
      (b * 100L + 1, v(1, 0.001 * b, 0)),                 // ~anchor (1,0,0)
      (b * 100L + 2, novel(b)),                            // novel
      (b * 100L + 3,
        if (b == 0) v(0.7, 0.7, 0.14)                      // mid-direction, admitted
        else novel(b - 1).map(f => (f * 0.999f))           // near prior batch's novel
    )).toDF("doc_id", "embedding")
    checkStore("semdedup") { dir =>
      val store = s"$dir/sem"
      val p = StreamingSemDedup.Params(numBuckets = 4, k = 2, minCosine = 0.97)
      StreamingSemDedup.initialize(
        Seq((1L, v(1, 0, 0)), (2L, v(0.1, 0.9, 0.4))).toDF("doc_id", "embedding"),
        "doc_id", "embedding", store, p)
      (b => StreamingSemDedup.applyBatch(
        docs(b), b.toLong, "doc_id", "embedding", store, p),
        () => rowsOf(s"$store/seen").map("s:" + _) ++
          rowsOf(s"$store/admitted").map("a:" + _))
    }
  }

  test("property: winnow-admission stores converge under any replay interleaving") {
    val run = "p q r s t u v w x y"  // >= w + n - 1 tokens: guaranteed collision
    val fresh = Vector(
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet cyan magenta amber teal jade",
      "north south east west up down left right front back inner outer")
    def docs(b: Int) = Seq(
      (b * 100L + 1, s"prefix $b $run suffix $b"), // shares the bootstrap run
      (b * 100L + 2, fresh(b)),                    // novel
      // exactly n tokens = ONE fingerprint, below minShared=2: can
      // never be rejected — the partial-replay edge the self-id
      // exclusion exists for
      (b * 100L + 3, s"tiny${b} doc${b} here${b} now${b}"))
      .toDF("doc_id", "text")
    checkStore("winnow") { dir =>
      val store = s"$dir/fps"
      val out   = s"$dir/corpus"
      val p     = StreamingWinnowDedup.Params(numBuckets = 8, minShared = 2L)
      StreamingWinnowDedup.initialize(
        Seq((1L, s"bootstrap alpha $run omega beta")).toDF("doc_id", "text"),
        "doc_id", "text", store, out, p)
      (b => StreamingWinnowDedup.applyBatch(
        docs(b), b.toLong, "doc_id", "text", store, out, p),
        () => rowsOf(store).map("p:" + _) ++ rowsOf(out).map("c:" + _))
    }
  }

  test("property: recrawl store converges under repeated LAST-batch replays") {
    // The recrawl store is a TIME-ORDERED upsert (last_fetch_ts
    // advances to each batch's `now`), so its replay contract is
    // exactly Structured Streaming's actual guarantee — only the most
    // recent uncommitted batch re-delivers — honored via one step of
    // per-row history (prev_fetch_ts + last_batch_id self-exclusion).
    // A DELAYED replay of a superseded batch is out of contract for
    // any store whose merge is ordered by external time (the same
    // reason SCD2 compresses rather than re-times); schedules here
    // replay batch i 0–2 extra times BEFORE i+1 first applies.
    val genLastOnly: Gen[List[Int]] =
      (0 until NBatches).toList.foldLeft(Gen.const(List.empty[Int])) { (acc, i) =>
        for { sofar <- acc; nrep <- Gen.choose(0, 2) }
          yield sofar ++ List.fill(1 + nrep)(i)
      }
    val T0 = 1700000000L
    def disc(b: Int) = Seq(
      (b * 10L + 1, "http://h/a", "", "daily"),            // ages every night
      (b * 10L + 2, "http://h/b", s"2023-11-1$b 00:00:00", "yearly"), // lastmod bumps
      (b * 10L + 3, s"http://h/new$b", "", ""))            // novel each night
      .toDF("doc_id", "url", "lastmod", "changefreq")
    def build(dir: String): (Int => Unit, () => Set[String]) = {
      val (store, sink) = (s"$dir/lastfetch", s"$dir/frontier")
      StreamingRecrawl.initialize(
        Seq.empty[(String, Long)].toDF("url", "last_fetch_ts"), "url", store, 8)
      (b => StreamingRecrawl.applyBatch(disc(b), "doc_id", "url",
        "lastmod", "changefreq", store, sink, 8, b.toLong,
        nowTs = T0 + b * 86400L, defaultAgeS = 86400L),
        () => rowsOf(store).map("s:" + _) ++ rowsOf(sink).map("f:" + _))
    }
    val refDir = Files.createTempDirectory("graft-rp-recrawl-ref").toString
    val (applyRef, contentRef) = build(refDir)
    (0 until NBatches).foreach(applyRef)
    val want = contentRef()
    assert(want.nonEmpty)
    val prop = Prop.forAll(genLastOnly) { sched =>
      val dir = Files.createTempDirectory("graft-rp-recrawl").toString
      val (apply, content) = build(dir)
      sched.foreach(apply)
      content() == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(res.passed, s"recrawl: $res")
  }
}
