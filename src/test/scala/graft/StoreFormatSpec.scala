package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.RegisterSketch
import graft.operators.{AnnIndex, Multimodal}
import graft.streaming._

/** The on-disk format of every maintained store, pinned byte for byte:
  * marker file names, exact marker payloads, and partition directory
  * names. State directories written by earlier versions must stay
  * readable, so any change here is a format migration, not a refactor.
  * Only `initialize` / `applyBatch` are used, so the same spec runs
  * against any version of the stores. */
class StoreFormatSpec extends SparkSpec {
  import spark.implicits._

  private def root(): String = Files.createTempDirectory("graft-format").toString

  /** Every `_graft_*` sidecar under `dir` with its exact payload. */
  private def markers(dir: String): Map[String, Seq[Byte]] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_graft_"))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
      .toMap

  private def bytes(s: String): Seq[Byte] = s.getBytes(StandardCharsets.UTF_8).toSeq

  private def assertMarkers(dir: String, expected: (String, String)*): Unit =
    assert(markers(dir) === expected.map { case (n, v) => n -> bytes(v) }.toMap)

  private def subdirs(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(Files.isDirectory(_)).toSeq

  /** Partition column names of the directories directly under `dir`. */
  private def partitionKeys(dir: String): Set[String] = {
    val names = subdirs(Paths.get(dir)).map(_.getFileName.toString)
    assert(names.nonEmpty && names.forall(_.contains("=")), s"$dir holds $names")
    names.map(_.takeWhile(_ != '=')).toSet
  }

  /** Partition column names one level below the first partition of `dir`. */
  private def nestedKeys(dir: String): Set[String] =
    partitionKeys(subdirs(Paths.get(dir)).head.toString)

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten eleven"))
    .toDF("doc_id", "text")
  private val moreDocs = Seq(
    (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
    .toDF("doc_id", "text")

  test("bucket-count stores: StreamingAdmission, StreamingUpsert, StreamingRecrawl") {
    val r = root()
    StreamingAdmission.initialize(docs, "text", s"$r/fps", 8)
    StreamingAdmission.applyBatch(moreDocs, "doc_id", "text", s"$r/fps", s"$r/adm", 8, 0L)
    assertMarkers(s"$r/fps", "_graft_buckets" -> "8")
    assert(partitionKeys(s"$r/fps") === Set("__kb"))
    assert(partitionKeys(s"$r/adm") === Set("__batch_id"))

    val changes = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a"),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 2L, "b"))
      .toDF("k", "ts", "tie", "attr")
    StreamingUpsert.initializeScd2(changes, "k", "ts", "tie", Seq("attr"), s"$r/scd2", 8)
    assertMarkers(s"$r/scd2", "_graft_buckets" -> "8")
    assert(partitionKeys(s"$r/scd2") === Set("__kb"))
    StreamingUpsert.initializeLatest(changes, "k", "ts", "tie", s"$r/latest", 16)
    assertMarkers(s"$r/latest", "_graft_buckets" -> "16")
    assert(partitionKeys(s"$r/latest") === Set("__kb"))

    val fetchLog = Seq(("https://a.example/x", 100L)).toDF("url", "last_fetch_ts")
    StreamingRecrawl.initialize(fetchLog, "url", s"$r/lastfetch", 8)
    assertMarkers(s"$r/lastfetch", "_graft_buckets" -> "8")
    assert(partitionKeys(s"$r/lastfetch") === Set("__kb"))
  }

  test("posting stores: StreamingNearDup, StreamingWinnowDedup") {
    val r = root()
    StreamingNearDup.initialize(docs, "doc_id", "text", s"$r/nd", s"$r/nd_out",
      StreamingNearDup.Params(numBuckets = 8))
    assertMarkers(s"$r/nd", "_graft_buckets" -> "8;3;64;4;0.5;1000")
    assert(partitionKeys(s"$r/nd") === Set("__kb"))
    assert(partitionKeys(s"$r/nd_out") === Set("__batch_id"))

    StreamingWinnowDedup.initialize(docs, "doc_id", "text", s"$r/wd", s"$r/wd_out",
      StreamingWinnowDedup.Params(numBuckets = 8))
    assertMarkers(s"$r/wd", "_graft_buckets" -> "8;4;5;2;1000")
    assert(partitionKeys(s"$r/wd") === Set("__kb"))
    assert(partitionKeys(s"$r/wd_out") === Set("__batch_id"))
  }

  test("summary stores: StreamingSketch, StreamingKmeans, StreamingHeavyHitters") {
    val r = root()
    val m = RegisterSketch.bucketCount(0.05)
    val events = Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 7L))
      .toDF("ts", "user_id")
    StreamingSketch.initialize(events, "ts", "user_id", s"$r/sk", m)
    assertMarkers(s"$r/sk", "_graft_sketch_m" -> m.toString)
    assert(partitionKeys(s"$r/sk") === Set("ts_day_id"))

    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vec")
    StreamingKmeans.initialize(vecs, "id", "vec",
      Seq(Array(1.0, 0.0), Array(0.0, 1.0)), s"$r/km")
    assertMarkers(s"$r/km", "_graft_centroids" -> "1.0,0.0;0.0,1.0")
    assert(partitionKeys(s"$r/km") === Set("batch_id"))

    StreamingHeavyHitters.initialize(Seq("a", "b", "a").toDF("v"), "v", s"$r/hh", 3)
    assertMarkers(s"$r/hh", "_graft_hh_k" -> "3")
    assert(partitionKeys(s"$r/hh") === Set("__batch_id"))
  }

  test("StreamingLineDedup: the whitespace delimiter is stored and compared untrimmed") {
    val r = root()
    StreamingLineDedup.initialize(docs, "doc_id", "text", s"$r/ld")
    assertMarkers(s"$r/ld", "_graft_line_delim" -> "\n")
    assert(partitionKeys(s"$r/ld") === Set("__batch_id"))
    StreamingLineDedup.initialize(docs, "doc_id", "text", s"$r/ld2", " \n")
    assertMarkers(s"$r/ld2", "_graft_line_delim" -> " \n")
    // " \n" and "\n" trim to the same string but split different lines
    val e = intercept[IllegalArgumentException] {
      StreamingLineDedup.applyBatch(moreDocs, "doc_id", "text", s"$r/ld2", "\n", 0L)
    }
    assert(e.getMessage.contains("delimiter mismatch"))
  }

  test("StreamingSemDedup: params, centroid header and centroids in one marker") {
    val r = root()
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.9, 0.1)))
      .toDF("doc_id", "embedding")
    StreamingSemDedup.initialize(vecs, "doc_id", "embedding", s"$r/sd",
      StreamingSemDedup.Params(numBuckets = 4, k = 2, minCosine = 0.95))
    assertMarkers(s"$r/sd", "_graft_semdedup" -> "4;2;0.95;10000\n2 2\n1.0,0.0;0.0,1.0")
    assert(partitionKeys(s"$r/sd/seen") === Set("__kb"))
    assert(nestedKeys(s"$r/sd/seen") === Set("__batch_id"))
    assert(partitionKeys(s"$r/sd/admitted") === Set("__batch_id"))
  }

  test("media stores: StreamingImageDedup, StreamingAudioDedup, StreamingVideoDedup") {
    val r = root()
    val ids = Seq(1L).toDF("doc_id")
    StreamingImageDedup.initialize(Multimodal.syntheticImages(ids, "doc_id"), "doc_id",
      s"$r/img", s"$r/img_out", StreamingImageDedup.Params(numBuckets = 8))
    assertMarkers(s"$r/img", "_graft_dhash" -> "8;3;1000")
    assert(partitionKeys(s"$r/img") === Set("__kb"))
    assert(partitionKeys(s"$r/img_out") === Set("__batch_id"))

    StreamingAudioDedup.initialize(Multimodal.syntheticAudioVaried(ids, "doc_id"), "doc_id",
      s"$r/aud", s"$r/aud_out", StreamingAudioDedup.Params(numBuckets = 8, maxHamming = 2))
    assertMarkers(s"$r/aud", "_graft_afp" -> "8;2;1000")
    assert(partitionKeys(s"$r/aud") === Set("__kb"))
    assert(partitionKeys(s"$r/aud_out") === Set("__batch_id"))

    StreamingVideoDedup.initialize(Multimodal.syntheticAviVideos(ids, "doc_id"), "doc_id",
      s"$r/vid", s"$r/vid_out", StreamingVideoDedup.Params(numBuckets = 8))
    assertMarkers(s"$r/vid", "_graft_vfp" -> "8;1000")
    assert(partitionKeys(s"$r/vid") === Set("__kb"))
    assert(partitionKeys(s"$r/vid_out") === Set("__batch_id"))
  }

  test("a bucket count below 1 fails initialize and leaves no marker, in every bucketed store") {
    // empty inputs, as the pipeline's cold start passes them: an empty
    // frame never evaluates pmod(…, 0), so only an up-front check stops
    // the marker from landing
    val empty = docs.limit(0)
    val changes = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a"))
      .toDF("k", "ts", "tie", "attr").limit(0)
    val payloads = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    val stores: Seq[(String, String => Unit)] = Seq(
      "admission" -> (d => StreamingAdmission.initialize(empty, "text", d, 0)),
      "near-dup" -> (d => StreamingNearDup.initialize(empty, "doc_id", "text", d, s"$d.out",
        StreamingNearDup.Params(numBuckets = 0))),
      "winnow" -> (d => StreamingWinnowDedup.initialize(empty, "doc_id", "text", d, s"$d.out",
        StreamingWinnowDedup.Params(numBuckets = 0))),
      "image" -> (d => StreamingImageDedup.initialize(payloads, "doc_id", d, s"$d.out",
        StreamingImageDedup.Params(numBuckets = 0))),
      "audio" -> (d => StreamingAudioDedup.initialize(payloads, "doc_id", d, s"$d.out",
        StreamingAudioDedup.Params(numBuckets = 0))),
      "video" -> (d => StreamingVideoDedup.initialize(payloads, "doc_id", d, s"$d.out",
        StreamingVideoDedup.Params(numBuckets = 0))),
      "scd2" -> (d =>
        StreamingUpsert.initializeScd2(changes, "k", "ts", "tie", Seq("attr"), d, 0)),
      "latest" -> (d => StreamingUpsert.initializeLatest(changes, "k", "ts", "tie", d, 0)),
      "recrawl" -> (d => StreamingRecrawl.initialize(
        Seq(("https://a.example/x", 100L)).toDF("url", "last_fetch_ts").limit(0),
        "url", d, 0)),
      "ann" -> (d => StreamingAnnIndex.initialize(d, 0, "id BIGINT, vector ARRAY<FLOAT>")),
      "semdedup" -> (d => StreamingSemDedup.initialize(
        Seq((1L, Seq(1.0, 0.0))).toDF("doc_id", "embedding").limit(0), "doc_id", "embedding",
        d, StreamingSemDedup.Params(numBuckets = 0, k = 2, minCosine = 0.95))))
    val r = root()
    for ((name, init) <- stores) {
      val d = s"$r/$name"
      val e = intercept[IllegalArgumentException](init(d))
      assert(e.getMessage.contains("numBuckets must be >= 1"), s"$name: ${e.getMessage}")
      assert(!Files.exists(Paths.get(d)) || markers(d).isEmpty, s"$name left a marker")
    }
  }

  test("an empty batch against a mismatched marker fails and names the marker, in every store") {
    // the marker check runs before the empty-batch return: a night with
    // nothing to admit must not pass over an edited table property
    val empty = docs.limit(0)
    val changes = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a"))
      .toDF("k", "ts", "tie", "attr")
    val pages = Seq((1L, "https://a.example/x", "2024-01-01", "daily", "fp1"))
      .toDF("doc_id", "url", "lastmod", "changefreq", "fp")
    val events = Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 7L)).toDF("ts", "user_id")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("doc_id", "embedding")
    val payloads = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    val m = RegisterSketch.bucketCount(0.05)
    val annSchema = "id BIGINT, vector ARRAY<FLOAT>"
    // (store, marker, bootstrap, empty batch under other parameters)
    val stores: Seq[(String, String, String => Unit, String => Unit)] = Seq(
      ("admission", "_graft_buckets",
        d => StreamingAdmission.initialize(docs, "text", d, 8),
        d => StreamingAdmission.applyBatch(empty, "doc_id", "text", d, s"$d.out", 16, 0L)),
      ("near-dup", "_graft_buckets",
        d => StreamingNearDup.initialize(docs, "doc_id", "text", d, s"$d.out",
          StreamingNearDup.Params(numBuckets = 8)),
        d => StreamingNearDup.applyBatch(empty, 0L, "doc_id", "text", d, s"$d.out",
          StreamingNearDup.Params(numBuckets = 16))),
      ("winnow", "_graft_buckets",
        d => StreamingWinnowDedup.initialize(docs, "doc_id", "text", d, s"$d.out",
          StreamingWinnowDedup.Params(numBuckets = 8)),
        d => StreamingWinnowDedup.applyBatch(empty, 0L, "doc_id", "text", d, s"$d.out",
          StreamingWinnowDedup.Params(numBuckets = 16))),
      ("image", "_graft_dhash",
        d => StreamingImageDedup.initialize(payloads, "doc_id", d, s"$d.out",
          StreamingImageDedup.Params(numBuckets = 8)),
        d => StreamingImageDedup.applyBatch(payloads, 0L, "doc_id", "payload", d, s"$d.out",
          StreamingImageDedup.Params(numBuckets = 16))),
      ("audio", "_graft_afp",
        d => StreamingAudioDedup.initialize(payloads, "doc_id", d, s"$d.out",
          StreamingAudioDedup.Params(numBuckets = 8)),
        d => StreamingAudioDedup.applyBatch(payloads, 0L, "doc_id", "payload", d, s"$d.out",
          StreamingAudioDedup.Params(numBuckets = 16))),
      ("video", "_graft_vfp",
        d => StreamingVideoDedup.initialize(payloads, "doc_id", d, s"$d.out",
          StreamingVideoDedup.Params(numBuckets = 8)),
        d => StreamingVideoDedup.applyBatch(payloads, 0L, "doc_id", "payload", d, s"$d.out",
          StreamingVideoDedup.Params(numBuckets = 16))),
      ("scd2", "_graft_buckets",
        d => StreamingUpsert.initializeScd2(changes, "k", "ts", "tie", Seq("attr"), d, 8),
        d => StreamingUpsert.applyScd2Batch(changes.limit(0), "k", "ts", "tie", Seq("attr"),
          d, 16)),
      ("latest", "_graft_buckets",
        d => StreamingUpsert.initializeLatest(changes, "k", "ts", "tie", d, 8),
        d => StreamingUpsert.applyLatestBatch(changes.limit(0), "k", "ts", "tie", d, 16)),
      ("recrawl", "_graft_buckets",
        d => StreamingRecrawl.initialize(pages.select($"url", lit(100L).as("last_fetch_ts")),
          "url", d, 8),
        d => StreamingRecrawl.applyBatch(pages.limit(0), "doc_id", "url", "lastmod",
          "changefreq", d, s"$d.out", 16, 0L, 1700000000L, 86400L)),
      ("change_detect", "_graft_buckets",
        d => StreamingRecrawl.initialize(pages.select($"url", lit(100L).as("last_fetch_ts")),
          "url", d, 8),
        d => StreamingRecrawl.applyFetchBatch(pages.limit(0), "doc_id", "url", "fp",
          d, s"$d.out", 16, 0L, 1700000000L)),
      ("sketch", "_graft_sketch_m",
        d => StreamingSketch.initialize(events, "ts", "user_id", d, m),
        d => StreamingSketch.applyBatch(events.limit(0), "ts", "user_id", d, m * 2)),
      ("kmeans", "_graft_centroids",
        d => StreamingKmeans.initialize(vecs, "doc_id", "embedding",
          Seq(Array(1.0, 0.0), Array(0.0, 1.0)), d),
        d => StreamingKmeans.applyBatch(vecs.limit(0), 0L, "doc_id", "embedding",
          Seq(Array(0.0, 1.0), Array(1.0, 0.0)), d)),
      ("heavy-hitters", "_graft_hh_k",
        d => StreamingHeavyHitters.initialize(Seq("a", "b").toDF("v"), "v", d, 3),
        d => StreamingHeavyHitters.applyBatch(Seq("a").toDF("v").limit(0), 0L, "v", d, 4)),
      ("line-dedup", "_graft_line_delim",
        d => StreamingLineDedup.initialize(docs, "doc_id", "text", d),
        d => StreamingLineDedup.applyBatch(empty, "doc_id", "text", d, "|", 0L)),
      ("ann", "_graft_buckets",
        d => StreamingAnnIndex.initialize(d, 8, annSchema),
        d => StreamingAnnIndex.applyBatch(vecs.limit(0), "doc_id", d, annSchema, 16,
          identity)),
      ("semdedup", "_graft_semdedup",
        d => StreamingSemDedup.initialize(vecs, "doc_id", "embedding", d,
          StreamingSemDedup.Params(numBuckets = 4, k = 2, minCosine = 0.95)),
        d => StreamingSemDedup.applyBatch(vecs.limit(0), 0L, "doc_id", "embedding", d,
          StreamingSemDedup.Params(numBuckets = 8, k = 2, minCosine = 0.95))))
    val r = root()
    for ((name, marker, init, apply) <- stores) {
      val d = s"$r/$name"
      init(d)
      val before = markers(d)
      val e = intercept[IllegalArgumentException](apply(d))
      assert(e.getMessage.contains(marker), s"$name: ${e.getMessage}")
      assert(markers(d) === before, s"$name rewrote its marker")
    }
  }

  test("StreamingAnnIndex: bucket, schema and layout markers; (cell, bucket) directories") {
    val r = root()
    val schema = "id BIGINT, cell INT, vector ARRAY<FLOAT>"
    val vecs = (0L until 8L)
      .map(i => (i, Array.tabulate(4)(d => math.sin(i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = AnnIndex.load(centroids =
      Some(AnnIndex.trainIvf(vecs, "vec_id", "embedding", nCells = 2)))
    StreamingAnnIndex.initialize(s"$r/enc", 8, schema, partitionCols = Seq("cell", "__kb"))
    StreamingAnnIndex.applyBatch(vecs, "vec_id", s"$r/enc", schema, 8,
      AnnIndex.encode(ivf, _, "id", "embedding"))
    assertMarkers(s"$r/enc",
      "_graft_buckets" -> "8", "_graft_schema" -> schema,
      "_graft_partitioning" -> "cell,__kb")
    assert(partitionKeys(s"$r/enc") === Set("cell"))
    assert(nestedKeys(s"$r/enc") === Set("__kb"))
  }
}
