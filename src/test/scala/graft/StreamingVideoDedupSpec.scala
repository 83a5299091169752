package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.StreamingVideoDedup
import graft.streaming.StreamingVideoDedup.Params

/** Video near-dup admission store: ≥½-frame-set-overlap copies of
  * admitted videos (trims, transcodes) reject across batches WITHOUT
  * re-demuxing the corpus; below-threshold partial overlaps and novel
  * clips admit; replay is a content no-op.
  *
  * The synthetic videos ([[Multimodal.syntheticVideos]]) give doc `id`
  * frames with image ids `id .. id + 1 + id%3`, so natural trim
  * structure exists: video 3 = frames {3,4} is a 2-frame "trim" of
  * video 2 = frames {2,3,4,5} (shared 2, 3·2 ≥ 2+4 — rejects), while
  * video 4 = {4,5,6} shares 2 of 2+4+3 with video 2 (3·2 < 3+4 —
  * admits). */
class StreamingVideoDedupSpec extends SparkSpec {
  import spark.implicits._

  private def dirs() = (
    Files.createTempDirectory("graft-viddedup-store").toString,
    Files.createTempDirectory("graft-viddedup-sink").toString)

  private def videos(ids: Seq[Long]): DataFrame =
    Multimodal.syntheticAviVideos(ids.toDF("doc_id"), "doc_id") // real RIFF/AVI bytes

  /** 2x-upscale per-frame transcode of each source video, emitted as
    * `srcId + offset` — frame hashes identical, so the copy's frame
    * SET equals the original's. */
  private def transcodes(srcIds: Seq[Long], offset: Long): DataFrame =
    Multimodal.reencodeScaledVideo(videos(srcIds), factor = 2, idOffset = offset)

  private def admitted(sink: String, batch: Long): Set[Long] =
    StreamingVideoDedup.admittedIds(spark, batch, "doc_id", sink)
      .collect().map(_.getLong(0)).toSet

  test("two-batch admission: trims/transcodes reject across batches, partial overlap admits, replay no-op") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8)
    StreamingVideoDedup.initialize(videos(Seq.empty).limit(0), "doc_id", store, sink, p)
    // frame-set sanity: the overlap expectations below depend on the
    // generator's sliding-window structure AND on distinct frame ids
    // hashing distinctly — verify both before asserting admission
    val fs = Multimodal.videoFrameSet(videos(Seq(2L, 3L, 4L, 20L, 40L))).toDF()
      .collect().map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assume(fs(2L).size == 4 && fs(3L).size == 2 && fs(4L).size == 3,
      "generator frame counts changed — re-derive the expected sets")
    assume((fs(3L) -- fs(2L)).isEmpty, "video 3 must be a frame subset of 2")
    assume(fs(4L).intersect(fs(2L)).size == 2, "videos 4/2 must share exactly 2 frames")
    assume(fs(20L).intersect(fs(2L) ++ fs(3L) ++ fs(4L) ++ fs(40L)).isEmpty &&
      fs(40L).intersect(fs(2L) ++ fs(3L) ++ fs(4L)).isEmpty,
      "videos 20/40 must be frame-disjoint from the rest")
    // batch 0: video 2, a transcode of it as 1002 (in-batch pair ->
    // min-id 2 survives), disjoint video 20
    StreamingVideoDedup.applyBatch(
      videos(Seq(2L, 20L)).unionByName(transcodes(Seq(2L), 1000L)),
      0L, "doc_id", "payload", store, sink, p)
    assert(admitted(sink, 0L) === Set(2L, 20L))
    // batch 1: trim-shaped 3 (⊂ admitted 2 -> reject), partial-overlap
    // 4 (< ½ vs 2 -> admit), transcode of ADMITTED 20 as 1020 (reject
    // against the store without re-demuxing the corpus), novel 40
    StreamingVideoDedup.applyBatch(
      videos(Seq(3L, 4L, 40L)).unionByName(transcodes(Seq(20L), 1000L)),
      1L, "doc_id", "payload", store, sink, p)
    assert(admitted(sink, 1L) === Set(4L, 40L))
    // replay of batch 1: admitted set recomputes identically (own
    // postings self-excluded), both stores byte-content-identical
    def content() =
      spark.read.parquet(store).toJSON.collect().toSet ++
        spark.read.parquet(sink).toJSON.collect().map("s:" + _).toSet
    val before = content()
    StreamingVideoDedup.applyBatch(
      videos(Seq(3L, 4L, 40L)).unionByName(transcodes(Seq(20L), 1000L)),
      1L, "doc_id", "payload", store, sink, p)
    assert(content() === before)
    assert(admitted(sink, 1L) === Set(4L, 40L))
  }

  test("bootstrap corpus admits wholesale; later trims and transcodes of it reject") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8)
    StreamingVideoDedup.initialize(videos(Seq(2L, 20L)), "doc_id", store, sink, p)
    assert(admitted(sink, -1L) === Set(2L, 20L))
    StreamingVideoDedup.applyBatch(
      videos(Seq(3L, 40L)).unionByName(transcodes(Seq(2L), 1000L)),
      0L, "doc_id", "payload", store, sink, p)
    assert(admitted(sink, 0L) === Set(40L))
  }

  test("parameter mismatch and missing marker fail loudly") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8)
    val ex0 = intercept[IllegalArgumentException] {
      StreamingVideoDedup.applyBatch(videos(Seq(2L)), 0L, "doc_id", "payload", store, sink, p)
    }
    assert(ex0.getMessage.contains("initialize"))
    StreamingVideoDedup.initialize(videos(Seq(2L)), "doc_id", store, sink, p)
    val ex1 = intercept[IllegalArgumentException] {
      StreamingVideoDedup.applyBatch(
        videos(Seq(20L)), 0L, "doc_id", "payload", store, sink, p.copy(numBuckets = 16))
    }
    assert(ex1.getMessage.contains("parameter mismatch"))
  }
}
