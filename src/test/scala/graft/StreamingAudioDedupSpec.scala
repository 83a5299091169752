package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.operators.Multimodal
import graft.streaming.StreamingAudioDedup
import graft.streaming.StreamingAudioDedup.Params

/** Perceptual audio admission store: attenuated re-encodes of admitted
  * clips reject across batches; replay is a content no-op. */
class StreamingAudioDedupSpec extends SparkSpec {
  import spark.implicits._

  private def dirs() = (
    Files.createTempDirectory("graft-auddedup-store").toString,
    Files.createTempDirectory("graft-auddedup-sink").toString)

  /** Varied-formula WAVs for `ids`, then half-amplitude re-encodes of
    * `srcId` under `newId`. */
  private def clips(ids: Seq[Long], copies: Seq[(Long, Long)]): DataFrame = {
    val orig = Multimodal.syntheticAudioVaried(ids.toDF("doc_id"), "doc_id")
    copies.foldLeft(orig) { case (acc, (srcId, newId)) =>
      acc.unionByName(
        Multimodal.reencodeAttenuated(
          Multimodal.syntheticAudioVaried(Seq(srcId).toDF("doc_id"), "doc_id"),
          shift = 1, idOffset = newId - srcId))
    }
  }

  private def admittedIds(sink: String, batch: Long): Set[Long] =
    StreamingAudioDedup.admittedIds(spark, batch, "doc_id", sink)
      .collect().map(_.getLong(0)).toSet

  test("two-batch admission: attenuated copies reject across batches, novel clips admit, replay no-op") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8, maxHamming = 3)
    StreamingAudioDedup.initialize(
      clips(Seq.empty, Seq.empty).limit(0), "doc_id", store, sink, p)
    // distinct-formula sanity: the test clips must be mutually outside
    // the ball or the expected sets below are wrong
    val base = Multimodal.audioFingerprint(
      Multimodal.syntheticAudioVaried(Seq(1L, 5L, 9L).toDF("doc_id"), "doc_id"))
      .collect().map(f => f.doc_id -> f.afp).toMap
    for (a <- base.keys; b <- base.keys if a < b)
      assume(java.lang.Long.bitCount(base(a) ^ base(b)) > 3,
        s"formula clips $a/$b accidentally within the ball — pick other ids")
    // batch 0: clip 1, an attenuated re-encode of it as id 101
    // (in-batch pair -> min-id 1 survives), novel clip 5
    StreamingAudioDedup.applyBatch(
      clips(Seq(1L, 5L), Seq((1L, 101L))), 0L, "doc_id", "payload", store, sink, p)
    assert(admittedIds(sink, 0L) === Set(1L, 5L))
    // batch 1: another attenuated copy of ADMITTED 1 (id 201, rejected
    // against the store without re-decoding the corpus), novel clip 9
    StreamingAudioDedup.applyBatch(
      clips(Seq(9L), Seq((1L, 201L))), 1L, "doc_id", "payload", store, sink, p)
    assert(admittedIds(sink, 1L) === Set(9L))
    // replay of batch 1: every clip self-collides at hamming 0 ->
    // admitted empty, store content identical
    def content() =
      spark.read.parquet(store).toJSON.collect().toSet ++
        spark.read.parquet(sink).toJSON.collect().map("s:" + _).toSet
    val before = content()
    StreamingAudioDedup.applyBatch(
      clips(Seq(9L), Seq((1L, 201L))), 1L, "doc_id", "payload", store, sink, p)
    assert(content() === before)
  }

  test("bootstrap corpus admits wholesale; later attenuated copies of it reject") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8, maxHamming = 3)
    StreamingAudioDedup.initialize(
      clips(Seq(1L, 5L), Seq.empty), "doc_id", store, sink, p)
    assert(admittedIds(sink, -1L) === Set(1L, 5L))
    StreamingAudioDedup.applyBatch(
      clips(Seq(9L), Seq((5L, 305L))), 0L, "doc_id", "payload", store, sink, p)
    assert(admittedIds(sink, 0L) === Set(9L))
  }

  test("parameter mismatch and missing marker fail loudly") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8, maxHamming = 3)
    val ex0 = intercept[IllegalArgumentException] {
      StreamingAudioDedup.applyBatch(
        clips(Seq(1L), Seq.empty), 0L, "doc_id", "payload", store, sink, p)
    }
    assert(ex0.getMessage.contains("initialize"))
    StreamingAudioDedup.initialize(
      clips(Seq(1L), Seq.empty), "doc_id", store, sink, p)
    val ex1 = intercept[IllegalArgumentException] {
      StreamingAudioDedup.applyBatch(
        clips(Seq(5L), Seq.empty), 0L, "doc_id", "payload", store, sink,
        p.copy(maxHamming = 7))
    }
    assert(ex1.getMessage.contains("parameter mismatch"))
  }
}
