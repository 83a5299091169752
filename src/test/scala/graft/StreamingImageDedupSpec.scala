package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.StreamingImageDedup
import graft.streaming.StreamingImageDedup.Params

/** Perceptual image admission store: recompressed/rescaled copies of
  * admitted images reject across batches; replay is a content no-op. */
class StreamingImageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def dirs() = (
    Files.createTempDirectory("graft-imgdedup-store").toString,
    Files.createTempDirectory("graft-imgdedup-sink").toString)

  /** Synthetic formula PNGs for `ids`, then re-encoded 2x copies of
    * `copyOf` under `copyIds`. */
  private def images(ids: Seq[Long], copies: Seq[(Long, Long)]): DataFrame = {
    val orig = Multimodal.syntheticImages(ids.toDF("doc_id"), "doc_id")
    copies.foldLeft(orig) { case (acc, (srcId, newId)) =>
      acc.unionByName(
        Multimodal.reencodeScaled(
          Multimodal.syntheticImages(Seq(srcId).toDF("doc_id"), "doc_id"),
          factor = 2, idOffset = newId - srcId))
    }
  }

  private def admittedIds(sink: String, batch: Long): Set[Long] =
    StreamingImageDedup.admittedIds(spark, batch, "doc_id", sink)
      .collect().map(_.getLong(0)).toSet

  test("two-batch admission: copies reject across batches, novel images admit, replay no-op") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8, maxHamming = 3)
    StreamingImageDedup.initialize(
      images(Seq.empty, Seq.empty).limit(0), "doc_id", store, sink, p)
    // distinct-formula sanity: the test images must be mutually
    // outside the ball or the expected sets below are wrong
    val base = Multimodal.dHash(
      Multimodal.syntheticImages(Seq(1L, 5L, 9L).toDF("doc_id"), "doc_id"))
      .collect().map(d => d.doc_id -> d.dhash).toMap
    for (a <- base.keys; b <- base.keys if a < b)
      assume(java.lang.Long.bitCount(base(a) ^ base(b)) > 3,
        s"formula images $a/$b accidentally within the ball — pick other ids")
    // batch 0: img 1, a 2x re-encode of it as id 101 (in-batch pair ->
    // min-id 1 survives), novel img 5
    StreamingImageDedup.applyBatch(
      images(Seq(1L, 5L), Seq((1L, 101L))), 0L, "doc_id", "payload", store, sink, p)
    assert(admittedIds(sink, 0L) === Set(1L, 5L))
    // batch 1: another re-encode of ADMITTED 1 (id 201, rejected
    // against the store without re-decoding the corpus), novel img 9
    StreamingImageDedup.applyBatch(
      images(Seq(9L), Seq((1L, 201L))), 1L, "doc_id", "payload", store, sink, p)
    assert(admittedIds(sink, 1L) === Set(9L))
    // replay of batch 1: every image self-collides at hamming 0 ->
    // admitted empty, store content identical
    def content() =
      spark.read.parquet(store).toJSON.collect().toSet ++
        spark.read.parquet(sink).toJSON.collect().map("s:" + _).toSet
    val before = content()
    StreamingImageDedup.applyBatch(
      images(Seq(9L), Seq((1L, 201L))), 1L, "doc_id", "payload", store, sink, p)
    assert(content() === before)
  }

  test("bootstrap corpus admits wholesale; later copies of it reject") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8, maxHamming = 3)
    StreamingImageDedup.initialize(
      images(Seq(1L, 5L), Seq.empty), "doc_id", store, sink, p)
    assert(admittedIds(sink, -1L) === Set(1L, 5L))
    StreamingImageDedup.applyBatch(
      images(Seq(9L), Seq((5L, 305L))), 0L, "doc_id", "payload", store, sink, p)
    assert(admittedIds(sink, 0L) === Set(9L))
  }

  test("parameter mismatch and missing marker fail loudly") {
    val (store, sink) = dirs()
    val p = Params(numBuckets = 8, maxHamming = 3)
    val ex0 = intercept[IllegalArgumentException] {
      StreamingImageDedup.applyBatch(
        images(Seq(1L), Seq.empty), 0L, "doc_id", "payload", store, sink, p)
    }
    assert(ex0.getMessage.contains("initialize"))
    StreamingImageDedup.initialize(
      images(Seq(1L), Seq.empty), "doc_id", store, sink, p)
    val ex1 = intercept[IllegalArgumentException] {
      StreamingImageDedup.applyBatch(
        images(Seq(5L), Seq.empty), 0L, "doc_id", "payload", store, sink,
        p.copy(maxHamming = 7))
    }
    assert(ex1.getMessage.contains("parameter mismatch"))
  }
}
