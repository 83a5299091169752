package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.StreamingNearDup
import graft.streaming.StreamingNearDup.Params

/** Streaming near-dup admission ([[StreamingNearDup]]): cold start,
  * cross-batch rejection, replay idempotency, parameter guard.
  */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val other = "one two three four five six seven eight nine ten eleven twelve"
  private val p     = Params(numBuckets = 8)

  private def corpusIds(path: String): Set[Long] =
    scala.util.Try(
      spark.read.parquet(path).select("doc_id")
        .collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)

  test("cold start admits batch survivors; later batches reject corpus near-dups") {
    val root   = Files.createTempDirectory("graft-snd").toString
    val store  = s"$root/postings"
    val out    = s"$root/corpus"
    StreamingNearDup.initialize(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", store, out, p)

    // batch 0: a near-dup pair (min id wins) + a novel doc
    val b0 = Seq(
      (10L, base), (11L, base.replace("mu", "nu")), (12L, other))
      .toDF("doc_id", "text")
    StreamingNearDup.applyBatch(b0, 0L, "doc_id", "text", store, out, p)
    assert(corpusIds(out) === Set(10L, 12L))

    // batch 1: near-dup of an admitted doc -> rejected; novel -> admitted
    val b1 = Seq(
      (20L, base.replace("mu", "xi")),
      (21L, "fresh unrelated sentence with many previously unseen tokens inside here"))
      .toDF("doc_id", "text")
    StreamingNearDup.applyBatch(b1, 1L, "doc_id", "text", store, out, p)
    assert(corpusIds(out) === Set(10L, 12L, 21L))
  }

  test("a corpus-sink read failure fails the batch instead of admitting near-dups") {
    val root  = Files.createTempDirectory("graft-snd-body").toString
    val store = s"$root/postings"
    val out   = s"$root/corpus"
    StreamingNearDup.initialize(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", store, out, p)
    StreamingNearDup.applyBatch(
      Seq((10L, base)).toDF("doc_id", "text"), 0L, "doc_id", "text", store, out, p)
    assert(corpusIds(out) === Set(10L))
    // batch 1 names its text column `body`, which the sink never held:
    // the verification corpus cannot be read, so the batch must fail
    // rather than verify against nothing and admit doc 20
    val b1 = Seq((20L, base.replace("mu", "nu"))).toDF("doc_id", "body")
    val e = intercept[Exception] {
      StreamingNearDup.applyBatch(b1, 1L, "doc_id", "body", store, out, p)
    }
    assert(e.getMessage.contains("body"), e.getMessage)
    assert(corpusIds(out) === Set(10L))
  }

  test("replaying a micro-batch is a content no-op") {
    val root  = Files.createTempDirectory("graft-snd2").toString
    val store = s"$root/postings"
    val out   = s"$root/corpus"
    StreamingNearDup.initialize(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", store, out, p)
    val b = Seq((10L, base.replace("mu", "nu")), (11L, other))
      .toDF("doc_id", "text")
    StreamingNearDup.applyBatch(b, 3L, "doc_id", "text", store, out, p)
    val before = corpusIds(out)
    assert(before === Set(1L, 11L))
    StreamingNearDup.applyBatch(b, 3L, "doc_id", "text", store, out, p)
    assert(corpusIds(out) === before)
    // posting store: one row per (id, band, bh), no replay duplicates
    val postings = spark.read.parquet(store)
    assert(postings.count() === postings.distinct().count())
  }

  test("mixed LSH parameters fail loud") {
    val root  = Files.createTempDirectory("graft-snd3").toString
    val store = s"$root/postings"
    StreamingNearDup.initialize(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", store,
      s"$root/corpus", p)
    val e = intercept[IllegalArgumentException] {
      StreamingNearDup.applyBatch(
        Seq((2L, other)).toDF("doc_id", "text"), 0L, "doc_id", "text",
        store, s"$root/corpus", p.copy(minJaccard = 0.7))
    }
    assert(e.getMessage.contains("parameter mismatch"))
  }
}
