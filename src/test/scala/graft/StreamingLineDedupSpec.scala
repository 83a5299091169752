package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamingLineDedup

/** Streaming line-df maintenance ([[StreamingLineDedup]]): store
  * parity with the batch operator, cleanWith == batch lineDedup over
  * the maintained corpus, replay idempotency, exact compaction, and
  * the delimiter table property.
  */
class StreamingLineDedupSpec extends SparkSpec {
  import spark.implicits._

  private def batch1: DataFrame = Seq(
    (1L, "HEADER\nalpha body\nFOOTER"),
    (2L, "HEADER\nbeta body")).toDF("doc_id", "text")
  private def batch2: DataFrame = Seq(
    (3L, "FOOTER\ngamma body"),
    (4L, "delta body\nHEADER")).toDF("doc_id", "text")

  private def corpus: DataFrame = batch1.unionByName(batch2)

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft-slinedf").toString + "/store"
    StreamingLineDedup.initialize(batch1.limit(0), "doc_id", "text", dir)
    dir
  }

  private def storeDf(path: String): Map[String, Long] =
    spark.read.parquet(path).groupBy("line").agg(sum("n_docs").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("streamed summaries reproduce the batch lineDf exactly") {
    val store = freshStore()
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    StreamingLineDedup.applyBatch(batch2, "doc_id", "text", store, "\n", 1L)
    val want = Dedup.lineDf(corpus, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(storeDf(store) == want)
    assert(want("HEADER") == 3L && want("FOOTER") == 2L)
  }

  test("cleanWith over the maintained corpus == batch lineDedup") {
    val store = freshStore()
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    StreamingLineDedup.applyBatch(batch2, "doc_id", "text", store, "\n", 1L)
    val got = StreamingLineDedup.cleanWith(corpus, "doc_id", "text", store, minDf = 2)
      .collect().map(_.toString).toSet
    val want = Dedup.lineDedup(corpus, "doc_id", "text", minDf = 2)
      .collect().map(_.toString).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("hotness is monotone: a batch cleaned at arrival strips only the df known then") {
    val store = freshStore()
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    // after batch1 alone, HEADER (df 2) is hot; FOOTER (df 1) is not
    val early = StreamingLineDedup.cleanWith(batch1, "doc_id", "text", store, minDf = 2)
      .filter(col("doc_id") === 1L).head()
    assert(early.getAs[String]("text_clean") == "alpha body\nFOOTER")
    StreamingLineDedup.applyBatch(batch2, "doc_id", "text", store, "\n", 1L)
    // FOOTER reached df 2 -> the same doc cleaned now loses it too
    val late = StreamingLineDedup.cleanWith(batch1, "doc_id", "text", store, minDf = 2)
      .filter(col("doc_id") === 1L).head()
    assert(late.getAs[String]("text_clean") == "alpha body")
  }

  test("replaying a micro-batch is a content no-op") {
    val store = freshStore()
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    StreamingLineDedup.applyBatch(batch2, "doc_id", "text", store, "\n", 1L)
    val before = storeDf(store)
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    assert(storeDf(store) == before)
  }

  test("compact folds committed partitions exactly; later partitions untouched") {
    val store = freshStore()
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    StreamingLineDedup.applyBatch(batch2, "doc_id", "text", store, "\n", 1L)
    val before = storeDf(store)
    StreamingLineDedup.compact(spark, store, "\n", upToBatchId = 0L)
    assert(storeDf(store) == before, "compaction must not change totals")
    val parts = spark.read.parquet(store)
      .select(col(graft.streaming.MaintainedStore.BatchCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parts == Set(-1L, 1L), s"expected fold into -1 keeping 1, got $parts")
    // a replay of the kept (uncommitted) batch is still a no-op
    StreamingLineDedup.applyBatch(batch2, "doc_id", "text", store, "\n", 1L)
    assert(storeDf(store) == before)
    intercept[IllegalArgumentException](
      StreamingLineDedup.compact(spark, store, "\n", upToBatchId = -2L))
  }

  test("delimiter is a table property: mismatched callers fail loud") {
    val store = freshStore()
    intercept[IllegalArgumentException](
      StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "|", 0L))
    intercept[IllegalArgumentException](
      StreamingLineDedup.hotLines(spark, store, 2, "|"))
    // missing marker (uninitialized store) fails loud too
    intercept[IllegalArgumentException](
      StreamingLineDedup.applyBatch(batch1, "doc_id", "text",
        Files.createTempDirectory("graft-nomarker").toString, "\n", 0L))
    // ...even on an EMPTY micro-batch: misconfiguration must surface
    // on the first batch, not whenever data happens to arrive
    intercept[IllegalArgumentException](
      StreamingLineDedup.applyBatch(batch1.limit(0), "doc_id", "text",
        Files.createTempDirectory("graft-nomarker2").toString, "\n", 0L))
    intercept[IllegalArgumentException](
      StreamingLineDedup.applyBatch(batch1.limit(0), "doc_id", "text", store, "|", 0L))
  }

  test("empty-corpus bootstrap: the first micro-batch works against an empty store") {
    val store = freshStore()
    assert(Files.exists(Paths.get(store, "_graft_line_delim")))
    val hot0 = StreamingLineDedup.hotLines(spark, store, 2)
    assert(hot0.isEmpty)
    StreamingLineDedup.applyBatch(batch1, "doc_id", "text", store, "\n", 0L)
    assert(storeDf(store).nonEmpty)
  }
}
