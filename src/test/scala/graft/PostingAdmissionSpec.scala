package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import graft.operators.Multimodal
import graft.streaming._

/** Crash consistency of the posting-admission publish, by fault
  * injection: every [[PostingAdmission]] store writes its sink first
  * and its postings second, so a crash between the two writes leaves
  * the batch's sink partition on disk and its postings absent. The
  * crash is simulated without any hook in the stores: snapshot the
  * store directory, run `applyBatch`, restore the snapshot. Replaying
  * the batch from that state must leave the store and the sink
  * row-identical to a run that never crashed. */
class PostingAdmissionSpec extends SparkSpec {
  import spark.implicits._

  /** A store bound to its parameters and data through the shared
    * signature: `init(store, sink)` bootstraps it, `apply(store, sink)`
    * admits the test batch (batch id 1), which admits only `novel`. */
  private final class Bound(
      val name: String, val store: PostingAdmission, val novel: Long,
      val init: (String, String) => Unit, val apply: (String, String) => Unit)

  private def bind(name: String, s: PostingAdmission, novel: Long)(
      p: s.Params, content: String, bootstrap: DataFrame, batch: DataFrame): Bound =
    new Bound(name, s, novel,
      (store, sink) => s.initialize(bootstrap, "doc_id", content, store, sink, p),
      (store, sink) => s.applyBatch(batch, 1L, "doc_id", content, store, sink, p))

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val fresh = "one two three four five six seven eight nine ten eleven twelve"
  private val run = "p q r s t u v w x y"
  private def ids(xs: Long*) = xs.toDF("doc_id")

  // each batch holds a copy of the bootstrap item (rejected, id 101)
  // and a novel item (admitted), so the sink and the posting union move
  private val stores = Seq(
    bind("near-dup", StreamingNearDup, novel = 102L)(StreamingNearDup.Params(numBuckets = 8), "text",
      Seq((1L, base)).toDF("doc_id", "text"),
      Seq((101L, base.replace("mu", "nu")), (102L, fresh)).toDF("doc_id", "text")),
    bind("winnow", StreamingWinnowDedup, novel = 102L)(StreamingWinnowDedup.Params(numBuckets = 8), "text",
      Seq((1L, s"bootstrap alpha $run omega beta")).toDF("doc_id", "text"),
      Seq((101L, s"bootstrap alpha $run omega beta"), (102L, fresh)).toDF("doc_id", "text")),
    bind("image", StreamingImageDedup, novel = 121L)(StreamingImageDedup.Params(numBuckets = 8), "payload",
      Multimodal.syntheticImages(ids(1L), "doc_id"),
      Multimodal.reencodeScaled(Multimodal.syntheticImages(ids(1L), "doc_id"),
        factor = 2, idOffset = 100L)
        .unionByName(Multimodal.syntheticImages(ids(121L), "doc_id"))),
    bind("audio", StreamingAudioDedup, novel = 121L)(StreamingAudioDedup.Params(numBuckets = 8), "payload",
      Multimodal.syntheticAudioVaried(ids(1L), "doc_id"),
      Multimodal.reencodeAttenuated(Multimodal.syntheticAudioVaried(ids(1L), "doc_id"),
        shift = 1, idOffset = 100L)
        .unionByName(Multimodal.syntheticAudioVaried(ids(121L), "doc_id"))),
    bind("video", StreamingVideoDedup, novel = 121L)(StreamingVideoDedup.Params(numBuckets = 8), "payload",
      Multimodal.syntheticVideos(ids(1L), "doc_id"),
      Multimodal.reencodeScaledVideo(Multimodal.syntheticVideos(ids(1L), "doc_id"),
        factor = 2, idOffset = 100L)
        .unionByName(Multimodal.syntheticVideos(ids(121L), "doc_id"))))

  /** Every row of the store and the sink, duplicates kept. */
  private def content(store: String, sink: String): Seq[String] =
    (spark.read.parquet(store).toJSON.collect().map("p:" + _) ++
      spark.read.parquet(sink).toJSON.collect().map("s:" + _)).sorted.toSeq

  for (b <- stores)
    test(s"${b.name}: a crash between the sink and the postings write replays to the uncrashed store") {
      val root = Files.createTempDirectory(s"graft-crash-${b.name}").toString
      val (store, sink) = (s"$root/ref/postings", s"$root/ref/admitted")
      b.init(store, sink)
      b.apply(store, sink)
      val want = content(store, sink)
      assert(b.store.admittedIds(spark, 1L, "doc_id", sink).as[Long].collect().toSet ===
        Set(b.novel))

      val (cStore, cSink) = (s"$root/crash/postings", s"$root/crash/admitted")
      val snapshot = new File(s"$root/crash/postings.snapshot")
      b.init(cStore, cSink)
      FileUtils.copyDirectory(new File(cStore), snapshot)
      b.apply(cStore, cSink)
      // the crash: the sink write landed, the postings write did not
      FileUtils.deleteDirectory(new File(cStore))
      FileUtils.copyDirectory(snapshot, new File(cStore))
      assert(content(cStore, cSink) !== want, "the injected crash must lose the postings write")
      b.apply(cStore, cSink)
      assert(content(cStore, cSink) === want)
    }
}
