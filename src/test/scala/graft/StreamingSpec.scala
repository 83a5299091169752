package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained stores driven as streams: each folded store must equal
  * its batch operator over the same data, and a replayed micro-batch
  * must be a content no-op. */
class StreamingSpec extends SparkSpec {
  import Fixtures._

  // -------------------------------------------------------- upsert maintenance

  private def upsertLog: DataFrame =
    sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")
      .select("user_id", "ts", "event_id", "event_type", "value")

  private def storeContents(path: String): Set[org.apache.spark.sql.Row] = {
    val df = spark.read.parquet(path).drop(graft.streaming.MaintainedStore.BucketCol)
    df.select(df.columns.sorted.map(col): _*).collect().toSet
  }

  private def bucketFiles(path: String): Set[String] = {
    val root = java.nio.file.Paths.get(path)
    val out = scala.collection.mutable.Set[String]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".parquet")) out += root.relativize(p).toString
    }
    out.toSet
  }

  test("streaming SCD2 maintenance equals the batch history; replay and pruning are surgical") {
    import graft.streaming.StreamingUpsert
    import graft.operators.Scd2
    val log   = upsertLog
    val attrs = Seq("event_type", "value")
    // split by TIME so each key's half2 changes arrive at-or-after its
    // half1 changes — the in-order incremental feed merge() documents
    val split = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val half1 = log.filter(col("ts") < split)
    val half2 = log.filter(col("ts") >= split)
    val path  = Files.createTempDirectory("graft-stream-scd2").toString + "/dim_hist"
    val B     = 8

    StreamingUpsert.initializeScd2(half1, "user_id", "ts", "event_id", attrs, path, B)

    // micro-batch 2 through the REAL foreachBatch wiring (file stream)
    val stage = Files.createTempDirectory("graft-stream-scd2-src").toString
    half2.coalesce(1).write.mode("append").parquet(stage)
    val q = graft.streaming.MaintainedStore.maintain(
      spark.readStream.schema(log.schema).parquet(stage),
      Files.createTempDirectory("graft-stream-scd2-ck").toString) { (batch, _) =>
      StreamingUpsert.applyScd2Batch(batch, "user_id", "ts", "event_id", attrs, path, B)
    }
    try q.processAllAvailable()
    finally q.stop()

    // batch parity: store == full-log Scd2.history (itself oracle-gated)
    val expect = Scd2.history(log, "user_id", "ts", "event_id", attrs)
    val expectSet = expect.select(expect.columns.sorted.map(col): _*).collect().toSet
    val got = storeContents(path)
    assert(got == expectSet,
      s"store != batch history: extra=${(got -- expectSet).take(3)} missing=${(expectSet -- got).take(3)}")

    // replayed micro-batch (failure recovery): content no-op
    StreamingUpsert.applyScd2Batch(half2, "user_id", "ts", "event_id", attrs, path, B)
    assert(storeContents(path) == expectSet, "replay must be a content no-op")

    // pruning is surgical: a one-key batch rewrites ONLY that key's bucket
    val oneKey = log.orderBy("user_id", "ts").limit(1)
      .select(col("user_id"), (col("ts") + expr("INTERVAL 400 DAYS")).as("ts"),
        (col("event_id") + 1000000L).as("event_id"),
        lit("relabeled").as("event_type"), col("value"))
    val keyBucket = oneKey
      .select(pmod(hash(col("user_id")), lit(B))).head().getInt(0)
    val before = bucketFiles(path)
    StreamingUpsert.applyScd2Batch(oneKey, "user_id", "ts", "event_id", attrs, path, B)
    val after = bucketFiles(path)
    val otherBuckets = (f: String) => !f.startsWith(s"${graft.streaming.MaintainedStore.BucketCol}=$keyBucket/")
    assert(before.filter(otherBuckets) == after.filter(otherBuckets),
      "buckets the batch does not touch must not be rewritten")
    assert(before.filter(f => !otherBuckets(f)) != after.filter(f => !otherBuckets(f)),
      "the touched bucket must actually have been rewritten")

    // bucket-count mismatch is fail-loud, not silent key loss
    val boom = intercept[IllegalArgumentException] {
      StreamingUpsert.applyScd2Batch(oneKey, "user_id", "ts", "event_id", attrs, path, B + 1)
    }
    assert(boom.getMessage.contains("bucket-count mismatch"))
  }

  test("streaming latest-wins CDC equals the window-form batch merge; replay is a no-op") {
    import graft.streaming.StreamingUpsert
    val log   = upsertLog
    val split = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val path  = Files.createTempDirectory("graft-stream-cdc").toString + "/dim_latest"
    val B     = 8

    StreamingUpsert.initializeLatest(
      log.filter(col("ts") < split), "user_id", "ts", "event_id", path, B)
    StreamingUpsert.applyLatestBatch(
      log.filter(col("ts") >= split), "user_id", "ts", "event_id", path, B)

    // expectation built the INDEPENDENT way (window row_number, the
    // oracle form of dim_merge_latest), not via latestWins itself
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val expect = log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val expectSet = expect.select(expect.columns.sorted.map(col): _*).collect().toSet
    assert(storeContents(path) == expectSet, "store != batch latest-wins")

    // replay: max is idempotent
    StreamingUpsert.applyLatestBatch(
      log.filter(col("ts") >= split), "user_id", "ts", "event_id", path, B)
    assert(storeContents(path) == expectSet, "replay must be a content no-op")
  }

  test("streaming admission equals batch exactIncremental; replay is idempotent end to end") {
    import graft.streaming.StreamingAdmission
    import graft.operators.Dedup
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)  // 80% pre-existing
    val batch  = docs.filter(col("doc_id") % 5 === 0)  // 20% arriving batch
    val root = Files.createTempDirectory("graft-adm").toString
    val (fpStore, corpusOut) = (root + "/fps", root + "/admitted")
    val B = 8

    StreamingAdmission.initialize(corpus, "text", fpStore, B)
    StreamingAdmission.applyBatch(batch, "doc_id", "text", fpStore, corpusOut, B, batchId = 7L)

    // batch parity: admitted == the batch operator against the same corpus
    val expect = Dedup.exactIncremental(
      batch, Dedup.fingerprints(corpus, "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def admittedIds = spark.read.parquet(corpusOut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admittedIds == expect, "streamed admission != batch exactIncremental")
    assert(expect.nonEmpty)

    def storeFps = spark.read.parquet(fpStore)
      .select("fingerprint").collect().map(_.getString(0)).toSet
    val fpsAfter = storeFps

    // replay the SAME batch (failure recovery): corpus partition is
    // overwritten in place, store buckets rebuild to the same set
    StreamingAdmission.applyBatch(batch, "doc_id", "text", fpStore, corpusOut, B, batchId = 7L)
    assert(admittedIds == expect, "replay duplicated corpus output")
    assert(storeFps == fpsAfter, "replay changed the fingerprint store")

    // a SECOND batch re-sending admitted content admits nothing new
    StreamingAdmission.applyBatch(batch, "doc_id", "text", fpStore, corpusOut, B, batchId = 8L)
    assert(admittedIds == expect, "re-sent content must not re-admit")

    // modulus mismatch is fail-loud
    intercept[IllegalArgumentException] {
      StreamingAdmission.applyBatch(batch, "doc_id", "text", fpStore, corpusOut, B * 2, 9L)
    }
  }

  test("streaming admission cold start: empty-corpus bootstrap admits the first batch") {
    import graft.streaming.StreamingAdmission
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text")
    val root = Files.createTempDirectory("graft-adm-cold").toString
    val (fpStore, corpusOut) = (root + "/fps", root + "/admitted")
    // no pre-existing corpus at all — the store starts with zero files
    StreamingAdmission.initialize(docs.limit(0), "text", fpStore, 8)
    val batch = docs.filter(col("doc_id") < 50)
    StreamingAdmission.applyBatch(batch, "doc_id", "text", fpStore, corpusOut, 8, 0L)
    val admitted = spark.read.parquet(corpusOut).count()
    assert(admitted > 0 && admitted <= batch.count())
    // and the second, identical batch admits nothing new
    StreamingAdmission.applyBatch(batch, "doc_id", "text", fpStore, corpusOut, 8, 1L)
    assert(spark.read.parquet(corpusOut).count() == admitted)
  }

  test("generic maintain drives a batch-id store: admission over two micro-batches") {
    import spark.implicits._
    import graft.streaming.{MaintainedStore, StreamingAdmission}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-adm-stream").toString
    val (fpStore, corpusOut) = (root + "/fps", root + "/admitted")
    StreamingAdmission.initialize(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", fpStore, 8)
    val input = MemoryStream[(Long, String)](spark)
    val q = MaintainedStore.maintain(
      input.toDF().toDF("doc_id", "text"),
      Files.createTempDirectory("graft-adm-stream-ck").toString,
      Trigger.ProcessingTime(0L)) { (batch, batchId) =>
      StreamingAdmission.applyBatch(
        batch, "doc_id", "text", fpStore, corpusOut, 8, batchId)
    }
    try {
      input.addData((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      q.processAllAvailable()
      // doc 3 re-sends doc 1's content in the NEXT micro-batch
      input.addData((3L, "alpha beta gamma"), (4L, "zeta eta theta"))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(corpusOut)
      .select(col("doc_id"), col(MaintainedStore.BatchCol))
      .as[(Long, Long)].collect().toSet
    assert(admitted === Set((1L, 0L), (2L, 0L), (4L, 1L)),
      "each micro-batch admits under its own batch id; the cross-batch duplicate is rejected")
    val partitions = java.nio.file.Files.list(java.nio.file.Paths.get(corpusOut))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.contains("=")).toSet
    assert(partitions === Set("__batch_id=0", "__batch_id=1"))
  }

  test("streaming sketch maintenance equals batch registers; replay no-op; m guard") {
    import graft.streaming.StreamingSketch
    import graft.functions.RegisterSketch
    val m     = RegisterSketch.bucketCount(0.05)
    val ev    = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")
    val split = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val path  = Files.createTempDirectory("graft-stream-sk").toString + "/daily_sk"

    StreamingSketch.initialize(ev.filter(col("ts") < split), "ts", "user_id", path, m)

    // micro-batch 2 through the REAL foreachBatch wiring (file stream)
    val stage = Files.createTempDirectory("graft-stream-sk-src").toString
    ev.filter(col("ts") >= split).coalesce(1).write.mode("append").parquet(stage)
    val q = graft.streaming.MaintainedStore.maintain(
      spark.readStream.schema(ev.schema).parquet(stage),
      Files.createTempDirectory("graft-stream-sk-ck").toString) { (batch, _) =>
      StreamingSketch.applyBatch(batch, "ts", "user_id", path, m)
    }
    try q.processAllAvailable()
    finally q.stop()

    // batch parity: stored registers == one-shot batch build per day
    def registers(df: DataFrame) = df.collect()
      .map(r => r.get(r.fieldIndex(StreamingSketch.DayCol)).toString.toLong ->
        r.getMap[Int, Int](r.fieldIndex("sk")).toMap).toMap
    val expect = registers(
      ev.groupBy(floor(unix_timestamp(col("ts")) / 86400L).cast("long")
          .as(StreamingSketch.DayCol))
        .agg(RegisterSketch.buildAgg(m)(RegisterSketch.hashColumn(col("user_id"))).as("sk")))
    val got = registers(spark.read.parquet(path))
    assert(got == expect, "store registers != batch registers")

    // replay (failure recovery): register max is idempotent
    StreamingSketch.applyBatch(ev.filter(col("ts") >= split), "ts", "user_id", path, m)
    assert(registers(spark.read.parquet(path)) == expect, "replay must be a no-op")

    // surgical: a one-day batch rewrites only that day's partition
    def fileSet = {
      val out = scala.collection.mutable.Set[String]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).forEach { p =>
        if (p.toString.endsWith(".parquet")) out += p.toString
      }
      out.toSet
    }
    val before = fileSet
    val oneDay = ev.filter(col("ts") >= split).orderBy("ts").limit(5)
    StreamingSketch.applyBatch(oneDay, "ts", "user_id", path, m)
    val changed = (fileSet -- before) ++ (before -- fileSet)
    val touchedDirs = changed.map(_.split("/").takeWhile(!_.endsWith(".parquet"))
      .find(_.startsWith(s"${StreamingSketch.DayCol}=")).getOrElse("?"))
    assert(touchedDirs.size <= 1, s"expected one day partition rewritten, got $touchedDirs")

    // rolling query off the store estimates sensibly
    val rolling = StreamingSketch.rollingDistinct(spark, path, m, windowDays = 7)
    assert(rolling.count() == got.size)
    assert(rolling.agg(min(col("approx_users"))).head.getLong(0) > 0)

    // register-count mismatch is fail-loud, not a silent corruption
    intercept[IllegalArgumentException] {
      StreamingSketch.applyBatch(oneDay, "ts", "user_id", path, m * 2)
    }
  }
}
