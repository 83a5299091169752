package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.{DimPopulate, FactPopulate}
import graft.model.TimeWindow
import graft.streaming.StreamingFactPopulate

/** Streaming fact populate: a file-source stream aggregated with the
  * streaming surface must converge to the batch populate over the same
  * data (complete output mode; the append/watermark path shares the
  * same plan shape). */
class StreamingSpec extends SparkSpec {
  import Fixtures._

  test("streaming aggregation converges to the batch fact populate") {
    val fact = eventsEnv.findFact("user_activity").get
    val ev   = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")

    // stage the source as two micro-batch files
    val stage = Files.createTempDirectory("graft-stream-src").toString
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    half1.write.mode("append").parquet(stage)
    half2.write.mode("append").parquet(stage)

    val dim = DimPopulate.full(eventsEnv, fact, "dim_app_user", ev, TimeWindow.unbounded)
    dim.cache().count()

    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)

    val agg = StreamingFactPopulate.aggregate(eventsEnv, fact, stream, _ => dim)

    val q = agg.writeStream
      .format("memory")
      .queryName("stream_fact")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("stream_fact")
    val batch: DataFrame =
      FactPopulate.populate(eventsEnv, fact, TimeWindow.unbounded, _ => ev, _ => dim)

    val a = streamed
      .select("ts_minute_id", "activity_count", "app_user_id")
      .collect().map(_.toString).sorted.toSeq
    val b = batch
      .select("ts_minute_id", "activity_count", "app_user_id")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("append mode with watermark emits only finalized windows, no duplicates") {
    val fact = eventsEnv.findFact("user_activity").get
    val ev   = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")

    val stage = Files.createTempDirectory("graft-stream-append").toString
    ev.write.mode("append").parquet(stage)

    val dim = DimPopulate.full(eventsEnv, fact, "dim_app_user", ev, TimeWindow.unbounded)
    dim.cache().count()

    val stream = spark.readStream.schema(ev.schema).parquet(stage)
    val agg = StreamingFactPopulate.aggregate(
      eventsEnv, fact, stream, _ => dim, watermark = "5 minutes")

    val q = agg.writeStream
      .format("memory")
      .queryName("stream_fact_append")
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val emitted = spark.table("stream_fact_append")
    val batch = FactPopulate.populate(eventsEnv, fact, TimeWindow.unbounded, _ => ev, _ => dim)
    val batchKeys = batch.select("ts_minute_id", "app_user_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val emittedRows = emitted.select("ts_minute_id", "app_user_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // finalized windows only: every emitted row exists in the batch
    // result and appears exactly once (watermark holds back only the
    // tail windows)
    assert(emittedRows.toSet.subsetOf(batchKeys))
    assert(emittedRows.length == emittedRows.toSet.size, "duplicate appends")
    assert(emittedRows.nonEmpty)
  }

  test("streamed count-distinct sketches equal the batch registers per window") {
    // a fact whose sketch source (user_id) is NOT a group key — each
    // (minute, event_type) group sketches MANY users split across the
    // two micro-batches, so the cross-batch register merge is exercised
    // for real (grouping by the sketched column would make every
    // sketch single-valued and the merge vacuous)
    import graft.model._
    import graft.model.FactColumnKind._
    val sketchFacts = Seq(Fact("event", "events", columns = Seq(
      FactColumn("ts", DimTime),
      FactColumn("event_type", DimVal("event_type")),
      FactColumn("event_count", FactCount(None)),
      FactColumn("user_count", FactCountDistinct(Some("user_id"))))))
    // hour buckets: sf0.001 has ~1 event per (minute, type) group, which
    // would leave every sketch single-valued
    val env = Validator.validateEnv(
      eventsTables, sketchFacts, eventsSettings.copy(timeUnit = TimeUnit.Hour),
      testTypeDefaults).toOption.get
    val fact = env.findFact("event").get
    val ev   = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")

    val stage = Files.createTempDirectory("graft-stream-sketch").toString
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(stage)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(stage)

    val dim = DimPopulate.full(env, fact, "dim_event_type", ev, TimeWindow.unbounded)
    dim.cache().count()

    val stream = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(stage)
    val agg = StreamingFactPopulate.aggregate(env, fact, stream, _ => dim)

    val q = agg.writeStream
      .format("memory").queryName("stream_sketch").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()

    def keyed(df: DataFrame) = df
      .select(col("ts_hour_id"), col("event_type_id"), col("user_count"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getMap[Int, Int](2).toMap))
      .toMap
    val streamed = keyed(spark.table("stream_sketch"))
    val batch = keyed(
      FactPopulate.populate(env, fact, TimeWindow.unbounded, _ => ev, _ => dim))
    assert(streamed.keySet == batch.keySet)
    // multi-register sketches must actually merge across micro-batches
    assert(streamed.values.exists(_.size > 1), "sketches are single-valued; merge not exercised")
    // registers byte-identical: the sketch merged across micro-batches
    // must equal the one built in a single batch pass
    assert(streamed.forall { case (k, m) => batch(k) == m })
  }

  test("streaming dim maintenance: new keys appended with continuing ids, replay is a no-op") {
    import graft.streaming.StreamingDimPopulate
    val fact = eventsEnv.findFact("user_activity").get
    val ev   = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")

    // seed the dim from a subset of USERS so the second micro-batch
    // genuinely introduces new natural keys
    val half1 = ev.filter(col("user_id") % 3 =!= 0)
    val half2 = ev.filter(col("user_id") % 3 === 0)
    val dimDir = Files.createTempDirectory("graft-stream-dim").toString + "/dim_app_user"
    DimPopulate.full(eventsEnv, fact, "dim_app_user", half1, TimeWindow.unbounded)
      .write.parquet(dimDir)
    val seeded = spark.read.parquet(dimDir)
    val seedCount = seeded.count()
    val seedMaxId = seeded.agg(max(col("id"))).head().getInt(0)

    // micro-batch 2 arrives: only genuinely new users get rows, ids continue
    val newRows = StreamingDimPopulate.step(
      eventsEnv, fact, "dim_app_user", half2, spark.read.parquet(dimDir))
    newRows.write.mode("append").parquet(dimDir)
    val after = spark.read.parquet(dimDir)
    val batchWhole = DimPopulate.full(eventsEnv, fact, "dim_app_user", ev, TimeWindow.unbounded)
    assert(after.count() == batchWhole.count())
    assert(after.select("user_id").distinct().count() == after.count(), "duplicate natural keys")
    if (!newRows.isEmpty)
      assert(newRows.agg(min(col("id"))).head().getInt(0) == seedMaxId + 1, "ids must continue")
    assert(seedCount < after.count()) // the stream actually added keys

    // replayed micro-batch (failure recovery): anti-join yields nothing
    val replay = StreamingDimPopulate.step(
      eventsEnv, fact, "dim_app_user", half2, spark.read.parquet(dimDir))
    assert(replay.isEmpty, "replay must be idempotent")
  }

  test("streaming debounce equals batch debounce, including a run across the batch boundary") {
    import graft.operators.Sessions
    import graft.streaming.StreamingDebounce
    import spark.implicits._
    val ev = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")

    // split by TIME so per-entity order holds across micro-batches —
    // the operator's documented arrival-order contract — which also
    // makes runs straddling the boundary continue via carried state
    val split = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val stage = Files.createTempDirectory("graft-stream-deb").toString
    ev.filter(col("ts") < split).coalesce(1).write.mode("append").parquet(stage)
    // FileStreamSource orders files by MODIFICATION TIME; back-to-back
    // writes can share an mtime on coarse-granularity filesystems and
    // invert the arrival order the in-order contract requires — pin the
    // order explicitly
    java.nio.file.Files.list(java.nio.file.Paths.get(stage)).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(1000000L))
    }
    ev.filter(col("ts") >= split).coalesce(1).write.mode("append").parquet(stage)
    java.nio.file.Files.list(java.nio.file.Paths.get(stage)).forEach { p =>
      if (p.toString.endsWith(".parquet") &&
        java.nio.file.Files.getLastModifiedTime(p).toMillis != 1000000L)
        java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(2000000L))
    }

    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    // a WIDE window (12h) so same-type runs certainly span the split
    val q = StreamingDebounce.debounce(
      stream, "user_id", "ts", "event_id", "event_type",
      windowMicros = 12L * 3600L * 1000000L)
      .writeStream.format("memory").queryName("stream_debounce")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("stream_debounce")
      .select("tie").as[Long].collect().sorted.toSeq
    val batch = Sessions.debounce(ev, "user_id", "ts", "event_id", "event_type",
      windowMicros = 12L * 3600L * 1000000L)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(streamed == batch, "stream survivors must equal the batch operator's")
    assert(batch.size < ev.count(), "the window must actually suppress events")
  }

  test("streaming dedup drops within-watermark duplicates across and within batches") {
    import graft.streaming.StreamingDedup
    import spark.implicits._
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text"),
        (lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime / 1000L) +
          col("doc_id")).cast("timestamp").as("ts"))
    // duplicates: every 5th doc re-arrives an hour later under a new id,
    // plus one SAME-batch duplicate pair
    val redeliveries = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        (col("ts").cast("long") + 3600L).cast("timestamp").as("ts"))

    val stage = Files.createTempDirectory("graft-stream-dedup").toString
    docs.union(docs.filter(col("doc_id") === 3)
        .select(col("doc_id") + 200000L, col("text"), col("ts")))
      .coalesce(1).write.mode("append").parquet(stage)
    java.nio.file.Files.list(java.nio.file.Paths.get(stage)).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(1000000L))
    }
    redeliveries.coalesce(1).write.mode("append").parquet(stage)
    java.nio.file.Files.list(java.nio.file.Paths.get(stage)).forEach { p =>
      if (p.toString.endsWith(".parquet") &&
        java.nio.file.Files.getLastModifiedTime(p).toMillis != 1000000L)
        java.nio.file.Files.setLastModifiedTime(
          p, java.nio.file.attribute.FileTime.fromMillis(2000000L))
    }

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    val q = StreamingDedup.dedupe(stream, "ts", "text", watermark = "7 days")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()

    val survivors = spark.table("stream_dedup")
      .select("doc_id").as[Long].collect().toSet
    val originals = docs.select("doc_id").as[Long].collect().toSet
    // every original text survives exactly once (first arrival), every
    // redelivery — cross-batch or same-batch — is suppressed
    assert(survivors == originals,
      s"unexpected: extra=${survivors -- originals} missing=${originals -- survivors}")
  }

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
