package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.{MaintainedStore, StreamingRecrawl}

/** Last-fetch store + recrawl admission: due rules against maintained
  * state, store advance, one-step replay idempotency (byte-identical
  * sink partition AND store buckets), in-batch duplicate collapse
  * with conservative lastmod merge, cold start, bucket mismatch. */
class StreamingRecrawlSpec extends SparkSpec {
  import spark.implicits._

  private val Day = 86400L
  private val T0  = 1700000000L

  private def tmp() = Files.createTempDirectory("graft-recrawl").toString

  private def batchDf(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "url", "lastmod", "changefreq")

  private def apply1(
      batch: Seq[(Long, String, String, String)], store: String, sink: String,
      batchId: Long, now: Long): Unit =
    StreamingRecrawl.applyBatch(batchDf(batch), "doc_id", "url",
      "lastmod", "changefreq", store, sink, numBuckets = 8,
      batchId = batchId, nowTs = now, defaultAgeS = 7 * Day)

  private def sinkRows(sink: String): Map[String, String] =
    spark.read.parquet(sink)
      .select("url", "recrawl_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("night 1 admits everything as new; night 2 re-admits only changed or aged") {
    val (store, sink) = (tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq.empty[(String, Long)].toDF("url", "last_fetch_ts"), "url", store, 8)
    val n1 = Seq(
      (1L, "http://h/a", "", "daily"),
      (2L, "http://h/b", "", "weekly"),
      (3L, "http://h/c", "", "never"),
      (4L, "http://h/d", "", ""))
    apply1(n1, store, sink, batchId = 0L, now = T0)
    val f1 = spark.read.parquet(sink).filter(col(MaintainedStore.BatchCol) === 0)
    assert(f1.count() === 4)
    assert(f1.select("recrawl_reason").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("new"))

    // night 2, 2 days later: same listings plus a lastmod bump on /b
    val n2 = Seq(
      (1L, "http://h/a", "", "daily"),                      // daily, 2d old -> aged
      (2L, "http://h/b", "2023-11-16 00:00:00", "weekly"),  // lastmod after T0 -> modified
      (3L, "http://h/c", "", "never"),                      // never -> not due
      (4L, "http://h/d", "", ""),                           // default 7d, 2d old -> not due
      (5L, "http://h/e", "", "daily"))                      // unseen -> new
    apply1(n2, store, sink, batchId = 1L, now = T0 + 2 * Day)
    val f2 = spark.read.parquet(sink).filter(col(MaintainedStore.BatchCol) === 1)
    val got = f2.select("url", "recrawl_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map(
      "http://h/a" -> "aged",
      "http://h/b" -> "modified",
      "http://h/e" -> "new"))
  }

  test("replay of the last batch is byte-identical: sink partition and store buckets") {
    val (store, sink) = (tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq.empty[(String, Long)].toDF("url", "last_fetch_ts"), "url", store, 8)
    apply1(Seq((1L, "http://h/a", "", "daily"), (2L, "http://h/b", "", "weekly")),
      store, sink, batchId = 0L, now = T0)
    val n2 = Seq(
      (1L, "http://h/a", "", "daily"),
      (2L, "http://h/b", "2023-11-20 00:00:00", "weekly"),
      (3L, "http://h/z", "", "daily"))
    apply1(n2, store, sink, batchId = 1L, now = T0 + 3 * Day)
    def snapshot(): (Map[String, String], Seq[(String, Long, Option[Long], Long)]) = (
      sinkRows(sink),
      spark.read.parquet(store)
        .select("url", "last_fetch_ts", "prev_fetch_ts", "last_batch_id")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
        .toSeq.sortBy(_._1))
    val before = snapshot()
    // the foreachBatch failure mode: the SAME batch re-applies after a
    // partial run — verdicts must re-evaluate at the PRE-batch state
    // (self-exclusion via prev_fetch_ts), not at the already-advanced
    // one, or /h/a ages 0 seconds and vanishes from its own frontier
    apply1(n2, store, sink, batchId = 1L, now = T0 + 3 * Day)
    assert(snapshot() === before)
    // and the due set was the right one
    assert(before._1.view.filterKeys(_ != "http://h/b").toMap
      .forall { case (u, r) => r == "new" || (u == "http://h/a" && r == "aged") })
  }

  private def applyFetch(
      batch: Seq[(Long, String, String)], store: String, sink: String,
      batchId: Long, now: Long): Unit =
    StreamingRecrawl.applyFetchBatch(
      batch.toDF("doc_id", "url", "fp"), "doc_id", "url", "fp",
      store, sink, numBuckets = 8, batchId = batchId, nowTs = now)

  test("applyFetchBatch: two nights of fetches — unchanged re-fetch flags false, fingerprints advance with history") {
    val (store, sink) = (tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq.empty[(String, Long)].toDF("url", "last_fetch_ts"), "url", store, 8)
    // night 1: both pages are new
    applyFetch(Seq((1L, "http://h/a", "fpA1"), (2L, "http://h/b", "fpB1")),
      store, sink, batchId = 0L, now = T0)
    // night 2: /a revised, /b byte-identical
    applyFetch(Seq((1L, "http://h/a", "fpA2"), (2L, "http://h/b", "fpB1")),
      store, sink, batchId = 1L, now = T0 + Day)
    val n2 = spark.read.parquet(sink)
      .filter(col(MaintainedStore.BatchCol) === 1L)
      .select("url", "change_kind", "content_changed").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(n2 === Map(
      "http://h/a" -> (("changed", true)),
      "http://h/b" -> (("unchanged", false))))
    // store: fingerprints advanced with one step of history, fetch
    // instants stamped by the fetch loop
    val st = spark.read.parquet(store)
      .select("url", "last_fp", "prev_fp", "last_fetch_ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(st === Set(
      ("http://h/a", "fpA2", "fpA1", T0 + Day),
      ("http://h/b", "fpB1", "fpB1", T0 + Day)))
  }

  test("applyFetchBatch replay is byte-identical, and the fetch loop interleaves with discovery on one store") {
    val (store, sink, dsink) = (tmp(), tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq.empty[(String, Long)].toDF("url", "last_fetch_ts"), "url", store, 8)
    // batch 0 (discovery): /a and /b are new — frontier both
    apply1(Seq((1L, "http://h/a", "", "daily"), (2L, "http://h/b", "", "daily")),
      store, dsink, batchId = 0L, now = T0)
    // batch 1 (fetch results for the frontier)
    applyFetch(Seq((1L, "http://h/a", "fpA1"), (2L, "http://h/b", "fpB1")),
      store, sink, batchId = 1L, now = T0 + 60)
    // batch 2 (next-night discovery): a day later both are aged-due
    // under the default — the discovery loop must carry the fetch
    // loop's fingerprints through its bucket rewrite verbatim
    apply1(Seq((1L, "http://h/a", "", "daily"), (2L, "http://h/b", "", "daily")),
      store, dsink, batchId = 2L, now = T0 + 2 * Day)
    assert(spark.read.parquet(store)
      .select("url", "last_fp").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("http://h/a", "fpA1"), ("http://h/b", "fpB1")))
    // batch 3 (fetch): /a changed, /b unchanged
    val n3 = Seq((1L, "http://h/a", "fpA2"), (2L, "http://h/b", "fpB1"))
    applyFetch(n3, store, sink, batchId = 3L, now = T0 + 2 * Day + 60)
    def snapshot(): (Map[String, (String, Boolean)], Set[Seq[Any]]) = (
      spark.read.parquet(sink)
        .filter(col(MaintainedStore.BatchCol) === 3L)
        .select("url", "change_kind", "content_changed").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap,
      spark.read.parquet(store).collect().map(_.toSeq).toSet)
    val before = snapshot()
    // foreachBatch failure mode: batch 3 re-applies after a partial
    // run — the compare must use prev_fp (self-exclusion), or /a
    // would read back its own new fingerprint and flip to unchanged
    applyFetch(n3, store, sink, batchId = 3L, now = T0 + 2 * Day + 60)
    assert(snapshot() === before)
    assert(before._1("http://h/a") === (("changed", true)))
    assert(before._1("http://h/b") === (("unchanged", false)))
  }

  test("adaptive backoff: unchanged streaks stretch the revisit interval, a change resets it") {
    val (store, fsink, dsink) = (tmp(), tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq.empty[(String, Long)].toDF("url", "last_fetch_ts"), "url", store, 8)
    def discover(batchId: Long, now: Long): Unit =
      StreamingRecrawl.applyBatch(
        batchDf(Seq((1L, "http://h/a", "", "daily"), (99L, s"http://h/nu$batchId", "", "daily"))),
        "doc_id", "url", "lastmod", "changefreq", store, dsink,
        numBuckets = 8, batchId = batchId, nowTs = now,
        defaultAgeS = Day, adaptive = true)
    def dueAt(batchId: Long): Set[String] =
      spark.read.parquet(dsink)
        .filter(col(MaintainedStore.BatchCol) === batchId)
        .select("url").collect().map(_.getString(0)).toSet
    // three unchanged fetches build streak 2 on /a
    applyFetch(Seq((1L, "http://h/a", "fpA")), store, fsink, 0L, T0)
    applyFetch(Seq((1L, "http://h/a", "fpA")), store, fsink, 1L, T0 + Day)
    applyFetch(Seq((1L, "http://h/a", "fpA")), store, fsink, 2L, T0 + 2 * Day)
    assert(spark.read.parquet(store).filter(col("url") === "http://h/a")
      .select("unchanged_streak").head().getLong(0) === 2L)
    // streak 2 stretches daily to 4 days: 2 days stale is NOT due...
    discover(batchId = 3L, now = T0 + 4 * Day)
    assert(dueAt(3L) === Set("http://h/nu3")) // fresh URL still admits
    // ...but 5 days stale is (discovery did not advance /a at batch 3,
    // so its last fetch is still T0 + 2 days)
    discover(batchId = 4L, now = T0 + 7 * Day)
    assert(dueAt(4L) === Set("http://h/a", "http://h/nu4"))
    // a CHANGED fetch resets the streak: base interval applies again
    applyFetch(Seq((1L, "http://h/a", "fpA2")), store, fsink, 5L, T0 + 7 * Day)
    assert(spark.read.parquet(store).filter(col("url") === "http://h/a")
      .select("unchanged_streak").head().getLong(0) === 0L)
    discover(batchId = 6L, now = T0 + 8 * Day + 100)
    assert(dueAt(6L) === Set("http://h/a", "http://h/nu6"))
  }

  test("in-batch duplicate URLs collapse to one frontier row; lastmod hints merge by max") {
    val (store, sink) = (tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq(("http://h/x", T0 - Day)).toDF("url", "last_fetch_ts"), "url", store, 8)
    // two listings of the same URL: one stale lastmod, one NEWER than
    // the fetch — the merged hint must say modified
    val b = Seq(
      (10L, "http://h/x", "2023-11-01 00:00:00", "yearly"),
      (11L, "http://h/x", "2023-11-14 10:00:00", "yearly"))
    apply1(b, store, sink, batchId = 0L, now = T0)
    val rows = spark.read.parquet(sink).select("doc_id", "url", "recrawl_reason")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq((10L, "http://h/x", "modified"))) // min-id representative
    // store advanced once, with history
    val st = spark.read.parquet(store)
      .select("url", "last_fetch_ts", "prev_fetch_ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(st.toSeq === Seq(("http://h/x", T0, T0 - Day)))
  }

  test("initialize from an existing fetch log; bucket mismatch fails loud") {
    val (store, sink) = (tmp(), tmp())
    StreamingRecrawl.initialize(
      Seq(("http://h/old", T0 - 10 * Day)).toDF("url", "last_fetch_ts"),
      "url", store, 8)
    // known url, daily, 10 days stale -> aged (the log seeded it)
    apply1(Seq((1L, "http://h/old", "", "daily")), store, sink, 0L, T0)
    assert(sinkRows(sink) === Map("http://h/old" -> "aged"))
    val e = intercept[IllegalArgumentException] {
      StreamingRecrawl.applyBatch(
        batchDf(Seq((1L, "http://h/old", "", "daily"))), "doc_id", "url",
        "lastmod", "changefreq", store, sink, numBuckets = 16,
        batchId = 1L, nowTs = T0, defaultAgeS = Day)
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
  }

  test("composition: page_meta published_time drives recrawl as the lastmod signal") {
    val s = spark
    import s.implicits._
    val (src1, src2, out1, out2, state) = (tmp(), tmp(), tmp(), tmp(), tmp())
    def page(url: String, published: String) =
      s"""<html><head><meta property="article:published_time" content="$published">""" +
        s"""<meta property="og:url" content="$url"></head><body>x</body></html>"""
    def spec(now: Long) = {
      val y = java.nio.file.Files.createTempFile("graft-pm-recrawl", ".yaml")
      java.nio.file.Files.writeString(y,
        s"""pipeline: fresh_by_meta
           |id: doc_id
           |text: text
           |steps:
           |  - name: meta
           |    op: page_meta
           |    input: pages
           |    params: { keys: "article:published_time" }
           |  - name: due
           |    op: recrawl
           |    params: { mode: admit, url: url, lastmod: article_published_time,
           |              now: "$now", defaultAge: "604800" }
           |""".stripMargin)
      y.toString
    }
    // night 1: two articles, both new
    Seq(
      (1L, "http://h/a", page("http://h/a", "2023-11-01T00:00:00Z")),
      (2L, "http://h/b", page("http://h/b", "2023-11-01T00:00:00Z")))
      .toDF("doc_id", "url", "text").write.parquet(s"$src1/pages.parquet")
    Cli.run(Seq("pipeline", spec(T0), src1, out1, "--state", state), spark)
    assert(s.read.parquet(s"$out1/due").count() === 2)
    // night 2 (one day later): /a republished AFTER night 1's fetch —
    // the page's own metadata re-admits it; /b unchanged — dropped
    Seq(
      (1L, "http://h/a", page("http://h/a", "2023-11-15T08:00:00Z")),
      (2L, "http://h/b", page("http://h/b", "2023-11-01T00:00:00Z")))
      .toDF("doc_id", "url", "text").write.parquet(s"$src2/pages.parquet")
    Cli.run(Seq("pipeline", spec(T0 + Day), src2, out2, "--state", state), spark)
    val night2 = s.read.parquet(s"$out2/due")
      .select("url", "recrawl_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(night2 === Map("http://h/a" -> "modified"))
  }

  test("dueVerdicts plan: guard window and join share the fetch log's partitioning (<= 2 exchanges)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val disc = (1 to 100).map(i => (i.toLong, s"http://h/$i", "", "daily"))
        .toDF("doc_id", "url", "lastmod", "changefreq")
      val lf = (1 to 50).map(i => (s"http://h/$i", 1000L))
        .toDF("url", "last_fetch_ts")
      val plan = graft.operators.Recrawl
        .dueVerdicts(disc, "url", "lastmod", "changefreq", lf,
          nowTs = 2000L, defaultAgeS = 100L)
        .queryExecution.executedPlan.toString
      // one exchange per side: the duplicate-guard window partitions
      // the fetch log on the SAME key the join needs, so its
      // partitioning is reused — a third exchange would mean the
      // fetch log shuffles twice at corpus scale
      val n = "Exchange".r.findAllIn(plan).length
      assert(n <= 2, s"expected <= 2 exchanges (one per join side):\n$plan")
      // the verdict itself is scan-local: no window/expand over the
      // discovery side
      assert(!plan.contains("CartesianProduct") && !plan.contains("Expand"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dueVerdicts: NULL changefreq does not disable the aged rule (null-safe 'never' compare)") {
    // a present-but-NULL changefreq column (common for feed channels)
    // must behave like "no hint": aged when past the default interval,
    // not due when inside it — the 'never' compare must be null-safe
    val disc = Seq(
      (1L, "http://h/stale", "", Option.empty[String]),
      (2L, "http://h/fresh", "", Option.empty[String]),
      (3L, "http://h/never", "", Option("never")))
      .toDF("doc_id", "url", "lastmod", "changefreq")
    val lf = Seq(
      ("http://h/stale", 1700000000L - 700000L),
      ("http://h/fresh", 1700000000L - 3600L),
      ("http://h/never", 1700000000L - 700000L))
      .toDF("url", "last_fetch_ts")
    val got = graft.operators.Recrawl
      .dueVerdicts(disc, "url", "lastmod", "changefreq", lf,
        nowTs = 1700000000L, defaultAgeS = 604800L)
      .select("url", "recrawl_due", "recrawl_reason").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(got === Map(
      "http://h/stale" -> ((true, Some("aged"))),
      "http://h/fresh" -> ((false, None)),
      "http://h/never" -> ((false, None))))
  }

  test("pipeline recrawl step: two nights under --state — re-listed URLs re-enter only when due") {
    val s = spark
    val (src1, src2, out1, out2, state) = (tmp(), tmp(), tmp(), tmp(), tmp())
    // night 1 discovery: three urls
    Seq(
      (1L, "http://h/a", "", "daily"),
      (2L, "http://h/b", "", "monthly"),
      (3L, "http://h/c", "", ""))
      .toDF("doc_id", "text", "lastmod", "changefreq")
      .write.parquet(s"$src1/listed.parquet")
    def yaml(now: Long) = {
      val y = Files.createTempFile("graft-pipe-recrawl", ".yaml")
      Files.writeString(y,
        s"""pipeline: nightly_recrawl
           |id: doc_id
           |text: text
           |steps:
           |  - name: due
           |    op: recrawl
           |    input: listed
           |    params: { mode: admit, now: "$now", defaultAge: "604800" }
           |""".stripMargin)
      y
    }
    Cli.run(Seq("pipeline", yaml(T0).toString, src1, out1, "--state", state), spark)
    val night1 = s.read.parquet(s"$out1/due")
    assert(night1.count() === 3) // all new
    assert(night1.columns.contains("recrawl_reason"))
    // night 2, one day later: same listings re-discovered + one lastmod bump
    Seq(
      (1L, "http://h/a", "", "daily"),                     // daily, 1d -> aged
      (2L, "http://h/b", "2023-11-15 00:00:00", "monthly"), // modified
      (3L, "http://h/c", "", ""))                          // default 7d -> NOT due
      .toDF("doc_id", "text", "lastmod", "changefreq")
      .write.parquet(s"$src2/listed.parquet")
    Cli.run(Seq("pipeline", yaml(T0 + Day).toString, src2, out2, "--state", state), spark)
    val night2 = s.read.parquet(s"$out2/due")
      .select("text", "recrawl_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(night2 === Map("http://h/a" -> "aged", "http://h/b" -> "modified"))
  }
}
