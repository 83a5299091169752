package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

import graft.exec.Runner
import graft.model.TimeWindow
import graft.sources.{MetadataSink, ModelParser}

/** End-to-end Runner + ModelParser + MetadataSink: YAML model ->
  * validate -> derive -> populate -> parquet, with quality checks. */
class RunnerSpec extends SparkSpec {

  private def tempDir(): String =
    Files.createTempDirectory("graft-runner").toString

  /** Job descriptions and SQL executions (start, end, call-site
    * details) seen on the listener bus. */
  private final class Recorder extends SparkListener {
    val jobLabels  = new ConcurrentLinkedQueue[String]()
    val execStarts = new ConcurrentHashMap[Long, (Long, String)]()
    val execEnds   = new ConcurrentHashMap[Long, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobLabels.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, (s.time, s.details))
      case x: SparkListenerSQLExecutionEnd   => execEnds.put(x.executionId, x.time)
      case _ => ()
    }
  }

  /** Runs `body` under a [[Recorder]] and returns both once every event
    * `body` posted has been delivered: the bus delivers in posting
    * order, so that holds when a marker job started afterwards is seen.
    * The marker runs on its own thread, leaving the caller's local
    * properties as `body` left them. */
  private def recording[T](body: => T): (T, Recorder) = {
    val rec = new Recorder
    val sc  = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      val result = body
      val marker = new Thread(() => {
        sc.setJobDescription("listener marker")
        sc.parallelize(Seq(1), 1).count()
      })
      marker.start()
      marker.join()
      val deadline = System.currentTimeMillis() + 30000
      while (!rec.jobLabels.contains("listener marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(rec.jobLabels.remove("listener marker"), "listener events were not delivered")
      (result, rec)
    } finally sc.removeSparkListener(rec)
  }

  private def liveWaveThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(graft.exec.Dag.ThreadPrefix)).map(_.getName)

  private val tpchTables = Seq("dim_order_priority", "dim_order_status", "dim_line_status",
    "fact_order_by_day", "fact_line_by_day")

  test("YAML model parses and matches the programmatic fixture") {
    val Right((tables, facts, defaults)) =
      ModelParser.parseFile("examples/events_model.yaml"): @unchecked
    assert(tables.map(_.name) == Seq("events"))
    assert(tables.head.columns.map(_.name) ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(facts.head.name == "event")
    assert(facts.head.columns.length == 7)
    assert(defaults.forType("numeric(18,6)").contains("-1"))
    val env = model.Validator.validateEnv(tables, facts, model.Settings(), defaults)
    assert(env.isRight)
  }

  test("the reference's own doctest model parses from YAML to the exact fixture") {
    val Right((tables, facts, defaults)) =
      ModelParser.parseFile("examples/ringo_model.yaml"): @unchecked
    assert(tables == Fixtures.ringoTables)
    assert(facts == Fixtures.ringoFacts)
    assert(defaults == Fixtures.ringoTypeDefaults)
    // and it validates under the reference settings
    assert(model.Validator
      .validateEnv(tables, facts, Fixtures.ringoSettings, defaults).isRight)
  }

  test("tpch YAML with parentfacts parses to exactly the programmatic fixture") {
    val Right((tables, facts, defaults)) =
      ModelParser.parseFile("examples/tpch_model.yaml"): @unchecked
    assert(tables == Fixtures.tpchTables)
    assert(facts == Fixtures.tpchFacts)
    assert(defaults == Fixtures.testTypeDefaults)
  }

  test("full refresh populates dims and facts; schemas and quality hold") {
    val out = tempDir()
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    val written = runner.fullRefresh(TimeWindow.unbounded)
    assert(written.toSet ==
      Set("dim_event_type", "dim_app_user", "fact_event_by_minute", "fact_user_activity_by_minute"))

    val dim = spark.read.parquet(s"$out/dim_event_type")
    assert(dim.columns.toSeq == Seq("id", "event_type"))
    assert(dim.count() == 5)

    val fact = spark.read.parquet(s"$out/fact_event_by_minute")
    // derived schema + day partition column
    assert(fact.columns.contains("ts_minute_id") && fact.columns.contains("p_day"))
    assert(fact.count() > 0)
    // sketch column materialized as map<int,int>
    assert(fact.schema("user_count").dataType.typeName == "map")

    assert(runner.checkUniqueKeys().forall(_._3 == 0))
  }

  test("incremental refresh appends without double-counting") {
    val out = tempDir()
    val lo  = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val hi  = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val r1  = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    r1.fullRefresh(TimeWindow.upTo(lo))
    val before = spark.read.parquet(s"$out/fact_event_by_minute").count()
    r1.incrementalRefresh(TimeWindow.between(lo, hi))
    val after = spark.read.parquet(s"$out/fact_event_by_minute")
    assert(after.count() > before)
    assert(r1.checkUniqueKeys().forall(_._3 == 0))
    // equivalent single full load over the whole range
    val out2 = tempDir()
    new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out2).fullRefresh(TimeWindow.upTo(hi))
    val whole = spark.read.parquet(s"$out2/fact_event_by_minute")
    assert(after.count() == whole.count())
    val a = after.drop("p_day", "user_count").collect().map(_.toString).sorted
    val b = whole.drop("p_day", "user_count").collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("day partitioning enables partition pruning on the fact read") {
    val out = tempDir()
    new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out).fullRefresh(TimeWindow.unbounded)
    val pruned = spark.read.parquet(s"$out/fact_event_by_minute")
      .filter(col("p_day") === lit(19724L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_day"), plan)
  }

  test("staging suffix: full refresh writes staged tables, swap promotes them") {
    val out = tempDir()
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out,
      stagingSuffix = "_staging")
    val written = runner.fullRefresh(TimeWindow.unbounded)
    assert(Files.exists(java.nio.file.Paths.get(out, "dim_event_type_staging")))
    assert(!Files.exists(java.nio.file.Paths.get(out, "dim_event_type")))
    runner.swapStaging(written)
    assert(Files.exists(java.nio.file.Paths.get(out, "dim_event_type")))
    assert(!Files.exists(java.nio.file.Paths.get(out, "dim_event_type_staging")))
    assert(spark.read.parquet(s"$out/fact_event_by_minute").count() > 0)
  }

  test("staged rebuild leaves the live table readable until the swap") {
    val out = tempDir()
    val lo  = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    // v1 live load
    val v1 = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    v1.fullRefresh(TimeWindow.upTo(lo))
    val liveBefore = spark.read.parquet(s"$out/fact_event_by_minute").count()
    assert(liveBefore > 0)
    // v2 rebuild into staging: live content is untouched while it runs
    val v2 = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out,
      stagingSuffix = "_staging")
    val written = v2.fullRefresh(TimeWindow.unbounded)
    assert(spark.read.parquet(s"$out/fact_event_by_minute").count() == liveBefore)
    // swap promotes v2 atomically; the __old recovery dir is cleaned up
    v2.swapStaging(written)
    assert(spark.read.parquet(s"$out/fact_event_by_minute").count() > liveBefore)
    assert(!Files.exists(java.nio.file.Paths.get(out, "fact_event_by_minute_staging__old")))
    assert(v2.checkUniqueKeys().forall(_._3 == 0))
  }

  test("reader-during-swap race: a concurrent read loop sees only full snapshots") {
    // Backs the README "readers stay lock-free" contract with an actual
    // race: a reader thread re-reads the live table in a loop while the
    // writer promotes a staged rebuild. Every successful read must
    // return exactly the v1 or the v2 row count — never a partial or
    // empty snapshot — and a read that catches the swap mid-rename
    // (file listing raced the directory move) must be TRANSIENT: the
    // next read succeeds. That is the promoted contract: whole-directory
    // rename gives snapshot isolation, not wait-freedom of one read.
    val out = tempDir()
    val lo  = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val v1 = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    v1.fullRefresh(TimeWindow.upTo(lo))
    val count1 = spark.read.parquet(s"$out/fact_event_by_minute").count()
    val v2 = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out,
      stagingSuffix = "_staging")
    val written = v2.fullRefresh(TimeWindow.unbounded)
    val count2 = spark.read.parquet(s"$out/fact_event_by_minute_staging").count()
    assert(count2 > count1, "the rebuild must be distinguishable from v1")

    val seen       = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val transients = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try seen.add(spark.read.parquet(s"$out/fact_event_by_minute").count())
        catch { case _: Exception => transients.incrementAndGet() }
      }
    })
    reader.setDaemon(true)
    reader.start()
    try {
      val warmupDeadline = System.currentTimeMillis() + 10000
      while (seen.isEmpty && System.currentTimeMillis() < warmupDeadline) Thread.sleep(10)
      assert(!seen.isEmpty, "reader thread must observe v1 before the swap")
      v2.swapStaging(written)
      // keep reading until the new snapshot is observed (bounded wait)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(count2) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally {
      stop = true
      reader.join(10000)
    }
    import scala.jdk.CollectionConverters._
    val counts = seen.asScala.toSet
    assert(counts.subsetOf(Set(count1, count2)),
      s"reads during the swap must see a full v1 or v2 snapshot, got $counts " +
        s"(v1=$count1, v2=$count2)")
    assert(counts.contains(count2), "the post-swap snapshot must become visible")
    // any mid-rename failure must not persist: a fresh read succeeds
    assert(spark.read.parquet(s"$out/fact_event_by_minute").count() == count2,
      s"post-swap reads must succeed (transient failures during swap: ${transients.get()})")
  }

  test("refresh waves: no fact populate starts before the last dim populate ends") {
    val runner = new Runner(spark, Fixtures.tpchEnv, sf("sf0.001"), tempDir())
    val (written, rec) = recording(runner.fullRefresh(TimeWindow.unbounded))
    // the returned order is unchanged: dims, then facts in topo order
    assert(written == tpchTables)
    // executions are told apart as the refresh benchmark's trace does:
    // by the populate on the call-site stack that started them
    val execs = rec.execStarts.asScala.toSeq.map { case (id, (start, details)) =>
      val populate =
        if (details.contains("writeDim") || details.contains("DimPopulate")) "dim"
        else if (details.contains("writeFact") || details.contains("FactPopulate")) "fact"
        else ""
      (populate, start, rec.execEnds.asScala(id))
    }
    assert(execs.forall(_._1.nonEmpty), "every refresh execution comes from a populate")
    val dimEnd    = execs.filter(_._1 == "dim").map(_._3).max
    val factStart = execs.filter(_._1 == "fact").map(_._2).min
    assert(dimEnd <= factStart,
      s"a fact populate started at $factStart, before the dims wave ended at $dimEnd")
  }

  test("every refresh job is labelled with its table; the caller's label is untouched") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller label")
    val (written, rec) =
      try {
        val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), tempDir())
        val r = recording(runner.fullRefresh(TimeWindow.unbounded))
        assert(sc.getLocalProperty("spark.job.description") == "caller label")
        r
      } finally sc.setJobDescription(null)
    val labels = rec.jobLabels.asScala.toSeq
    assert(labels.nonEmpty)
    labels.foreach { l =>
      assert(written.exists(t => l == s"warehouse full: dim $t" || l == s"warehouse full: fact $t"),
        s"job label '$l' names no derived table")
      // the pipeline-step marker that the refresh benchmark parses
      assert(!l.contains(": step "), l)
    }
    assert(written.forall(t => labels.exists(_.endsWith(s" $t"))), labels.distinct)
  }

  test("a failing table fails its wave: the rest of the wave ends, the next never starts") {
    // the tpch env without lineitem: dim_line_status fails, the two
    // orders dims of the same wave succeed
    val src = tempDir()
    for (t <- Seq("orders", "customer"))
      Files.copy(Paths.get(sf("sf0.001"), s"$t.parquet"), Paths.get(src, s"$t.parquet"))
    val out    = tempDir()
    val runner = new Runner(spark, Fixtures.tpchEnv, src, out, stagingSuffix = "_staging")
    val e = intercept[Exception](runner.fullRefresh(TimeWindow.unbounded))
    assert(!e.isInstanceOf[ExecutionException], e)
    assert(e.isInstanceOf[AnalysisException] && e.getMessage.contains("lineitem"), e)
    for (d <- Seq("dim_order_status", "dim_order_priority"))
      assert(Files.exists(Paths.get(out, s"${d}_staging", "_SUCCESS")), s"$d did not finish")
    val left = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!left.exists(_.startsWith("fact_")), s"the facts wave started: $left")
    assert(!left.contains("_graft_writer.lock"), "the writer lease was not released")
    // a rerun on fixed input succeeds and promotes
    Files.copy(Paths.get(sf("sf0.001"), "lineitem.parquet"), Paths.get(src, "lineitem.parquet"))
    val written = runner.fullRefresh(TimeWindow.unbounded)
    assert(written == tpchTables)
    runner.swapStaging(written)
    assert(spark.read.parquet(s"$out/fact_line_by_day").count() > 0)
    assert(runner.checkUniqueKeys().forall(_._3 == 0))
  }

  test("no wave thread outlives a refresh, successful or failed") {
    val ok = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), tempDir())
    ok.fullRefresh(TimeWindow.unbounded)
    assert(liveWaveThreads().isEmpty, liveWaveThreads())
    ok.checkUniqueKeys()
    ok.emitPlans()
    assert(liveWaveThreads().isEmpty, liveWaveThreads())
    // an empty source directory fails every dim of the first wave
    val failing = new Runner(spark, Fixtures.eventsEnv, tempDir(), tempDir())
    intercept[AnalysisException](failing.fullRefresh(TimeWindow.unbounded))
    assert(liveWaveThreads().isEmpty, liveWaveThreads())
  }

  test("the executor runs nodes by level and rejects a node before its dep") {
    import graft.exec.Dag
    val ran = new ConcurrentLinkedQueue[String]()
    def node(name: String, deps: String*) =
      Dag.Node(name, deps, s"node $name", { () => ran.add(name); name })
    // c depends on a (a later level); b and the input src add no edge
    assert(Dag.run(spark, Seq(node("a", "src"), node("c", "a"), node("b"))) == Seq("a", "c", "b"))
    assert(ran.asScala.toSeq.last == "c", ran)
    ran.clear()
    val later = intercept[IllegalArgumentException](
      Dag.run(spark, Seq(node("c", "a"), node("a"))))
    assert(later.getMessage.contains("node c depends on a"), later.getMessage)
    intercept[IllegalArgumentException](Dag.run(spark, Seq(node("a"), node("a"))))
    assert(ran.isEmpty, "a node ran although the graph was rejected")
  }

  test("writer lease: concurrent mutating runs against one outDir fail loudly") {
    val out = tempDir()
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    val hi = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    runner.fullRefresh(TimeWindow.upTo(hi))
    // simulate a second pipeline holding the lease: compact and
    // incremental must refuse rather than race the other writer's
    // renames (the compact-vs-incremental interplay)
    val lock = java.nio.file.Paths.get(out, "_graft_writer.lock")
    java.nio.file.Files.writeString(lock, java.lang.Long.toString(System.currentTimeMillis()))
    val e1 = intercept[IllegalStateException](runner.compact("fact_event_by_minute"))
    assert(e1.getMessage.contains("single-writer"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      runner.incrementalRefresh(
        TimeWindow.between(hi, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))))
    assert(e2.getMessage.contains("single-writer"))
    // a crashed writer's stale lease is stolen
    java.nio.file.Files.setLastModifiedTime(
      lock, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    runner.compact("fact_event_by_minute")
    assert(!java.nio.file.Files.exists(lock), "lease must be released after the run")
  }

  test("compaction collapses incremental small files without changing content") {
    val out = tempDir()
    val t0  = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    // sub-day window cuts: the SAME p_day partitions receive several
    // append batches, accumulating small files
    val cuts = Seq(
      "2024-01-12 06:00:00", "2024-01-14 12:00:00",
      "2024-01-16 18:00:00", "2024-01-20 00:00:00")
      .map(java.sql.Timestamp.valueOf)
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    runner.fullRefresh(TimeWindow.upTo(t0))
    (t0 +: cuts).sliding(2).foreach { case Seq(lo, hi) =>
      runner.incrementalRefresh(TimeWindow.between(lo, hi))
    }
    def parquetFiles(t: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out, t)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    val t = "fact_event_by_minute"
    val before = spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq
    val filesBefore = parquetFiles(t)
    runner.compact(t)
    val after = spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed table content")
    assert(parquetFiles(t) < filesBefore,
      s"expected fewer files after compaction (before=$filesBefore, after=${parquetFiles(t)})")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, s"${t}__compact")))
    // day-partition layout (and thus pruning) is preserved
    val pruned = spark.read.parquet(s"$out/$t").filter(col("p_day") === lit(19737L))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(p_day"))
    // unpartitioned dims compact too
    val dimBefore = spark.read.parquet(s"$out/dim_event_type").collect().map(_.toString).sorted.toSeq
    runner.compact("dim_event_type")
    assert(spark.read.parquet(s"$out/dim_event_type").collect().map(_.toString).sorted.toSeq == dimBefore)
  }

  test("compacting an already compact table leaves every file as it is") {
    val out    = tempDir()
    val lo     = java.sql.Timestamp.valueOf("2024-01-12 06:00:00")
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    runner.fullRefresh(TimeWindow.upTo(lo))
    runner.incrementalRefresh(
      TimeWindow.between(lo, java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
    val tables = Seq("fact_event_by_minute", "dim_event_type")
    def files(): Seq[(String, java.nio.file.attribute.FileTime)] = tables.flatMap { t =>
      Files.walk(Paths.get(out, t)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.getLastModifiedTime(p))).toSeq.sortBy(_._1)
    }
    tables.foreach(runner.compact(_))
    val compacted = files()
    assert(compacted.exists(_._1.endsWith(".parquet")))
    tables.foreach(runner.compact(_))
    assert(files() == compacted)
  }

  test("compacting every table under one lease rewrites only the fragmented ones") {
    val out    = tempDir()
    val lo     = java.sql.Timestamp.valueOf("2024-01-12 06:00:00")
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), out)
    runner.fullRefresh(TimeWindow.upTo(lo))
    runner.incrementalRefresh(
      TimeWindow.between(lo, java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
    val (compact, fragmented) = ("fact_event_by_minute", "fact_user_activity_by_minute")
    runner.compact(compact)
    def files(t: String): Seq[(String, java.nio.file.attribute.FileTime)] =
      Files.walk(Paths.get(out, t)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.getLastModifiedTime(p))).toSeq.sortBy(_._1)
    def rows(t: String): Seq[String] =
      spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq
    val (compactFiles, fragmentedFiles, fragmentedRows) =
      (files(compact), files(fragmented), rows(fragmented))
    val written = runner.compactAll()
    assert(written == runner.derivedDims.map(_._2.name) ++
      runner.factsInTopoOrder.filter(_.persistent).map(runner.factTableNameOf))
    assert(files(compact) == compactFiles, "an already compact table was rewritten")
    assert(files(fragmented) != fragmentedFiles, "the fragmented table was not rewritten")
    assert(rows(fragmented) == fragmentedRows)
    assert(!Files.exists(Paths.get(out, "_graft_writer.lock")), "the writer lease was not released")
    assert(liveWaveThreads().isEmpty, liveWaveThreads())
  }

  test("plan artifacts are reproducible once expression and plan ids are masked") {
    val runner = new Runner(spark, Fixtures.tpchEnv, sf("sf0.001"), tempDir())
    runner.fullRefresh(TimeWindow.unbounded) // the fact plans read the dims
    def masked(plans: Map[String, String]) = plans.view
      .mapValues(_.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")).toMap
    val first = masked(runner.emitPlans())
    assert(first.keySet == tpchTables.toSet)
    assert(masked(runner.emitPlans()) == first)
  }

  test("non-persistent facts derive dims but skip fact-table writes") {
    val out = tempDir()
    val env = model.Validator.validateEnv(
      Fixtures.eventsTables,
      Fixtures.eventsFacts.map(f =>
        if (f.name == "user_activity") f.copy(persistent = false) else f),
      Fixtures.eventsSettings, Fixtures.testTypeDefaults).toOption.get
    val written = new Runner(spark, env, sf("sf0.001"), out).fullRefresh(TimeWindow.unbounded)
    assert(written.contains("dim_app_user"))
    assert(!written.contains("fact_user_activity_by_minute"))
    assert(written.contains("fact_event_by_minute"))
  }

  test("DDL emission mirrors the reference's create/ artifacts") {
    val out = tempDir()
    val runner = new Runner(spark, Fixtures.ringoEnv, sf("sf0.001"), out)
    val ddl = runner.emitDdl()
    assert(ddl.keySet.contains("dim_geo"))
    assert(ddl.keySet.contains("fact_session_by_minute"))
    val geo = ddl("dim_geo")
    assert(geo.contains("CREATE TABLE dim_geo ("))
    assert(geo.contains("id INT NOT NULL"))
    assert(geo.contains("USING PARQUET"))
    assert(geo.contains("-- PRIMARY KEY (id)"))
    assert(geo.contains("-- UNIQUE (country_name, city_name, continent_name)"))
    val fact = ddl("fact_session_by_minute")
    assert(fact.contains("created_at_minute_id BIGINT NOT NULL"))
    assert(fact.contains("p_day BIGINT")) // matches the written epoch-day long, not DATE
    assert(fact.contains("PARTITIONED BY (p_day)"))
    // D2/D3 index selection recorded as comments (reference golden
    // Ringo.hs:247-257, 300-310)
    for (c <- Seq("country_name", "city_name", "continent_name"))
      assert(geo.contains(s"-- create index on dim_geo ($c)"), c)
    for (c <- Seq("created_at_minute_id", "publisher_id", "geo_id", "user_agent_id"))
      assert(fact.contains(s"-- create index on fact_session_by_minute ($c)"), c)
    // single-non-PK-column dims get no indexes (Create.hs:68 guard)
    assert(!ddl("dim_page_type").contains("create index"))
    // TenantId facts get the composite (tenant, time) index
    val tenant = new Runner(spark, Fixtures.tenantEnv, sf("sf0.001"), tempDir()).emitDdl()
    assert(tenant("fact_order_by_tenant_by_day").contains(
      "-- create index on fact_order_by_tenant_by_day (o_custkey, o_orderdate_day_id)"))
  }

  test("a plan artifact is Dataset.explain's formatted output, trailing newline included") {
    val runner = new Runner(spark, Fixtures.eventsEnv, sf("sf0.001"), tempDir())
    runner.fullRefresh(TimeWindow.unbounded) // the fact plans read the dims
    val (fact, dim) = runner.derivedDims.head
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(printed)) {
      exec.DimPopulate.candidates(Fixtures.eventsEnv, fact, dim.name,
        runner.readSource(fact.tableName), TimeWindow.unbounded).explain("formatted")
    }
    // two builds of one plan differ only in their expression and plan ids
    def masked(plan: String) =
      plan.replaceAll("#\\d+L?", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
    assert(masked(runner.emitPlans()(dim.name)) == masked(printed.toString))
  }

  test("metadata JSON sinks") {
    val env = Fixtures.ringoEnv
    val deps = MetadataSink.dependenciesJson(env)
    assert(deps.contains("\"fact_session_by_minute\""))
    assert(deps.contains("\"dim_geo\""))
    // flat arrays in fact order, like the reference's app/Main.hs:48-52
    val dims = MetadataSink.dimensionsJson(env)
    assert(dims.startsWith("[") && dims.endsWith("]"))
    assert(dims.contains("\"dim_geo\"") && dims.contains("\"dim_user_agent\""))
    val facts = MetadataSink.factsJson(env)
    assert(facts.startsWith("[") && facts.endsWith("]"))
    assert(facts.contains("\"fact_page_view_by_minute\""))
  }
}
