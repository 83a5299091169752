package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.pipeline.CurationPipeline

/** Pipeline composition property: for RANDOM valid chains drawn from a
  * safe op subset (schema-preserving or annotation-adding, stateless),
  * executing the chain through [[CurationPipeline.run]] — YAML-shaped
  * Spec, topo order, staged parquet materialization between steps —
  * must produce exactly the frame the hand-composed operator calls
  * produce on the same corpus. CliSpec pins fixed chains; this pins
  * the composition rules themselves (input defaulting, step
  * materialization fidelity, param plumbing) across the chain space.
  * Few cases: every case runs a full multi-step pipeline. */
class PipelinePropertySpec extends SparkSpec {

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-pipeprop").toString

  private def check(name: String, prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$name: $res")
  }

  /** The independent reference: each safe op re-expressed as direct
    * operator calls (the same composition a library user hand-writes). */
  private def refOp(df: DataFrame, op: String, p: Map[String, String]): DataFrame = op match {
    case "dedup_exact" =>
      df.join(Dedup.exact(df, "doc_id", "text").select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
    case "normalize" => df.withColumn("text", TextAnalysis.normalized(col("text")))
    case "redact"    => df.withColumn("text", TextAnalysis.redact(col("text")))
    case "token_estimate" =>
      df.withColumn("n_tokens_est", TextAnalysis.bpeTokenEstimate(col("text")))
    case "curate" =>
      val keep = TextAnalysis.curate(df, "doc_id", "text",
        p("minTokens").toInt, p("minQuality").toDouble)
        .filter(col("keep")).select(col("doc_id"))
      df.join(keep, Seq("doc_id"), "left_semi")
    case "sample_hash" =>
      Sampling.hashSample(df, "doc_id", p("fraction").toDouble, p("salt"))
    case "extract_html" =>
      df.withColumn("text", TextAnalysis.extractHtml(col("text"), p("minChars").toInt))
    case "dup_spans_remove" =>
      // column ORDER mirrors the pipeline op exactly (drop, join, rename)
      val cleaned = Dedup.removeDuplicatedSpans(df, "doc_id", "text", p("n").toInt, 2)
      df.drop("text")
        .join(cleaned.select(col("doc_id"), col("text_clean")), Seq("doc_id"))
        .withColumnRenamed("text_clean", "text")
  }

  test("property: random safe step chains through the pipeline equal hand-composed calls") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val base = (i % 7) match {
        case 0 => "contact me at alice@example.com for the full data set today please"
        case 1 => "The  Quick   Brown Fox Jumps Over The Lazy Dog Every Day"
        case 2 => "short"
        case 3 => "one two three four five six seven eight nine ten eleven twelve"
        case 4 => "repeat repeat repeat repeat repeat repeat repeat repeat repeat"
        case 5 => "Unique text number five with MIXED case And   spacing everywhere"
        case _ => "tail words " + ("pad " * (i % 5).toInt).trim
      }
      // every 11th doc shares content with an earlier one (exact dups)
      (i, if (i % 11 == 0) base else base + " v" + (i % 13))
    }.toDF("doc_id", "text")
    val src = tempDir()
    docs.write.parquet(s"$src/corpus.parquet")

    val opGen: Gen[(String, Map[String, String])] = Gen.oneOf(
      Gen.const("dedup_exact" -> Map.empty[String, String]),
      Gen.const("normalize" -> Map.empty[String, String]),
      Gen.const("redact" -> Map.empty[String, String]),
      Gen.const("token_estimate" -> Map.empty[String, String]),
      for {
        mt <- Gen.oneOf("1", "3", "5"); mq <- Gen.oneOf("0.0", "0.2")
      } yield "curate" -> Map("minTokens" -> mt, "minQuality" -> mq),
      for {
        f <- Gen.oneOf("0.3", "0.6", "0.9"); s <- Gen.oneOf("a", "b")
      } yield "sample_hash" -> Map("fraction" -> f, "salt" -> s),
      Gen.oneOf("3", "8").map(mc => "extract_html" -> Map("minChars" -> mc)),
      Gen.oneOf("4", "6").map(n => "dup_spans_remove" -> Map("n" -> n)))
    val chainGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, opGen))

    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    check("pipeline==composed", Prop.forAll(chainGen) { chain =>
      val steps = chain.zipWithIndex.map { case ((op, params), i) =>
        CurationPipeline.Step(s"s$i", op,
          if (i == 0) Some("corpus") else None, params)
      }
      val spec = CurationPipeline.Spec("prop_chain", "doc_id", "text", steps)
      val out  = tempDir()
      val written = CurationPipeline.run(spark, spec, src, out)
      val got  = spark.read.parquet(s"$out/${written.last}")
      val want = chain.foldLeft(docs) { case (df, (op, p)) => refOp(df, op, p) }
      val (g, w) = (rows(got), rows(want))
      if (g != w)
        System.err.println(s"chain $chain mismatch:\n got=${g.take(3)}\n want=${w.take(3)}")
      g == w
    }, n = 5)
  }

  /** A small corpus with exact duplicates, written as `corpus.parquet`
    * under a fresh source directory. */
  private def corpusDir(): String = {
    import spark.implicits._
    val src = tempDir()
    (0L until 24L).map(i => (i, s"The  Doc  ${i % 5} mail bob@example.com v${i % 9}"))
      .toDF("doc_id", "text").write.parquet(s"$src/corpus.parquet")
    src
  }

  /** The descriptions of the Spark jobs `body` runs, once every event
    * `body` posted has been delivered (a marker job started afterwards
    * is seen). The marker runs on its own thread, leaving the caller's
    * local properties as `body` left them. */
  private def jobLabels[T](body: => T): (T, Seq[String]) = {
    val labels = new ConcurrentLinkedQueue[String]()
    val rec = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
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
      while (!labels.contains("listener marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(labels.remove("listener marker"), "listener events were not delivered")
      (result, labels.asScala.toSeq)
    } finally sc.removeSparkListener(rec)
  }

  private def liveDagThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(graft.exec.Dag.ThreadPrefix)).map(_.getName)

  private def step(name: String, op: String, input: String) =
    CurationPipeline.Step(name, op, Some(input), Map.empty)

  test("a branching spec runs its branches as levels: same tables, manifest order and labels") {
    val src = corpusDir()
    val out = tempDir()
    // levels: {dedup, norm}, {est, red}; file order differs from both
    val spec = CurationPipeline.Spec("branches", "doc_id", "text", Seq(
      step("dedup", "dedup_exact", "corpus"),
      step("est", "token_estimate", "dedup"),
      step("norm", "normalize", "corpus"),
      step("red", "redact", "norm")))
    val sc = spark.sparkContext
    sc.setJobDescription("caller label")
    val (written, labels) =
      try {
        val r = jobLabels(CurationPipeline.run(spark, spec, src, out))
        assert(sc.getLocalProperty("spark.job.description") == "caller label")
        r
      } finally sc.setJobDescription(null)
    val order = CurationPipeline.validate(spec).toOption.get.map(_.name)
    assert(written == order)
    val manifest = Files.readString(Paths.get(out, "pipeline_manifest.json"))
    assert("\"name\":\"(\\w+)\"".r.findAllMatchIn(manifest).map(_.group(1)).toSeq == order)
    val corpus = spark.read.parquet(s"$src/corpus.parquet")
    val want = Map(
      "dedup" -> refOp(corpus, "dedup_exact", Map.empty),
      "est"   -> refOp(refOp(corpus, "dedup_exact", Map.empty), "token_estimate", Map.empty),
      "norm"  -> refOp(corpus, "normalize", Map.empty),
      "red"   -> refOp(refOp(corpus, "normalize", Map.empty), "redact", Map.empty))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    want.foreach { case (t, df) =>
      assert(rows(spark.read.parquet(s"$out/$t")) == rows(df), t)
    }
    val stepLabels = spec.steps.map(s => s"pipeline branches: step ${s.name} (${s.op})")
    assert(labels.nonEmpty)
    labels.foreach(l => assert(stepLabels.contains(l), s"job label '$l' names no step"))
    stepLabels.foreach(l => assert(labels.contains(l), s"no job labelled '$l'"))
    assert(liveDagThreads().isEmpty, liveDagThreads())
  }

  test("a failed step ends its level: no later level, no counter bump, the error as thrown") {
    val src   = corpusDir()
    val out   = tempDir()
    val state = tempDir()
    Files.writeString(Paths.get(state, "_graft_next_batch"), "5")
    // level 1: ok and bad (its source table does not exist); level 2: later
    val spec = CurationPipeline.Spec("failing", "doc_id", "text", Seq(
      step("ok", "normalize", "corpus"),
      step("bad", "normalize", "no_such_table"),
      step("later", "redact", "ok")))
    val sc = spark.sparkContext
    sc.setJobDescription("caller label")
    val e =
      try {
        val e = intercept[Exception](CurationPipeline.run(spark, spec, src, out, stateDir = Some(state)))
        assert(sc.getLocalProperty("spark.job.description") == "caller label")
        e
      } finally sc.setJobDescription(null)
    assert(!e.isInstanceOf[ExecutionException], e)
    assert(e.isInstanceOf[AnalysisException] && e.getMessage.contains("no_such_table"), e)
    assert(Files.exists(Paths.get(out, "ok", "_SUCCESS")), "the rest of the level did not end")
    assert(!Files.exists(Paths.get(out, "later")), "a later level started")
    assert(!Files.exists(Paths.get(out, "pipeline_manifest.json")))
    assert(!Files.exists(Paths.get(out, "_graft_writer.lock")), "the writer lease was not released")
    assert(Files.readString(Paths.get(state, "_graft_next_batch")) == "5")
    assert(liveDagThreads().isEmpty, liveDagThreads())
  }

  test("the batch counter: a stray temp file is ignored, bad content names the file") {
    val src   = corpusDir()
    val state = tempDir()
    val spec  = CurationPipeline.Spec("counter", "doc_id", "text",
      Seq(step("norm", "normalize", "corpus")))
    val counter = Paths.get(state, "_graft_next_batch")
    Files.writeString(counter, "3")
    // a crash between writing the next id and renaming it into place
    Files.writeString(Paths.get(state, "_graft_next_batch.__tmp"), "4")
    val out = tempDir()
    CurationPipeline.run(spark, spec, src, out, stateDir = Some(state))
    assert(Files.readString(Paths.get(out, "pipeline_manifest.json")).contains("\"batch_id\":3,"))
    assert(Files.readString(counter) == "4")
    assert(!Files.exists(Paths.get(state, "_graft_next_batch.__tmp")))
    // a counter truncated by a crash fails loud, naming the file
    Files.writeString(counter, "")
    val e = intercept[IllegalStateException](
      CurationPipeline.dryRun(spark, spec, src, Some(state)))
    assert(e.getMessage.contains(counter.toString), e.getMessage)
  }

  test("steps that share a state store run one after another, as called in order") {
    import spark.implicits._
    val src = tempDir()
    Seq((1L, "http://h/p", "page")).toDF("doc_id", "url", "text")
      .write.parquet(s"$src/pages.parquet")
    Seq((1L, "http://h/a", "t"), (2L, "http://h/b", "t")).toDF("doc_id", "url", "text")
      .write.parquet(s"$src/list_a.parquet")
    Seq((3L, "http://h/c", "t"), (4L, "http://h/d", "t")).toDF("doc_id", "url", "text")
      .write.parquet(s"$src/list_b.parquet")
    val now = "1700000000"
    // one bucket: both recrawls read and overwrite the same store bucket
    def admit(name: String, op: String, input: String, more: (String, String)*) =
      CurationPipeline.Step(name, op, Some(input),
        Map("mode" -> "admit", "url" -> "url", "now" -> now, "buckets" -> "1") ++ more)
    val spec = CurationPipeline.Spec("shared", "doc_id", "text", Seq(
      admit("changed", "change_detect", "pages"),
      admit("due_a", "recrawl", "list_a", "storeFrom" -> "changed"),
      admit("due_b", "recrawl", "list_b", "storeFrom" -> "changed")))
    val (out, state) = (tempDir(), tempDir())
    CurationPipeline.run(spark, spec, src, out, stateDir = Some(state))
    // the reference: the same ops called one after another, as batch 0
    val refState = tempDir()
    def resolve(n: String) = graft.sources.ParquetTables.readTable(spark, src, n)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    spec.steps.foreach { s =>
      val in  = s.input.get
      val ctx = CurationPipeline.Ctx(resolve(in), "doc_id", "text", resolve,
        new CurationPipeline.Params(s.name, s.params), s.name, Some(refState), 0L, in, tempDir())
      val want = rows(CurationPipeline.ops(s.op).run(ctx))
      assert(rows(spark.read.parquet(s"$out/${s.name}")) == want, s.name)
    }
    val store = spark.read.parquet(s"$state/changed/lastfetch")
    assert(rows(store) == rows(spark.read.parquet(s"$refState/changed/lastfetch")))
    assert(store.filter(col("url").isin("http://h/a", "http://h/b", "http://h/c", "http://h/d") &&
      col("last_fetch_ts") === now.toLong).count() == 4, rows(store))
  }
}
