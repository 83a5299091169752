package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Cli
import graft.exec.Runner
import graft.model._
import graft.pipeline.CurationPipeline
import graft.sources.{MetadataSink, ModelParser}

/** Traced twin of `graft.Cli`: calls the same public engine functions in
  * the same order as `Cli.run`, each inside a [[Trace]] span, and writes
  * the trace when the command ends.
  *
  * {{{
  * TracedCli TRACE.json MODEL.yaml SRC OUT [--upper HI | --incremental LO HI | --compact]
  * TracedCli TRACE.json pipeline JOB.yaml SRC OUT [--state DIR] [--compact-state]
  * TracedCli TRACE.json readback QUERIES.tsv RESULTS.jsonl
  * }}}
  *
  * Only the flags the benchmark passes are accepted. Exit codes follow
  * `Cli.main`: 3 when a unique-key check finds duplicates. */
object TracedCli {
  /** The session `Cli.main` builds, with the same settings. */
  private def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TracedCli TRACE.json COMMAND...")
    val listener = new TraceListener
    var spark: Option[SparkSession] = None
    def session(): SparkSession = Trace.span("session.start") {
      val s = buildSession()
      s.sparkContext.addSparkListener(listener)
      spark = Some(s)
      s
    }
    val cmd = args.toSeq.drop(1)
    var exitCode = 0
    try {
      exitCode = cmd.head match {
        case "pipeline" => pipeline(cmd.tail, session()); 0
        case "readback" => readback(cmd.tail, session()); 0
        case _          => warehouse(cmd, session())
      }
    } finally {
      spark.foreach(s => Trace.span("session.stop")(s.stop()))
      Trace.write(args(0), listener)
    }
    if (exitCode != 0) sys.exit(exitCode)
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def warehouse(args: Seq[String], session: => SparkSession): Int = {
    val Seq(modelPath, sourceDir, outDir) = args.take(3)
    val rest = args.drop(3)
    def ts(i: Int): Timestamp = Timestamp.valueOf(rest(i))
    val window =
      if (rest.contains("--incremental")) {
        val i = rest.indexOf("--incremental")
        TimeWindow.between(ts(i + 1), ts(i + 2))
      } else if (rest.contains("--upper")) TimeWindow.upTo(ts(rest.indexOf("--upper") + 1))
      else TimeWindow.unbounded
    val (tables, facts, defaults) =
      Trace.span("model.parse")(ModelParser.parseFile(modelPath)).fold(fail, identity)
    val settings = Cli.parseSettings(rest, fail)
    val env = Trace.span("model.validate")(
      Validator.validateEnv(tables, facts, settings, defaults))
      .fold(errs => fail(errs.mkString("\n")), identity)
    val stagingSuffix =
      if (window.lower.nonEmpty) ""
      else Naming.resolveSuffixTemplate(settings.tableNameSuffixTemplate, "_staging")
    val spark = session
    val runner = new Runner(spark, env, sourceDir, outDir,
      partitionFactsByDay = !rest.contains("--no-partition"), stagingSuffix = stagingSuffix)
    if (rest.contains("--compact")) Trace.span("exec.compact") {
      val names = runner.derivedDims.map(_._2.name) ++
        runner.factsInTopoOrder.filter(_.persistent).map(runner.factTableNameOf)
      names.foreach(runner.compact(_))
    }
    else if (window.lower.nonEmpty)
      Trace.span("exec.refresh")(runner.incrementalRefresh(window))
    else {
      val written = Trace.span("exec.refresh")(runner.fullRefresh(window))
      if (stagingSuffix.nonEmpty) {
        Trace.span("exec.staging.promote")(runner.swapStaging(written))
        Trace.count("exec.staging.tables", written.size)
      }
    }
    Trace.span("emit.metadata")(MetadataSink.writeAll(env, outDir))
    Trace.span("emit.plans") {
      val dir = Files.createDirectories(Paths.get(outDir, "plans"))
      runner.emitPlans(window).foreach { case (t, plan) =>
        Files.writeString(dir.resolve(s"$t.txt"), plan)
      }
    }
    Trace.span("emit.ddl") {
      val dir = Files.createDirectories(Paths.get(outDir, "create"))
      runner.emitDdl().foreach { case (t, ddl) => Files.writeString(dir.resolve(s"$t.sql"), ddl) }
    }
    Trace.span("emit.sql") {
      Seq("fullrefresh" -> PopulationMode.Full, "increfresh" -> PopulationMode.Incremental)
        .foreach { case (name, mode) =>
          val dir = Files.createDirectories(Paths.get(outDir, name))
          runner.emitPopulateSql(mode).foreach { case (t, sql) =>
            Files.writeString(dir.resolve(s"$t.sql"), sql)
          }
        }
    }
    val violations =
      Trace.span("exec.quality.unique_check")(runner.checkUniqueKeys().filter(_._3 > 0))
    violations.foreach { case (t, c, n) =>
      System.err.println(s"QUALITY VIOLATION: $t $c has $n duplicate keys")
    }
    if (violations.nonEmpty) 3 else 0
  }

  private def pipeline(args: Seq[String], session: => SparkSession): Unit = {
    val Seq(jobPath, sourceDir, outDir) = args.take(3)
    val rest = args.drop(3)
    val stateDir = Some(rest.indexOf("--state")).filter(_ >= 0).map(i => rest(i + 1))
    val spec = Trace.span("model.parse")(CurationPipeline.parseFile(jobPath)).fold(fail, identity)
    Trace.span("model.validate")(CurationPipeline.validate(spec))
      .left.foreach(errs => fail(errs.mkString("\n")))
    val spark = session
    Trace.span("pipeline.run")(CurationPipeline.run(spark, spec, sourceDir, outDir,
      stateDir = stateDir, compactState = rest.contains("--compact-state")))
  }

  /** Downstream read set, in a fresh session with the CLI's settings.
    * QUERIES.tsv lines are `view<TAB>name<TAB>parquet path` or
    * `query<TAB>name<TAB>sql`; each query's rows go to RESULTS.jsonl. */
  private def readback(args: Seq[String], session: => SparkSession): Unit = {
    val Seq(queriesPath, resultsPath) = args.take(2)
    val lines = Files.readAllLines(Paths.get(queriesPath), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", 3).toSeq)
    val spark = session
    val results = lines.flatMap {
      case Seq("view", name, path) =>
        Trace.span("read.open")(spark.read.parquet(path).createOrReplaceTempView(name))
        None
      case Seq("query", name, sql) =>
        val rows = Trace.span("read.query")(spark.sql(sql).toJSON.collect())
        Some(s"""{"name":"$name","rows":[${rows.mkString(",")}]}""")
      case other => fail(s"bad query line: ${other.mkString("\t")}")
    }
    Files.write(Paths.get(resultsPath), results.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
