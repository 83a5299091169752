package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.exec.Runner
import graft.model._
import graft.sources.{MetadataSink, ModelParser}

/** CLI entry point — the executable analogue of the reference's
  * `ringo INPUT OUTPUT` (`app/Main.hs:24-83`), except the generated
  * dataflows are *run*, not written out as SQL text:
  *
  * {{{
  * runMain graft.Cli MODEL.yaml SOURCE_DIR OUT_DIR \
  *   [--incremental LO HI]  [--upper HI]  [--no-partition]  [settings...]
  * }}}
  *
  * Every Settings knob has a flag, mirroring the reference's arg parser
  * (`app/Ringo/ArgParser.hs:23-90`): `--dim-prefix`, `--fact-prefix`,
  * `--time-unit second|minute|hour|day|week`, `--avg-count-col-suffix`,
  * `--avg-sum-col-suffix`, `--dim-id-col-name`, `--dim-id-col-type`,
  * `--fact-count-col-type`, `--count-distinct-error-rate`,
  * `--fact-infix`, `--dependencies-json`, `--facts-json`,
  * `--dimensions-json`, `--fk-id-coalesce-value`, `--suffix-template`.
  *
  * Emits dependencies.json / dimensions.json / facts.json metadata and
  * per-table physical plans alongside the populated parquet tables.
  */
object Cli {

  private[graft] val settingsFlags: Set[String] = Set(
    "--dim-prefix", "--fact-prefix", "--time-unit", "--avg-count-col-suffix",
    "--avg-sum-col-suffix", "--dim-id-col-name", "--dim-id-col-type",
    "--fact-count-col-type", "--count-distinct-error-rate", "--fact-infix",
    "--dependencies-json", "--facts-json", "--dimensions-json",
    "--fk-id-coalesce-value", "--suffix-template")
  private[graft] val modeFlags: Set[String] =
    Set("--incremental", "--upper", "--no-partition", "--bucket-parents", "--compact",
      "--salt-parents")

  private[graft] def parseSettings(
      rest: Seq[String], usageExit: String => Nothing): Settings = {
    rest.filter(_.startsWith("--")).foreach { f =>
      if (!settingsFlags.contains(f) && !modeFlags.contains(f))
        usageExit(s"unknown flag: $f")
    }
    def flag(name: String): Option[String] = {
      val i = rest.indexOf(name)
      if (i < 0) None
      else rest.lift(i + 1).orElse(usageExit(s"$name requires a value"))
    }
    var s = Settings()
    flag("--dim-prefix").foreach(v => s = s.copy(dimPrefix = v))
    flag("--fact-prefix").foreach(v => s = s.copy(factPrefix = v))
    flag("--time-unit").foreach { v =>
      s = s.copy(timeUnit =
        try TimeUnit.fromName(v)
        catch { case _: IllegalArgumentException => usageExit(s"--time-unit: unknown unit '$v'") })
    }
    flag("--avg-count-col-suffix").foreach(v => s = s.copy(avgCountColumnSuffix = v))
    flag("--avg-sum-col-suffix").foreach(v => s = s.copy(avgSumColumnSuffix = v))
    flag("--dim-id-col-name").foreach(v => s = s.copy(dimTableIdColumnName = v))
    flag("--dim-id-col-type").foreach(v => s = s.copy(dimTableIdColumnType = v))
    flag("--fact-count-col-type").foreach(v => s = s.copy(factCountColumnType = v))
    flag("--count-distinct-error-rate").foreach(v =>
      s = s.copy(factCountDistinctErrorRate =
        v.toDoubleOption.getOrElse(usageExit(s"--count-distinct-error-rate: bad double '$v'"))))
    flag("--fact-infix").foreach(v => s = s.copy(factInfix = v))
    flag("--dependencies-json").foreach(v => s = s.copy(dependenciesJsonFileName = v))
    flag("--facts-json").foreach(v => s = s.copy(factsJsonFileName = v))
    flag("--dimensions-json").foreach(v => s = s.copy(dimensionsJsonFileName = v))
    flag("--fk-id-coalesce-value").foreach(v =>
      s = s.copy(foreignKeyIdCoalesceValue =
        v.toIntOption.getOrElse(usageExit(s"--fk-id-coalesce-value: bad int '$v'"))))
    flag("--suffix-template").foreach(v => s = s.copy(tableNameSuffixTemplate = v))
    s
  }

  /** `--version` output, mirroring the reference's `progName ++ version`
    * banner (`app/Ringo/ArgParser.hs:106-113`). */
  private[graft] val versionString = "graft 0.4.0"

  /** Short aliases for the most-used settings flags, mirroring the
    * reference's `short 'd'` / `short 'f'` / `short 't'`
    * (`app/Ringo/ArgParser.hs:27-41`). Normalized to the long form
    * before parsing. */
  private[graft] val shortAliases: Map[String, String] = Map(
    "-d" -> "--dim-prefix",
    "-f" -> "--fact-prefix",
    "-t" -> "--time-unit")

  private val usage =
    """usage: graft.Cli MODEL.yaml SOURCE_DIR OUT_DIR
      |       graft.Cli pipeline JOB.yaml SOURCE_DIR OUT_DIR [--suffix-template T] [--state STATE_DIR] [--compact-state] [--dry-run]
      |  [--incremental LO HI | --upper HI | --compact]
      |  [--no-partition]  [--bucket-parents N]  [--salt-parents N]  [--version]
      |  [-d|--dim-prefix P] [-f|--fact-prefix P] [-t|--time-unit U] [--fact-infix I]
      |  [--avg-count-col-suffix S] [--avg-sum-col-suffix S]
      |  [--dim-id-col-name N] [--dim-id-col-type T] [--fact-count-col-type T]
      |  [--count-distinct-error-rate R] [--fk-id-coalesce-value V]
      |  [--dependencies-json F] [--facts-json F] [--dimensions-json F]
      |  [--suffix-template T]""".stripMargin

  /** Argument/model problem; [[main]] prints the message and exits with
    * the carried code (2 = usage, 1 = validation), tests catch it. */
  final case class CliError(msg: String, code: Int) extends RuntimeException(msg)

  /** The whole CLI pipeline against a provided session (does not stop
    * it, does not call `sys.exit`): parse -> validate -> populate ->
    * swap staging -> emit artifacts -> quality checks. Returns the
    * UNIQUE-key violations (empty = clean run). The session is by-name
    * and only forced AFTER argument + model validation, so usage errors
    * never pay Spark startup. */
  private[graft] def run(args0: Seq[String], sparkSession: => SparkSession): Seq[(String, String, Long)] = {
    if (args0.contains("--version")) throw CliError(versionString, 0)
    // curation-pipeline subcommand: YAML job spec -> topo-ordered
    // operator steps materialized under OUT_DIR with the same staging/
    // lease conventions as the warehouse path
    if (args0.headOption.contains("pipeline")) {
      runPipeline(args0.drop(1), sparkSession)
      return Seq.empty
    }
    val args = args0.map(a => shortAliases.getOrElse(a, a))
    if (args.length < 3) throw CliError(usage, 2)
    val Seq(modelPath, sourceDir, outDir) = args.take(3)
    val rest = args.drop(3)

    def usageExit(msg: String): Nothing = throw CliError(s"$msg\n$usage", 2)
    // the three refresh modes are exclusive alternatives (the usage text
    // presents them as such): silently ignoring a window under
    // --compact would look like a compacted incremental ran
    if (rest.contains("--compact") && (rest.contains("--incremental") || rest.contains("--upper")))
      usageExit("--compact cannot be combined with --incremental/--upper")
    if (rest.contains("--incremental") && rest.contains("--upper"))
      usageExit("--incremental and --upper are mutually exclusive")
    def parseTs(flag: String, s: Option[String]): Timestamp =
      s.map(v =>
        try Timestamp.valueOf(v)
        catch {
          case _: IllegalArgumentException =>
            usageExit(s"$flag: invalid timestamp '$v' (expected 'yyyy-MM-dd HH:mm:ss')")
        }).getOrElse(usageExit(s"$flag requires timestamp operand(s)"))

    val window =
      if (rest.contains("--incremental")) {
        val i = rest.indexOf("--incremental")
        TimeWindow.between(
          parseTs("--incremental", rest.lift(i + 1)),
          parseTs("--incremental", rest.lift(i + 2)))
      } else if (rest.contains("--upper")) {
        TimeWindow.upTo(parseTs("--upper", rest.lift(rest.indexOf("--upper") + 1)))
      } else TimeWindow.unbounded

    val parsed = ModelParser.parseFile(modelPath) match {
      case Left(err) => throw CliError(err, 1)
      case Right(p)  => p
    }
    val (tables, facts, defaults) = parsed
    val settings = parseSettings(rest, usageExit)
    val env = Validator.validateEnv(tables, facts, settings, defaults) match {
      case Left(errors) =>
        throw CliError(errors.map(e => s"validation: $e").mkString("\n"), 1)
      case Right(e) => e
    }

    // Full refresh stages into `<table><suffix>` and swaps in-place
    // after populate — the reference's suffixed-target rebuild contract
    // (`Generator/Internal.hs:38-41`; the orchestrator substitutes
    // `{{suff}}` and swaps). Cli is its own orchestrator, so it
    // substitutes `{{suff}}` -> `_staging` and swaps itself;
    // `--suffix-template ""` disables staging (write live in place).
    val stagingSuffix =
      if (window.lower.nonEmpty) "" // incremental appends to live tables
      else Naming.resolveSuffixTemplate(settings.tableNameSuffixTemplate, "_staging")
    // validate the bucket count BEFORE forcing the session: every usage
    // error must print without paying Spark startup
    val bucketParents: Option[Int] =
      if (!rest.contains("--bucket-parents")) None
      else {
        val i = rest.indexOf("--bucket-parents")
        Some(rest.lift(i + 1).flatMap(_.toIntOption).filter(_ > 0)
          .getOrElse(usageExit("--bucket-parents requires a positive bucket count")))
      }
    // skew mitigation for hot parent-join keys; exclusive with
    // bucketing (salt equality on the join key would defeat the
    // co-located bucketed layout and force the exchange back)
    val saltParents: Option[Int] =
      if (!rest.contains("--salt-parents")) None
      else {
        val i = rest.indexOf("--salt-parents")
        Some(rest.lift(i + 1).flatMap(_.toIntOption).filter(_ > 1)
          .getOrElse(usageExit("--salt-parents requires a salt count > 1")))
      }
    if (saltParents.nonEmpty && bucketParents.nonEmpty)
      usageExit("--salt-parents cannot be combined with --bucket-parents")
    val spark = sparkSession // first use: validation passed, start Spark
    val runner =
      new Runner(spark, env, sourceDir, outDir,
        partitionFactsByDay = !rest.contains("--no-partition"),
        stagingSuffix = stagingSuffix,
        saltParents = saltParents)
    // optional ingest-side bucketing: co-locate parent-join sources so
    // this and every later refresh runs the parent SMJ exchange-free
    bucketParents.foreach(runner.bucketParentSources)
    val written =
      // maintenance mode: collapse the small files the incremental
      // appends accumulate; atomic per-table promotion, live tables
      // stay readable throughout
      if (rest.contains("--compact")) runner.compactAll()
      else if (window.lower.nonEmpty) runner.incrementalRefresh(window)
      else {
        val w = runner.fullRefresh(window)
        if (stagingSuffix.nonEmpty) runner.swapStaging(w)
        w
      }
    written.foreach(t => println(s"populated: $outDir/$t"))

    MetadataSink.writeAll(env, outDir)
    val plansDir = Paths.get(outDir, "plans")
    Files.createDirectories(plansDir)
    runner.emitPlans(window).foreach { case (table, plan) =>
      Files.writeString(plansDir.resolve(s"$table.txt"), plan)
    }
    // create/ fullrefresh/ increfresh/ <table>.sql — the reference's
    // three artifact directories (`app/Main.hs:36-41,75-81`)
    val createDir = Paths.get(outDir, "create")
    Files.createDirectories(createDir)
    runner.emitDdl().foreach { case (table, ddl) =>
      Files.writeString(createDir.resolve(s"$table.sql"), ddl)
    }
    Seq(
      "fullrefresh" -> PopulationMode.Full,
      "increfresh"  -> PopulationMode.Incremental
    ).foreach { case (dirName, mode) =>
      val dir = Paths.get(outDir, dirName)
      Files.createDirectories(dir)
      runner.emitPopulateSql(mode).foreach { case (table, sql) =>
        Files.writeString(dir.resolve(s"$table.sql"), sql)
      }
    }
    runner.checkUniqueKeys().filter(_._3 > 0)
  }

  /** The `pipeline` subcommand: parse + validate the job spec BEFORE
    * forcing the session (usage/spec errors never pay Spark startup),
    * then execute through [[graft.pipeline.CurationPipeline]]. */
  private def runPipeline(args: Seq[String], sparkSession: => SparkSession): Unit = {
    def usageExit(msg: String): Nothing = throw CliError(s"$msg\n$usage", 2)
    if (args.length < 3) throw CliError(usage, 2)
    val Seq(jobPath, sourceDir, outDir) = args.take(3)
    val rest = args.drop(3)
    rest.filter(_.startsWith("--")).foreach { f =>
      if (f != "--suffix-template" && f != "--state" && f != "--compact-state" &&
          f != "--dry-run")
        usageExit(s"unknown flag: $f")
    }
    val suffix = {
      val i = rest.indexOf("--suffix-template")
      if (i < 0) "_staging"
      else Naming.resolveSuffixTemplate(
        rest.lift(i + 1).getOrElse(usageExit("--suffix-template requires a value")),
        "_staging")
    }
    val stateDir = {
      val i = rest.indexOf("--state")
      if (i < 0) None
      else Some(rest.lift(i + 1).filterNot(_.startsWith("--"))
        .getOrElse(usageExit("--state requires a directory")))
    }
    val spec = graft.pipeline.CurationPipeline.parseFile(jobPath) match {
      case Left(err) => throw CliError(err, 1)
      case Right(s)  => s
    }
    graft.pipeline.CurationPipeline.validate(spec) match {
      case Left(errs) => throw CliError(errs.map(e => s"pipeline: $e").mkString("\n"), 1)
      case Right(_)   => ()
    }
    // incremental steps need the state dir — fail BEFORE Spark boots
    val stateful = graft.pipeline.CurationPipeline.statefulSteps(spec)
    if (stateful.nonEmpty && stateDir.isEmpty)
      throw CliError(
        s"pipeline: steps ${stateful.mkString(", ")} run incremental modes — " +
          "pass --state STATE_DIR", 1)
    val compactState = rest.contains("--compact-state")
    if (compactState && stateDir.isEmpty)
      throw CliError("pipeline: --compact-state requires --state STATE_DIR", 1)
    if (rest.contains("--dry-run")) {
      // pre-flight only: validate + topo-order + source existence +
      // input row counts; NOTHING executes, nothing is written
      if (compactState)
        throw CliError("pipeline: --dry-run cannot be combined with --compact-state", 1)
      println(graft.pipeline.CurationPipeline.dryRun(
        sparkSession, spec, sourceDir, stateDir))
      return
    }
    graft.pipeline.CurationPipeline.run(
      sparkSession, spec, sourceDir, outDir, suffix, stateDir, compactState)
      .foreach(t => println(s"written: $outDir/$t"))
  }

  def main(args: Array[String]): Unit = {
    // the session is built lazily by run() AFTER arg/model validation:
    // usage errors print immediately instead of booting Spark first
    lazy val spark: SparkSession = GraftSession.create()
    var started = false
    var exitCode = 0
    // stop the session in a finally so a non-CliError failure (an
    // executor crash, an IO error mid-populate) still shuts Spark down
    // cleanly; sys.exit is deferred past the finally because
    // System.exit skips finally blocks
    try {
      val violations = run(args.toSeq, { started = true; spark })
      violations.foreach { case (t, c, n) =>
        System.err.println(s"QUALITY VIOLATION: $t $c has $n duplicate keys")
      }
      if (violations.nonEmpty) exitCode = 3
    } catch {
      case CliError(msg, 0) =>
        println(msg) // --version: informational, stdout, success
      case CliError(msg, code) =>
        System.err.println(msg)
        exitCode = code
    } finally {
      if (started) spark.stop()
    }
    if (exitCode != 0) sys.exit(exitCode)
  }
}
