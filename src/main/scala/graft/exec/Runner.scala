package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.derive.{Extractor, SqlTypes}
import graft.model._

/** End-to-end ETL runner: derives the dimensional model from an [[Env]]
  * and executes the populate pipelines as the levels of its dependency
  * graph, writing parquet. Replaces the reference's emit-SQL-and-let-
  * an-orchestrator-run-it lifecycle (SURVEY §3.1 step 5) with a single
  * in-session run.
  *
  * The graph is [[Extractor.allDependencies]] restricted to the derived
  * tables, run by [[Dag]]: the tables of one level run concurrently, and
  * a level starts only after the previous one has ended. A dim depends
  * on sources only, a fact on sources and the dims it looks up, never
  * on another fact table — so [[factsInTopoOrder]] orders the returned
  * names but adds no edge, and a fact that looks up no derived dim runs
  * in the first level, beside the dims. The post-load checks, the plan
  * dumps and `--compact` each run as one level.
  *
  * Physical design (D1-D3, re-expressed for parquet/Spark):
  *  - every output is written with the *derived* schema enforced (cast)
  *    — the executable analogue of CREATE TABLE column types;
  *  - fact tables are partitioned by day (`p_day`, derived from the
  *    time bucket) so incremental windows prune partitions on read —
  *    the analogue of the reference's time index, load-bearing at
  *    100 TB;
  *  - declared UNIQUE keys become post-load data-quality assertions
  *    (`assertUnique`) — Spark cannot enforce them, so we verify them.
  */
final class Runner(
    spark: SparkSession,
    env: Env,
    sourceDir: String,
    outDir: String,
    partitionFactsByDay: Boolean = true,
    stagingSuffix: String = "",
    saltParents: Option[Int] = None
) {

  /** Full-refresh writes target `<table><stagingSuffix>`; incremental
    * writes target the live table (`Generator/Internal.hs:38-41`) —
    * [[swapStaging]] then promotes staging to live atomically per
    * table. Empty suffix = write in place. */
  private def stagedName(name: String, popMode: PopulationMode): String =
    Naming.suffixTableName(popMode, stagingSuffix, name)

  /** Promote staged tables: move `<table><suffix>` over `<table>`.
    * Promotion per table is move-aside -> move-in -> delete-old, so a
    * crash mid-swap leaves either the old live table or a recoverable
    * `<table><suffix>__old` — never a deleted live table. Uses the
    * Hadoop FileSystem API resolved from `outDir`'s scheme, so the same
    * swap works on local disk, HDFS, or an object store with a
    * rename-capable committer. */
  def swapStaging(tables: Seq[String]): Unit = withWriterLease {
    require(stagingSuffix.nonEmpty, "no staging suffix configured")
    tables.foreach(promoteStaged(_, stagingSuffix))
  }

  /** Promote `<table><suffix>` over `<table>` (move-aside -> move-in ->
    * delete-old; the [[Staging]] contract, shared with the curation
    * pipeline). */
  private def promoteStaged(t: String, suffix: String): Unit =
    Staging.promoteStaged(spark, outDir, t, suffix)

  private val CompactMaxRecords = 5000000L

  /** Compact a derived table's parquet layout. Every incremental
    * refresh appends a file batch per touched `p_day` partition; after
    * months of windows a fact table's scan cost is dominated by FILE
    * COUNT (open/footer/seek per file), not data size — the classic
    * small-files problem. Rewrites the table with one write task per
    * day partition (files split only past `maxRecordsPerFile`), then
    * promotes atomically via the same move-aside/move-in/delete-old
    * path as staged rebuilds — the live table stays readable during
    * the rewrite and a crash leaves it untouched. A table that is
    * already compact (see [[isCompact]]) is left as it is. */
  def compact(table: String, maxRecordsPerFile: Long = CompactMaxRecords): Unit =
    withWriterLease(rewriteCompact(table, maxRecordsPerFile))

  /** [[compact]] every derived table as one level under one writer
    * lease. Returns the table names, dims first, then facts. */
  def compactAll(): Seq[String] = withWriterLease {
    def one(table: String) = { rewriteCompact(table, CompactMaxRecords); table }
    eachTable("warehouse compact")((_, dimTable) => one(dimTable.name))((_, name) => one(name))
  }

  private def rewriteCompact(table: String, maxRecordsPerFile: Long): Unit =
    if (!isCompact(table, maxRecordsPerFile)) {
      val df      = readOut(table)
      val staged  = table + "__compact"
      val writer0 = (
        if (df.columns.contains("p_day"))
          // one shuffle task per day partition -> one file per partition
          df.repartition(col("p_day")).write.partitionBy("p_day")
        else df.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4)).write
      )
      writer0
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .mode("overwrite")
        .parquet(s"$outDir/$staged")
      promoteStaged(table, "__compact")
    }

  /** Whether every partition directory of `table` (the table directory
    * itself when unpartitioned) holds exactly one parquet data file, of
    * at most `maxRecordsPerFile` rows by its footer — the layout a
    * rewrite would produce. Lists files and reads footers; no Spark job. */
  private def isCompact(table: String, maxRecordsPerFile: Long): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf  = spark.sessionState.newHadoopConf()
    val root  = new org.apache.hadoop.fs.Path(s"$outDir/$table")
    val it    = root.getFileSystem(conf).listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { f =>
      val n = f.getPath.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq
    def rows(f: org.apache.hadoop.fs.FileStatus): Long = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount finally reader.close()
    }
    files.nonEmpty && files.groupBy(_.getPath.getParent).values.forall(_.size == 1) &&
      files.forall(rows(_) <= maxRecordsPerFile)
  }

  /** Serialize MUTATING pipeline runs against `outDir`: an incremental
    * append racing `--compact`'s promote could write into a directory
    * mid-rename, and two staged full refreshes would fight over the
    * same `<table>_staging` paths. Writers take an outDir-wide lease
    * (`_graft_writer.lock`, atomic create-if-absent); the second writer
    * fails loudly instead of corrupting the first one's run. A crashed
    * writer's stale lease is stolen after `leaseMs`. READERS never take
    * the lease — every rewrite promotes via whole-directory rename, so
    * live tables stay readable throughout; the contract is
    * single-WRITER-per-outDir, enforced via the shared [[Staging]]
    * lease (one convention for warehouse and curation writers),
    * documented in README. */
  private def withWriterLease[T](body: => T): T =
    Staging.withWriterLease(spark, outDir)(body)

  /** Source name -> bucketed managed table, populated by
    * [[bucketParentSources]]; [[readSource]] prefers these. */
  private var bucketedSources: Map[String, String] = Map.empty

  /** Pay the parent-join shuffle once at ingest: write each source
    * table participating in a parent-fact join as a bucketed managed
    * table on its FK columns. Every subsequent populate reads the
    * bucketed copies, so the large-large parent sort-merge join plans
    * without an exchange on either side — at 100 TB that exchange is
    * the dominant cost of the parent-fact pipeline, and it amortizes
    * across every refresh after this call. */
  def bucketParentSources(numBuckets: Int): Map[String, String] = {
    bucketedSources = Bucketing.writeBucketedSources(
      spark, env, graft.sources.ParquetTables.readTable(spark, sourceDir, _),
      numBuckets, dataDir = s"$outDir/_bucketed",
      sourceSignature =
        t => Bucketing.pathSignature(spark, s"$sourceDir/$t.parquet"))
    bucketedSources
  }

  def readSource(name: String): DataFrame =
    bucketedSources.get(name) match {
      case Some(bucketed) => spark.table(bucketed)
      case None => graft.sources.ParquetTables.readTable(spark, sourceDir, name)
    }

  def readOut(name: String): DataFrame =
    spark.read.parquet(s"$outDir/$name")

  /** Derived dimension tables with their declaring fact, deduped across
    * facts (first declaration wins, as in the reference's `nubBy`). */
  def derivedDims: Seq[(Fact, Table)] =
    env.facts
      .flatMap(f => Extractor.extractAllDimensionTables(env, f))
      .filterNot { case (_, t) => env.tables.contains(t) }
      .distinctBy(_._2.name)

  /** Every persistent fact, parents before children. */
  private def persistentFacts: Seq[Fact] = factsInTopoOrder.filter(_.persistent)

  /** Run one [[Dag]] node per derived table — every derived dim, then
    * every persistent fact — labelled `<label>: dim|fact <table>`, with
    * `deps(table)` as its edges. Returns the results in that order. */
  private def eachTable[T](label: String, deps: String => Seq[String] = _ => Nil)(
      dim: (Fact, Table) => T)(fact: (Fact, String) => T): Seq[T] = {
    def node(kind: String, name: String)(body: => T) =
      Dag.Node(name, deps(name), s"$label: $kind $name", () => body)
    Dag.run(spark,
      derivedDims.map { case (f, t) => node("dim", t.name)(dim(f, t)) } ++
        persistentFacts.map { f =>
          val name = factTableNameOf(f)
          node("fact", name)(fact(f, name))
        })
  }

  /** Full refresh of every derived table, level by level: a table's
    * edges are those of [[Extractor.allDependencies]] (the graph
    * `dependencies.json` publishes) among the derived tables, so every
    * dim comes before the facts that look it up. Each table is written
    * once; fact reads resolve dims from the just-written parquet.
    * Returns written table names, dims first, then facts in
    * parent-before-child order. */
  def fullRefresh(window: TimeWindow = TimeWindow.unbounded): Seq[String] = withWriterLease {
    eachTable("warehouse full", Extractor.allDependencies(env)) { (fact, dimTable) =>
      val df = DimPopulate.full(env, fact, dimTable.name, readSource(fact.tableName), window)
      writeDim(df, dimTable, targetName = stagedName(dimTable.name, PopulationMode.Full))
      dimTable.name
    } { (fact, name) =>
      // in full mode the dim lookups read the staged dims too
      // (`Fact.hs:189`: the subquery targets the suffixed table)
      val df = FactPopulate.populate(env, fact, window, readSource,
        d => readOut(stagedName(d, PopulationMode.Full)), saltParents)
      writeFact(df, fact, targetName = stagedName(name, PopulationMode.Full))
      name
    }
  }

  /** Incremental refresh over an aligned window: appends new dim rows
    * (anti-join, ids continuing after the existing max) and appends the
    * window's fact rows, in the same levels as [[fullRefresh]].
    * Bucket keys are disjoint across aligned windows, so appends never
    * double-count (SURVEY §4, last row). */
  def incrementalRefresh(window: TimeWindow): Seq[String] = withWriterLease {
    require(window.lower.nonEmpty && window.upper.nonEmpty,
      "incremental refresh needs both window bounds")
    eachTable("warehouse incremental", Extractor.allDependencies(env)) { (fact, dimTable) =>
      val newRows = DimPopulate.incremental(
        env, fact, dimTable.name, readSource(fact.tableName), readOut(dimTable.name), window)
      writeDim(newRows, dimTable, append = true)
      dimTable.name
    } { (fact, name) =>
      val df = FactPopulate.populate(env, fact, window, readSource, readOut, saltParents)
      writeFact(df, fact, append = true)
      name
    }
  }

  /** Data-quality checks (the executable form of PK/UK constraints):
    * returns (table, constraint-description, violation count) for every
    * declared uniqueness on derived tables; all counts must be 0. The
    * checks run as one level. */
  def checkUniqueKeys(): Seq[(String, String, Long)] = {
    def check(name: String, derived: Table) = {
      val uk = derived.constraints.collectFirst {
        case TableConstraint.UniqueKey(cols) => cols
      }.getOrElse(Seq.empty)
      (name, s"UniqueKey(${uk.mkString(",")})", countDuplicates(readOut(name), uk))
    }
    eachTable("warehouse check") { (_, dimTable) => check(dimTable.name, dimTable) } {
      (fact, name) => check(name, Extractor.extractFactTable(env, fact))
    }
  }

  private def countDuplicates(df: DataFrame, keys: Seq[String]): Long =
    if (keys.isEmpty) 0L
    else df.groupBy(keys.map(col): _*).count().filter(col("count") > 1).count()

  /** Emit Spark-SQL CREATE TABLE DDL per derived table — the direct
    * analogue of the reference's `create/<table>.sql` artifacts
    * (`app/Main.hs:36-41`, `src/Ringo/Generator/Create.hs:27-56`).
    * Constraints Spark cannot enforce (PK/UK) are emitted as trailing
    * comments; they are verified post-load by [[checkUniqueKeys]]. */
  def emitDdl(): Map[String, String] = {
    def ddlOf(t: Table, partitioned: Boolean, indexes: Seq[Seq[String]]): String = {
      val cols = t.columns.map { c =>
        val notNull = if (c.nullable == Nullable.NotNull) " NOT NULL" else ""
        s"  ${c.name} ${SqlTypes.toDataType(c.columnType).sql}$notNull"
      } ++ (if (partitioned) Seq("  p_day BIGINT") else Nil) // epoch-day index, as written
      val constraints = t.constraints.map {
        case TableConstraint.PrimaryKey(c)     => s"-- PRIMARY KEY ($c) [verified post-load]"
        case TableConstraint.UniqueKey(cs)     => s"-- UNIQUE (${cs.mkString(", ")}) [verified post-load]"
        case TableConstraint.ForeignKey(o, ps) =>
          s"-- FOREIGN KEY (${ps.map(_._1).mkString(", ")}) REFERENCES $o (${ps.map(_._2).mkString(", ")})"
      }
      // D2/D3 index selection (`Generator/Create.hs:61-97`), recorded as
      // comments: parquet has no secondary indexes — the engine-side
      // analogues are the p_day partition (time) and bucketing (keys)
      val indexComments = indexes.map(cols =>
        s"-- create index on ${t.name} (${cols.mkString(", ")}) [parquet analogue: partition/bucket]")
      val part = if (partitioned) "\nPARTITIONED BY (p_day)" else ""
      s"""CREATE TABLE ${t.name} (
         |${cols.mkString(",\n")}
         |) USING PARQUET$part;
         |${(constraints ++ indexComments).mkString("\n")}
         |""".stripMargin
    }
    // dim rule (`Create.hs:61-69`): index every non-PK column iff the
    // table has more than one of them
    def dimIndexes(t: Table): Seq[Seq[String]] = {
      val pk = t.constraints.collectFirst { case TableConstraint.PrimaryKey(c) => c }
      val nonPK = t.columns.map(_.name).filterNot(pk.contains)
      if (nonPK.length > 1) nonPK.map(Seq(_)) else Nil
    }
    // fact rule (`Create.hs:75-97`): the time bucket, each degenerate
    // dim (NoDimId/TenantId), each dim FK id, and (tenant, time bucket)
    def factIndexes(fact: Fact): Seq[Seq[String]] = {
      val plan = Extractor.factPlan(env, fact)
      plan.keys.map(Seq(_)) ++ plan.tenant.map(c => Seq(c, plan.timeId)).toSeq
    }
    val dims = derivedDims.map { case (_, dimTable) =>
      dimTable.name -> ddlOf(dimTable, partitioned = false, dimIndexes(dimTable))
    }
    val facts = persistentFacts.map { fact =>
      val t = Extractor.extractFactTable(env, fact)
      factTableNameOf(fact) -> ddlOf(t, partitioned = partitionFactsByDay, factIndexes(fact))
    }
    (dims ++ facts).toMap
  }

  /** Emit per-table populate SQL — the reference's `fullrefresh/` and
    * `increfresh/` artifact directories (`app/Main.hs:75-81`). The text
    * is the Spark-SQL form of the pipelines this Runner executes; see
    * [[SqlEmit]] for the contract (`?` window parameters, `{{suff}}`
    * staging template on full-refresh targets). */
  def emitPopulateSql(popMode: PopulationMode): Map[String, String] = {
    val dims = derivedDims.map { case (fact, dimTable) =>
      dimTable.name -> SqlEmit.dimensionPopulateSql(env, fact, dimTable.name, popMode)
    }
    val facts = persistentFacts.map { fact =>
      factTableNameOf(fact) ->
        SqlEmit.factPopulateSql(env, fact, popMode, includePartitionDay = partitionFactsByDay)
    }
    (dims ++ facts).toMap
  }

  /** Emit the optimized physical plan per derived table — the
    * debuggability analogue of the reference's SQL-text artifacts. The
    * plans are built as one level. Each text is `Dataset.explain`'s
    * output, the trailing newline of its `println` included. */
  def emitPlans(window: TimeWindow = TimeWindow.unbounded): Map[String, String] = {
    def planOf(df: DataFrame): String =
      df.queryExecution.explainString(FormattedMode) + "\n"
    eachTable("warehouse plan") { (fact, dimTable) =>
      dimTable.name -> planOf(
        DimPopulate.candidates(env, fact, dimTable.name, readSource(fact.tableName), window))
    } { (fact, name) =>
      name -> planOf(FactPopulate.populate(env, fact, window, readSource, readOut, saltParents))
    }.toMap
  }

  def factTableNameOf(fact: Fact): String = {
    val s = env.settings
    Naming.extractedFactTableName(s.factPrefix, s.factInfix, fact.name, s.timeUnit)
  }

  /** Facts ordered so parents populate before children. */
  def factsInTopoOrder: Seq[Fact] = {
    val byName = env.facts.map(f => f.name -> f).toMap
    val seen   = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(f: Fact): Unit =
      if (!seen.contains(f.name)) {
        f.parentNames.foreach(p => visit(byName(p)))
        seen += f.name
      }
    env.facts.foreach(visit)
    seen.toSeq.map(byName)
  }

  /** Cast to the derived schema (D1: declared column types win). */
  private def enforceSchema(df: DataFrame, derived: Table): DataFrame = {
    val target = SqlTypes.toStructType(derived)
    df.select(target.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  private def writeDim(
      df: DataFrame, dimTable: Table,
      append: Boolean = false, targetName: String = ""): Unit =
    enforceSchema(df, dimTable)
      .write.mode(if (append) "append" else "overwrite")
      .parquet(s"$outDir/${if (targetName.nonEmpty) targetName else dimTable.name}")

  private def writeFact(
      df: DataFrame, fact: Fact,
      append: Boolean = false, targetName: String = ""): Unit = {
    val derived = Extractor.extractFactTable(env, fact)
    val out     = enforceSchema(df, derived)
    val name    = if (targetName.nonEmpty) targetName else factTableNameOf(fact)
    if (partitionFactsByDay) {
      val timeId = Extractor.factPlan(env, fact).timeId
      out
        .withColumn("p_day",
          floor(col(timeId) * env.settings.timeUnit.seconds / 86400L).cast("long"))
        .write.partitionBy("p_day")
        .mode(if (append) "append" else "overwrite")
        .parquet(s"$outDir/$name")
    } else
      out.write.mode(if (append) "append" else "overwrite").parquet(s"$outDir/$name")
  }
}
