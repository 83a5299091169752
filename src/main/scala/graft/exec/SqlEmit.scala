package graft.exec

import graft.derive.{Extractor, FactPlan, SqlTypes}
import graft.model._

/** Populate-SQL artifact emission — the reference's primary product
  * (`app/Main.hs:75-81` writes `fullrefresh/<table>.sql` and
  * `increfresh/<table>.sql` next to `create/<table>.sql`;
  * `src/Ringo/Generator/Populate/Dimension.hs:27-60`,
  * `src/Ringo/Generator/Populate/Fact.hs:127-230`).
  *
  * The emitted text is Spark SQL describing EXACTLY the pipelines
  * [[DimPopulate]] / [[FactPopulate]] execute — the same coalesce
  * defaults, time bucketing, broadcast dim lookups and aggregates — so
  * an orchestrator driving a Spark catalog (or a human reading the
  * artifacts) sees the engine's real semantics. SqlEmitSpec *runs* the
  * emitted SQL and asserts it reproduces the DataFrame pipelines, so
  * the artifacts cannot silently diverge from the engine. A fact's
  * statement and [[FactPopulate.populate]] render one
  * [[graft.derive.Extractor.factPlan]], each with its own role renderer,
  * so neither re-derives a column, key, join or aggregate.
  *
  * Contract (mirroring the reference artifacts):
  *  - window bounds are `?` parameter markers (the reference's JDBC
  *    placeholders) — runnable as-is via Spark parameterized SQL
  *    (`spark.sql(text, args)`): full refresh takes (upper);
  *    incremental takes (upper, lower);
  *  - full-refresh statements target `<table><suffix-template>` (the
  *    reference's `{{suff}}` staging contract,
  *    `Generator/Internal.hs:38-41`) and OVERWRITE; incremental
  *    statements target the live table and append;
  *  - in full mode the fact's dim lookups read the suffixed (staged)
  *    dims, as the reference's generated subqueries do (`Fact.hs:189`);
  *  - count-distinct columns call the `sketch_build` SQL function
  *    ([[graft.functions.RegisterSketch.registerSql]] must have run).
  */
object SqlEmit {

  private def sqlType(columnType: String): String =
    SqlTypes.toDataType(columnType).sql

  /** FK-id SQL type (serial family -> integer family). */
  private def idSqlType(s: Settings): String =
    sqlType(Naming.idColTypeToFKIdColType(s.dimTableIdColumnType))

  /** SQL text of [[Defaults.defaultLiteral]]: strip Postgres `::type`
    * suffix casts, cast to the column's Spark type. */
  private def defaultLit(defaults: TypeDefaults, c: Column): String = {
    val raw = defaults
      .forType(c.columnType)
      .getOrElse(throw new IllegalStateException(
        s"Default value not known for column type: ${c.columnType}"))
    val cleaned = raw.trim.replaceAll("::[a-zA-Z_ ]+$", "")
    s"CAST($cleaned AS ${sqlType(c.columnType)})"
  }

  /** SQL text of [[Defaults.coalesced]]: wrap nullable columns only. */
  private def coalesced(qualified: String, c: Column, defaults: TypeDefaults): String =
    if (c.isNullable) s"coalesce($qualified, ${defaultLit(defaults, c)})" else qualified

  private def findColumn(t: Table, name: String): Column =
    t.findColumn(name)
      .getOrElse(throw new IllegalStateException(s"missing column ${t.name}.$name"))

  /** The shared `SELECT DISTINCT natural-keys FROM source WHERE ...`
    * core of both dim populate modes ([[DimPopulate.candidates]]). */
  private def dimCandidatesSql(
      env: Env, fact: Fact, dimTableName: String, popMode: PopulationMode): String = {
    val s         = env.settings
    val mapping   = Naming.dimColumnMapping(s.dimPrefix, fact, dimTableName)
    val factTable = env.findTable(fact.tableName).get
    val timeCol   = Extractor.factPlan(env, fact).timeColumn
    val selectCols = mapping.map { case (dimC, srcC) =>
      s"${coalesced(s"${fact.tableName}.$srcC", findColumn(factTable, srcC), env.typeDefaults)} AS $dimC"
    }
    val notNull = mapping.map { case (_, srcC) => s"$srcC IS NOT NULL" }.mkString(" OR ")
    val window = popMode match {
      case PopulationMode.Full        => s"$timeCol < ?"
      case PopulationMode.Incremental => s"$timeCol < ? AND $timeCol >= ?"
    }
    s"""SELECT DISTINCT
       |       ${selectCols.mkString(",\n       ")}
       |     FROM ${fact.tableName}
       |     WHERE ($notNull)
       |       AND $window""".stripMargin
  }

  /** Populate SQL for one derived dimension table.
    *
    * Surrogate ids are explicit (the reference delegates to Postgres
    * `serial`; Spark has no serial columns): `row_number()` in
    * natural-key order — the SQL form of [[SurrogateKeys.assign]] —
    * continuing after `max(id)` in incremental mode. New-row detection
    * is a LEFT ANTI join (the engine's formulation of the reference's
    * outer-join-all-IS-NULL). */
  def dimensionPopulateSql(
      env: Env, fact: Fact, dimTableName: String, popMode: PopulationMode): String = {
    val s       = env.settings
    val mapping = Naming.dimColumnMapping(s.dimPrefix, fact, dimTableName)
    val idCol   = s.dimTableIdColumnName
    val keys    = mapping.map(_._1)
    val inner   = dimCandidatesSql(env, fact, dimTableName, popMode)
    val orderBy = keys.map(k => s"x.$k").mkString(", ")
    val insertCols = (idCol +: keys).mkString(", ")
    popMode match {
      case PopulationMode.Full =>
        val target = dimTableName + s.tableNameSuffixTemplate
        s"""INSERT OVERWRITE TABLE $target ($insertCols)
           |SELECT
           |    CAST(row_number() OVER (ORDER BY $orderBy) AS ${idSqlType(s)}) AS $idCol,
           |    x.*
           |  FROM
           |    ($inner) AS x;
           |""".stripMargin
      case PopulationMode.Incremental =>
        val antiCond = mapping
          .map { case (dimC, _) => s"$dimTableName.$dimC = x.$dimC" }
          .mkString("\n         AND ")
        s"""INSERT INTO $dimTableName ($insertCols)
           |SELECT
           |    CAST((SELECT coalesce(max($idCol), 0) FROM $dimTableName)
           |         + row_number() OVER (ORDER BY $orderBy) AS ${idSqlType(s)}) AS $idCol,
           |    x.*
           |  FROM
           |    ($inner) AS x
           |    LEFT ANTI JOIN $dimTableName
           |      ON $antiCond;
           |""".stripMargin
    }
  }

  /** Populate SQL for an extracted fact table: [[Extractor.factPlan]]
    * rendered as the single scan-join-aggregate statement
    * [[FactPopulate.populate]] executes — parent-source LEFT OUTER
    * joins, broadcast-hinted derived-dim lookups (replacing the
    * reference's per-row correlated subqueries), one GROUP BY with every
    * aggregate in the same pass (the reference's second UPDATE scan for
    * sketches collapses into it).
    *
    * @param includePartitionDay append the `p_day` epoch-day partition
    *        column ([[Runner]]'s fact partitioning, D3) */
  def factPopulateSql(
      env: Env, fact: Fact, popMode: PopulationMode,
      includePartitionDay: Boolean = true): String = {
    val s    = env.settings
    val plan = Extractor.factPlan(env, fact)
    def qual(c: String) = s"${fact.tableName}.$c"

    // ---- FROM: source LEFT OUTER JOIN parent sources (F5)
    val parentJoins = plan.parentJoins.map { join =>
      val cond = join.fkPairs
        .map { case (c1, c2) => s"${qual(c1)} = ${join.table}.$c2" }
        .mkString(" AND ")
      s"""    LEFT OUTER JOIN ${join.table}
         |      ON $cond""".stripMargin
    }

    // ---- derived-dim lookups (F4): full mode reads the staged dims
    val dimJoins = plan.dimLookups.map { lookup =>
      val cond = lookup.pairs
        .map { case (dimC, src) =>
          val rhs = coalesced(s"${lookup.sourceTable}.${src.name}", src, env.typeDefaults)
          s"${lookup.dim}.$dimC = $rhs"
        }
        .mkString("\n         AND ")
      val source = Naming.suffixTableName(popMode, s.tableNameSuffixTemplate, lookup.dim)
      s"""    LEFT OUTER JOIN $source AS ${lookup.dim}
         |      ON $cond""".stripMargin
    }
    val broadcastHint =
      if (plan.dimLookups.isEmpty) ""
      else s"/*+ BROADCAST(${plan.dimLookups.map(_.dim).mkString(", ")}) */ "

    // ---- select list: (outputName, sqlExpr, isGroupKey)
    val colMap = plan.columns.map(o => (o.column.name, render(env, plan, o), o.role.isKey))
    // p_day repeats the bucket expression (no lateral alias dependence);
    // it is a pure function of the time bucket, so adding it to GROUP BY
    // leaves the grouping unchanged
    val timeIdExpr = colMap.collectFirst { case (n, e, _) if n == plan.timeId => e }.get
    val pDay =
      if (includePartitionDay)
        Seq(("p_day", s"CAST(FLOOR($timeIdExpr * ${s.timeUnit.seconds} / 86400) AS BIGINT)", true))
      else Nil
    val allCols   = colMap ++ pDay
    val selectSql = allCols.map { case (n, e, _) => s"$e AS $n" }.mkString(",\n    ")
    // GROUP BY ordinals, not aliases: an alias that shadows a source
    // column present in several joined tables (e.g. publisher_id on
    // both parent and child) resolves ambiguously — the reference
    // dodges this with its xxff_ alias prefix, ordinals dodge it
    // without uglifying the artifact
    val groupKeys = allCols.zipWithIndex.collect { case ((_, _, true), i) => (i + 1).toString }
    val hasAggs   = allCols.exists(!_._3)

    val t = qual(plan.timeColumn)
    val window = popMode match {
      case PopulationMode.Full        => s"$t < ?"
      case PopulationMode.Incremental => s"$t < ? AND $t >= ?"
    }
    val (insertVerb, target) = popMode match {
      case PopulationMode.Full =>
        ("INSERT OVERWRITE TABLE", plan.name + s.tableNameSuffixTemplate)
      case PopulationMode.Incremental => ("INSERT INTO", plan.name)
    }
    val fromSql = (s"    ${fact.tableName}" +: (parentJoins ++ dimJoins)).mkString("\n")
    val distinct = if (hasAggs) "" else "DISTINCT\n    "
    val groupBy =
      if (hasAggs) s"\n  GROUP BY\n    ${groupKeys.mkString(",\n    ")}" else ""
    // record the sketch width the engine uses: sketch_build must be
    // registered with the SAME m or merged sketches silently mix
    // incompatible widths (RegisterSketch.registerSql scaladoc)
    val sketchHeader =
      if (plan.columns.exists(_.role match {
            case FactPlan.Measure(FactPlan.CountDistinct, _) => true
            case _                                           => false
          })) {
        val m = graft.functions.RegisterSketch.bucketCount(s.factCountDistinctErrorRate)
        s"-- requires: RegisterSketch.registerSql(spark, m = $m)  " +
          s"-- error rate ${s.factCountDistinctErrorRate}\n"
      } else ""
    s"""$sketchHeader$insertVerb $target (${allCols.map(_._1).mkString(", ")})
       |SELECT $broadcastHint$distinct
       |    $selectSql
       |  FROM
       |$fromSql
       |  WHERE $window$groupBy;
       |""".stripMargin
  }

  /** One output column of `plan` as SQL text: the text form of
    * [[FactPopulate.render]]. */
  private def render(env: Env, plan: FactPlan, out: FactPlan.Output): String = {
    import FactPlan._
    val s = env.settings
    def qual(c: String) = s"${plan.fact.tableName}.$c"
    def coalesceFKId(c: String) = s"coalesce($c, ${s.foreignKeyIdCoalesceValue})"
    val t = sqlType(out.column.columnType)
    out.role match {
      case TimeBucket =>
        s"CAST(FLOOR(unix_timestamp(${qual(plan.timeColumn)}) / ${s.timeUnit.seconds}) AS BIGINT)"
      case Degenerate(source, _) => coalesced(qual(source.name), source, env.typeDefaults)
      case ExistingDimId(table, source) =>
        val raw = s"$table.${source.name}"
        s"CAST(${if (source.isNullable) coalesceFKId(raw) else raw} AS $t)"
      case DerivedDimId(dim) => s"CAST(${coalesceFKId(s"$dim.${s.dimTableIdColumnName}")} AS $t)"
      case Measure(agg, src) =>
        lazy val in = qual(src.get)
        agg match {
          case Count => s"CAST(${src.fold("count(1)")(c => s"count(${qual(c)})")} AS $t)"
          case CountDistinct =>
            s"sketch_build(CASE WHEN $in IS NOT NULL THEN xxhash64(CAST($in AS STRING)) END)"
          case Sum => s"sum(CAST($in AS $t))"
          case Max => s"max(CAST($in AS $t))"
          case Min => s"min(CAST($in AS $t))"
        }
    }
  }
}
