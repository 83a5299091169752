package graft.derive

import scala.collection.immutable.{ListMap, SortedMap}

import graft.model._
import graft.model.FactColumnKind._

/** Schema / dependency derivation (E1-E4 in SURVEY §2.0).
  * Reference semantics: `src/Ringo/Extractor.hs:23-100`,
  * `src/Ringo/Extractor/Internal.hs:61-103`. Pure functions over a
  * validated [[Env]].
  */
object Extractor {

  /** E1: dimension tables for one fact — resolved DimId targets plus
    * derived tables from DimVal groups (`Extractor/Internal.hs:61-94`).
    * Derived dims are emitted in ascending dimension-name order (the
    * reference's `Data.Map.toList`), columns in declaration order,
    * renamed by prefix-strip, forced NOT NULL, deduped, with the
    * surrogate id column prepended and PK(id) + UK(natural cols). */
  def extractDimensionTables(env: Env, fact: Fact): Seq[Table] = {
    val settings = env.settings
    val table = env
      .findTable(fact.tableName)
      .getOrElse(throw new IllegalStateException(s"missing table ${fact.tableName}"))

    val dimsFromIds: Seq[Table] = fact.columns.collect {
      case FactColumn(_, DimId(target)) => env.findTable(target)
    }.flatten

    // group DimVal columns by target dimension, preserving declaration
    // order within each group
    val grouped: SortedMap[String, Seq[Column]] =
      SortedMap.from(
        fact.columns
          .collect { case FactColumn(target, DimVal(dim)) => (dim, target) }
          .flatMap { case (dim, colName) => table.findColumn(colName).map(dim -> _) }
          .groupBy(_._1)
          .view
          .mapValues(_.map(_._2))
          .toMap
      )

    val dimsFromVals: Seq[Table] = grouped.toSeq.map { case (dim, cols) =>
      // nub BEFORE renaming, like the reference's `map rename . nub`
      // (`Extractor/Internal.hs:83-86`): two source columns that only
      // become identical after the prefix strip stay distinct
      val renamed = cols.distinct
        .map(c => c.copy(name = Naming.dimColumnName(dim, c.name), nullable = Nullable.NotNull))
      Table(
        name = settings.dimPrefix + dim,
        columns =
          Column(settings.dimTableIdColumnName, settings.dimTableIdColumnType, Nullable.NotNull) +:
            renamed,
        constraints = Seq(
          TableConstraint.PrimaryKey(settings.dimTableIdColumnName),
          TableConstraint.UniqueKey(renamed.map(_.name))
        )
      )
    }

    dimsFromIds ++ dimsFromVals
  }

  /** E2: E1 for this fact plus, recursively, its parent facts; deduped
    * by dimension table, keeping the first (own-fact) occurrence
    * (`Extractor/Internal.hs:96-103`). Each dim is paired with the fact
    * whose declaration produced it — needed for FK column naming. */
  def extractAllDimensionTables(env: Env, fact: Fact): Seq[(Fact, Table)] = {
    val myDims = extractDimensionTables(env, fact).map(fact -> _)
    val parentDims = fact.parentNames.flatMap { pName =>
      val pFact = env
        .findFact(pName)
        .getOrElse(throw new IllegalStateException(s"missing fact $pName"))
      extractAllDimensionTables(env, pFact)
    }
    (myDims ++ parentDims).distinctBy(_._2)
  }

  /** E3: the fact table schema (`Extractor.hs:23-73`) — the columns of
    * [[factPlan]] plus UK(its group keys). */
  def extractFactTable(env: Env, fact: Fact): Table = {
    val plan = factPlan(env, fact)
    Table(plan.name, plan.columns.map(_.column), Seq(TableConstraint.UniqueKey(plan.keys)))
  }

  /** The one derivation of a fact table ([[FactPlan]]): one output
    * column (or two, for FactAverage: its count then its sum) per fact
    * column in declaration order, then one FK id column per dimension
    * of [[extractAllDimensionTables]]; every output NOT NULL, measures
    * typed by their source column, counts by the count type. Also the
    * parent-source joins with their FK pairs and the derived-dim
    * lookups with their (dim column, source column) pairs
    * (`Populate/Fact.hs:155-195`). */
  def factPlan(env: Env, fact: Fact): FactPlan = {
    import FactPlan._
    val s = env.settings
    def table(name: String): Table =
      env.findTable(name).getOrElse(throw new IllegalStateException(s"missing table $name"))
    def source(t: Table, cName: String): Column =
      t.findColumn(cName)
        .getOrElse(throw new IllegalStateException(s"missing column ${t.name}.$cName"))
    val fTable  = table(fact.tableName)
    val allDims = extractAllDimensionTables(env, fact)

    val timeColumn = fact.columns.collectFirst { case FactColumn(c, DimTime) => c }
      .getOrElse(throw new IllegalStateException(s"fact ${fact.name} has no DimTime column"))
    val timeId = Naming.timeUnitColumnName(s.dimTableIdColumnName, timeColumn, s.timeUnit)

    def notNull(name: String, columnType: String) = Column(name, columnType, Nullable.NotNull)
    def measure(name: String, agg: Agg, src: Option[String]): Output = {
      val columnType = agg match {
        case Count         => s.factCountColumnType
        case CountDistinct => "json"
        case _             => source(fTable, src.get).columnType
      }
      Output(notNull(name, columnType), Measure(agg, src))
    }
    def sourcePK: String =
      fTable.constraints.collectFirst { case TableConstraint.PrimaryKey(c) => c }
        .getOrElse(throw new IllegalStateException(
          s"FactCountDistinct with no source column needs a PK on ${fTable.name}"))

    val own: Seq[Output] = fact.columns.flatMap { case FactColumn(cName, kind) =>
      kind match {
        case DimTime => Seq(Output(notNull(timeId, "bigint"), TimeBucket))
        case NoDimId | TenantId =>
          val c = source(fTable, cName)
          Seq(Output(c.copy(nullable = Nullable.NotNull), Degenerate(c, kind == TenantId)))
        case FactCount(src)         => Seq(measure(cName, Count, src))
        case FactCountDistinct(src) => Seq(measure(cName, CountDistinct, src.orElse(Some(sourcePK))))
        case FactSum(src)           => Seq(measure(cName, Sum, Some(src)))
        case FactMax(src)           => Seq(measure(cName, Max, Some(src)))
        case FactMin(src)           => Seq(measure(cName, Min, Some(src)))
        case FactAverage(src) =>
          Seq(
            measure(cName + s.avgCountColumnSuffix, Count, Some(src)),
            measure(cName + s.avgSumColumnSuffix, Sum, Some(src)))
        case DimId(_) | DimVal(_) => Nil
      }
    }

    val fkType = Naming.idColTypeToFKIdColType(s.dimTableIdColumnType)
    val fks: Seq[Output] = allDims.map { case (dimFact, dimTable) =>
      val name = Naming.factDimFKIdColumnName(
        s.dimPrefix, s.dimTableIdColumnName, dimFact, dimTable, env.tables)
      // an existing dim's FK column lives in the declaring fact's source
      val role =
        if (env.tables.contains(dimTable))
          ExistingDimId(dimFact.tableName, source(table(dimFact.tableName), name))
        else DerivedDimId(dimTable.name)
      Output(notNull(name, fkType), role)
    }

    val parentJoins = allDims.map(_._1.tableName).distinct.filter(_ != fact.tableName).map { p =>
      ParentJoin(p, fTable.constraints.collectFirst {
        case TableConstraint.ForeignKey(t, pairs) if t == p => pairs
      }.getOrElse(throw new IllegalStateException(
        s"no FK from ${fact.tableName} to parent source $p")))
    }

    val dimLookups = allDims.collect {
      case (dimFact, dimTable) if !env.tables.contains(dimTable) =>
        val srcTable = table(dimFact.tableName)
        DimLookup(dimTable.name, srcTable.name,
          Naming.dimColumnMapping(s.dimPrefix, dimFact, dimTable.name)
            .map { case (dimC, srcC) => dimC -> source(srcTable, srcC) })
    }

    FactPlan(fact,
      Naming.extractedFactTableName(s.factPrefix, s.factInfix, fact.name, s.timeUnit),
      timeColumn, timeId, own ++ fks, parentJoins, dimLookups)
  }

  /** E4: build-order dependency DAG (`Extractor.hs:75-100`): the
    * extracted fact table depends on every source table in the
    * parent-fact tree plus every dimension table referenced anywhere in
    * the tree; each *derived* dim of this fact depends on the fact's
    * source table. */
  def extractDependencies(env: Env, fact: Fact): Map[String, Seq[String]] = {
    val s = env.settings

    def parentFacts(f: Fact): Seq[Fact] =
      f.parentNames.map(p =>
        env.findFact(p).getOrElse(throw new IllegalStateException(s"missing fact $p")))

    // preorder flatten of the parent-fact tree
    def preorder(f: Fact): Seq[Fact] = f +: parentFacts(f).flatMap(preorder)

    val tree = preorder(fact)
    val factSourceDeps = tree.map(_.tableName).distinct
    val factDimDeps = tree.flatMap { fct =>
      fct.columns.collect {
        case FactColumn(_, DimVal(t)) => s.dimPrefix + t
        case FactColumn(_, DimId(t))  => t
      }
    }.distinct

    val dimDeps: ListMap[String, Seq[String]] = ListMap.from(
      fact.columns.collect { case FactColumn(_, DimVal(t)) =>
        (s.dimPrefix + t) -> Seq(fact.tableName)
      })

    val extractedName =
      Naming.extractedFactTableName(s.factPrefix, s.factInfix, fact.name, s.timeUnit)
    dimDeps + (extractedName -> (factSourceDeps ++ factDimDeps))
  }

  /** Union of per-fact DAGs for all facts in the env (`app/Main.hs:44-46`).
    * Left-biased like the reference's `foldl Map.union`: the first fact
    * to define a key keeps its dependency list; later facts' entries
    * for the same key are dropped (dim deps differing per fact is the
    * case this decides).
    */
  def allDependencies(env: Env): Map[String, Seq[String]] =
    env.facts.foldLeft(Map.empty[String, Seq[String]]) { (acc, f) =>
      extractDependencies(env, f).foldLeft(acc) { case (m, (k, v)) =>
        if (m.contains(k)) m else m.updated(k, v)
      }
    }

  /** Topological order of derived tables: dims before facts, parents'
    * facts before children's. Kahn's algorithm over the dependency map
    * restricted to derived tables (source tables are leaves). */
  def topoOrder(deps: Map[String, Seq[String]]): Seq[String] = {
    val derived = deps.keySet
    var remaining = deps.view.mapValues(_.filter(derived)).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (remaining.nonEmpty) {
      val ready = remaining.collect { case (k, v) if v.forall(out.contains) => k }.toSeq.sorted
      if (ready.isEmpty)
        throw new IllegalStateException(s"dependency cycle among ${remaining.keys}")
      out ++= ready
      remaining = remaining.view.filterKeys(k => !ready.contains(k)).toMap
    }
    out.toSeq
  }
}
