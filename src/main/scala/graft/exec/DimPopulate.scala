package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.derive.{Extractor, SqlTypes}
import graft.model._

/** Dimension populate pipelines (P1/P2/P3 in SURVEY §2.0).
  * Reference dataflow: `src/Ringo/Generator/Populate/Dimension.hs:27-60`
  * — re-expressed as executed DataFrame plans instead of generated SQL.
  */
object DimPopulate {

  /** Window predicate on the raw event-time column — the executable
    * analogue of the `?` placeholders. */
  private[exec] def windowPred(timeCol: Column, window: TimeWindow): Column = {
    val upper = window.upper.map(timeCol < lit(_))
    val lower = window.lower.map(timeCol >= lit(_))
    (upper.toSeq ++ lower.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** P1 candidate rows (no ids yet): filter (any contributing column
    * non-null AND inside the window) -> project with NULL defaults ->
    * distinct. The distinct is a partial+final hash aggregate in Spark:
    * map-side dedup before the shuffle, so the shuffle volume is the
    * dimension's cardinality, not the source row count. */
  def candidates(
      env: Env,
      fact: Fact,
      dimTableName: String,
      src: DataFrame,
      window: TimeWindow
  ): DataFrame = {
    val mapping = Naming.dimColumnMapping(env.settings.dimPrefix, fact, dimTableName)
    require(mapping.nonEmpty, s"no DimVal columns for $dimTableName in fact ${fact.name}")
    val factTable = env
      .findTable(fact.tableName)
      .getOrElse(throw new IllegalStateException(s"missing table ${fact.tableName}"))
    val anyNotNull = mapping.map { case (_, srcC) => col(srcC).isNotNull }.reduce(_ || _)
    val projected = mapping.map { case (dimC, srcC) =>
      val srcColumn = factTable
        .findColumn(srcC)
        .getOrElse(throw new IllegalStateException(s"missing column $srcC"))
      Defaults.coalesced(col(srcC), srcColumn, env.typeDefaults).as(dimC)
    }
    src
      .filter(anyNotNull && windowPred(col(Extractor.factPlan(env, fact).timeColumn), window))
      .select(projected: _*)
      .distinct()
  }

  /** Full refresh: candidates + surrogate ids from 1. */
  def full(
      env: Env,
      fact: Fact,
      dimTableName: String,
      src: DataFrame,
      window: TimeWindow = TimeWindow.unbounded
  ): DataFrame = {
    val cands = candidates(env, fact, dimTableName, src, window)
    assignIds(env, cands, offset = 0L)
  }

  /** Incremental refresh (P2): candidate rows in the window that do not
    * already exist in the dimension — the reference's
    * outer-join-plus-all-IS-NULL formulation written directly as a left
    * anti join — with ids continuing after the existing max.
    * Returns only the new rows (caller appends). */
  def incremental(
      env: Env,
      fact: Fact,
      dimTableName: String,
      src: DataFrame,
      existing: DataFrame,
      window: TimeWindow
  ): DataFrame = {
    val cands       = candidates(env, fact, dimTableName, src, window)
    val naturalKeys = cands.columns.toSeq
    val idCol       = env.settings.dimTableIdColumnName
    // dim natural-key columns are NOT NULL post-coalesce, so plain
    // equi-keys are safe (no null-safe-equal needed)
    val newRows = cands.join(existing.select(naturalKeys.map(col): _*), naturalKeys, "left_anti")
    val maxId = existing
      .agg(max(col(idCol).cast("long")))
      .head()
      .getAs[Any](0) match {
      case null      => 0L
      case l: Long   => l
      case i: Int    => i.toLong
      case other     => other.toString.toLong
    }
    assignIds(env, newRows, offset = maxId)
  }

  private def assignIds(env: Env, rows: DataFrame, offset: Long): DataFrame = {
    val s = env.settings
    SurrogateKeys.assign(
      rows,
      rows.columns.toSeq,
      s.dimTableIdColumnName,
      SqlTypes.toDataType(Naming.idColTypeToFKIdColType(s.dimTableIdColumnType)),
      offset)
  }
}
