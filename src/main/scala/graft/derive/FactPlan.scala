package graft.derive

import graft.model.{Column, Fact}

/** One fact table, derived once by [[Extractor.factPlan]]: every
  * decision the reference's `extractFactTable` and populate `colMap`
  * make (`Extractor.hs:23-73`, `Populate/Fact.hs:155-195`), with no
  * engine in it. The populate, the emitted SQL, the DDL, the roll-up
  * and the streaming aggregate each render this plan instead of
  * re-reading the fact's column kinds.
  *
  * @param name        the extracted fact table's name
  * @param timeColumn  the source event-time (DimTime) column
  * @param timeId      the time-bucket id column it becomes
  * @param columns     the output columns in derived-schema order
  * @param parentJoins the parent sources the fact LEFT OUTER joins, in
  *                    join order, with their (fact column, parent
  *                    column) FK pairs
  * @param dimLookups  the derived dims looked up by natural key, in
  *                    join order
  */
final case class FactPlan(
    fact: Fact,
    name: String,
    timeColumn: String,
    timeId: String,
    columns: Seq[FactPlan.Output],
    parentJoins: Seq[FactPlan.ParentJoin],
    dimLookups: Seq[FactPlan.DimLookup]
) {
  def names: Seq[String] = columns.map(_.column.name)

  /** The group keys (time id, degenerate keys, FK ids) in output order:
    * the fact table's unique key. */
  def keys: Seq[String] = columns.collect { case FactPlan.Output(c, r) if r.isKey => c.name }

  /** The tenant key, which also drives the (tenant, time) index. */
  def tenant: Option[String] =
    columns.collectFirst { case FactPlan.Output(c, FactPlan.Degenerate(_, true)) => c.name }
}

object FactPlan {

  /** One output column: its model column (name, SQL type, nullability)
    * and what it is computed from. */
  final case class Output(column: Column, role: Role)

  sealed trait Role { def isKey: Boolean = true }
  /** The time bucket of [[FactPlan.timeColumn]]. */
  case object TimeBucket extends Role
  /** A degenerate dim kept inline; `source` is the declared (possibly
    * nullable) source column, default-coalesced. */
  final case class Degenerate(source: Column, tenant: Boolean) extends Role
  /** FK id of an existing (declared) dim, read from `table.source`. */
  final case class ExistingDimId(table: String, source: Column) extends Role
  /** FK id of a derived dim, read from the looked-up `dim`'s id. */
  final case class DerivedDimId(dim: String) extends Role
  /** An aggregate of the fact source. Only [[Count]] may have no source
    * (count(*)); a FactAverage is a Count part and a Sum part, and a
    * count-distinct without a column counts the source PK. */
  final case class Measure(agg: Agg, source: Option[String]) extends Role {
    override def isKey: Boolean = false
  }

  sealed trait Agg
  case object Count         extends Agg
  case object CountDistinct extends Agg
  case object Sum           extends Agg
  case object Max           extends Agg
  case object Min           extends Agg

  final case class ParentJoin(table: String, fkPairs: Seq[(String, String)])

  /** A derived dim lookup: `dim.<dim column> = sourceTable.<source>`
    * for each pair, the source default-coalesced. */
  final case class DimLookup(dim: String, sourceTable: String, pairs: Seq[(String, Column)])
}
