package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.derive.{Extractor, FactPlan}
import graft.functions.RegisterSketch
import graft.model._

/** Time roll-up of a populated fact table to a coarser bucket — the
  * reason the schema stores re-aggregable pieces (FactAverage as
  * count+sum, count-distinct as mergeable registers; SURVEY §2.0 row
  * FactAverage, §2.8):
  *
  *  - counts and sums add, min/max fold, avg re-derives from its parts;
  *  - sketches merge register-wise (max);
  *
  * so `rollup(populate(minute), Hour) == populate(Hour)` exactly —
  * no rescan of the source. At 100 TB this is the difference between
  * re-reading the fact table (small) and re-reading raw events (huge).
  *
  * The keys and measures are those of [[Extractor.factPlan]]: its
  * group-key roles become the roll-up keys (the time id renamed to the
  * coarser grain) and each measure role picks its re-aggregation, so
  * `toCoarser`, `merge` and `mergeIncremental` group by the same names
  * as the populate wrote.
  */
object Rollup {

  def toCoarser(env: Env, fact: Fact, populated: DataFrame, target: TimeUnit): DataFrame = {
    val s = env.settings
    require(target.seconds % s.timeUnit.seconds == 0,
      s"${target.unitName} is not a multiple of ${s.timeUnit.unitName}")
    val factor = target.seconds / s.timeUnit.seconds
    val plan   = Extractor.factPlan(env, fact)
    val names  = rolledNames(env, plan, target)

    val groupKeys: Seq[Column] = plan.columns.zip(names).collect {
      case (FactPlan.Output(_, FactPlan.TimeBucket), newTimeId) =>
        floor(col(plan.timeId) / factor).cast("long").as(newTimeId)
      case (FactPlan.Output(c, role), _) if role.isKey => col(c.name)
    }
    val grouped = reaggregate(env, plan, populated, groupKeys, merging = false)
    grouped.select(names.map(col): _*)
  }

  // Counts are stored in the fact schema's (narrow, default integer)
  // type; a roll-up or merge can legitimately exceed it. Fail loudly
  // instead of the silent wrap a plain cast would do — at 100 TB a
  // wrapped count is a corrupt table nobody notices. LongType counts
  // get the same guarantee by summing in decimal(38,0) (sum(long) is
  // long and wraps silently in non-ANSI sessions) and range-checking
  // against Long bounds.
  private def checkedSum(df: DataFrame)(cName: String): Column = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    val dt = df.schema(cName).dataType
    def guarded(summed: Column, lo: Column, hi: Column): Column =
      when(summed > hi || summed < lo,
        raise_error(concat(
          lit(s"rollup count overflow in '$cName': "), summed.cast("string"),
          lit(s" does not fit ${dt.simpleString}"))).cast(dt))
        .otherwise(summed.cast(dt))
    def longGuard(summed: Column, lo: Long, hi: Long): Column =
      guarded(summed, lit(lo), lit(hi))
    val checked = dt match {
      case IntegerType => longGuard(sum(col(cName)), Int.MinValue.toLong, Int.MaxValue.toLong)
      case ShortType   => longGuard(sum(col(cName)), Short.MinValue.toLong, Short.MaxValue.toLong)
      case ByteType    => longGuard(sum(col(cName)), Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case LongType    => longGuard(sum(col(cName).cast("decimal(38,0)")), Long.MinValue, Long.MaxValue)
      case d: DecimalType =>
        // sum() widens the decimal, but casting the widened sum back
        // to the DECLARED precision NULLs (non-ANSI) or throws with a
        // generic message — guard explicitly so narrow decimal counts
        // fail as loudly as integer ones. For precision near 38 the
        // widened SUM itself caps at decimal(38,s) and can overflow
        // to NULL before the range check sees it, so a null sum over
        // non-null inputs also raises.
        val bound = BigDecimal(10).pow(d.precision - d.scale) -
          BigDecimal(1) / BigDecimal(10).pow(d.scale) // max representable
        val summed = sum(col(cName))
        when(summed.isNull && count(col(cName)) > 0,
          raise_error(lit(s"rollup count overflow in '$cName': " +
            s"sum exceeded decimal(38,${d.scale})")).cast(dt))
          .otherwise(guarded(summed,
            lit(-bound).cast(s"decimal(38,${d.scale})"),
            lit(bound).cast(s"decimal(38,${d.scale})")))
      case _ => sum(col(cName)).cast(dt)
    }
    checked.as(cName)
  }

  // Merged measure sums widen (sum over decimal(p,s) is decimal(p+10,s))
  // but the output must keep the INCOMING column type so unions against
  // untouched rows stay schema-exact. Non-ANSI casts NULL on overflow —
  // raise instead, same contract as checkedSum.
  private def sumBack(df: DataFrame)(cName: String): Column = {
    val dt     = df.schema(cName).dataType
    val summed = sum(col(cName))
    val back   = summed.cast(dt)
    when((summed.isNull || back.isNull) && count(col(cName)) > 0,
      raise_error(lit(s"rollup merge overflow in '$cName': " +
        s"sum exceeded ${dt.simpleString}")).cast(dt))
      .otherwise(back)
      .as(cName)
  }

  /** The plan's output names at `target` grain: its time id renamed. */
  private def rolledNames(env: Env, plan: FactPlan, target: TimeUnit): Seq[String] = {
    val newTimeId =
      Naming.timeUnitColumnName(env.settings.dimTableIdColumnName, plan.timeColumn, target)
    plan.names.map(n => if (n == plan.timeId) newTimeId else n)
  }

  /** Group `df` by `keys` and re-aggregate every measure of `plan`:
    * counts add (overflow-guarded), sums add (guarded back into their
    * incoming type when `merging` already-rolled rows), min/max fold,
    * sketches merge register-wise. */
  private def reaggregate(
      env: Env, plan: FactPlan, df: DataFrame, keys: Seq[Column], merging: Boolean): DataFrame = {
    import FactPlan._
    val m = RegisterSketch.bucketCount(env.settings.factCountDistinctErrorRate)
    val aggs: Seq[Column] = plan.columns.collect { case Output(c, Measure(agg, _)) =>
      val name = c.name
      agg match {
        case Count         => checkedSum(df)(name)
        case CountDistinct => RegisterSketch.mergeAgg(m)(col(name)).as(name)
        case Sum           => if (merging) sumBack(df)(name) else sum(col(name)).as(name)
        case Max           => max(col(name)).as(name)
        case Min           => min(col(name)).as(name)
      }
    }
    if (aggs.isEmpty) df.select(keys: _*).distinct()
    else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Column names keying a rolled-up fact at `target` grain: the
    * coarser time id + degenerate keys + dim FKs. */
  private def rolledKeyNames(env: Env, fact: Fact, target: TimeUnit): Seq[String] = {
    val plan = Extractor.factPlan(env, fact)
    plan.columns.zip(rolledNames(env, plan, target)).collect {
      case (FactPlan.Output(_, role), n) if role.isKey => n
    }
  }

  /** Re-aggregate rows of an ALREADY-rolled fact that share the same
    * `target`-grain keys: counts and sums add (overflow-guarded back
    * into their declared types), min/max fold, avg parts add,
    * count-distinct registers merge register-wise. Because every
    * stored piece is mergeable, `merge(rollup(a) ∪ rollup(b)) ==
    * rollup(a ∪ b)` exactly. Output schema == input schema. */
  def merge(env: Env, fact: Fact, rolled: DataFrame, target: TimeUnit): DataFrame = {
    val keys = rolledKeyNames(env, fact, target).map(col)
    reaggregate(env, Extractor.factPlan(env, fact), rolled, keys, merging = true)
      .select(rolled.columns.toIndexedSeq.map(col): _*)
  }

  /** Incremental roll-up maintenance: fold a DELTA batch (already
    * rolled to `target`) into a maintained PRIOR rollup, touching only
    * the groups the delta lands in. The delta's key set is broadcast
    * (a maintenance batch is small next to the maintained table), so
    * untouched groups pass through a broadcast anti join — the
    * maintained table is never shuffled — and only prior ∪ delta rows
    * of AFFECTED groups re-aggregate. For any split of the source,
    * `mergeIncremental(rollup(a), rollup(b)) == rollup(a ∪ b)`
    * exactly — the `fact_rollup_incremental` gate compares against the
    * full-rollup oracle. At 100 TB this is the nightly-load shape:
    * cost proportional to the delta, not the history. */
  def mergeIncremental(
      env: Env, fact: Fact, prior: DataFrame, deltaRolled: DataFrame, target: TimeUnit
  ): DataFrame = {
    val keys = rolledKeyNames(env, fact, target)
    // The delta rollup feeds two consumers (key set + touched union),
    // so its aggregation pipeline runs twice. DELIBERATELY not
    // persisted: measured at sf0.1, caching the delta (wide sketch
    // map column) costs 1.5x more than recomputing the pipelined,
    // partial-aggregated delta-sized pass (2.28s vs 1.52s median) —
    // serialization of the materialized registers dominates. A caller
    // whose delta is expensive to rebuild (e.g. derived from a long
    // transform chain rather than a scan) can pass an
    // already-persisted DataFrame; both consumers see it cached.
    val delta0 = deltaRolled
    val affected = broadcast(delta0.select(keys.map(col): _*).distinct())
    val untouched = prior.join(affected, keys, "left_anti")
    val touched = prior.join(affected, keys, "left_semi")
      .unionByName(delta0.select(prior.columns.toIndexedSeq.map(col): _*))
    untouched.unionByName(merge(env, fact, touched, target))
      // a using-columns join fronts the key columns; restore the
      // maintained table's declared order
      .select(prior.columns.toIndexedSeq.map(col): _*)
  }
}
