package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.derive.{Extractor, FactPlan, SqlTypes}
import graft.functions.RegisterSketch
import graft.model._

/** Fact populate pipeline (F1-F9 in SURVEY §2.0), the reference's main
  * generated INSERT...SELECT (`src/Ringo/Generator/Populate/Fact.hs:127-230`)
  * re-expressed as one declarative DataFrame plan:
  *
  * {{{
  * src LEFT OUTER JOIN parent sources (FK pairs)            // F5
  *     .filter(ts in window)                                 // F6 — pushed to scan
  *     LEFT OUTER JOIN broadcast(derived dims) (natural keys)// F4 — replaces the
  *                                                           //  per-row correlated subquery
  *     .groupBy(time bucket, degenerate dims, fk ids)        // F1/F3
  *     .agg(count/sum/min/max, avg->count+sum, sketch)       // F3/F7
  * }}}
  *
  * The columns, keys, joins and aggregates are those of
  * [[Extractor.factPlan]]; [[SqlEmit.factPopulateSql]] renders the same
  * plan as SQL text. This side carries what the text cannot: the
  * size-guarded broadcast hint, `--salt-parents` and distributed
  * surrogate ids.
  *
  * Scale notes: dimension lookups broadcast (dims are
  * cardinality-bounded); the single shuffle is the final hash
  * aggregation on the group keys with map-side partial aggregation;
  * the sketch is one more aggregate expression in the same pass —
  * the reference's second scan + UPDATE (F8) collapses away.
  */
object FactPopulate {

  /** Should this dim be force-broadcast for the lookup join?
    *
    * The hint overrides Spark's own size threshold, so applying it
    * unconditionally is the classic broadcast scale-killer: nothing
    * bounds a DimVal-derived dimension (user-agent strings, URLs), and
    * at 100x a multi-GB dim hinted onto every executor OOMs the job.
    * The guard uses Catalyst's plan-statistics estimate — exact file
    * bytes for a dim read back from parquet (the production Runner
    * path), exact cached bytes for a materialized in-memory dim, and
    * conservatively huge for plans Spark cannot estimate (fresh
    * RDD-backed frames) — and only hints when the estimate fits under
    * `maxBytes`. Above or unknown, the join is left unhinted: AQE still
    * converts it to a broadcast join at runtime if the actual size is
    * small, so the only cost of a false negative is planning from
    * runtime stats instead of the hint. Driver-side only, no job.
    */
  private[graft] def broadcastable(dim: DataFrame, maxBytes: Long): Boolean = {
    // The probe runs Catalyst analysis+optimization of the dim plan to
    // get a size estimate — driver-side only, but not free, and a
    // steady-state refresh loop re-probes the SAME dim every cycle.
    // Memoize per (canonicalized plan, scanned-bytes signature,
    // threshold):
    //  - a staged {{suff}} swap scans a NEW path -> new canonical plan;
    //  - an IN-PLACE append/compact at the same path is caught by the
    //    signature — each fresh read lists files eagerly, so its
    //    FileIndex carries the new total bytes (an in-memory field, no
    //    IO here), and a grown dim re-probes instead of riding a stale
    //    fits=true hint into a multi-GB broadcast;
    //  - a stale DataFrame re-probed after the data changed keys on ITS
    //    OWN listing — consistent with what that frame would scan.
    // Bounded LRU so long-lived sessions cannot grow without limit. A
    // hash collision could only mis-steer the HINT (never results).
    val analyzed = dim.queryExecution.analyzed
    val scanBytes = analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.sizeInBytes
          case other => other.sizeInBytes
        }
    }.sum
    val key = (analyzed.canonicalized.semanticHash(), scanBytes, maxBytes)
    val cached = broadcastableCache.synchronized(Option(broadcastableCache.get(key)))
    cached.map(Boolean.unbox).getOrElse {
      // compute OUTSIDE the lock: the stats probe runs the optimizer,
      // and serializing concurrent populate planning behind one monitor
      // would stall unrelated facts; a duplicate race is benign (the
      // value is deterministic per key)
      val fits = dim.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes
      broadcastableCache.synchronized(broadcastableCache.put(key, fits))
      fits
    }
  }

  private val broadcastableCache =
    new java.util.LinkedHashMap[(Int, Long, Long), java.lang.Boolean](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Long, Long), java.lang.Boolean]): Boolean = size() > 256
    }

  /** Populate the extracted fact table for `fact`.
    *
    * @param readSource source OLTP table reader (by table name)
    * @param readDim    populated dimension table reader (by dim table
    *                   name, including prefix); must contain the id
    *                   column and natural key columns
    */
  def populate(
      env: Env,
      fact: Fact,
      window: TimeWindow,
      readSource: String => DataFrame,
      readDim: String => DataFrame,
      saltParents: Option[Int] = None
  ): DataFrame = {
    val plan = Extractor.factPlan(env, fact)

    // ---- FROM: fact source LEFT OUTER JOIN each parent fact's source (F5)
    //
    // Optional skew salting (`saltParents = Some(n)`): TPC-H FKs are
    // uniform, but real parent joins skew (one hot order/tenant/null
    // bucket holding a double-digit share of child rows), and AQE's
    // skew splitting cannot help when a SINGLE key exceeds a task. The
    // child side carries a deterministic whole-row-hash salt in [0, n)
    // computed once before any join; every parent is replicated n ways
    // (explode) and each join key gains the salt equality — a hot key's
    // child rows scatter over n tasks, bounding per-task work, while
    // the join result is row-identical to the unsalted plan (each child
    // row matches exactly the one replica with its salt; unmatched rows
    // stay unmatched). The salt columns never reach the output: the
    // final groupBy/select lists only the derived fact columns.
    val saltOpt = saltParents.filter(_ => plan.parentJoins.nonEmpty)
    saltOpt.foreach(n => require(n > 1, s"--salt-parents must be > 1, got $n"))
    val base = {
      val raw = readSource(fact.tableName)
      saltOpt match {
        case Some(n) =>
          raw.withColumn("__fact_salt",
            pmod(xxhash64(struct(raw.columns.map(col).toSeq: _*)), lit(n.toLong)).cast("int"))
            .alias(fact.tableName)
        case None => raw.alias(fact.tableName)
      }
    }
    val joinedSources = plan.parentJoins.foldLeft(base) { (acc, join) =>
      val parentName = join.table
      val cond = join.fkPairs
        .map { case (c1, c2) => col(s"${fact.tableName}.$c1") === col(s"$parentName.$c2") }
        .reduce(_ && _)
      saltOpt match {
        case Some(n) =>
          val parent = readSource(parentName)
            .withColumn("__parent_salt", explode(sequence(lit(0), lit(n - 1))))
            .alias(parentName)
          acc.join(parent,
            cond && col(s"${fact.tableName}.__fact_salt") === col(s"$parentName.__parent_salt"),
            "left_outer")
        case None =>
          acc.join(readSource(parentName).alias(parentName), cond, "left_outer")
      }
    }

    // ---- WHERE: refresh window on the raw event time (F6)
    val timeCol  = col(s"${fact.tableName}.${plan.timeColumn}")
    val filtered = joinedSources.filter(DimPopulate.windowPred(timeCol, window))

    // ---- derived-dimension lookups: broadcast left outer joins (F4)
    val withDims = joinDimLookups(env, plan, filtered, readDim,
      broadcastable(_, env.settings.dimBroadcastMaxBytes))

    // ---- select list: group keys + aggregates (F1/F2/F3/F7)
    val (keys, measures) = plan.columns.partition(_.role.isKey)
    def rendered(outs: Seq[FactPlan.Output]) = outs.map(o => render(env, plan, o).as(o.column.name))
    val groupCols = rendered(keys)
    val aggCols   = rendered(measures)
    val grouped =
      if (aggCols.isEmpty) withDims.select(groupCols: _*).distinct()
      else withDims.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    // final column order = derived fact-table schema order
    grouped.select(plan.names.map(col): _*)
  }

  /** Left outer join each derived dim of `plan` on its natural keys
    * (F4, replacing the reference's per-row correlated subquery),
    * broadcast-hinted where `hint` holds for the dim. */
  private[graft] def joinDimLookups(
      env: Env, plan: FactPlan, rows: DataFrame,
      readDim: String => DataFrame, hint: DataFrame => Boolean): DataFrame =
    plan.dimLookups.foldLeft(rows) { (acc, lookup) =>
      val cond = lookup.pairs
        .map { case (dimColName, source) =>
          col(s"${lookup.dim}.$dimColName") ===
            Defaults.coalesced(
              col(s"${lookup.sourceTable}.${source.name}"), source, env.typeDefaults)
        }
        .reduce(_ && _)
      val dim     = readDim(lookup.dim)
      val aliased = dim.alias(lookup.dim)
      acc.join(if (hint(dim)) broadcast(aliased) else aliased, cond, "left_outer")
    }

  /** One output column of `plan` as the expression the populate groups
    * by (keys) or aggregates (measures), over the source aliased by its
    * table name and the dims aliased by theirs. */
  private[graft] def render(env: Env, plan: FactPlan, out: FactPlan.Output): Column = {
    import FactPlan._
    val s = env.settings
    def qual(c: String) = col(s"${plan.fact.tableName}.$c")
    def coalesceFKId(c: Column) = coalesce(c, lit(s.foreignKeyIdCoalesceValue))
    val t = SqlTypes.toDataType(out.column.columnType)
    out.role match {
      case TimeBucket =>
        floor(unix_timestamp(qual(plan.timeColumn)) / lit(s.timeUnit.seconds)).cast("long")
      case Degenerate(source, _) =>
        Defaults.coalesced(qual(source.name), source, env.typeDefaults)
      case ExistingDimId(table, source) =>
        // coalesce only if nullable (Fact.hs:182-184)
        val raw = col(s"$table.${source.name}")
        (if (source.isNullable) coalesceFKId(raw) else raw).cast(t)
      case DerivedDimId(dim) =>
        coalesceFKId(col(s"$dim.${s.dimTableIdColumnName}")).cast(t)
      // Measures are cast to their declared SQL type BEFORE
      // aggregation: declaring a measure `numeric(p,s)` makes the sum
      // exact decimal arithmetic — deterministic under any partitioning
      // / aggregation order, which double sums are not. Essential for
      // reproducible results on a real cluster.
      case Measure(agg, src) =>
        lazy val in = qual(src.get)
        agg match {
          case Count => src.map(c => count(qual(c))).getOrElse(count(lit(1))).cast(t)
          case CountDistinct =>
            val m = RegisterSketch.bucketCount(s.factCountDistinctErrorRate)
            RegisterSketch.buildAgg(m)(RegisterSketch.hashColumn(in))
          case Sum => sum(in.cast(t))
          case Max => max(in.cast(t))
          case Min => min(in.cast(t))
        }
    }
  }
}
