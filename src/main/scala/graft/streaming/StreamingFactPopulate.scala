package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.derive.{Extractor, FactPlan}
import graft.exec.FactPopulate
import graft.model._

/** Structured Streaming surface (SURVEY §2.11): the same fact layout as
  * the batch populate, fed from a stream.
  *
  * The reference has no streaming; its incremental refresh is
  * micro-batch over a time window. This is the natural Spark extension:
  * tumbling `window(ts, timeUnit)` aggregation with a watermark for
  * late data, dimension lookups as stream-static broadcast joins, and
  * the same output schema (time bucket id, degenerate dims, FK ids,
  * count/sum/min/max/avg-decomposed measures) so streamed rows append
  * into the identical fact table layout.
  *
  * FactCountDistinct rides the same streaming aggregation when
  * `includeSketches = true` (default): the register sketch is an
  * ordinary mergeable aggregate, so each emitted window carries its
  * registers and downstream roll-ups merge them register-wise — no
  * second scan. Set it false to fall back to the batch-backfill
  * division of labor (counts/sums streamed, sketches built by the
  * periodic batch pass, as in the reference's two-phase UPDATE).
  */
object StreamingFactPopulate {

  /** Build the streaming aggregation for `fact` over a streaming source
    * DataFrame. Returns a streaming DataFrame in append-compatible
    * shape (use with watermark + append mode, or complete mode for
    * tests). */
  def aggregate(
      env: Env,
      fact: Fact,
      stream: DataFrame,
      readDim: String => DataFrame,
      watermark: String = "10 minutes",
      includeSketches: Boolean = true
  ): DataFrame = {
    import FactPlan._
    val s        = env.settings
    val plan     = Extractor.factPlan(env, fact)
    val srcAlias = fact.tableName
    val withWm   = stream.withWatermark(plan.timeColumn, watermark).alias(srcAlias)

    // stream-static dimension lookups (broadcast joins)
    require(plan.parentJoins.isEmpty,
      "streaming populate supports single-source facts (no parent-fact joins on streams)")
    val withDims = FactPopulate.joinDimLookups(env, plan, withWm, readDim, _ => true)

    // the window replaces the time bucket key; sketches only if asked
    def rendered(keep: Role => Boolean) = plan.columns.collect {
      case o if keep(o.role) => FactPopulate.render(env, plan, o).as(o.column.name)
    }
    val groupKeys = rendered(r => r.isKey && r != TimeBucket)
    val aggs = rendered {
      case Measure(CountDistinct, _) => includeSketches
      case r                         => !r.isKey
    }
    val bucket = window(col(s"$srcAlias.${plan.timeColumn}"), s"${s.timeUnit.seconds} seconds")

    require(aggs.nonEmpty,
      "streaming populate needs at least one aggregate fact column")
    withDims
      .groupBy(bucket.as("w") +: groupKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
      // window start -> the same bigint bucket id as the batch layout
      .withColumn(plan.timeId,
        floor(unix_timestamp(col("w.start")) / s.timeUnit.seconds).cast("long"))
      .drop("w")
  }
}
