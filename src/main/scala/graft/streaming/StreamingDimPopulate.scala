package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.exec.DimPopulate
import graft.model.{Env, Fact, TimeWindow}

/** Streaming dimension maintenance (SURVEY §2.11 extension): derived
  * dimension tables kept up to date from an event stream.
  *
  * The reference's incremental dim refresh (P2,
  * `src/Ringo/Generator/Populate/Dimension.hs:50-60`) is a periodic
  * anti-join batch; on a stream the natural Spark shape is
  * `foreachBatch`: each micro-batch runs the SAME batch incremental
  * pipeline (candidates → left-anti vs current dim → ids continuing
  * from the stored max) and appends only genuinely new natural keys.
  *
  * Effective exactly-once without a transactional sink: a replayed
  * micro-batch re-runs the anti-join against the already-updated dim,
  * so its rows come back empty — the append is idempotent at the row
  * level (same natural key never inserted twice), which is the
  * invariant the dimension's unique key actually requires. At scale
  * the anti-join is a broadcast of the (cardinality-bounded) dim
  * against one micro-batch, not a corpus shuffle.
  */
object StreamingDimPopulate {

  /** One micro-batch step: new dim rows (with continuing surrogate
    * ids) for `dimTableName` given the batch's source rows and the
    * currently stored dim. A stream drives it through
    * [[MaintainedStore.maintain]], appending the rows to the stored dim. */
  def step(
      env: Env,
      fact: Fact,
      dimTableName: String,
      batch: DataFrame,
      existing: DataFrame
  ): DataFrame =
    DimPopulate.incremental(env, fact, dimTableName, batch, existing, TimeWindow.unbounded)
}
