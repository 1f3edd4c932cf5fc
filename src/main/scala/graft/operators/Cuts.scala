package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one lineage-cut policy every iterative operator and fixture uses.
  *
  * A cut materializes a frame once so every later reference reads its
  * blocks instead of re-running the producing subtree, and keeps plan
  * depth O(1) across loop rounds. It is a reliable `checkpoint()` when the
  * context has a checkpoint dir (blocks survive executor loss; the
  * cluster path) and a `localCheckpoint()` otherwise (the single-JVM
  * fast path).
  */
private[graft] object Cuts {

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Eager cut: materializes `df` now. */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  /** Lazy cut plus a row count of `probe(cut)` in ONE job: the probe's
    * internal RDD is counted directly, so the count rides the cut's own
    * materializing job. A `df.count()` would add an AQE aggregate job on
    * top, and an eager cut followed by a count pays the materialization
    * as a separate job.
    */
  def cutCounted(df: DataFrame,
      probe: DataFrame => DataFrame = identity): (DataFrame, Long) = {
    val c = if (reliable(df)) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    (c, probe(c).queryExecution.toRdd.count())
  }

  /** Free a superseded local cut's blocks; a no-op on reliable cuts
    * (those are files). A local checkpoint otherwise stays persisted for
    * the rest of the session. Only call it on frames no live result
    * depends on.
    */
  def release(df: DataFrame): Unit =
    if (!reliable(df))
      df.queryExecution.logical.collectFirst { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(blocking = false))
}
