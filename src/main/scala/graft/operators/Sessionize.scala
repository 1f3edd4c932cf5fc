package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Inactivity-gap sessionization + session explosion (SURVEY §2.6 X1 as a
  * reusable operator; the GA-shaped typed variant lives in
  * [[GaTransform.explodeSession]], the SQL Generator in
  * [[graft.plans.ExplodeSession]]).
  *
  * One window pass: one hash exchange on the user key and one sort by
  * (time, tie), over which `lag`, `lead` and the running session counter
  * all run. [[explode]] adds one generator on top of that pass.
  */
object Sessionize {

  /** Adds `session_seq` (1-based per user): a new session starts after
    * `gapSeconds` of inactivity. `timeCol` must be epoch seconds (long);
    * `tieCol` breaks equal-time ordering deterministically.
    */
  def sessionize(events: DataFrame, userCol: String, timeCol: String,
      tieCol: String, gapSeconds: Long): DataFrame =
    flagged(events, userCol, timeCol, tieCol, gapSeconds)
      .drop("__is_new", "__closes")

  /** [[sessionize]] plus `__is_new` (the row opens its session) and
    * `__closes` (it closes one: no next row, a null time, or a gap over
    * `gapSeconds` to the next row, i.e. the next row opens a session).
    * Times sort nulls first, so each null-time row is a session of its own.
    */
  private def flagged(events: DataFrame, userCol: String, timeCol: String,
      tieCol: String, gapSeconds: Long): DataFrame = {
    val wOrd = Window.partitionBy(userCol).orderBy(timeCol, tieCol)
    val t = col(timeCol)
    events
      .withColumn("__prev_t", lag(timeCol, 1).over(wOrd))
      .withColumn("__next_t", lead(timeCol, 1).over(wOrd))
      .withColumn("__is_new",
        when(col("__prev_t").isNull || t - col("__prev_t") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("__closes",
        col("__next_t").isNull || t.isNull || col("__next_t") - t > gapSeconds)
      .withColumn("session_seq",
        sum("__is_new").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_t", "__next_t")
  }

  /** Full session explosion: per (user, session) emit one
    * "session begins" row at the first event time, every original event,
    * and one "session ends" row at last event time + 1 s — the relational
    * rendering of the reference's signature operator
    * (gaToMixpanel.js:129-301). Each input row yields its hit row, plus a
    * begin row if it opens its session and an end row if it closes it,
    * from one generator over the sessionize window pass; a null-time row
    * is a one-row session with null begin and end times.
    * Output: (userCol, session_seq, event, time_s).
    */
  def explode(events: DataFrame, userCol: String, timeCol: String,
      tieCol: String, eventCol: String, gapSeconds: Long): DataFrame = {
    val t = col(timeCol)
    def row(event: Column, time: Column) = struct(event.as("event"), time.as("time_s"))
    flagged(events, userCol, timeCol, tieCol, gapSeconds).select(
      col(userCol), col("session_seq"),
      inline(filter(array(
        when(col("__is_new") === 1L, row(lit("session begins"), t)),
        row(col(eventCol), t),
        when(col("__closes"), row(lit("session ends"), t + 1))), _.isNotNull)))
  }
}
