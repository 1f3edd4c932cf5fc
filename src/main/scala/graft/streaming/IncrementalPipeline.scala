package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.sinks.Sinks
import graft.sinks.BatchedHttpSink.{SinkConfig, Transport}

/** Incremental (streaming) load path (SURVEY §7.2 M8) — replaces the
  * reference's line-by-line flush-buffer micro-batcher (O3,
  * connectors/googleAnalyticsLineByLine.js:61-72) with Structured
  * Streaming:
  *
  *  - file source watches a staging dir (new vendor drops stream in);
  *  - watermark on event time bounds state for late events;
  *  - streaming dedup on insert_id within the watermark window (the
  *    at-least-once + server-dedup contract, moved engine-side);
  *  - foreachBatch drives the same batched HTTP sink as the batch path;
  *  - profile last-write-wins upsert is a keyed state computation
  *    (mapGroupsWithState).
  */
object IncrementalPipeline {

  /** Canonical-events stream from NDJSON staging, deduped + watermarked. */
  def eventStream(spark: SparkSession, stagingDir: String,
      watermark: String = "1 hour"): DataFrame =
    spark.readStream
      .schema(graft.model.Model.mpEventSchema)
      .json(stagingDir)
      .withColumn("event_time", to_timestamp(from_unixtime(col("time"))))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("insert_id")

  /** Streaming → batched HTTP sink via foreachBatch: every micro-batch
    * reuses the batch path's Mixpanel event shape and writer (idempotent
    * per $insert_id).
    */
  def toHttpSink(events: DataFrame, cfg: SinkConfig, transport: Transport,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Sinks.write(Sinks.shapeMixpanelEvents(batch), cfg, transport)
        ()
      }
      .start()

  case class ProfileUpdate(distinct_id: String, time: Long, set: Map[String, String])
  case class ProfileState(distinct_id: String, time: Long, set: Map[String, String])

  /** Profile last-write-wins upsert across micro-batches: keyed state holds
    * the merged $set per distinct_id; each update merges spread-style
    * (later wins) and emits the new state (SURVEY §7.4.6).
    */
  def profileUpsertStream(spark: SparkSession, updates: DataFrame): DataFrame = {
    import spark.implicits._
    updates.as[ProfileUpdate]
      .groupByKey(_.distinct_id)
      .mapGroupsWithState[ProfileState, ProfileState](GroupStateTimeout.NoTimeout) {
        (id: String, rows: Iterator[ProfileUpdate], state: GroupState[ProfileState]) =>
          val sorted = rows.toSeq.sortBy(_.time)
          val prev = state.getOption.getOrElse(ProfileState(id, 0L, Map.empty))
          val merged = sorted.foldLeft(prev) { (acc, u) =>
            ProfileState(id, math.max(acc.time, u.time), acc.set ++ u.set)
          }
          state.update(merged)
          merged
      }.toDF()
  }
}
