package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MixpanelTransform
import graft.sinks.BatchedHttpSink.{SinkConfig, SinkReport, Transport}

/** Vendor sink registry (SURVEY §2.10 K4-K8): each vendor is a SinkConfig
  * preset + a record-shaping projection; the batching/retry/rate machinery
  * is shared. Region handling mirrors the reference's US/EU base-URL switch
  * (load/sendEventsToMixpanel.js:13-14).
  */
object Sinks {

  sealed trait Region { def host(us: String, eu: String): String }
  case object US extends Region { def host(us: String, eu: String): String = us }
  case object EU extends Region { def host(us: String, eu: String): String = eu }

  /** Mixpanel /import (K4): canonical events → wire shape
    * {event, properties:{distinct_id, time, $insert_id, ...props}}.
    */
  def mixpanelImportConfig(projectId: String, auth: String, region: Region = US): SinkConfig =
    SinkConfig(
      url = region.host("https://api.mixpanel.com", "https://api-eu.mixpanel.com") +
        s"/import?strict=1&project_id=$projectId",
      headers = Map("Authorization" -> s"Basic $auth"),
      maxRecordsPerBatch = 2000)

  def shapeMixpanelEvents(events: DataFrame): DataFrame =
    events.select(to_json(struct(
      col("event"),
      struct(
        col("distinct_id"),
        col("time"),
        col("insert_id").as("$insert_id"),
        col("source").as("$source"),
        col("properties")
      ).as("properties"))).as("json"))

  /** Mixpanel /engage (K5): profiles → {$token, $distinct_id, $ip, $set}. */
  def mixpanelEngageConfig(token: String, region: Region = US): SinkConfig =
    SinkConfig(
      url = region.host("https://api.mixpanel.com", "https://api-eu.mixpanel.com") +
        "/engage?verbose=1",
      maxRecordsPerBatch = 2000)

  /** `$ip` is sent only when the profiles carry an `ip` column: Amplitude
    * profiles do, GA and CSV profiles have none.
    */
  def shapeMixpanelProfiles(profiles: DataFrame, token: String): DataFrame = {
    val ip = if (profiles.columns.contains("ip")) Seq(col("ip").as("$ip")) else Nil
    profiles.select(to_json(struct(
      Seq(lit(token).as("$token"), col("distinct_id").as("$distinct_id")) ++ ip ++
        Seq(lit(true).as("$ignore_time"), col("set").as("$set")): _*)).as("json"))
  }

  /** Mixpanel /import $merge events (identity edges). */
  def shapeMixpanelMerges(pairs: DataFrame): DataFrame =
    pairs.select(to_json(struct(
      lit("$merge").as("event"),
      struct(
        array(col("id_a"), col("id_b")).as("$distinct_ids"),
        col("insert_id").as("$insert_id"),
        col("time")
      ).as("properties"))).as("json"))

  /** Amplitude /2/httpapi (K6): 2000-record batches; the reference's fixed
    * 2 s sleep becomes a real rate limit.
    */
  def amplitudeConfig(apiKey: String): SinkConfig =
    SinkConfig(url = "https://api2.amplitude.com/2/httpapi",
      maxRecordsPerBatch = 2000, ratePerSecond = 1.0)

  /** Woopra (K7): 10k-record PUT-style batches. */
  def woopraConfig(host: String): SinkConfig =
    SinkConfig(url = host, maxRecordsPerBatch = 10000, ratePerSecond = 0.5)

  private def region(opts: Map[String, String]): Region =
    if (opts.get("region").contains("EU")) EU else US

  /** K8: vendor dispatch for the events endpoint. */
  def forVendor(vendor: String, opts: Map[String, String]): SinkConfig =
    vendor.toLowerCase match {
      case "mixpanel" => mixpanelImportConfig(
        opts.getOrElse("project_id", ""), opts.getOrElse("auth", ""), region(opts))
      case "amplitude" => amplitudeConfig(opts.getOrElse("api_key", ""))
      case "woopra" => woopraConfig(opts.getOrElse("host", "https://www.woopra.com/track/ce"))
      case other => throw new IllegalArgumentException(s"unknown sink vendor: $other")
    }

  /** Where one output goes: its wire shape (one `json` column) and endpoint. */
  final case class Route(shape: DataFrame => DataFrame, config: SinkConfig)

  /** K8 (load/sendOther.js:7-18): a vendor's route for each output it takes.
    * Mixpanel takes `events`, `profiles` (`/engage`, in the `/import` region)
    * and `merges`; the reverse sinks take events only, reshaped (P13, P15).
    */
  def routes(vendor: String, opts: Map[String, String]): Map[String, Route] = {
    val events = forVendor(vendor, opts)
    def json(reshape: DataFrame => DataFrame): DataFrame => DataFrame =
      df => reshape(df).select(to_json(struct(col("*"))).as("json"))
    vendor.toLowerCase match {
      case "mixpanel" =>
        val token = opts.getOrElse("token", "")
        Map("events" -> Route(shapeMixpanelEvents, events),
          "profiles" -> Route(shapeMixpanelProfiles(_, token), mixpanelEngageConfig(token, region(opts))),
          "merges" -> Route(shapeMixpanelMerges, events))
      case "amplitude" => Map("events" -> Route(json(MixpanelTransform.eventsToAmplitude), events))
      case _ => Map("events" -> Route(json(MixpanelTransform.eventsToWoopra), events)) // woopra
    }
  }

  /** K9: local NDJSON sink (strictly better than the reference's JSON
    * arrays — splittable, streamable).
    */
  def writeLocalJson(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  def write(df: DataFrame, cfg: SinkConfig, transport: Transport): SinkReport =
    BatchedHttpSink.writeJson(df, cfg, transport)
}
