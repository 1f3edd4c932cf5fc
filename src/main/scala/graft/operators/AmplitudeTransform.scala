package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Amplitude → canonical transform pack (SURVEY §3.1; reference
  * transform/amplitudeToMixpanel.js). One input fans out to three
  * outputs (events / profiles / merge pairs) — SURVEY §2.4 J2. Catalyst
  * does not share a scan across actions, so each output scans the input
  * on its own; over [[graft.sources.Sources.staged]] each scan reads only
  * the columns its output uses, which costs less than caching the whole
  * decoded input for all three.
  *
  * All steps are column expressions (no UDFs): rename pack P4, ID
  * coalescing P6, time normalization P7, md5 insert-id P8, spread-precedence
  * property merge P9 (needs mapKeyDedupPolicy=LAST_WIN), profile filter F1,
  * merge-pair emission J1, merge dedup A3.
  */
object AmplitudeTransform {

  /** P4 default-prop rename pairs (amplitudeToMixpanel.js:73-83). Note the
    * deliberate fan-out: os_name feeds both $os and $browser.
    */
  val renamePairs: Seq[(String, String)] = Seq(
    "app_version" -> "$app_version_string",
    "os_name" -> "$os",
    "os_name" -> "$browser",
    "os_version" -> "$os_version",
    "device_brand" -> "$brand",
    "device_manufacturer" -> "$manufacturer",
    "device_model" -> "$model",
    "region" -> "$region",
    "city" -> "$city"
  )

  case class Outputs(events: DataFrame, profiles: DataFrame, mergePairs: DataFrame)

  private def nonNullMap(c: org.apache.spark.sql.Column) =
    coalesce(c, map().cast("map<string,string>"))

  /** distinct_id = user_id || device_id || amplitude_id (P6, first
    * non-empty wins, string-coerced).
    */
  private val distinctId =
    Fns.coalesceNonEmpty(col("user_id"), col("device_id"), col("amplitude_id"))

  /** Canonical events. `time` = epoch seconds (from Amplitude's UTC
    * event_time string, P7).
    */
  def events(amp: DataFrame, importTag: Option[String] = None): DataFrame = {
    val renameEntries = renamePairs.flatMap { case (from, to) =>
      Seq(lit(to), col(from).cast("string"))
    }
    val canonicalProps = map_filter(
      map(renameEntries: _*),
      (_, v) => v.isNotNull)
    val tagged = importTag.map(t => map(lit("import-tag"), lit(t)))
      .getOrElse(map().cast("map<string,string>"))
    amp
      .withColumn("time", unix_timestamp(to_timestamp(col("event_time"))))
      .withColumn("distinct_id", distinctId)
      .withColumn("properties",
        Fns.mapMergeLastWins(
          nonNullMap(col("event_properties")),
          nonNullMap(col("groups")),
          nonNullMap(col("user_properties")),
          canonicalProps,
          map_filter( // only non-empty values copied (reference semantics)
            map(
              lit("$device_id"), col("device_id"),
              lit("ip"), col("ip_address"),
              lit("mp_country_code"), col("country")),
            (_, v) => v.isNotNull && v =!= ""),
          map(lit("$source"), lit("amplitude-to-mixpanel")),
          tagged))
      .withColumn("insert_id",
        coalesce(col("`$insert_id`"),
          Fns.mpInsertId(col("event_type"), col("distinct_id"), col("time"),
            to_json(col("event_properties")))))
      .select(
        col("event_type").as("event"),
        col("distinct_id"),
        col("time"),
        col("insert_id"),
        lit("amplitude").as("source"),
        col("properties"))
  }

  /** Canonical profiles: only rows with non-empty user_properties (F1);
    * $set = user_properties + renamed canonical props; first-wins dedup per
    * distinct_id (deterministic via insert-time ordering column).
    */
  def profiles(amp: DataFrame): DataFrame = {
    val renameEntries = renamePairs.flatMap { case (from, to) =>
      Seq(lit(to), col(from).cast("string"))
    }
    val canonicalProps = map_filter(map(renameEntries: _*), (_, v) => v.isNotNull)
    val p = amp
      .filter(size(map_keys(nonNullMap(col("user_properties")))) > 0)
      .withColumn("distinct_id", distinctId)
      .withColumn("set", Fns.mapMergeLastWins(col("user_properties"), canonicalProps))
      .withColumn("t", unix_timestamp(to_timestamp(col("event_time"))))
      .select(col("distinct_id"), coalesce(col("ip_address"), lit("")).as("ip"),
        col("set"), col("t"))
    Dedup.exactFirstWins(p, Seq("distinct_id"), Seq("t"))
      .drop("t")
  }

  /** $merge edges: one per event carrying BOTH user_id and device_id (J1,
    * amplitudeToMixpanel.js:203-217), deduped on insert_id (A3).
    */
  def mergePairs(amp: DataFrame): DataFrame = {
    val pairs = amp
      .filter(col("user_id").isNotNull && col("device_id").isNotNull &&
        col("user_id") =!= "" && col("device_id") =!= "" &&
        col("user_id") =!= col("device_id"))
      .withColumn("time", unix_timestamp(to_timestamp(col("event_time"))))
      .select(
        col("user_id").as("id_a"),
        col("device_id").as("id_b"),
        Fns.mpInsertId(col("user_id"), col("device_id")).as("insert_id"),
        col("time"))
    Dedup.exactFirstWins(pairs, Seq("insert_id"), Seq("time"))
  }

  /** Full three-way fan-out (J2): one scan of `amp` per output. */
  def apply(amp: DataFrame, importTag: Option[String] = None): Outputs =
    Outputs(events(amp, importTag), profiles(amp), mergePairs(amp))
}
