package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, to_json}
import graft.model.Model
import graft.operators._
import graft.sinks.{BatchedHttpSink, Sinks}
import graft.sources.Sources

/** Config-driven pipeline orchestration (SURVEY §2.11 O1 — with the
  * reference's switch fall-through fixed by a sealed ADT; index.js:69-91).
  *
  * EXTRACT (source) → TRANSFORM (vendor pack) → LOAD (batched HTTP sink or
  * local NDJSON). The reference's shell-script hourly fan-out (O2,
  * ampReplicator.js) dissolves into Spark partition parallelism: staged
  * inputs are read as one distributed scan.
  */
object Pipeline {

  sealed trait Source
  final case class CsvSource(path: String, roles: CsvTransform.CsvRoles) extends Source
  final case class AmplitudeStaged(path: String, importTag: Option[String] = None) extends Source
  final case class GaStaged(path: String) extends Source
  /** `doEvents`/`doPeople` mirror the reference's dual-path dispatch
    * (connectors/mixpanelETL.js:70,107): events from the /export staging
    * at `path`, profiles from the /engage staging at `peoplePath`
    * (default `<path>-engage`).
    */
  final case class MixpanelStaged(path: String, where: Option[String] = None,
      events: Seq[String] = Seq.empty, doEvents: Boolean = true,
      doPeople: Boolean = false, peoplePath: Option[String] = None) extends Source

  sealed trait Destination
  final case class LocalJson(dir: String) extends Destination
  final case class HttpSink(vendor: String, opts: Map[String, String],
      transport: BatchedHttpSink.Transport) extends Destination

  final case class Config(source: Source, destination: Destination)

  /** `release` frees whatever a source holds for its outputs; run() calls
    * it once every output is written. No source in [[transform]] sets it:
    * each output scans its staged input on its own (J2).
    */
  final case class Outputs(events: DataFrame, profiles: Option[DataFrame],
      mergePairs: Option[DataFrame], release: () => Unit = () => ())

  final case class Report(events: Long, profiles: Long, merges: Long,
      sink: Option[BatchedHttpSink.SinkReport])

  /** TRANSFORM stage: vendor dispatch to canonical outputs. */
  def transform(spark: SparkSession, source: Source): Outputs = source match {
    case CsvSource(path, roles) =>
      val out = CsvTransform(Sources.csv(spark, path), roles)
      Outputs(out.events, out.profiles, None)
    case AmplitudeStaged(path, tag) =>
      val amp = Sources.staged(spark, path, Model.amplitudeSchema)
      val out = AmplitudeTransform(amp, tag)
      Outputs(out.events, Some(out.profiles), Some(out.mergePairs))
    case GaStaged(path) =>
      val ga = Sources.staged(spark, path, Model.gaSessionSchema)
      Outputs(GaTransform.events(spark, ga), Some(GaTransform.profiles(spark, ga)), None)
    case MixpanelStaged(path, where, eventNames, doEvents, doPeople, peoplePath) =>
      val raw = Sources.staged(spark, path, Model.mpEventSchema)
      val filtered0 = where match {
        case Some(w) => raw.filter(
          graft.functions.SegmentationWhere.parse(w, org.apache.spark.sql.functions.col("properties")))
        case None => raw
      }
      val filtered =
        if (eventNames.nonEmpty)
          filtered0.filter(org.apache.spark.sql.functions.col("event").isin(eventNames: _*))
        else filtered0
      // doEvents=false → an empty events frame with the right schema (the
      // reference's people-only runs skip /export entirely)
      val eventsOut = if (doEvents) filtered else filtered.limit(0)
      val profiles =
        if (doPeople)
          Some(graft.operators.MixpanelTransform.engageToProfiles(
            Sources.staged(spark, peoplePath.getOrElse(s"$path-engage"),
              Model.engageSchema)))
        else None
      Outputs(eventsOut, profiles, None)
  }

  /** Full E-T-L run.
    *
    * Shuffles are planned with one partition per core
    * (`defaultParallelism`) unless the session sets
    * `spark.sql.shuffle.partitions` itself; the session's own setting is
    * back when the run returns, and AQE still coalesces. Spark's default of
    * 200 makes every map task of a small load open 200 shuffle files.
    *
    * Every output is shaped first, so an analysis error fails the run
    * before anything is loaded. The events, profiles and merge writes are
    * then submitted together and reconciled once all of them have finished.
    * This departs from the reference's events → profiles → merges order on
    * purpose, and is safe because no load depends on another having
    * landed: every endpoint is idempotent on its own key (`$insert_id`,
    * `$distinct_id`), profile `$set` carries `$ignore_time`, and Mixpanel
    * `$merge` is retroactive.
    *
    * Each write scans the staged input itself, pruned to the columns its
    * output reads (J2), so every write starts at once; none waits for a
    * shared-scan cache to fill, and no cache holds the decoded input.
    *
    * Event counts are taken with `observe()` DURING the sink write — the
    * reference's extracted = transformed = imported reconciliation
    * (SURVEY §5) without a second scan of the data.
    */
  def run(spark: SparkSession, config: Config): Report = {
    Tables.tune(spark)
    withCoreShuffles(spark) {
      val out = transform(spark, config.source)
      try load(out, config.destination)
      finally out.release()
    }
  }

  private def withCoreShuffles[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    if (spark.conf.getAll.contains(key)) body
    else {
      spark.conf.set(key, spark.sparkContext.defaultParallelism.toLong)
      try body finally spark.conf.unset(key)
    }
  }

  private def load(out: Outputs, destination: Destination): Report = destination match {
    case LocalJson(dir) =>
      // every count rides its write job via observe() — each output DAG
      // executes exactly once (no count() re-run)
      def counted(df: DataFrame, name: String): () => Long = {
        val obs = new Observation()
        val observed = df.observe(obs, count(lit(1)).as("n"))
        () => { Sinks.writeLocalJson(observed, s"$dir/$name"); obs.get("n").asInstanceOf[Long] }
      }
      val Seq(events, profiles, merges) = together(Seq(
        Some(counted(out.events, "events")),
        out.profiles.map(counted(_, "profiles")),
        out.mergePairs.map(counted(_, "mergeTables"))))
      Report(events.get, profiles.getOrElse(0L), merges.getOrElse(0L), None)
    case HttpSink(vendor, opts, transport) =>
      val cfg = Sinks.forVendor(vendor, opts)
      val token = opts.getOrElse("token", "")
      val obs = new Observation()
      val observedEvents = out.events.observe(obs, count(lit(1)).as("n_events"))
      // K8 vendor routing: reverse sinks reshape to their own wire format
      // (reference load/sendOther.js:7-18)
      val events = vendor.toLowerCase match {
        case "amplitude" =>
          MixpanelTransform.eventsToAmplitude(observedEvents)
            .select(to_json(struct(col("*"))).as("json"))
        case "woopra" =>
          MixpanelTransform.eventsToWoopra(observedEvents)
            .select(to_json(struct(col("*"))).as("json"))
        case _ => Sinks.shapeMixpanelEvents(observedEvents)
      }
      def write(df: DataFrame, c: BatchedHttpSink.SinkConfig) =
        () => Sinks.write(df, c, transport)
      val Seq(Some(report), profiles, merges) = together(Seq(
        Some(write(events, cfg)),
        out.profiles.map(p => write(Sinks.shapeMixpanelProfiles(p, token),
          Sinks.mixpanelEngageConfig(token))),
        out.mergePairs.map(m => write(Sinks.shapeMixpanelMerges(m), cfg))))
      // reconciliation invariant: with no failed batches, every
      // transformed event must have been acknowledged by the sink
      val transformed = obs.get("n_events").asInstanceOf[Long]
      if (report.failedBatches == 0)
        require(transformed == report.records,
          s"count reconciliation broken: transformed=$transformed loaded=${report.records}")
      Report(report.records, profiles.map(_.records).getOrElse(0L),
        merges.map(_.records).getOrElse(0L), Some(report))
  }

  /** Runs the given writes together on a driver pool and waits for every
    * one. The first failure, in argument order, is rethrown only after all
    * have finished, so no write is still running when the run returns.
    * The pool's threads start here and so inherit the caller's Spark local
    * properties (job group, scheduler pool).
    */
  private def together[A](writes: Seq[Option[() => A]]): Seq[Option[A]] = {
    val pool = Executors.newFixedThreadPool(writes.count(_.isDefined))
    try {
      val pending = writes.map(_.map(w => pool.submit(new Callable[A] { def call(): A = w() })))
      val done = pending.map(_.map(f =>
        Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }))
      done.flatten.collectFirst { case Failure(e) => throw e }
      done.map(_.map(_.get))
    } finally pool.shutdown()
  }
}
