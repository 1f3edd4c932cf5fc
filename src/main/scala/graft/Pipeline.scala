package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
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

  /** Loaded count per output; `sink` is the events write's HTTP report. */
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
      val filtered0 = where.fold(raw)(w =>
        raw.filter(graft.functions.SegmentationWhere.parse(w, col("properties"))))
      val filtered =
        if (eventNames.nonEmpty) filtered0.filter(col("event").isin(eventNames: _*))
        else filtered0
      // doEvents=false → an empty events frame with the right schema (the
      // reference's people-only runs skip /export entirely)
      val eventsOut = if (doEvents) filtered else filtered.limit(0)
      val profiles =
        if (doPeople)
          Some(MixpanelTransform.engageToProfiles(
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
    * [[load]] runs the events, profiles and merge writes together. This
    * departs from the reference's events → profiles → merges order on
    * purpose, and is safe because no load depends on another having
    * landed: every endpoint is idempotent on its own key (`$insert_id`,
    * `$distinct_id`), profile `$set` carries `$ignore_time`, and Mixpanel
    * `$merge` is retroactive.
    *
    * Each write scans the staged input itself, pruned to the columns its
    * output reads (J2), so every write starts at once; none waits for a
    * shared-scan cache to fill, and no cache holds the decoded input.
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

  /** LOAD: each present output is observed, then shaped for the
    * destination: NDJSON under `<dir>/{events,profiles,mergeTables}` (K9), or
    * the vendor's route from [[Sinks.routes]]. A shaping error or an output
    * with no route fails the run before any write starts. Each write then
    * reconciles its output with the count it observed (SURVEY §5, no second
    * scan): observed = loaded, over HTTP whenever none of its batches failed.
    */
  private def load(out: Outputs, destination: Destination): Report = {
    val writer: (String, DataFrame) => () => Option[BatchedHttpSink.SinkReport] =
      destination match {
        case LocalJson(dir) =>
          val dirs = Map("events" -> "events", "profiles" -> "profiles", "merges" -> "mergeTables")
          (name, df) => () => { Sinks.writeLocalJson(df, s"$dir/${dirs(name)}"); None }
        case HttpSink(vendor, opts, transport) =>
          val routes = Sinks.routes(vendor, opts)
          (name, df) => {
            val route = routes.getOrElse(name,
              throw new IllegalArgumentException(s"sink vendor $vendor takes no $name"))
            val shaped = route.shape(df)
            () => Some(Sinks.write(shaped, route.config, transport))
          }
      }
    val outputs = Seq("events" -> Some(out.events), "profiles" -> out.profiles,
      "merges" -> out.mergePairs)
    val writes = outputs.map { case (name, frame) => frame.map { df =>
      val obs = new Observation()
      val write = writer(name, df.observe(obs, count(lit(1)).as("n")))
      () => {
        val sink = write()
        val observed = obs.get("n").asInstanceOf[Long]
        val loaded = sink.fold(observed)(_.records)
        if (sink.forall(_.failedBatches == 0))
          require(observed == loaded,
            s"count reconciliation broken for $name: transformed=$observed loaded=$loaded")
        (loaded, sink)
      }
    }}
    val Seq(events, profiles, merges) = together(writes)
    Report(events.get._1, profiles.fold(0L)(_._1), merges.fold(0L)(_._1), events.get._2)
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
