package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit}

import graft.{Pipeline, SparkEntry, Tables}
import graft.model.Model
import graft.operators.CsvTransform.CsvRoles
import graft.sinks.BatchedHttpSink.{SinkConfig, SinkReport, Transport}
import graft.sinks.Sinks
import graft.sources.{Extract, Sources}
import graft.sources.Extract.Fetcher

/** The benchmark's engine process. It drives the program only through its
  * public entry points (`Extract.amplitudeExport`, `Sources.staged`/`csv`,
  * `Pipeline.transform`/`run`, `Sinks.shape*`/`write`, `SparkEntry.queries`)
  * against the loopback vendor API, and writes what it measured as one JSON
  * file for `run.py`.
  *
  * ETL workloads, untraced (`--trace 0`): a few set-ups (session start plus
  * one warm-up iteration each), untimed JIT warm-up iterations on a small
  * input, then whole iterations until `--seconds` have passed.
  * Traced (`--trace 1`): rounds of an untraced iteration, a traced one
  * (listeners and timing wrappers on) and a layered one that calls each
  * layer on its own with the previous layer's output materialised first;
  * then the connector matrix.
  *
  * The query mix runs the same way with a pass over its queries as the
  * iteration, and ends with a verification pass whose results `run.py`
  * compares against the queries' DuckDB oracles.
  */
object Engine {

  final case class Args(workload: String, input: String, port: Int, seconds: Double,
      trace: Boolean, setups: Int, warmup: Int, work: String, out: String,
      spans: String, fault: String, queries: Seq[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("port").toInt, m("seconds").toDouble,
      m("trace") == "1", m.getOrElse("setups", "3").toInt,
      m.getOrElse("warmup", "0").toInt, m("work"), m("out"),
      m.getOrElse("spans", ""), m.getOrElse("fault", "none"),
      m.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty))
  }

  /** Spark runs local[3] on a 4-vCPU host: the spare core goes to the JIT
    * compiler, GC and the loopback API. With all 4 cores running tasks, the
    * JIT's progress (still about 1 s of compiling per iteration a minute
    * in) differed from JVM to JVM, and run medians spread 15-20%. The sink
    * then opens at most 3 connections and the export fetch uses the same
    * parallelism.
    */
  val Cores = 3
  val MinIterations = 3
  val FullWarmups = 3
  val Token = "bench-token"
  val MixpanelOpts: Map[String, String] =
    Map("project_id" -> "187520", "auth" -> "YmVuY2g6", "token" -> Token)
  /** Writes the engine's result and the span file. */
  val Mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private lazy val queries = SparkEntry.queries

  val CsvBenchRoles: CsvRoles = CsvRoles(eventNameCol = "action", distinctIdCol = "guid",
    timeCol = "time", insertIdCol = Some("insert_id"), ignoreCols = Seq("raw_ua"))

  /** One ETL workload: how its source is extracted, scanned and sized. */
  sealed trait Workload {
    def extract(dir: String, fetcher: Fetcher): Pipeline.Source
    /** The same source shape on a small local input, for JIT warm-up. */
    def warmSource: Pipeline.Source
    def scan(spark: SparkSession, src: Pipeline.Source): DataFrame
    def corruptRows(spark: SparkSession, src: Pipeline.Source): Long
    def inputPath(src: Pipeline.Source): String
  }

  /** 24 hourly /export ZIPs fetched from the loopback API into a fresh
    * staging directory, then the Amplitude pack.
    */
  final class AmplitudeE2E(port: Int, input: String) extends Workload {
    def warmSource: Pipeline.Source = Pipeline.AmplitudeStaged(s"$input/warm/src")
    def extract(dir: String, fetcher: Fetcher): Pipeline.Source = {
      Extract.amplitudeExport(Loopback.base(port), LocalDateTime.of(2024, 3, 5, 0, 0),
        LocalDateTime.of(2024, 3, 6, 0, 0), dir, fetcher, parallelism = Cores)
      Pipeline.AmplitudeStaged(dir)
    }
    def scan(spark: SparkSession, src: Pipeline.Source): DataFrame =
      Sources.staged(spark, inputPath(src), Model.amplitudeSchema)
    def corruptRows(spark: SparkSession, src: Pipeline.Source): Long =
      Sources.jsonAuto(spark, inputPath(src), Model.amplitudeSchema).corrupt.count()
    def inputPath(src: Pipeline.Source): String =
      src.asInstanceOf[Pipeline.AmplitudeStaged].path
  }

  /** A local CSV directory through the CSV pack, profiles off. */
  final class CsvE2E(input: String) extends Workload {
    private val dir = s"$input/csv"
    def warmSource: Pipeline.Source = Pipeline.CsvSource(s"$input/warm/csv", CsvBenchRoles)
    def extract(staging: String, fetcher: Fetcher): Pipeline.Source =
      Pipeline.CsvSource(dir, CsvBenchRoles)
    def scan(spark: SparkSession, src: Pipeline.Source): DataFrame = Sources.csv(spark, dir)
    def corruptRows(spark: SparkSession, src: Pipeline.Source): Long =
      Sources.csv(spark, dir).filter(col("action").isNull || col("guid").isNull ||
        col("time").isNull).count()
    def inputPath(src: Pipeline.Source): String = dir
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** JIT compile and GC time so far, in ms: where a noisy sample went. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.iterator().asScala.toList.reverse.foreach(Files.delete(_: Path))
      finally paths.close()
    }
  }

  private def dirBytes(p: String): Long = {
    val paths = Files.walk(Paths.get(p))
    try paths.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally paths.close()
  }

  /** Frees the blocks behind a local checkpoint. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.unpersist() }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  /** The query mix, like the repository's own query harnesses, runs with
    * one shuffle partition per core; the ETL workloads keep Spark's
    * default and AQE's coalescing, as `Pipeline.run` would get them.
    */
  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.workload == "query_mix") b.config("spark.sql.shuffle.partitions", Cores)
    b.getOrCreate()
  }

  private def run(a: Args): Unit = {
    val result = mutable.LinkedHashMap[String, Any]("workload" -> a.workload)
    val spark = if (a.workload == "query_mix") runQueries(a, result) else runEtl(a, result)
    spark.stop()
    Files.write(Paths.get(a.out), Mapper.writeValueAsBytes(result))
  }

  /** Set-up, several times: a fresh session and one warm-up iteration (ETL:
    * on the small input). The first one also pays the JVM start. Returns
    * the last session.
    */
  private def setUp(a: Args, result: mutable.Map[String, Any])(
      warm: (SparkSession, Int) => Unit): SparkSession = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    result("setups_s") = (1 to a.setups).map { i =>
      val t0 = System.nanoTime()
      spark = session(a)
      warm(spark, i)
      if (i < a.setups) spark.stop()
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1000.0
      else (System.nanoTime() - t0) / 1e9
    }
    spark
  }

  /** Runs `iteration` until `--seconds` have passed, at least
    * [[MinIterations]] times, recording the managed memory each one needed.
    */
  private def measured(spark: SparkSession, a: Args)(
      iteration: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val mem = new MemoryNeed
    spark.sparkContext.addSparkListener(mem)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    while (out.size < MinIterations || System.nanoTime() < deadline) {
      mem.reset()
      val it = iteration(out.size)
      BenchAccess.drainListeners(spark.sparkContext)
      out += it + ("managed_mem_mb" -> mem.mb)
    }
    spark.sparkContext.removeSparkListener(mem)
    out.toSeq
  }

  private def runEtl(a: Args, result: mutable.Map[String, Any]): SparkSession = {
    val w: Workload = a.workload match {
      case "amplitude_e2e" => new AmplitudeE2E(a.port, a.input)
      case "csv_e2e" => new CsvE2E(a.input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val plainT: Transport = new LoopbackTransport(a.port)
    val runT: Transport =
      if (a.fault == "none") plainT else new FaultTransport(plainT, a.fault)
    val fetcher = new LoopbackFetcher

    def small(s: SparkSession, epoch: String): Unit = {
      Loopback.epoch(a.port, epoch)
      Pipeline.run(s, Pipeline.Config(w.warmSource,
        Pipeline.HttpSink("mixpanel", MixpanelOpts, plainT)))
      Loopback.epoch(a.port, "idle")
    }
    val spark = setUp(a, result)((s, i) => small(s, s"warm$i"))
    // Spark's query analysis, planning and job tracking run a few
    // times per iteration whatever the input size, so the JIT reaches them
    // last; many cheap iterations on a small input warm it before timing.
    // Full-size iterations then warm the fetch and the full-size paths.
    val w0 = System.nanoTime()
    (1 to a.warmup).foreach(i => small(spark, s"jit$i"))
    (1 to FullWarmups).foreach(i => whole(spark, w, a, s"jitfull$i", plainT, fetcher))
    result("warmup_s") = (System.nanoTime() - w0) / 1e9

    if (!a.trace) {
      result("iterations") = measured(spark, a) { k =>
        if (a.fault != "none") FaultTransport.arm()
        whole(spark, w, a, s"run$k", runT, fetcher)
      }
    } else {
      val tracer = new Tracer(spark)
      val traced, layers = mutable.ArrayBuffer[Map[String, Any]]()
      result("iterations") = measured(spark, a) { k =>
        val plain = whole(spark, w, a, s"plain$k", plainT, fetcher)
        tracer.attach()
        try {
          Probe.reset()
          val (it, c) = tracer.measure(Spans.span("iteration", "", s"traced$k") {
            whole(spark, w, a, s"traced$k", new TimedTransport(plainT),
              new TimedFetcher(fetcher))
          }._1)
          traced += it ++ c.map { case (n, v) => s"counter.$n" -> v }
          layers += Spans.span("iteration", "", s"layer$k") {
            layered(spark, w, a, s"layer$k", tracer, plainT, fetcher)
          }._1
        } finally tracer.detach()
        plain
      }
      result("traced") = traced
      result("layers") = layers
      result("matrix") = matrix(spark, a, plainT)
      if (a.spans.nonEmpty) Spans.writeJsonl(a.spans)
    }
    spark
  }

  /** The query mix on the generated tables under `--input`: set-ups and
    * warm-up passes, measured passes (traced: a plain and a traced pass per
    * round), then a verification pass that writes each result as parquet
    * next to its oracle SQL.
    */
  private def runQueries(a: Args, result: mutable.Map[String, Any]): SparkSession = {
    val tables = s"${a.input}/tables"
    def pass(s: SparkSession, name: String, tracer: Option[Tracer] = None) =
      queryPass(s, a.queries, tables, name, tracer)
    // The JIT compiles several CPU-seconds per pass long after the first
    // one (Catalyst's code paths and each query's generated classes), so
    // untimed passes follow the set-ups before timing starts.
    val spark = setUp(a, result) { (s, i) => pass(s, s"warm$i") }
    val w0 = System.nanoTime()
    (1 to a.warmup).foreach(i => pass(spark, s"jit$i"))
    result("warmup_s") = (System.nanoTime() - w0) / 1e9

    if (!a.trace) {
      result("iterations") = measured(spark, a)(k => pass(spark, s"run$k"))
    } else {
      val tracer = new Tracer(spark)
      val traced = mutable.ArrayBuffer[Map[String, Any]]()
      result("iterations") = measured(spark, a) { k =>
        val plain = pass(spark, s"plain$k")
        tracer.attach()
        try traced += Spans.span("iteration", "", s"traced$k") {
          pass(spark, s"traced$k", Some(tracer))
        }._1
        finally tracer.detach()
        plain
      }
      result("traced") = traced
      if (a.spans.nonEmpty) Spans.writeJsonl(a.spans)
    }

    val out = s"${a.work}/verify"
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Mapper.writeValueAsBytes(a.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    result("verified") = a.queries.map { q =>
      val df = queries(q)(spark, tables)
      val d = digest(df.collect())
      df.write.parquet(s"$out/$q")
      q -> d
    }.toMap
    spark
  }

  /** Order-independent digest of a result's rows. */
  private def digest(rows: Array[Row]): Int = MurmurHash3.unorderedHash(rows.map(_.toString))

  /** One pass over the query mix, each result collected to the driver. With
    * a tracer, each query also gets its Spark counter deltas.
    */
  private def queryPass(spark: SparkSession, names: Seq[String], tables: String,
      pass: String, tracer: Option[Tracer]): Map[String, Any] = {
    val (cpu0, jit0, gc0, t0) = (cpuNanos(), jitMs(), gcMs(), System.nanoTime())
    val per = names.map { q =>
      def go() = Spans.span(s"query.$q", "iteration", pass) {
        queries(q)(spark, tables).collect()
      }
      val ((rows, span), c) = tracer.fold((go(), Map.empty[String, Long]))(_.measure(go()))
      q -> (c ++ Map("s" -> span.seconds, "rows" -> rows.length.toLong,
        "digest" -> digest(rows)))
    }
    Map("epoch" -> pass, "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (cpuNanos() - cpu0) / 1e9, "jit_ms" -> (jitMs() - jit0),
      "gc_ms" -> (gcMs() - gc0), "queries" -> per.toMap)
  }

  /** One end-to-end iteration: extract, then `Pipeline.run` into the
    * loopback Mixpanel sink. Its POSTs are filed under `epoch`.
    */
  private def whole(spark: SparkSession, w: Workload, a: Args, epoch: String,
      transport: Transport, fetcher: Fetcher): Map[String, Any] = {
    val dir = s"${a.work}/stage-$epoch"
    Loopback.epoch(a.port, epoch)
    val (cpu0, jit0, gc0) = (cpuNanos(), jitMs(), gcMs())
    val t0 = System.nanoTime()
    val src = w.extract(dir, fetcher)
    val rep = Pipeline.run(spark, Pipeline.Config(src,
      Pipeline.HttpSink("mixpanel", MixpanelOpts, transport)))
    val wall = (System.nanoTime() - t0) / 1e9
    val (cpu, jit, gc) = ((cpuNanos() - cpu0) / 1e9, jitMs() - jit0, gcMs() - gc0)
    Loopback.epoch(a.port, "idle")
    deleteTree(dir)
    Map("epoch" -> epoch, "wall_s" -> wall, "cpu_s" -> cpu, "jit_ms" -> jit, "gc_ms" -> gc,
      "events" -> rep.events, "profiles" -> rep.profiles, "merges" -> rep.merges,
      "batches" -> rep.sink.map(_.batches).getOrElse(0L),
      "failed_batches" -> rep.sink.map(_.failedBatches).getOrElse(0L))
  }

  /** One layered iteration: each layer's public function on its own, the
    * previous layer's output materialised first, with spans and counters.
    */
  private def layered(spark: SparkSession, w: Workload, a: Args, run: String,
      tracer: Tracer, transport: Transport, fetcher: Fetcher): Map[String, Any] = {
    val m = mutable.LinkedHashMap[String, Any]("epoch" -> run)
    val dir = s"${a.work}/stage-$run"
    Probe.reset()
    Loopback.epoch(a.port, run)
    Tables.tune(spark)

    val (src, fetch) = Spans.span("sources.fetch", "iteration", run) {
      w.extract(dir, new TimedFetcher(fetcher))
    }
    m("sources.fetch_s") = if (Probe.fetches.get() > 0) fetch.seconds else 0.0
    m("sources.fetch_bytes") = Probe.fetchBytes.get()
    val stagedBytes = dirBytes(w.inputPath(src))

    val rows = new Observation()
    val ((_, scan), scanC) = tracer.measure(Spans.span("sources.scan", "iteration", run) {
      noop(w.scan(spark, src).observe(rows, count(lit(1)).as("n")))
    })
    m("sources.scan_s") = scan.seconds
    m("sources.input_bytes") = scanC("file_bytes_read")
    m("sources.rows") = rows.get("n")
    m("sources.corrupt_rows") = w.corruptRows(spark, src)

    val ((cacheBytes, transform), trC) = tracer.measure(
      Spans.span("operators.transform", "iteration", run) {
        val out = Pipeline.transform(spark, src)
        noop(out.events)
        out.profiles.foreach(noop)
        out.mergePairs.foreach(noop)
        val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        out.release()
        cached
      })
    m("operators.transform_s") = transform.seconds - scan.seconds
    m("operators.jobs") = trC("jobs")
    m("operators.stages") = trC("stages")
    m("operators.shuffle_write_bytes") = trC("shuffle_write_bytes")
    m("operators.spill_bytes") = trC("spill_bytes")
    m("operators.cache_bytes") = cacheBytes
    m("operators.input_passes") = trC("file_bytes_read").toDouble / math.max(1L, stagedBytes)

    // Materialise the transform outputs so the sink layers time only
    // themselves. An eager local checkpoint keeps the partitioning the
    // pipelined run would hand to the sink (a cached plan would not get
    // AQE's partition coalescing).
    val out = Pipeline.transform(spark, src)
    val events = out.events.localCheckpoint()
    val profiles = out.profiles.map(_.localCheckpoint())
    val merges = out.mergePairs.map(_.localCheckpoint())
    out.release()
    m("operators.events_out") = events.count()
    m("operators.profiles_out") = profiles.map(_.count()).getOrElse(0L)
    m("operators.merges_out") = merges.map(_.count()).getOrElse(0L)

    val importCfg = Sinks.forVendor("mixpanel", MixpanelOpts)
    val (shaped, shape) = Spans.span("sinks.shape", "iteration", run) {
      val s = Seq(("events", Sinks.shapeMixpanelEvents(events), importCfg)) ++
        profiles.map(p => ("profiles", Sinks.shapeMixpanelProfiles(p, Token),
          Sinks.mixpanelEngageConfig(Token))) ++
        merges.map(g => ("merges", Sinks.shapeMixpanelMerges(g), importCfg))
      s.foreach { case (_, df, _) => noop(df) }
      s
    }
    m("sinks.shape_s") = shape.seconds
    val ready = shaped.map { case (kind, df, cfg) => (kind, df.localCheckpoint(), cfg) }

    val timed = new TimedTransport(transport)
    val ((reports, write), wC) = tracer.measure(Spans.span("sinks.write", "iteration", run) {
      ready.map { case (kind, df, cfg: SinkConfig) =>
        Probe.phase = kind
        kind -> Sinks.write(df, cfg, timed)
      }
    })
    Loopback.epoch(a.port, "idle")
    m("sinks.write_s") = write.seconds
    sinkMetrics(m, reports.map(_._2), wC("tasks"))
    reports.foreach { case (kind, r) => m(s"acked.$kind") = r.records }

    (Seq(events) ++ profiles ++ merges ++ ready.map(_._2)).foreach(release)
    deleteTree(dir)
    m.toMap
  }

  private def sinkMetrics(m: mutable.Map[String, Any], reports: Seq[SinkReport],
      tasks: Long): Unit = {
    val posts = Probe.posts.asScala.toSeq
    val batches = reports.map(_.batches).sum
    m("sinks.batches") = batches
    m("sinks.records_per_batch") = reports.map(_.records).sum.toDouble / math.max(1L, batches)
    m("sinks.posts_per_batch") = posts.size.toDouble / math.max(1L, batches)
    m("sinks.non2xx") = posts.count(p => p.status < 200 || p.status >= 300)
    m("sinks.post_ms_p50") = percentile(posts.map(_.ms), 0.5)
    m("sinks.post_ms_p99") = percentile(posts.map(_.ms), 0.99)
    m("sinks.tasks") = tasks
    val perTask = posts.filter(_.phase == "events").groupBy(_.partition).values.map(_.map { p =>
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(p.body))
      try Mapper.readTree(in).size().toDouble finally in.close()
    }.sum).toSeq
    m("sinks.task_records_max_over_median") =
      if (perTask.isEmpty) 0.0 else perTask.max / median(perTask)
  }

  /** Each staged source through `Pipeline.run` into the loopback Mixpanel
    * sink on a tiny fixture. Failures are reported, not raised.
    */
  private def matrix(spark: SparkSession, a: Args, t: Transport): Seq[Map[String, Any]] = {
    val d = s"${a.input}/matrix"
    Seq(
      "amplitude" -> Pipeline.AmplitudeStaged(s"$d/amplitude"),
      "csv" -> Pipeline.CsvSource(s"$d/csv", CsvBenchRoles),
      "csv_profiles" -> Pipeline.CsvSource(s"$d/csv", CsvBenchRoles.copy(createProfiles = true)),
      "ga" -> Pipeline.GaStaged(s"$d/ga"),
      "mixpanel" -> Pipeline.MixpanelStaged(s"$d/mixpanel", doPeople = true,
        peoplePath = Some(s"$d/mixpanel-engage"))
    ).map { case (name, src) =>
      Loopback.epoch(a.port, s"matrix.$name")
      val r: Map[String, Any] =
        try {
          val rep = Pipeline.run(spark, Pipeline.Config(src,
            Pipeline.HttpSink("mixpanel", MixpanelOpts, t)))
          Map("ok" -> true, "events" -> rep.events, "profiles" -> rep.profiles,
            "merges" -> rep.merges,
            "failed_batches" -> rep.sink.map(_.failedBatches).getOrElse(0L))
        } catch {
          case e: Exception =>
            Map("ok" -> false, "error" ->
              Option(e.getMessage).getOrElse(e.toString).linesIterator.next().take(240))
        }
      Loopback.epoch(a.port, "idle")
      r + ("connector" -> name) + ("epoch" -> s"matrix.$name")
    }
  }
}
