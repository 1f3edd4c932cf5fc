package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Benchmark main — runs the declared queries in ONE session (the driver's
  * harness shape).
  *
  * Two artifacts, by design (the driver's tail capture is hard-bounded at
  * 2,000 bytes — a 100-query JSON line is ~3 KB and can NEVER fit, which is
  * why rounds 1-4 all recorded `parsed: null`):
  *
  *   1. stdout: ONE short summary line — total seconds, query count, error
  *      map, and only the top-10 slowest per-query medians. Guaranteed well
  *      under 2,000 bytes for any query count.
  *   2. a full per-query JSON file (default `/tmp/bench_self.json`,
  *      override with SPARK_GRAFT_BENCH_OUT) with the median and every rep
  *      for each query, and under `counters` the [[RunStats]] (jobs,
  *      stages, tasks, input and shuffle bytes) of its last timed rep —
  *      with SPARK_GRAFT_BENCH_REPS=1, the cold run of an oracle row (a
  *      bench-only row's untimed warm-up, its index build, is under
  *      `cold_counters`). The default is
  *      deliberately OUTSIDE the repo: the driver's ambient-noisy harness
  *      runs kept overwriting the committed clean artifact in the working
  *      tree, forcing a noise-vs-regression adjudication every round. Promotion into the
  *      repo is now a deliberate act: run `BenchCheck <prior-committed>
  *      /tmp/bench_self.json` and copy the artifact in ONLY on a PASS.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports the
  * MEDIAN: single-shot timings at sf0.1 are contention-noise-dominated (the
  * r4 driver run showed uniform ~1.7× inflation vs a clean re-run on
  * identical code). A query that throws is not retried — it records its
  * error class and its single elapsed time.
  *
  * Queries run in SORTED-NAME order so per-query times are comparable
  * across rounds (a Map's iteration order reshuffles whenever a key is
  * added, which makes session-position effects look like plan regressions).
  *
  * Optional CLI args restrict the run to the named queries (dev loop).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_self.json")
    val spark = Harness.session()
    // Untimed warmup: JIT, codegen compiler, parquet reader, and the
    // shuffle/window/join/decimal-agg code paths. Without it the
    // alphabetically-first queries absorb seconds of one-time JVM cost and
    // read as false per-query regressions.
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      for (_ <- 0 until 2) {
        Tables.t(spark, sfDir, "region").groupBy("r_name").count().collect()
        val w = spark.range(100000).selectExpr("id % 97 k", "id v", "CAST(id AS DOUBLE) x")
        w.groupBy("k").agg(sum(col("v")), sum(col("x").cast("decimal(18,4)")))
          .orderBy("k").collect()
        w.withColumn("rn", row_number().over(
            Window.partitionBy("k").orderBy(col("v").desc)))
          .filter(col("rn") <= 3).count()
        w.join(w.groupBy("k").count(), "k").count()
        w.select(split(trim(lower(concat_ws(" ", col("k"), col("v")))), "\\s+")).count()
      }
      // ImageIO codec init (registry scan + PNG/BMP reader+writer classes)
      // is a one-time ~0.5 s cost that otherwise lands on the first
      // executed-resize rep and reads as rep-spread noise
      locally {
        javax.imageio.ImageIO.setUseCache(false)
        val img = new java.awt.image.BufferedImage(
          8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (fmt <- Seq("png", "bmp")) {
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, fmt, out)
          javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(out.toByteArray))
        }
      }
    }
    val all = SparkEntry.queries ++ SparkEntry.benchQueries
    val selected =
      if (args.nonEmpty) all.view.filterKeys(args.toSet).toMap
      else all

    // Bench-only rows are DEPLOYMENT shapes (serve against a pre-built
    // index/code table): their one-time build cost belongs outside the
    // timed reps at ANY rep count — at reps>=2 the median already
    // excluded it, but a reps=1 cold capture (the sf1 protocol) would
    // otherwise report build+serve as the serve number. One untimed call
    // per selected bench-only row warms the session caches; oracle rows
    // keep cold-first-rep semantics. What the warm-up ran (the index build)
    // is kept per row as its cold counters.
    val coldStats = selected.keys.filter(SparkEntry.benchQueries.contains).toSeq.sorted
      .map(name => name -> RunStats.during(spark) {
        try SparkEntry.benchQueries(name)(spark, sfDir).count()
        catch { case _: Throwable => 0L } // the timed rep reports the error
      }._2.json)

    def fmt(v: Double): String = f"$v%.3f"
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    final case class QRes(name: String, runs: Seq[Double], err: Option[String],
        stats: RunStats) {
      def median: Double = { val s = runs.sorted; s(s.size / 2) }
    }
    // Fixture lifecycle (VERDICT r15 missing #1): rows run in sorted-name
    // order, so a family boundary (first `_`-token change) means every
    // fixture the finished family session-cached is dead weight for the
    // rest of the run — at sf1 the retained checkpoint blocks of
    // three index builds put ann_serve_latency at 5.7× its solo cost.
    // Evict the finished family's FixtureCache entries (their cut blocks
    // are freed at once) and nudge the ContextCleaner for the blocks of
    // frames held inside non-frame fixtures, which ride weak refs.
    var prevFamily: String = null
    def familyOf(name: String): String = name.takeWhile(_ != '_')
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val fam = familyOf(name)
      if (prevFamily != null && fam != prevFamily &&
          graft.queries.FixtureCache.evict(spark) > 0)
        System.gc()
      prevFamily = fam
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      var stats: RunStats = null
      var i = 0
      while (i < reps && err.isEmpty) {
        // timed inside the meter, so its bus drains stay out of the seconds
        val (sec, s) = RunStats.during(spark) {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable => err = Some(e.getClass.getSimpleName) }
          (System.nanoTime() - t0) / 1e9
        }
        runs += sec
        stats = s
        i += 1
      }
      QRes(name, runs.toSeq, err, stats)
    }
    val total = results.map(_.median).sum
    val errs = obj(results.collect { case QRes(k, _, Some(e), _) => k -> s"\"$e\"" })

    // Full per-query artifact — committed, compared across rounds.
    val full = {
      val qMed = obj(results.map(r => r.name -> fmt(r.median)))
      val qRuns = obj(results.map(r => r.name -> r.runs.map(fmt).mkString("[", ",", "]")))
      val qCounters = obj(results.map(r => r.name -> r.stats.json))
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"reps":$reps,"sf":"$sfDir","cpus":${Harness.cpus},"queries":$qMed,"runs":$qRuns,"errors":$errs,"counters":$qCounters,"cold_counters":${obj(coldStats)}}"""
    }
    Files.write(Paths.get(outPath), full.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)

    // Short stdout summary — `queries` carries only the 10 slowest medians,
    // so the line stays far below the driver's 2,000-byte tail bound at any
    // query count (the full map lives in the `detail` file).
    val top10 = obj(results.sortBy(-_.median).take(10).map(r => r.name -> fmt(r.median)))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"reps":$reps,"errors":$errs,"queries":$top10,"detail":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
