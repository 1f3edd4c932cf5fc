package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-12 hardening (VERDICT r11 #1 — the round shipped with an EMPTY
  * driver correctness artifact, plausibly because the serial gate's wall
  * time, 253 s for 288 queries, crossed the driver's check budget):
  *
  *  1. `oracle_sql.json` is written FIRST, before any query runs — if the
  *     gate is killed mid-run the driver still has the oracle map and every
  *     output completed so far, instead of nothing.
  *  2. Queries run CONCURRENTLY on a bounded thread pool (default 8,
  *     `SPARK_GRAFT_VERIFY_THREADS`). Spark job submission is thread-safe;
  *     at sf0.01 each query is dominated by driver-side planning, so
  *     serialized execution left 31 of 32 cores idle. Shared state is safe
  *     by construction: Tables.tune is idempotent (same values every call,
  *     FunctionRegistry is synchronized), temp views are only ever
  *     re-registered with identical content (same sfDir for every query),
  *     and each query writes its own output directory.
  *  3. A loud one-line summary (ok/fail counts + wall seconds) prints at
  *     the end, so a partial run is visible in any captured tail.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Guard (VERDICT r14 #3): a flag-looking positional arg once created a
    // committed `--help/` output dir with 167 MB of parquet. Paths never
    // start with '-'; refuse loudly instead of mkdir-ing a flag.
    args.take(2).filter(_.startsWith("-")) match {
      case bad if bad.nonEmpty =>
        System.err.println(
          s"usage: graft.Verify <sfDir> <outDir> [queryName...] — got flag-like path(s): ${bad.mkString(", ")}")
        sys.exit(2)
      case _ =>
    }
    // ADVICE r15: fewer than 2 args crashed with an opaque MatchError at
    // the destructure instead of the usage line.
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (dev loop)
    // Default lifted 8→16 (VERDICT r14 #1b) →32 (VERDICT r16 #1): at
    // sf0.01 queries are planning-dominated (driver-side Catalyst work,
    // one thread per query), so the gate scales with submission threads
    // almost independently of executor cores; 515 s on a degraded host at
    // 16 threads is what keeps shipping an empty driver artifact.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "32").toInt.max(1)
    // FAIR across the concurrent verify jobs: one long iterative query
    // (suffix array, graph loops) must not starve the 200 sub-second ones.
    val spark = Harness.session("spark.scheduler.mode" -> "FAIR")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val t0 = System.nanoTime()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failed = new ConcurrentLinkedQueue[String]()
    val pool = Executors.newFixedThreadPool(threads)
    // Straggler diet (VERDICT r16 #1, guide §2.6): the pool is FIFO, so an
    // iterative heavyweight submitted late runs ALONE at the tail while
    // every worker thread sits idle — the gate's wall becomes Σ(micro)/T +
    // max(heavy) instead of max(Σ/T, heavy). Submit the known-iterative
    // families first so the micro rows back-fill around them. Ordering is
    // best-effort (an unlisted heavy row still finishes; it just
    // serializes) and never affects results — only submission order.
    val heavyPrefixes = Seq("sa_", "graph_", "er_", "id_resolution",
      "tx_perceptron", "tx_bpe", "dd_semantic", "ann_graph", "ann_layered",
      "ann_nndescent", "ann_recall", "ann_ivfpq", "dd_ngram", "sc_")
    def heavyRank(name: String): Int = {
      val i = heavyPrefixes.indexWhere(name.startsWith)
      if (i >= 0) i else heavyPrefixes.size
    }
    val ordered = selected.toSeq.sortBy { case (n, _) => (heavyRank(n), n) }
    ordered.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val q0 = System.nanoTime()
            // No coalesce(1) (VERDICT r16 #1): the oracle compare reads
            // the whole output DIRECTORY, so multi-part output is fine —
            // and coalesce(1) propagated a 1-task constraint into each
            // query's FINAL stage, serializing exactly the work the
            // concurrent gate needs parallel. Outputs are k-bounded
            // (LIMIT/top-k rows), so file count stays small either way.
            fn(spark, sfDir).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // per-query wall time to stderr — the tail-hunting signal
            // (concurrent, so times overlap; relative order still ranks)
            System.err.println(
              f"[verify] $name ok in ${(System.nanoTime() - q0) / 1e9}%.1f s")
          } catch { case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    pool.shutdown()
    val finished = pool.awaitTermination(4, TimeUnit.HOURS)
    if (!finished) {
      // gatecheck compares output-dir count vs declared count; this line
      // gives the mismatch a visible cause instead of a silent partial run
      val unfinished = pool.shutdownNow().size()
      System.err.println(
        s"[verify] TIMED OUT with >= $unfinished queries unfinished")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val nOk = selected.size - failed.size
    println(f"[verify] $nOk ok, ${failed.size} failed of ${selected.size} in $secs%.1f s" +
      (if (failed.isEmpty) "" else s" — FAILED: ${java.util.List.copyOf(failed)}"))
    // VERDICT r15 #7: the driver's correctness capture shipped `{}` three
    // rounds (r11/r14/r15) with the wall-time theory falsified — give any
    // stdout-scraping harness the result map directly as ONE machine-
    // readable JSON line (≤2,000 bytes: counts + failed names only, and
    // the failed list is truncated if it would blow the budget).
    val failedNames = {
      import scala.jdk.CollectionConverters._
      failed.iterator().asScala.toSeq.sorted
    }
    val failedJson = {
      val full = failedNames.map(q).mkString("[", ",", "]")
      if (full.length <= 1800) full
      else failedNames.take(20).map(q).mkString("[", ",", s",${q("...")}]")
    }
    println(s"""{"metric":"verify","n_pass":$nOk,"n_fail":${failed.size},""" +
      s""""n_total":${selected.size},"secs":${f"$secs%.1f"},"failed":$failedJson}""")
    // rc stays 0 even on per-query failure: the driver's DuckDB compare is
    // what records a missing output as red; a nonzero rc could make it skip
    // the compare and ship an empty artifact (the exact r11 failure mode).
    spark.stop()
  }
}
