package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** File/staged sources (SURVEY §2.1).
  *
  * The reference's extract machinery (zip/gzip shelling, GCS listing,
  * JSON-vs-NDJSON sniffing, streaming line readers — S3-S8) collapses into
  * Spark's distributed readers: `.gz` is transparent, directories are
  * scanned natively, malformed rows are PERMISSIVE-collected instead of
  * crashing a single-process loop. HTTP extracts stage to NDJSON first
  * (driver-side fetch, S9-S10), then read distributed.
  */
object Sources {

  /** S1/S2: CSV file or directory, header row, bad files tolerated. */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** S7: NDJSON-first read with whole-file-JSON fallback — the reference's
    * dual-parse (extract/googleAnalytics.js:92-109) expressed as two read
    * modes. A schema makes reads strict-shaped; corrupt lines land in
    * `_corrupt_record` (F3/F7) and are split out, not dropped silently.
    */
  case class JsonRead(good: DataFrame, corrupt: DataFrame)

  /** NDJSON vs whole-file JSON detection by a driver-side sniff of the
    * first line of the first file — no Spark job, no caching of the raw
    * input (at 100 TB, caching a full scan for a format probe is a
    * cluster-memory bill). Mirrors the reference's byte sniff
    * (extract/googleAnalytics.js:92-109): a leading '[' or a first line
    * that is not itself complete JSON means a (possibly pretty-printed)
    * whole-file document.
    */
  private def sniffIsWholeFileJson(spark: SparkSession, path: String,
      hadoopOpts: Map[String, String] = Map.empty): Boolean = {
    // copy-on-read: per-read overrides never mutate the session-global conf
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    hadoopOpts.foreach { case (k, v) => conf.set(k, v) }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.globStatus(p) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case sts => sts.flatMap(st =>
        if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile) else Array(st))
    }
    files.sortBy(_.getPath.toString).headOption.exists { st =>
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        .getCodec(st.getPath)
      val raw = fs.open(st.getPath)
      val in = if (codec == null) raw else codec.createInputStream(raw)
      try {
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        val first = Iterator.continually(reader.readLine())
          .takeWhile(_ != null).find(_.trim.nonEmpty)
        first.exists { line =>
          val t = line.trim
          t.startsWith("[") || !isCompleteJson(t)
        }
      } finally in.close()
    }
  }

  /** True iff `s` parses as one complete JSON value (Jackson ships with
    * Spark). A pretty-printed object's first line ("{") is NOT complete.
    */
  private def isCompleteJson(s: String): Boolean =
    try { new com.fasterxml.jackson.databind.ObjectMapper().readTree(s); true }
    catch { case _: Exception => false }

  /** S7 read with its corrupt split, and S5's object-store scan: an object
    * store is just another Hadoop FileSystem scheme (on a real cluster pass
    * [[gcsConnectorConf]] as `hadoopOpts`). `hadoopOpts` are scoped PER READ:
    * Spark merges datasource options into the scan's own Hadoop conf
    * (newHadoopConfWithOptions), so two reads against different buckets or
    * credentials cannot clobber each other and nothing (e.g. a keyfile)
    * leaks into the session-global hadoopConfiguration.
    */
  def jsonAuto(spark: SparkSession, path: String, schema: StructType,
      hadoopOpts: Map[String, String] = Map.empty): JsonRead =
    if (sniffIsWholeFileJson(spark, path, hadoopOpts))
      JsonRead(wholeFile(spark, path, schema, hadoopOpts), spark.emptyDataFrame)
    else {
      // Parse over a text scan with from_json instead of the raw JSON
      // reader: (a) Spark disallows corrupt-column-only queries on raw
      // JSON scans (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and (b) this keeps
      // the corrupt split cache-free — callers that only consume `good`
      // (the common case) pay exactly one pass; consuming both branches
      // costs a cheap second text scan, never a cluster-wide cache of the
      // raw input.
      val parsed = parseLines(spark.read.options(hadoopOpts).textFile(path).toDF("line"),
        schema)
      // a blank line parses to a null struct: neither a record nor corrupt
      val good = parsed.filter(col("j").isNotNull && col("j._corrupt_record").isNull)
        .select(col("j.*")).drop("_corrupt_record")
      val corrupt = parsed.filter(col("j._corrupt_record").isNotNull)
        .select(col("line").as("_corrupt_record"))
      JsonRead(good, corrupt)
    }

  private def wholeFile(spark: SparkSession, path: String, schema: StructType,
      hadoopOpts: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(hadoopOpts).schema(schema).option("multiLine", "true").json(path)

  /** Adds `j`: the `line` column parsed against `schema` plus
    * `_corrupt_record`, null for a blank line. The parse sits under a
    * one-element `explode`, a Generate that Catalyst pushes no filter
    * through; as a plain column, a filter on `j` is pushed below the
    * projection and `from_json` runs once in the Filter and again in the
    * Project, so every line is parsed twice.
    */
  private def parseLines(lines: DataFrame, schema: StructType): DataFrame =
    lines.withColumn("j", explode(array(from_json(col("line"),
      schema.add("_corrupt_record", StringType),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))))

  case class FileGatedRead(good: DataFrame, badFiles: DataFrame)

  /** F3 with the reference's FILE-level fidelity: when any line of an input
    * file fails schema validation, the reference abandons the ENTIRE file,
    * not just the line (transform/gaToMixpanel.js:51-58 — a thrown
    * validation error skips the whole file's output). [[jsonAuto]] is the
    * line-level variant; this one groups by `input_file_name()` and drops
    * every row of any file containing a corrupt line, so a half-written
    * file contributes nothing instead of a partial prefix.
    *
    * Shape: one text scan parsed with from_json; `badFiles` is a
    * per-corrupt-file aggregate — bounded by the FILE count, not row count
    * (at 100 TB with 128 MB files that is ~10⁶ rows), so AQE broadcasts
    * the left-anti gate join and the corpus never reshuffles. Consuming
    * both outputs costs a second text scan (same cache-free contract as
    * [[jsonAuto]]).
    */
  def jsonFileGate(spark: SparkSession, path: String, schema: StructType,
      hadoopOpts: Map[String, String] = Map.empty): FileGatedRead = {
    val parsed = parseLines(spark.read.options(hadoopOpts).text(path)
      .select(input_file_name().as("fname"), col("value").as("line")), schema)
    val badFiles = parsed.filter(col("j._corrupt_record").isNotNull)
      .groupBy("fname").agg(count(lit(1)).as("n_corrupt"))
    val good = parsed.filter(col("j").isNotNull) // blank lines parse to null
      .join(badFiles.select("fname"), Seq("fname"), "left_anti")
      .select(col("j.*")).drop("_corrupt_record")
    FileGatedRead(good, badFiles)
  }

  /** S11: pre-extracted local path bypass — just a path to the reader.
    *
    * NDJSON goes to Spark's JSON source in DROPMALFORMED mode, so each
    * query over the result scans only the columns it reads and parses each
    * line once. A consumer fanning one input out to several outputs gets
    * one pruned scan per output instead of a shared-scan cache.
    *
    * The contract is the reference's F7 (amplitudeToMixpanel.js:58-67
    * skips only lines that fail `JSON.parse`):
    *  - a line that is not valid JSON, or a JSON `null`, yields no row;
    *  - a line whose field does not fit `schema` is dropped only from
    *    queries that read that field;
    *  - a root-level array line yields one row per element;
    *  - a blank line yields no row, and `count()` works.
    *
    * There is no corrupt complement here: Spark refuses a raw-JSON query
    * that reads only `_corrupt_record`. [[jsonAuto]] and [[jsonFileGate]]
    * return one and so keep `from_json` over a text scan, with whole-row
    * schema validation.
    */
  def staged(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (sniffIsWholeFileJson(spark, path)) wholeFile(spark, path, schema)
    else spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)

  /** Hadoop configuration for the public GCS connector
    * (gcs-connector-hadoop3; not bundled here — zero-egress sandbox).
    * Service-account key auth mirrors the reference's keyFilename option
    * (extract/googleAnalytics.js:23-27).
    */
  def gcsConnectorConf(projectId: String,
      serviceAccountKeyFile: Option[String] = None): Map[String, String] =
    Map(
      "fs.gs.impl" -> "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
      "fs.AbstractFileSystem.gs.impl" -> "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS",
      "fs.gs.project.id" -> projectId
    ) ++ serviceAccountKeyFile.map(k =>
      "google.cloud.auth.service.account.json.keyfile" -> k)

  /** S10: paginated HTTP source, generalized. Pagination is inherently
    * serial (page N's cursor comes from page N-1 — SURVEY §7.4.5), so the
    * driver walks pages to NDJSON staging, then the cluster reads the
    * staged files in parallel. `fetch(page)` returns the page's records as
    * JSON lines, or None when exhausted. A walk that still gets a page
    * after `maxPages` throws rather than return a truncated staging set.
    */
  def paginatedToStaging(
      fetch: Int => Option[Seq[String]],
      stagingDir: String,
      maxPages: Int = 10000): Seq[String] = {
    val dir = java.nio.file.Paths.get(stagingDir)
    java.nio.file.Files.createDirectories(dir)
    Iterator.from(0)
      .map(p => p -> fetch(p))
      .takeWhile(_._2.isDefined)
      .map { case (p, Some(lines)) =>
        if (p >= maxPages) throw new IllegalStateException(
          s"pagination into $stagingDir still has pages after maxPages=$maxPages")
        val f = dir.resolve(f"page_$p%05d.json")
        java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
        f.toString
      }.toList
  }
}
