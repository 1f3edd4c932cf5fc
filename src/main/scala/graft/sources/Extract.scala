package graft.sources

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Duration, LocalDateTime}

/** Vendor EXTRACT stage (SURVEY §2.1 S3/S9/S10, §2.11 O2).
  *
  * HTTP extraction is driver-side fetch-to-staging: the fetcher walks the
  * vendor API and writes NDJSON files; the cluster then reads the staged
  * directory as ONE distributed scan. The reference's `ampReplicator.js`
  * shell fan-out (5 concurrent hourly sub-jobs with `wait` barriers) is
  * replaced by hour-partitioned fetch tasks + Spark's own scan parallelism.
  *
  * The HTTP client is injected (`Fetcher`) — a real implementation wraps
  * java.net.http with basic auth (extract/amplitude.js:42-51); tests and
  * this zero-egress environment use fakes. ZIP bodies (S4 — the real
  * Amplitude /export shape) are sniffed and unzipped driver-side to
  * staging; gzipped members stage as-is because Spark's codec chain (S6)
  * reads .gz transparently.
  */
object Extract {

  /** Injected HTTP GET: returns the response body, or None for "no data"
    * (the reference treats 404/empty export hours as skippable).
    */
  trait Fetcher extends Serializable {
    def get(url: String): Option[Array[Byte]]
  }

  /** Bounded-retry decorator for TRANSIENT HTTP failures — 5xx and
    * timeouts surface as exceptions from the underlying client. Retries
    * the SAME URL with linear backoff; every paginated GET in this
    * library is a pure cursor read, so the retried request is
    * byte-identical and idempotent (no duplicate or skipped pages — the
    * cursor advances only after a page is successfully returned). A
    * `None` body ("no data", e.g. a 404 export hour) is a terminal
    * answer, never retried; after `maxAttempts` failures the last
    * exception propagates and fails the extract.
    *
    * `retryable` decides WHICH failures are worth another attempt. The
    * default matches transient shapes by message/type (timeouts, 5xx,
    * connection drops); a permanent failure — 4xx auth/request errors,
    * parse errors — propagates on the FIRST attempt instead of burning
    * backoff sleeps on a request that can never succeed and delaying the
    * loud failure.
    */
  final class RetryingFetcher(inner: Fetcher, maxAttempts: Int = 3,
      backoffMs: Long = 0L,
      retryable: Throwable => Boolean = RetryingFetcher.transientDefault)
      extends Fetcher {
    require(maxAttempts >= 1, s"bad maxAttempts $maxAttempts")
    def get(url: String): Option[Array[Byte]] = {
      var attempt = 1
      while (attempt < maxAttempts) {
        try return inner.get(url)
        catch {
          case scala.util.control.NonFatal(e) if retryable(e) =>
            if (backoffMs > 0) Thread.sleep(backoffMs * attempt)
            attempt += 1
        }
      }
      inner.get(url) // final attempt: let the failure propagate
    }
  }

  object RetryingFetcher {
    /** Default transience test: IO/timeout exception types are always
      * transient; other failures count as transient only when the message
      * carries a 5xx/throttle shape (`HTTP 5xx`, 429, "timed out",
      * "connection reset"). 4xx, auth, and parse failures fall through —
      * permanent, no retry.
      */
    val transientDefault: Throwable => Boolean = {
      case _: java.net.SocketTimeoutException => true
      case _: java.net.http.HttpTimeoutException => true
      case _: java.net.ConnectException => true
      case _: java.io.IOException => true
      case e =>
        val m = Option(e.getMessage).getOrElse("").toLowerCase
        "\\b5\\d\\d\\b".r.findFirstIn(m).isDefined ||
          m.contains("429") || m.contains("timed out") ||
          m.contains("connection reset") || m.contains("throttl")
    }
  }

  private val HourFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HH")

  /** ZIP magic: PK\x03\x04. */
  private[sources] def isZip(body: Array[Byte]): Boolean =
    body.length >= 4 && body(0) == 'P'.toByte && body(1) == 'K'.toByte &&
      body(2) == 3.toByte && body(3) == 4.toByte

  /** S4: Amplitude /export responds with a ZIP archive whose members are
    * NDJSON (`.json`) or gzipped NDJSON (`.json.gz`) files (the reference
    * shells `unzip` with an adm-zip fallback — extract/amplitude.js:73-134).
    * One-time DRIVER-side unzip to staging with java.util.zip: members are
    * streamed straight to disk; `.gz` members are staged untouched because
    * Spark's codec chain (S6) decompresses them transparently at scan
    * time. Returns the staged file paths.
    */
  def unzipToStaging(zipBytes: Array[Byte], stagingDir: String,
      prefix: String = ""): Seq[String] = {
    Files.createDirectories(Paths.get(stagingDir))
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(zipBytes))
    val out = scala.collection.mutable.ArrayBuffer[String]()
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          // archive paths may be nested (e.g. "123456/file.json.gz") —
          // flatten to the basename under staging, namespaced by `prefix`
          val name = Paths.get(e.getName).getFileName.toString
          val f = Paths.get(stagingDir, prefix + name)
          Files.copy(zin, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          out += f.toString
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toSeq
  }

  /** Hourly partition bounds for a date span — the reference's
    * `YYYYMMDDTHH` slicing (ampReplicator.js:42-65, amplitude.js:24-27).
    */
  def hourRanges(start: LocalDateTime, end: LocalDateTime): Seq[(String, String)] = {
    val hours = Duration.between(start, end).toHours
    (0L until hours).map { h =>
      (start.plusHours(h).format(HourFmt), start.plusHours(h + 1).format(HourFmt))
    }
  }

  /** Amplitude /export (S3): one fetch per hour slice → staging NDJSON.
    * Hour fetches run on a bounded thread pool (the reference's
    * PARALLELISM=5); returns the staged file paths.
    */
  def amplitudeExport(baseUrl: String, start: LocalDateTime, end: LocalDateTime,
      stagingDir: String, fetcher: Fetcher, parallelism: Int = 5): Seq[String] = {
    Files.createDirectories(Paths.get(stagingDir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(parallelism, 1))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futures = hourRanges(start, end).map { case (s0, e0) =>
        scala.concurrent.Future {
          fetcher.get(s"$baseUrl/api/2/export?start=$s0&end=$e0").map { body =>
            // S4: a real /export body is a ZIP of (gzipped) NDJSON members
            // — unzip driver-side to staging; plain NDJSON stages as-is
            if (isZip(body)) unzipToStaging(body, stagingDir, s"export_${s0}_")
            else {
              val f = Paths.get(stagingDir, s"export_$s0.json")
              Files.write(f, body)
              Seq(f.toString)
            }
          }
        }
      }
      scala.concurrent.Await
        .result(scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf)
        .flatten.flatten
    } finally pool.shutdown()
  }

  /** Mixpanel /export (S9): date-range fetch with optional server-side
    * `where` predicate + event IN-list pushdown (F4/F5) encoded into the
    * query string, exactly as the reference does (mixpanelETL.js:80-85).
    */
  def mixpanelExport(baseUrl: String, fromDate: String, toDate: String,
      where: Option[String], events: Seq[String], stagingDir: String,
      fetcher: Fetcher): Seq[String] = {
    Files.createDirectories(Paths.get(stagingDir))
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val params = Seq(s"from_date=$fromDate", s"to_date=$toDate") ++
      where.map(w => s"where=${enc(w)}") ++
      (if (events.nonEmpty)
        Seq(s"event=${enc(events.mkString("[\"", "\",\"", "\"]"))}")
      else Nil)
    fetcher.get(s"$baseUrl/api/2.0/export?${params.mkString("&")}").map { body =>
      val f = Paths.get(stagingDir, s"export_${fromDate}_$toDate.json")
      Files.write(f, body)
      f.toString
    }.toSeq
  }

  /** Mixpanel /engage (S10): the reference's serial cursor walk
    * (mixpanelETL.js:144-182) via [[Sources.paginatedToStaging]]. The
    * first GET carries no cursor; the first `session_id` and `page_size`
    * the server reports are kept for the rest of the walk (a later reply
    * without them must not restart the stream), and every later GET
    * threads the `session_id` with the next `page`. A page shorter than
    * the SERVER-reported `page_size` ends the walk: Mixpanel caps
    * `page_size` at 1000, so comparing against a larger requested size
    * would stop after page 0. Each page's `results` stage as one profile
    * per line.
    */
  def mixpanelEngage(baseUrl: String, stagingDir: String, fetcher: Fetcher,
      pageSize: Int = 1000): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var sessionId: Option[String] = None
    var serverPageSize: Option[Int] = None
    var lastPageShort = false
    Sources.paginatedToStaging(
      page => if (lastPageShort) None else {
        val cursor = sessionId
          .map(s => s"&session_id=${java.net.URLEncoder.encode(s, "UTF-8")}&page=$page")
          .getOrElse("")
        fetcher.get(s"$baseUrl/api/2.0/engage?page_size=$pageSize$cursor").map { body =>
          val root = mapper.readTree(body)
          val results = Option(root.get("results")).toSeq
            .flatMap(r => (0 until r.size).map(i => mapper.writeValueAsString(r.get(i))))
          sessionId = sessionId.orElse(Option(root.get("session_id")).map(_.asText))
          serverPageSize = serverPageSize.orElse(Option(root.get("page_size")).map(_.asInt))
          lastPageShort = results.size < serverPageSize.getOrElse(pageSize)
          results
        }
      },
      stagingDir)
  }
}
