package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/** Partition-parallel batched HTTP sink (SURVEY §2.10 K1-K8, K11).
  *
  * Each task streams its partition through a count- AND byte-capped batch
  * accumulator (K1/K2 — proper accumulation, not the reference's
  * halve-if-over which leaves >4 MB batches oversized:
  * load/sendEventsToMixpanel.js:136-155), gzips the JSON-array body (K3),
  * and POSTs with exponential-backoff retries of 429/5xx/transport
  * failures + a token-bucket rate limiter
  * (the reference's fixed 2 s sleep and silently-swallowed errors —
  * load/sendOther.js:261-264, load/sendEventsToMixpanel.js:112-114 — fixed
  * by construction). Per-batch responses land in an accumulator (K11
  * response log).
  *
  * Delivery contract: at-least-once; Mixpanel-side $insert_id dedup makes
  * task retries idempotent (SURVEY §7.4.4). Scale: no shuffle — the sink
  * inherits upstream partitioning; HTTP concurrency == task parallelism,
  * bounded per-task by the rate limiter.
  */
object BatchedHttpSink {

  case class SinkConfig(
      url: String,
      headers: Map[String, String] = Map.empty,
      maxRecordsPerBatch: Int = 2000,
      maxBytesPerBatch: Long = 2L * 1024 * 1024,
      maxRetries: Int = 3,
      initialBackoffMs: Long = 500,
      ratePerSecond: Double = 0.0) // 0 = unthrottled

  case class HttpResponseLite(status: Int, body: String)

  /** Pluggable transport: real HTTP in production, a recording fake in
    * tests (no network egress in this environment).
    */
  trait Transport extends Serializable {
    def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite
  }

  /** java.net.http transport (driver/executor side; one client per task). */
  class JdkHttpTransport extends Transport {
    @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
    def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite = {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      HttpResponseLite(resp.statusCode(), resp.body())
    }
  }

  case class SinkReport(
      records: Long,
      batches: Long,
      failedBatches: Long,
      responses: Seq[(Int, String)])

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** Simple token bucket: capacity = rate, refill continuous. */
  private final class TokenBucket(ratePerSecond: Double) {
    private var tokens = math.max(ratePerSecond, 1.0)
    private var last = System.nanoTime()
    def acquire(): Unit = if (ratePerSecond > 0) synchronized {
      while ({
        val now = System.nanoTime()
        tokens = math.min(ratePerSecond,
          tokens + (now - last) * 1e-9 * ratePerSecond)
        last = now
        tokens < 1.0
      }) Thread.sleep(math.max(1L, ((1.0 - tokens) / ratePerSecond * 1000).toLong))
      tokens -= 1.0
    }
  }

  /** Retry only what can succeed later: 429, 5xx and transport
    * exceptions (status -1). Any other non-2xx, such as a strict-mode
    * `/import` 400, fails the batch after one attempt.
    */
  private def retryable(status: Int): Boolean =
    status == -1 || status == 429 || status >= 500

  /** Per-task batching core: count+byte-capped accumulation, gzip, retry,
    * rate limit.
    */
  private final class PartitionBatcher(cfg: SinkConfig, transport: Transport,
      onBatch: (Int, HttpResponseLite, Boolean) => Unit) {
    private val bucket = new TokenBucket(cfg.ratePerSecond)
    private val buf = new scala.collection.mutable.ArrayBuffer[String]()
    private var bufBytes = 0L

    def add(rec: String): Unit = {
      val recBytes = rec.getBytes("UTF-8").length + 1
      if (buf.nonEmpty &&
        (buf.size >= cfg.maxRecordsPerBatch || bufBytes + recBytes > cfg.maxBytesPerBatch))
        flush()
      buf += rec
      bufBytes += recBytes
    }

    def flush(): Unit = if (buf.nonEmpty) {
      val body = buf.mkString("[", ",", "]").getBytes("UTF-8")
      val payload = gzip(body)
      val headers = cfg.headers + ("Content-Encoding" -> "gzip") +
        ("Content-Type" -> "application/json")
      def post(): HttpResponseLite =
        try transport.post(cfg.url, payload, headers)
        catch { case e: Exception => HttpResponseLite(-1, e.toString) }
      bucket.acquire()
      var resp = post()
      var attempt = 0
      while (retryable(resp.status) && attempt < cfg.maxRetries) {
        attempt += 1
        Thread.sleep(cfg.initialBackoffMs * (1L << (attempt - 1)))
        resp = post()
      }
      onBatch(buf.size, resp, resp.status >= 200 && resp.status < 300)
      buf.clear(); bufBytes = 0L
    }
  }

  /** Write a DataFrame whose rows are single JSON strings (column `json`) —
    * the caller shapes records with to_json(struct(...)).
    */
  def writeJson(df: DataFrame, cfg: SinkConfig, transport: Transport): SinkReport = {
    val spark = df.sparkSession
    val recs: LongAccumulator = spark.sparkContext.longAccumulator("sink.records")
    val batches: LongAccumulator = spark.sparkContext.longAccumulator("sink.batches")
    val failed: LongAccumulator = spark.sparkContext.longAccumulator("sink.failedBatches")
    val responses: CollectionAccumulator[(Int, String)] =
      spark.sparkContext.collectionAccumulator[(Int, String)]("sink.responses")

    val jsonDf = df.select(col("json").cast("string"))
    jsonDf.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val batcher = new PartitionBatcher(cfg, transport, (n, resp, ok) => {
        batches.add(1)
        if (ok) recs.add(n) else failed.add(1)
        responses.add((resp.status, resp.body.take(512)))
      })
      it.foreach(row => batcher.add(row.getString(0)))
      batcher.flush()
    }
    SinkReport(recs.value, batches.value, failed.value,
      { val l = responses.value; (0 until l.size()).map(l.get) })
  }
}
