package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import graft.sinks.BatchedHttpSink
import graft.sinks.BatchedHttpSink.{HttpResponseLite, SinkConfig, Transport}

object RecordingTransport {
  // static so executor threads (same JVM in local mode) share it
  val bodies = new ConcurrentLinkedQueue[Array[Byte]]()
  val failFirstN = new java.util.concurrent.atomic.AtomicInteger(0)
}

class RecordingTransport extends Transport {
  def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite = {
    if (RecordingTransport.failFirstN.getAndDecrement() > 0)
      HttpResponseLite(503, "unavailable")
    else {
      RecordingTransport.bodies.add(body)
      HttpResponseLite(200, """{"num_records_imported":0}""")
    }
  }
}

object RejectingTransport {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Answers every POST like a strict-mode `/import` rejecting the batch. */
class RejectingTransport extends Transport {
  def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite = {
    RejectingTransport.calls.incrementAndGet()
    HttpResponseLite(400, """{"error":"strict mode: invalid record"}""")
  }
}

class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def gunzip(b: Array[Byte]): String = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
    new String(in.readAllBytes(), "UTF-8")
  }

  test("batching respects record-count and byte caps with gzip bodies") {
    RecordingTransport.bodies.clear()
    RecordingTransport.failFirstN.set(0)
    val df = (1 to 250).toDF("i")
      .select(to_json(struct(col("i"), lit("x" * 100).as("pad"))).as("json"))
      .repartition(2)
    val cfg = SinkConfig(url = "http://test/import", maxRecordsPerBatch = 100,
      maxBytesPerBatch = 1024 * 1024, maxRetries = 0)
    val report = BatchedHttpSink.writeJson(df, cfg, new RecordingTransport)
    assert(report.records == 250)
    assert(report.failedBatches == 0)
    // 2 partitions of ~125 → ceil per partition: at least 4 batches total
    assert(report.batches >= 4)
    val bodies = RecordingTransport.bodies.toArray(Array.empty[Array[Byte]])
    bodies.foreach { b =>
      val json = gunzip(b)
      assert(json.startsWith("[") && json.endsWith("]"))
      val n = json.count(_ == '{')
      assert(n <= 100, s"batch of $n exceeds record cap")
    }
    assert(bodies.map(b => gunzip(b).count(_ == '{')).sum == 250)
  }

  test("byte cap closes batches before exceeding (no oversized batch)") {
    RecordingTransport.bodies.clear()
    val big = "y" * 4000
    val df = (1 to 50).toDF("i")
      .select(to_json(struct(col("i"), lit(big).as("pad"))).as("json"))
      .coalesce(1)
    val cfg = SinkConfig(url = "http://test/import", maxRecordsPerBatch = 1000,
      maxBytesPerBatch = 10000, maxRetries = 0, gzipBody = false)
    BatchedHttpSink.writeJson(df, cfg, new RecordingTransport)
    val bodies = RecordingTransport.bodies.toArray(Array.empty[Array[Byte]])
    assert(bodies.length > 1)
    bodies.foreach(b => assert(b.length <= 10100, s"body ${b.length} exceeds cap"))
  }

  test("retries recover from transient 5xx (no silent error swallowing)") {
    RecordingTransport.bodies.clear()
    RecordingTransport.failFirstN.set(2)
    val df = (1 to 10).toDF("i")
      .select(to_json(struct(col("i"))).as("json")).coalesce(1)
    val cfg = SinkConfig(url = "http://t", maxRetries = 3, initialBackoffMs = 1)
    val report = BatchedHttpSink.writeJson(df, cfg, new RecordingTransport)
    assert(report.failedBatches == 0 && report.records == 10)
    // exhausted retries are REPORTED, not swallowed
    RecordingTransport.failFirstN.set(100)
    val report2 = BatchedHttpSink.writeJson(df, cfg, new RecordingTransport)
    assert(report2.failedBatches == 1 && report2.records == 0)
    assert(report2.responses.exists(_._1 == 503))
  }

  test("a permanent 4xx fails the batch after one attempt, with its response logged") {
    RejectingTransport.calls.set(0)
    val df = (1 to 10).toDF("i")
      .select(to_json(struct(col("i"))).as("json")).coalesce(1)
    val cfg = SinkConfig(url = "http://t", maxRetries = 3, initialBackoffMs = 1)
    val report = BatchedHttpSink.writeJson(df, cfg, new RejectingTransport)
    assert(RejectingTransport.calls.get == 1, "a 400 was retried")
    assert(report.failedBatches == 1 && report.records == 0)
    assert(report.responses.map(_._1) == Seq(400))
  }

  test("mixpanel event shaping produces wire-format records") {
    val ev = Seq(("click", "u1", 1631894400L, "i1", "csv", Map("a" -> "b")))
      .toDF("event", "distinct_id", "time", "insert_id", "source", "properties")
    val json = graft.sinks.Sinks.shapeMixpanelEvents(ev).as[String].head()
    assert(json.contains(""""event":"click""""))
    assert(json.contains(""""$insert_id":"i1""""))
    assert(json.contains(""""distinct_id":"u1""""))
  }
}
