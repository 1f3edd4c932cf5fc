package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.TaskContext

import graft.sinks.BatchedHttpSink
import graft.sinks.BatchedHttpSink.{HttpResponseLite, Transport}
import graft.sources.Extract.Fetcher

/** Clients of the loopback vendor API (`perfbench/server.py`). */
object Loopback {
  def base(port: Int): String = s"http://127.0.0.1:$port"

  /** Vendor URLs keep their path and query; only the host changes. */
  def rewrite(url: String, port: Int): String =
    url.replaceFirst("^https?://[^/]+", base(port))

  private lazy val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def get(url: String): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  /** Files every later POST under `name` on the server. */
  def epoch(port: Int, name: String): Unit = {
    val r = client.send(HttpRequest.newBuilder(URI.create(
        s"${base(port)}/__epoch?name=$name"))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
    require(r.statusCode() == 200, s"epoch switch failed: ${r.statusCode()}")
  }
}

/** The program's own java.net.http transport, pointed at the loopback API. */
final class LoopbackTransport(port: Int) extends Transport {
  private val inner = new BatchedHttpSink.JdkHttpTransport
  def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite =
    inner.post(Loopback.rewrite(url, port), body, headers)
}

/** Amplitude /export over java.net.http; a 404 hour is "no data". */
final class LoopbackFetcher extends Fetcher {
  def get(url: String): Option[Array[Byte]] = {
    val r = Loopback.get(url)
    r.statusCode() match {
      case 200 => Some(r.body())
      case 404 => None
      case s => throw new java.io.IOException(s"HTTP $s for $url")
    }
  }
}

/** Faulty transports for the checker's own tests: `drop` acknowledges one
  * batch without sending it, `dup` sends one batch twice. The fault fires
  * once after each [[FaultTransport.arm]].
  */
final class FaultTransport(inner: Transport, mode: String) extends Transport {
  def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite =
    if (!FaultTransport.armed.compareAndSet(true, false)) inner.post(url, body, headers)
    else mode match {
      case "drop" => HttpResponseLite(200, """{"code":200,"status":"OK"}""")
      case "dup" => inner.post(url, body, headers); inner.post(url, body, headers)
      case other => throw new IllegalArgumentException(s"unknown fault $other")
    }
}

object FaultTransport {
  val armed = new AtomicBoolean(false)
  def arm(): Unit = armed.set(true)
}

/** What the timing wrappers saw. Spark runs in local mode, so every task's
  * deserialized wrapper reports into this one JVM-wide probe.
  */
object Probe {
  final case class Post(phase: String, partition: Int, ms: Double, status: Int,
      body: Array[Byte])
  val posts = new ConcurrentLinkedQueue[Post]()
  @volatile var phase = ""
  val fetches = new AtomicLong()
  val fetchBytes = new AtomicLong()

  def reset(): Unit = {
    posts.clear(); phase = ""
    fetches.set(0); fetchBytes.set(0)
  }
}

final class TimedTransport(inner: Transport) extends Transport {
  def post(url: String, body: Array[Byte], headers: Map[String, String]): HttpResponseLite = {
    val phase = Probe.phase
    val t0 = System.nanoTime()
    val r = inner.post(url, body, headers)
    val part = Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
    Probe.posts.add(Probe.Post(phase, part, (System.nanoTime() - t0) / 1e6, r.status, body))
    r
  }
}

/** Counts fetches and fetched bytes; the `sources.fetch` span around the
  * extract times them.
  */
final class TimedFetcher(inner: Fetcher) extends Fetcher {
  def get(url: String): Option[Array[Byte]] = {
    val r = inner.get(url)
    Probe.fetches.incrementAndGet()
    r.foreach(b => Probe.fetchBytes.addAndGet(b.length))
    r
  }
}
