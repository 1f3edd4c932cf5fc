package graft

import java.nio.file.Files
import java.time.LocalDateTime
import graft.sources.{Extract, Sources}
import graft.model.Model

class ExtractSpec extends SparkSpec {

  class FakeAmpFetcher extends Extract.Fetcher {
    val urls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def get(url: String): Option[Array[Byte]] = {
      urls.add(url)
      // hour 03 has no data (reference: skip empty export hours)
      if (url.contains("start=20210917T03")) None
      else Some(
        s"""{"event_type":"e","user_id":"u","device_id":"d","amplitude_id":1,"event_time":"2021-09-17 12:00:00","event_properties":{},"user_properties":{}}"""
          .getBytes("UTF-8"))
    }
  }

  test("amplitude extract: hour-partitioned fetch to staging, empty hours skipped") {
    val dir = Files.createTempDirectory("amp-extract").toString
    val fetcher = new FakeAmpFetcher
    val staged = Extract.amplitudeExport("https://amplitude.example",
      LocalDateTime.of(2021, 9, 17, 0, 0), LocalDateTime.of(2021, 9, 17, 6, 0),
      dir, fetcher)
    assert(fetcher.urls.size == 6) // one fetch per hour slice
    assert(staged.size == 5)       // hour 03 skipped
    assert(fetcher.urls.toArray.mkString.contains("start=20210917T00&end=20210917T01"))
    // staged dir reads as ONE distributed scan
    val df = Sources.staged(spark, dir, Model.amplitudeSchema)
    assert(df.count() == 5)
  }

  test("amplitude extract: ZIP body is unzipped to staging (S4), gz members read transparently") {
    val dir = Files.createTempDirectory("amp-zip-extract").toString
    val line =
      s"""{"event_type":"z","user_id":"u","device_id":"d","amplitude_id":1,"event_time":"2021-09-17 12:00:00","event_properties":{},"user_properties":{}}"""
    // build a real ZIP: one plain .json member + one nested .json.gz member
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    zout.putNextEntry(new java.util.zip.ZipEntry("a.json"))
    zout.write(line.getBytes("UTF-8")); zout.closeEntry()
    zout.putNextEntry(new java.util.zip.ZipEntry("123456/b.json.gz"))
    val gz = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(gz)
    g.write((line + "\n" + line).getBytes("UTF-8")); g.close()
    zout.write(gz.toByteArray); zout.closeEntry()
    zout.close()
    val zip = bos.toByteArray
    val fetcher = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] = Some(zip)
    }
    val staged = Extract.amplitudeExport("https://amplitude.example",
      LocalDateTime.of(2021, 9, 17, 0, 0), LocalDateTime.of(2021, 9, 17, 1, 0),
      dir, fetcher)
    assert(staged.size == 2) // both members staged, nested path flattened
    assert(staged.exists(_.endsWith("export_20210917T00_a.json")))
    assert(staged.exists(_.endsWith("export_20210917T00_b.json.gz")))
    // staged dir reads as one scan; Spark decompresses the .gz member
    val df = Sources.staged(spark, dir, Model.amplitudeSchema)
    assert(df.count() == 3)
    assert(df.select("event_type").distinct().collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  test("mixpanel export: where + event list pushed into the query string") {
    val dir = Files.createTempDirectory("mp-extract").toString
    var captured = ""
    val fetcher = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] = { captured = url; Some("{}".getBytes) }
    }
    Extract.mixpanelExport("https://mp.example", "2021-01-01", "2021-01-31",
      Some("""defined(properties["$source"])"""), Seq("click", "view"), dir, fetcher)
    assert(captured.contains("from_date=2021-01-01"))
    assert(captured.contains("where=defined%28properties%5B%22%24source%22%5D%29"))
    assert(captured.contains("event=%5B%22click%22%2C%22view%22%5D"))
  }

  /** Fake /engage speaking the reference's cursor protocol
    * (mixpanelETL.js:144-182): every reply is
    * `{"page","page_size","session_id","results"}`, the first call carries
    * no cursor, and every later call must thread the session_id issued on
    * the first reply. `total` profiles are served `serverPageSize` at a
    * time, whatever size the client asks for.
    */
  class FakeEngage(total: Int, serverPageSize: Int,
      sessionOnEveryReply: Boolean = true) extends Extract.Fetcher {
    val urls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def get(url: String): Option[Array[Byte]] = {
      urls.add(url)
      val page = FakeEngage.page(url)
      if (page > 0) assert(url.contains("session_id=sess-1"), s"cursor dropped: $url")
      else assert(!url.contains("session_id"), s"stale cursor: $url")
      val results = (page * serverPageSize until math.min(total, (page + 1) * serverPageSize))
        .map(i => s"""{"$$distinct_id":"u$i","$$properties":{"plan":"p$i"}}""")
      val sess = if (page == 0 || sessionOnEveryReply) """"session_id":"sess-1",""" else ""
      Some(s"""{"page":$page,"page_size":$serverPageSize,$sess"results":[${results.mkString(",")}]}"""
        .getBytes("UTF-8"))
    }
    def urlList: Seq[String] = urls.toArray.map(_.toString).toSeq
  }

  object FakeEngage {
    def page(url: String): Int = "&page=(\\d+)".r.findFirstMatchIn(url).fold(0)(_.group(1).toInt)
  }

  private def stagedIds(dir: String): Seq[String] =
    spark.read.schema(Model.engageSchema).json(dir)
      .collect().map(_.getString(0)).toSeq

  test("mixpanel engage: serial pagination stages one file per page until exhausted") {
    val dir = Files.createTempDirectory("engage-extract").toString
    val fetcher = new FakeEngage(total = 6, serverPageSize = 3)
    val staged = Extract.mixpanelEngage("https://mp.example", dir, fetcher, pageSize = 3)
    assert(staged.size == 3) // 3 + 3 + an empty short page
    assert(fetcher.urls.size == 3) // one GET per page
    assert(spark.read.json(dir).count() == 6)
  }

  test("mixpanel engage: cursor threaded after page 0") {
    val dir = Files.createTempDirectory("engage-cursor").toString
    val fetcher = new FakeEngage(total = 5, serverPageSize = 2)
    Extract.mixpanelEngage("https://mp.example", dir, fetcher, pageSize = 2)
    val urls = fetcher.urlList
    assert(urls.size == 3, urls.toString) // 2 + 2 + a short page of 1
    assert(!urls.head.contains("&page=") && !urls.head.contains("session_id"), urls.head)
    assert(urls(1).endsWith("&session_id=sess-1&page=1"), urls(1))
    assert(urls(2).endsWith("&session_id=sess-1&page=2"), urls(2))
    assert(stagedIds(dir).sorted == (0 until 5).map(i => s"u$i"))
  }

  test("mixpanel engage: server page_size below the requested size truncates no page") {
    // Mixpanel caps page_size at 1000; here the server caps at 2 while the
    // client asks for 1000. Termination must follow the SERVER-reported
    // page_size — comparing against the request would see every page as
    // short and stop after page 0.
    val dir = Files.createTempDirectory("engage-cap").toString
    val fetcher = new FakeEngage(total = 5, serverPageSize = 2)
    Extract.mixpanelEngage("https://mp.example", dir, fetcher, pageSize = 1000)
    assert(stagedIds(dir).size == 5, "server-capped pages were truncated")
    assert(fetcher.urls.size == 3, fetcher.urlList.toString)
  }

  test("mixpanel engage: a mid-walk reply without session_id keeps the cursor") {
    // session_id only on the first reply; the fake asserts every later
    // call still carries it
    val dir = Files.createTempDirectory("engage-capture-once").toString
    val fetcher = new FakeEngage(total = 5, serverPageSize = 2, sessionOnEveryReply = false)
    Extract.mixpanelEngage("https://mp.example", dir, fetcher, pageSize = 2)
    assert(stagedIds(dir).size == 5)
    assert(fetcher.urls.size == 3, fetcher.urlList.toString)
  }

  test("mixpanel engage: a 5xx mid-walk re-fetches the identical URL, no duplicate or skipped profile") {
    // page 1 fails once with a transient 503 before succeeding — the
    // retry must re-GET the identical URL (same session_id + page)
    val dir = Files.createTempDirectory("engage-retry").toString
    val inner = new FakeEngage(total = 5, serverPageSize = 2)
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flaky = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] =
        if (FakeEngage.page(url) == 1 && !failedOnce.getAndSet(true)) {
          inner.urls.add(url)
          throw new java.io.IOException("HTTP 503 Service Unavailable")
        } else inner.get(url)
    }
    Extract.mixpanelEngage("https://mp.example", dir,
      new Extract.RetryingFetcher(flaky, 3), pageSize = 2)
    val ids = stagedIds(dir)
    assert(ids.size == 5 && ids.distinct.size == 5, s"dup or skip after retry: $ids")
    // exactly one extra call (the failed attempt), byte-identical to the retry
    val urls = inner.urlList
    assert(urls.size == 4, urls.toString)
    val p1 = urls.filter(_.endsWith("&page=1"))
    assert(p1.size == 2 && p1.distinct.size == 1, s"retry URL differs: $p1")
  }

  test("mixpanel engage: an exhausted retry budget propagates after exactly 3 attempts") {
    val dir = Files.createTempDirectory("engage-dead").toString
    val inner = new FakeEngage(total = 5, serverPageSize = 2)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val dead = new Extract.Fetcher {
      def get(url: String): Option[Array[Byte]] =
        if (FakeEngage.page(url) == 1) {
          attempts.incrementAndGet()
          throw new java.io.IOException("HTTP 503")
        } else inner.get(url)
    }
    val e = intercept[java.io.IOException] {
      Extract.mixpanelEngage("https://mp.example", dir,
        new Extract.RetryingFetcher(dead, 3), pageSize = 2)
    }
    assert(attempts.get() == 3, s"expected 3 attempts, got ${attempts.get()}")
    assert(e.getMessage.contains("503"), e.toString)
  }

  test("mixpanel engage: a second call starts a fresh walk with no stale cursor") {
    val fetcher = new FakeEngage(total = 5, serverPageSize = 2)
    val first = Files.createTempDirectory("engage-walk1").toString
    Extract.mixpanelEngage("https://mp.example", first, fetcher, pageSize = 2)
    fetcher.urls.clear()
    val second = Files.createTempDirectory("engage-walk2").toString
    Extract.mixpanelEngage("https://mp.example", second, fetcher, pageSize = 2)
    assert(stagedIds(first).sorted == stagedIds(second).sorted, "re-walk is not idempotent")
    val urls = fetcher.urlList
    assert(urls.size == 3, urls.toString)
    assert(urls.count(!_.contains("session_id=")) == 1, urls.toString)
  }

  test("mixpanel engage: staged profiles feed Pipeline as people with distinct_id and plan") {
    val staged = Files.createTempDirectory("engage-roundtrip").toString
    Extract.mixpanelEngage("https://mp.example", staged,
      new FakeEngage(total = 3, serverPageSize = 2), pageSize = 2)
    val events = Files.createTempDirectory("engage-roundtrip-events")
    Files.write(events.resolve("export.json"),
      """{"event":"click","distinct_id":"u0","time":1700000000,"insert_id":"a","source":"mp","properties":{}}"""
        .getBytes("UTF-8"))
    val out = Pipeline.transform(spark, Pipeline.MixpanelStaged(events.toString,
      doEvents = false, doPeople = true, peoplePath = Some(staged)))
    val profiles = out.profiles.get.collect()
      .map(r => r.getAs[String]("distinct_id") -> r.getAs[Map[String, String]]("set")("plan"))
    assert(profiles.sorted.toSeq == Seq("u0" -> "p0", "u1" -> "p1", "u2" -> "p2"),
      profiles.toSeq)
  }

  test("paginated staging fails loudly when maxPages cuts a walk short") {
    val fetch = (p: Int) => if (p < 3) Some(Seq(s"""{"p":$p}""")) else None
    val capped = Files.createTempDirectory("pages-capped").toString
    val e = intercept[IllegalStateException] {
      Sources.paginatedToStaging(fetch, capped, maxPages = 2)
    }
    assert(e.getMessage.contains("maxPages=2"), e.getMessage)
    // a walk that ends exactly at the cap is complete, not truncated
    val exact = Files.createTempDirectory("pages-exact").toString
    assert(Sources.paginatedToStaging(fetch, exact, maxPages = 3).size == 3)
  }
}
