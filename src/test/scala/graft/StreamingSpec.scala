package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.IncrementalPipeline
import graft.operators.Multimodal

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("incremental file stream dedups by insert_id and drives the batched sink") {
    val staging = Files.createTempDirectory("stream-in").toString
    val checkpoint = Files.createTempDirectory("stream-ck").toString
    val t0 = 1700000000L
    def line(id: String, t: Long): String =
      s"""{"event":"e","distinct_id":"u","time":$t,"insert_id":"$id","source":"s","properties":{"k":"v"}}"""
    // duplicate insert_id i1 appears twice within the watermark window
    Files.write(java.nio.file.Paths.get(staging, "b1.json"),
      Seq(line("i1", t0), line("i2", t0 + 10), line("i1", t0 + 20))
        .mkString("\n").getBytes)

    RecordingTransport.bodies.clear()
    RecordingTransport.failFirstN.set(0)
    val stream = IncrementalPipeline.eventStream(spark, staging)
    val q = IncrementalPipeline.toHttpSink(stream,
      graft.sinks.BatchedHttpSink.SinkConfig(url = "http://t", maxRetries = 0),
      new RecordingTransport, checkpoint)
    q.processAllAvailable()
    // late second file: new id arrives, duplicate suppressed by state
    Files.write(java.nio.file.Paths.get(staging, "b2.json"),
      Seq(line("i2", t0 + 30), line("i3", t0 + 40)).mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()

    val sent = RecordingTransport.bodies.toArray(Array.empty[Array[Byte]])
      .map { b =>
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
        new String(in.readAllBytes(), "UTF-8")
      }.mkString
    val ids = "\"\\$insert_id\":\"(i\\d)\"".r.findAllMatchIn(sent).map(_.group(1)).toSeq
    assert(ids.sorted == Seq("i1", "i2", "i3"), s"got $ids")
    // the batch path's event shape, `$source` included
    assert("\"\\$source\":\"s\"".r.findAllIn(sent).size == ids.size, sent)
  }

  test("watermarked tumbling-window aggregation over the file stream") {
    val staging = Files.createTempDirectory("stream-agg").toString
    val t0 = 1700000000L // aligned to minute boundaries below
    def line(id: String, t: Long, v: Double): String =
      s"""{"event":"e","distinct_id":"u","time":$t,"insert_id":"$id","source":"s","properties":{"v":"$v"}}"""
    Files.write(java.nio.file.Paths.get(staging, "w1.json"),
      Seq(line("a", t0, 1.0), line("b", t0 + 30, 2.0), line("c", t0 + 90, 5.0))
        .mkString("\n").getBytes)
    val stream = spark.readStream
      .schema(graft.model.Model.mpEventSchema)
      .json(staging)
      .withColumn("event_time", to_timestamp(from_unixtime(col("time"))))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("event"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    q.processAllAvailable()
    val rows = spark.table("winagg")
      .select(col("window.start").cast("long").as("w"), col("n"))
      .as[(Long, Long)].collect().toMap
    q.stop()
    // t0 is minute-aligned? normalize: window start floor to minute
    val w0 = t0 - (t0 % 60)
    assert(rows.getOrElse(w0, 0L) + rows.getOrElse(w0 + 60, 0L) == 3L)
    assert(rows.size == 2) // events span exactly two 1-minute windows
  }

  test("session_window streaming aggregation mirrors the batch sessionize semantics") {
    val staging = Files.createTempDirectory("stream-sess").toString
    val t0 = 1700000000L
    def line(id: String, t: Long): String =
      s"""{"event":"e","distinct_id":"u1","time":$t,"insert_id":"$id","source":"s","properties":{}}"""
    // two bursts separated by > 30min → two sessions
    Files.write(java.nio.file.Paths.get(staging, "s1.json"),
      (Seq(line("a", t0), line("b", t0 + 60), line("c", t0 + 120)) ++
        Seq(line("d", t0 + 5000), line("e", t0 + 5030)))
        .mkString("\n").getBytes)
    val stream = spark.readStream
      .schema(graft.model.Model.mpEventSchema)
      .json(staging)
      .withColumn("event_time", to_timestamp(from_unixtime(col("time"))))
      .withWatermark("event_time", "1 hour")
      .groupBy(session_window(col("event_time"), "30 minutes"), col("distinct_id"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("sessagg")
      .outputMode("complete").start()
    q.processAllAvailable()
    val rows = spark.table("sessagg")
      .select(col("session_window.start").cast("long"), col("n"))
      .as[(Long, Long)].collect().sortBy(_._1)
    q.stop()
    assert(rows.length == 2)
    assert(rows(0) == ((t0, 3L)) && rows(1) == ((t0 + 5000, 2L)))
  }

  test("streaming curation: dedup, quality gate, PII redaction, decontamination") {
    import graft.streaming.StreamingCuration
    val staging = Files.createTempDirectory("stream-cur").toString
    val t0 = 1700000000L
    val good = "the quick brown fox jumps over a lazy dog while the bright sun " +
      "sets behind tall green hills and children play near the quiet river " +
      "bank for hours watching small boats drift slowly past old wooden docks"
    val lowQ = "x" // fails quality (too short)
    val spam = "spam spam spam spam spam spam spam spam spam spam " +
      "spam spam spam spam spam spam spam spam the a of to and in is it for go" // repetitive
    val pii = good + " contact bob@mail.example.com now"
    val contaminated = good + " alpha beta gamma delta epsilon"
    def line(id: Long, text: String, t: Long): String = {
      val esc = text.replace("\"", "\\\"")
      s"""{"doc_id":$id,"text":"$esc","lang":"en","source":"s1","ingest_ts":$t}"""
    }
    Files.write(java.nio.file.Paths.get(staging, "d1.json"),
      Seq(line(1, good, t0), line(2, good, t0 + 5), // exact re-drop of 1
        line(3, lowQ, t0 + 10), line(4, spam, t0 + 15),
        line(5, pii, t0 + 20), line(6, contaminated, t0 + 25))
        .mkString("\n").getBytes)

    val bench = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val curated = StreamingCuration.decontaminate(
      StreamingCuration.curate(
        StreamingCuration.documentStream(spark, staging)),
      bench, "text", n = 5)
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    q.processAllAvailable()
    val rows = spark.table("curated").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    q.stop()
    assert(rows.keySet == Set(1L, 5L),
      s"expected dedup(2), quality(3), repetition(4), contamination(6) drops: ${rows.keySet}")
    assert(rows(5L).contains("<EMAIL>") && !rows(5L).contains("bob@"),
      s"PII must be redacted in-stream: ${rows(5L)}")
  }

  test("streaming decontaminate refuses an over-budget eval suite loudly") {
    import graft.streaming.StreamingCuration
    // 30 distinct 3-grams against a ceiling of 10: the inline-literal path
    // must fail with the foreachBatch prescription, not silently build the
    // plan — and materialize at most ceiling+1 rows while refusing
    val bench = Seq((1 to 32).map(i => s"w$i").mkString(" ")).toDF("text")
    val docs = Seq("some stream document").toDF("text")
    val e = intercept[IllegalArgumentException] {
      StreamingCuration.decontaminate(docs, bench, "text", n = 3, maxInline = 10)
    }
    assert(e.getMessage.contains("foreachBatch"))
    // at/under budget still constructs the filter
    assert(StreamingCuration.decontaminate(docs, bench, "text", n = 3,
      maxInline = 100).count() == 1)
  }

  test("streaming near-dup dedup: an edited re-drop is suppressed within the window") {
    import graft.streaming.StreamingCuration
    val staging = Files.createTempDirectory("stream-neardup").toString
    val t0 = 1700000000L
    val original = "the quick brown fox jumps over a lazy dog while the bright " +
      "sun sets behind tall green hills and children play near the quiet " +
      "river bank for hours watching small boats drift slowly past old docks"
    // NOT byte-identical: two words edited — exact fingerprint dedup would
    // keep it, MinHash-LSH band collision must drop it
    val edited = original.replace("quick", "speedy").replace("lazy", "sleepy")
    val unrelated = "completely different subject matter entirely about deep " +
      "space telescopes measuring distant galaxy clusters through gravity " +
      "lensing surveys that map invisible dark matter structure every night"
    def line(id: Long, text: String, t: Long): String =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","ingest_ts":$t}"""
    Files.write(java.nio.file.Paths.get(staging, "n1.json"),
      Seq(line(1, original, t0), line(2, edited, t0 + 5),
        line(3, unrelated, t0 + 10)).mkString("\n").getBytes)

    val deduped = StreamingCuration.nearDupDocumentStream(spark, staging,
      watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark past t0's window so the append-mode per-doc
    // aggregation emits batch-1 verdicts
    Files.write(java.nio.file.Paths.get(staging, "n2.json"),
      line(4, "late watermark flusher document", t0 + 3600).getBytes)
    q.processAllAvailable()
    q.processAllAvailable()
    val kept = spark.table("neardup").select("doc_id")
      .as[Long].collect().toSet
    q.stop()
    assert(kept.contains(1L) && kept.contains(3L),
      s"originals must survive: $kept")
    assert(!kept.contains(2L),
      s"edited near-duplicate must be suppressed by band collision: $kept")
  }

  test("profile upsert state merges $set with last-write-wins across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[IncrementalPipeline.ProfileUpdate]
    val out = IncrementalPipeline.profileUpsertStream(spark, mem.toDF())
    val q = out.writeStream.format("memory").queryName("profiles")
      .outputMode("update").start()
    mem.addData(IncrementalPipeline.ProfileUpdate("u1", 100L, Map("a" -> "1", "b" -> "1")))
    q.processAllAvailable()
    mem.addData(IncrementalPipeline.ProfileUpdate("u1", 200L, Map("b" -> "2", "c" -> "3")))
    q.processAllAvailable()
    val rows = spark.table("profiles")
      .orderBy(col("time").desc).limit(1)
      .select("set").as[Map[String, String]].head()
    assert(rows == Map("a" -> "1", "b" -> "2", "c" -> "3"))
    q.stop()
  }

  test("streaming decode quarantines corrupt media without failing the query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val good = {
      val img = new java.awt.image.BufferedImage(3, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val mem = MemoryStream[Multimodal.BinaryDoc]
    val out = Multimodal.decodeMeta(spark, mem.toDF())
    val q = out.writeStream.format("memory").queryName("media_meta")
      .outputMode("append").start()
    // batch 1: a real PNG; batch 2: its 8-byte magic prefix (corrupt) —
    // the query must keep running and emit an accountable quarantine row
    mem.addData(Multimodal.BinaryDoc(1L, good))
    q.processAllAvailable()
    mem.addData(Multimodal.BinaryDoc(2L, good.take(8)))
    q.processAllAvailable()
    val rows = spark.table("media_meta").orderBy("doc_id")
      .select("doc_id", "status", "width", "height").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(rows == Seq((1L, "ok", 3, 2), (2L, "corrupt", 0, 0)))
    q.stop()
  }

  test("streaming EXECUTED resize quarantines a corrupt payload mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val good = {
      val out = new java.io.ByteArrayOutputStream()
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0x7f7f7f)
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val mem = MemoryStream[Multimodal.BinaryDoc]
    val out = Multimodal.resizeExec(spark, mem.toDF(), 4, 4)
    val q = out.writeStream.format("memory").queryName("resize_exec_stream")
      .outputMode("append").start()
    mem.addData(Multimodal.BinaryDoc(1L, good))
    q.processAllAvailable()
    // mid-stream corrupt payload (IHDR-only PNG): the executed-pixels
    // tier must quarantine and keep the query alive for the next batch
    mem.addData(Multimodal.BinaryDoc(2L, good.take(33)))
    q.processAllAvailable()
    mem.addData(Multimodal.BinaryDoc(3L, good))
    q.processAllAvailable()
    val rows = spark.table("resize_exec_stream").orderBy("doc_id")
      .select("doc_id", "status", "out_w", "out_h").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(rows == Seq((1L, "ok", 4, 3), (2L, "corrupt", 0, 0), (3L, "ok", 4, 3)))
    q.stop()
  }

  test("streaming HLL registers merge across batches to the batch vector") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val keys = (0 until 300).map(i => s"k${i % 97}")
    val mem = MemoryStream[String]
    val agg = mem.toDF().toDF("key")
      .agg(graft.functions.Fns.hllRegisters(col("key"), 32).as("regs"))
    val q = agg.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    val (a, b) = keys.splitAt(120) // two batches with overlapping keys
    mem.addData(a: _*); q.processAllAvailable()
    mem.addData(b: _*); q.processAllAvailable()
    val streamed = spark.table("hll_stream").head().getSeq[Int](0)
    val batch = keys.toDF("key")
      .agg(graft.functions.Fns.hllRegisters(col("key"), 32))
      .head().getSeq[Int](0)
    // max-merge is order/batching-independent: stream == batch bit-for-bit
    assert(streamed == batch)
    q.stop()
  }

  test("streaming log-histogram merges across batches to the batch buckets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vals = (0 until 500).map(i => (i * 2654435761L) % 100000L)
    val mem = MemoryStream[Long]
    val agg = mem.toDF().toDF("v")
      .agg(graft.functions.Fns.logHistogram(col("v"), 4).as("h"))
    val q = agg.writeStream.format("memory").queryName("lh_stream")
      .outputMode("complete").start()
    val (a, b) = vals.splitAt(170)
    mem.addData(a: _*); q.processAllAvailable()
    mem.addData(b: _*); q.processAllAvailable()
    val streamed = spark.table("lh_stream")
      .select(explode(col("h")).as("e")).select("e.b", "e.n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = vals.toDF("v")
      .agg(graft.functions.Fns.logHistogram(col("v"), 4).as("h"))
      .select(explode(col("h")).as("e")).select("e.b", "e.n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // count-sum merge is batching-independent: stream == batch exactly
    assert(streamed === batch)
    q.stop()
  }

  test("streaming KMV sketch merges across batches to the batch minima") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // scattered ids with repeats split across batches — the bounded
    // TreeSet state must dedup across the batch boundary too
    val ids = (0 until 400).map(i => (1000L + (i * 7919L) % 331L))
    val mem = MemoryStream[Long]
    val agg = mem.toDF().toDF("h")
      .agg(graft.functions.Fns.kmvMinima(col("h"), 16).as("mins"))
    val q = agg.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    val (a, b) = ids.splitAt(150)
    mem.addData(a: _*); q.processAllAvailable()
    mem.addData(b: _*); q.processAllAvailable()
    val streamed = spark.table("kmv_stream").head().getSeq[Long](0)
    val batch = ids.toDF("h")
      .agg(graft.functions.Fns.kmvMinima(col("h"), 16))
      .head().getSeq[Long](0)
    assert(streamed == batch, "bottom-k union is batching-independent")
    assert(batch == ids.distinct.sorted.take(16))
    q.stop()
  }

  test("streaming perceptual hash quarantines mid-stream, hashes match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val good = {
      val out = new java.io.ByteArrayOutputStream()
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16)
        img.setRGB(x, y, ((x * 7 + y * 13) % 256) * 0x010101)
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val mem = MemoryStream[Multimodal.BinaryDoc]
    val out = Multimodal.perceptualHash(spark, mem.toDF())
    val q = out.writeStream.format("memory").queryName("phash_stream")
      .outputMode("append").start()
    mem.addData(Multimodal.BinaryDoc(1L, good))
    q.processAllAvailable()
    mem.addData(Multimodal.BinaryDoc(2L, good.take(20))) // mid-stream corrupt
    q.processAllAvailable()
    mem.addData(Multimodal.BinaryDoc(3L, good))
    q.processAllAvailable()
    val rows = spark.table("phash_stream").orderBy("doc_id")
      .select("doc_id", "status", "ahash_hi", "ahash_lo").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    import spark.implicits._
    val batchRow = Multimodal.perceptualHash(spark,
      Seq(Multimodal.BinaryDoc(9L, good)).toDF("doc_id", "payload")).head()
    assert(rows(0)._2 == "ok" && rows(1)._2 == "corrupt" && rows(2)._2 == "ok")
    assert(rows(0)._3 == batchRow.ahash_hi && rows(0)._4 == batchRow.ahash_lo)
    assert(rows(2)._3 == rows(0)._3 && rows(2)._4 == rows(0)._4)
    q.stop()
  }

  test("stream-stream interval join matches within the window only, " +
      "watermarked state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, String)] // (user, epoch, ad)
    val buys = MemoryStream[(Long, Long, Double)]   // (user, epoch, amount)
    val l = clicks.toDF().toDF("user", "ct", "ad")
      .withColumn("click_ts", col("ct").cast("timestamp")).drop("ct")
    val r = buys.toDF().toDF("user", "bt", "amount")
      .withColumn("buy_ts", col("bt").cast("timestamp")).drop("bt")
    val joined = graft.streaming.StreamJoins.intervalJoin(
      l, r, "user", "click_ts", "buy_ts",
      windowSec = 600, watermarkSec = 60)
    val q = joined.writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    val t0 = 1700000000L
    clicks.addData((1L, t0, "adA"), (2L, t0 + 5, "adB"), (3L, t0, "adC"))
    buys.addData(
      (1L, t0 + 100, 9.99),   // within 600s -> match
      (2L, t0 + 700, 5.00),   // beyond window -> no match
      (3L, t0 - 10, 1.00),    // BEFORE the click -> no match
      (1L, t0 + 500, 2.50))   // second purchase within window -> match
    q.processAllAvailable()
    val rows = spark.table("attr_stream")
      .select("user", "ad", "amount", "lag_sec")
      .orderBy("user", "lag_sec").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2), x.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, "adA", 9.99, 100L), (1L, "adA", 2.5, 500L)))
    q.stop()
  }

  test("stream-static dimension enrichment: broadcast dim, no state, matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    // static dim (nation-shaped) joined to a fact stream — the standard
    // enrichment: stateless (no watermark), dim broadcast per micro-batch
    val dim = Seq((0, "NA"), (1, "EU"), (2, "APAC")).toDF("region_id", "region")
    val mem = MemoryStream[(Long, Int, Double)]
    val enriched = mem.toDF().toDF("order_id", "region_id", "amount")
      .join(broadcast(dim), Seq("region_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("dim_stream")
      .outputMode("append").start()
    val facts = Seq((1L, 0, 9.99), (2L, 2, 5.0), (3L, 7, 1.0), (4L, 1, 2.5))
    val (b1, b2) = facts.splitAt(2)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    val streamed = spark.table("dim_stream")
      .select("order_id", "region").orderBy("order_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    val batch = facts.toDF("order_id", "region_id", "amount")
      .join(dim, Seq("region_id"), "left")
      .select("order_id", "region").orderBy("order_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(streamed === batch)
    assert(streamed.find(_._1 == 3L).get._2.isEmpty,
      "unmatched key passes through null (left join semantics)")
    q.stop()
  }

  test("windowed stateful funnel: conversion window enforced across batches, " +
      "stream == batch completions on time-ordered arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fixture = Seq(
      // u1 completes inside the window (t0=10, window=100)
      (1L, "view", 10L), (1L, "click", 40L), (1L, "purchase", 90L),
      // u2's purchase is after the click but PAST t0+window
      (2L, "view", 10L), (2L, "click", 40L), (2L, "purchase", 130L),
      // u3 never clicks
      (3L, "view", 10L), (3L, "purchase", 20L))
    val mem = MemoryStream[(Long, String, Long)]
    val out = graft.streaming.StreamJoins.funnelProgressWindowed(
      mem.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
      windowSec = 100L)
    val q = out.writeStream.format("memory").queryName("wfunnel_stream")
      .outputMode("update").start()
    val (b1, b2) = fixture.sortBy(_._3).splitAt(4) // time-ordered batches
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    val last = spark.table("wfunnel_stream")
      .orderBy(col("user"), col("n_events").desc)
      .dropDuplicates("user").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(last === Map(1L -> 3, 2L -> 2, 3L -> 1),
      "u2 stalls at click (purchase outside window), u3 at view")
    // identity vs the batch windowed funnel: same completers, same times
    val batch = graft.operators.Funnels.funnelCompletions(
      fixture.toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", col("ts"),
      Seq("view", "click", "purchase"), windowSec = 100L).collect()
    assert(batch.length === 1 && batch.head.getLong(0) === 1L &&
      batch.head.getLong(1) === 10L && batch.head.getLong(2) === 90L)
    q.stop()
  }

  test("stateful streaming funnel: steps advance across batches, " +
      "batch split invisible, strict ordering enforced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Long)]
    val out = graft.streaming.StreamJoins.funnelProgress(
      mem.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    // batch 1: user 1 views+clicks; user 2's click arrives BEFORE any view
    mem.addData((1L, "view", 10L), (1L, "click", 20L), (2L, "click", 5L))
    q.processAllAvailable()
    // batch 2: user 1 purchases (step spans the batch boundary); user 2
    // views then clicks — the earlier batch-1 click must NOT count
    mem.addData((1L, "purchase", 30L), (2L, "view", 40L), (2L, "click", 50L))
    q.processAllAvailable()
    val last = spark.table("funnel_stream")
      .groupBy("user").agg(max("step_reached").as("s"), max("n_events").as("n"))
      .orderBy("user").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(last.toSeq == Seq((1L, 3, 3L), (2L, 2, 3L)))
    // batch-split invariance: one batch with all events yields the same
    val mem2 = MemoryStream[(Long, String, Long)]
    val out2 = graft.streaming.StreamJoins.funnelProgress(
      mem2.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    val q2 = out2.writeStream.format("memory").queryName("funnel_stream2")
      .outputMode("update").start()
    mem2.addData((1L, "view", 10L), (1L, "click", 20L), (2L, "click", 5L),
      (1L, "purchase", 30L), (2L, "view", 40L), (2L, "click", 50L))
    q2.processAllAvailable()
    val once = spark.table("funnel_stream2")
      .select("user", "step_reached").orderBy("user").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(once.toSeq == Seq((1L, 3), (2L, 2)))
    q.stop(); q2.stop()
  }

  test("sliding-window chunking streams as a pure projection, windows match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.Packing.slidingWindows(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      window = 4, stride = 2)
    val q = out.writeStream.format("memory").queryName("slide_stream")
      .outputMode("append").start()
    mem.addData((1L, (0 until 7).map(i => s"w$i").mkString(" ")))
    q.processAllAvailable()
    mem.addData((2L, "a b"))
    q.processAllAvailable()
    val streamed = spark.table("slide_stream")
      .orderBy("doc_id", "win_idx")
      .select("doc_id", "win_idx", "start_tok", "n_tokens", "window_text")
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Packing.slidingWindows(
        Seq((1L, (0 until 7).map(i => s"w$i").mkString(" ")), (2L, "a b"))
          .toDF("doc_id", "text"), "doc_id", "text", 4, 2)
      .orderBy("doc_id", "win_idx")
      .select("doc_id", "win_idx", "start_tok", "n_tokens", "window_text")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.size == 4)
    q.stop()
  }

  test("streaming EXECUTED audio decode quarantines mid-stream corruption, stats match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val specs = Seq(Multimodal.WavPcmSpec(1L, 8000, 2, 16, 12, 77)).toDS()
    val good = Multimodal.synthesizeWavPcm(spark, specs)
      .select("payload").as[Array[Byte]].head()
    val batch = Multimodal.audioEnergy(spark,
      Seq((1L, good)).toDF("doc_id", "payload"), 8).collect().toSeq
    val mem = MemoryStream[Multimodal.BinaryDoc]
    val out = Multimodal.audioEnergy(spark, mem.toDF(), 8)
    val q = out.writeStream.format("memory").queryName("audio_energy_stream")
      .outputMode("append").start()
    mem.addData(Multimodal.BinaryDoc(1L, good))
    q.processAllAvailable()
    mem.addData(Multimodal.BinaryDoc(2L, good.take(30))) // mid-fmt cut
    q.processAllAvailable()
    mem.addData(Multimodal.BinaryDoc(3L, good))
    q.processAllAvailable()
    val rows = spark.table("audio_energy_stream").orderBy("doc_id", "window_idx")
      .as[Multimodal.AudioWindow].collect().toSeq
    assert(rows.filter(_.doc_id == 1L) == batch.map(_.copy(doc_id = 1L)))
    assert(rows.filter(_.doc_id == 2L)
      .forall(r => r.status == "corrupt" && r.err.contains("truncated")))
    assert(rows.filter(_.doc_id == 3L).map(_.copy(doc_id = 1L)) == batch)
    q.stop()
  }

  test("streaming EXECUTED audio resample quarantines mid-stream, digest matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val specs = Seq(Multimodal.WavPcmSpec(1L, 8000, 2, 16, 13, 77)).toDS()
    val good = Multimodal.synthesizeWavPcm(spark, specs)
      .select("payload").as[Array[Byte]].head()
    val batch = Multimodal.audioResample(spark,
      Seq((1L, good)).toDF("doc_id", "payload"), 4).collect().toSeq
    val mem = MemoryStream[Multimodal.BinaryDoc]
    val out = Multimodal.audioResample(spark, mem.toDF(), 4)
    val q = out.writeStream.format("memory").queryName("audio_resample_stream")
      .outputMode("append").start()
    mem.addData(Multimodal.BinaryDoc(1L, good))
    mem.addData(Multimodal.BinaryDoc(2L, good.take(30))) // mid-fmt cut
    mem.addData(Multimodal.BinaryDoc(3L, good))
    q.processAllAvailable()
    val rows = spark.table("audio_resample_stream").orderBy("doc_id")
      .as[Multimodal.AudioResample].collect().toSeq
    assert(rows.filter(_.doc_id == 1L) == batch.map(_.copy(doc_id = 1L)))
    assert(rows.filter(_.doc_id == 2L)
      .forall(r => r.status == "corrupt" && r.err.contains("truncated")))
    assert(rows.filter(_.doc_id == 3L).map(_.copy(doc_id = 1L)) == batch)
    q.stop()
  }

  test("canonical-URL dedup streams: cross-batch state drops later surface variants") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.WebCuration
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val out = mem.toDF().toDF("doc_id", "url")
      .withColumn("canonical_url", WebCuration.canonicalizeUrl(col("url")))
      .dropDuplicates("canonical_url")
    val q = out.writeStream.format("memory").queryName("url_dedup_stream")
      .outputMode("append").start()
    mem.addData((1L, "https://A.com/x?utm_source=s"))
    q.processAllAvailable()
    // batch 2: two more surface forms of the SAME resource + one new one —
    // streaming state must remember batch 1's canonical and drop both
    mem.addData((2L, "HTTPS://www.a.COM:443/x/"), (3L, "https://a.com/x#top"),
      (4L, "https://a.com/y"))
    q.processAllAvailable()
    val rows = spark.table("url_dedup_stream")
      .select("doc_id", "canonical_url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "https://a.com/x"), (4L, "https://a.com/y")))
    q.stop()
  }

  test("piecesToIds broadcast tier streams: ids identical to batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // a production-size vocab (> MaxInlineVocab forces the broadcast
    // HashMap tier) mapping a live encoded stream to tensor-ready ids —
    // must produce byte-identical ids to the batch path
    val vocab = Seq("aa", "a", "b") ++
      (0 until graft.operators.Vocab.MaxInlineVocab + 1).map(i => s"#pad$i")
    val merges = Seq(("a", "a"))
    def encThenIds(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Vocab.piecesToIds(
        graft.operators.Vocab.bpeEncode(df, "doc_id", "text", merges), vocab)
        .select(col("doc"), col("token"), concat_ws(" ", col("ids")).as("i"))
    val mem = MemoryStream[(Long, String)]
    val out = encThenIds(mem.toDF().toDF("doc_id", "text"))
    assert(out.isStreaming, "ids tier must not break the streaming plan")
    val q = out.writeStream.format("memory").queryName("ids_stream")
      .outputMode("append").start()
    mem.addData((1L, "aaa ab zb"))
    q.processAllAvailable()
    val streamed = spark.table("ids_stream").orderBy("token")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    import spark.implicits._
    val batch = encThenIds(Seq((1L, "aaa ab zb")).toDF("doc_id", "text"))
      .orderBy("token")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(streamed == batch)
    // aaa -> [aa, a] = "0 1"; ab -> [a, b] = "1 2"; zb -> [z, b] with
    // z out-of-vocab -> "-1 2"
    assert(streamed == Seq(("aaa", "0 1"), ("ab", "1 2"), ("zb", "-1 2")))
    q.stop()
  }

  test("decodeIds broadcast tier streams: decode identical to batch, round-trip holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val vocab = Seq("aa", "a", "b") ++
      (0 until graft.operators.Vocab.MaxInlineVocab + 1).map(i => s"#pad$i")
    val merges = Seq(("a", "a"))
    def fullPath(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Vocab.decodeIds(
        graft.operators.Vocab.piecesToIds(
          graft.operators.Vocab.bpeEncode(df, "doc_id", "text", merges), vocab),
        vocab)
        .select(col("doc"), col("token"), col("decoded"))
    val mem = MemoryStream[(Long, String)]
    val out = fullPath(mem.toDF().toDF("doc_id", "text"))
    assert(out.isStreaming, "decode tier must not break the streaming plan")
    val q = out.writeStream.format("memory").queryName("decode_stream")
      .outputMode("append").start()
    mem.addData((1L, "aaa ab zb"))
    q.processAllAvailable()
    val streamed = spark.table("decode_stream").orderBy("token")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    import spark.implicits._
    val batch = fullPath(Seq((1L, "aaa ab zb")).toDF("doc_id", "text"))
      .orderBy("token")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(streamed == batch)
    // covered tokens round-trip exactly; zb holds the [UNK] sentinel for z
    assert(streamed == Seq(("aaa", "aaa"), ("ab", "ab"), ("zb", "[UNK]b")))
    q.stop()
  }

  test("pqEncode applies offline-trained codebooks to a live stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // codebooks trained OFFLINE on a batch corpus; encode is a literal-
    // books projection, so the same operator serves the stream unchanged
    val corpus = (0L until 16L).map { i =>
      (i, (0 until 8).map(d => (if (i % 2 == 0) 1.0 else -1.0) + 0.01 * d))
    }.toDF("vec_id", "embedding")
    val books = graft.operators.Ann.pqCodebooks(corpus, "vec_id", "embedding",
      m = 2, k = 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = graft.operators.Ann.pqEncode(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", books)
    assert(out.isStreaming, "pqEncode must not break the streaming plan")
    val q = out.writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    val fresh = Seq(
      (100L, (0 until 8).map(_ => 1.02)), (101L, (0 until 8).map(_ => -0.98)))
    mem.addData(fresh: _*)
    q.processAllAvailable()
    val streamed = spark.table("pq_stream").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSeq
    val batch = graft.operators.Ann.pqEncode(
        fresh.toDF("vec_id", "embedding"), "vec_id", "embedding", books)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSeq
    assert(streamed == batch)
    // the two fresh vectors land in opposite clusters in every subspace
    assert(streamed.head._2 != streamed(1)._2)
    q.stop()
  }

  test("bpeEncode runs unchanged on a stream (tokenization as projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // merges learned OFFLINE (batch) are applied to a LIVE stream — the
    // encode side is a pure projection, so the same operator serves both
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.Vocab.bpeEncode(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      Seq(("a", "a"), ("aa", "a"), ("a", "b")))
      .select(col("doc"), col("token"), concat_ws(" ", col("pieces")).as("p"))
    val q = out.writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    mem.addData((1L, "aaa ab ba"))
    q.processAllAvailable()
    val rows = spark.table("bpe_stream").orderBy("token")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(("aaa", "aaa"), ("ab", "ab"), ("ba", "b a")))
    q.stop()
  }

  test("unigramEncode streams: Viterbi segmentation identical to batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // a vocab trained OFFLINE segments a LIVE stream — broadcast map +
    // mapPartitions keeps the plan streaming-capable; paths must be
    // byte-identical to the batch Viterbi ("ab" piece outweighs a·b)
    val vocab = Seq(("a", 2L), ("b", 1L), ("ab", 6L), ("ba", 3L))
    def enc(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Vocab.unigramEncode(df, "doc_id", "text", vocab, maxPieceLen = 2)
        .select(col("doc"), col("token"), concat_ws(" ", col("pieces")).as("p"))
    val mem = MemoryStream[(Long, String)]
    val out = enc(mem.toDF().toDF("doc_id", "text"))
    assert(out.isStreaming, "unigramEncode must not break the streaming plan")
    val q = out.writeStream.format("memory").queryName("unigram_stream")
      .outputMode("append").start()
    mem.addData((1L, "abab aab zb"))
    q.processAllAvailable()
    val streamed = spark.table("unigram_stream").orderBy("token")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    import spark.implicits._
    val batch = enc(Seq((1L, "abab aab zb")).toDF("doc_id", "text"))
      .orderBy("token").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(streamed == batch)
    // abab -> ab·ab (p=.25 beats any split using a/b); aab -> a·ab;
    // zb -> [UNK] (z uncovered)
    assert(streamed == Seq(("aab", "a ab"), ("abab", "ab ab"), ("zb", "[UNK]")))
    q.stop()
  }

  test("multiPatternCount blocklist gate streams: counts identical to batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the Aho–Corasick automaton is a plan-time reference object and the
    // count a pure codegen projection — the SAME expression serves the
    // batch filter tier and a live stream gate
    val pats = Seq("bad word", "spamx")
    val docs = Seq((1L, "a Bad Word here and spamx twice spamx"),
      (2L, "clean text"), (3L, "badword no boundary hit"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.Fns.multiPatternCount(col("text"), pats).as("n_blocked"))
    val mem = MemoryStream[(Long, String)]
    val out = gate(mem.toDF().toDF("doc_id", "text"))
    assert(out.isStreaming, "multiPatternCount must not break the streaming plan")
    val q = out.writeStream.format("memory").queryName("mp_stream")
      .outputMode("append").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    val streamed = spark.table("mp_stream").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = gate(docs.toDF("doc_id", "text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch)
    assert(streamed == Seq((1L, 3L), (2L, 0L), (3L, 0L)))
    q.stop()
  }

  test("streaming phrase gate (AC phrase patterns) matches batch phraseSearch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // phraseSearch's corpus-index form needs two chained aggregations
    // (start votes, then matches) — not a streaming shape. The streaming
    // rendering of the SAME gate: each phrase is a multi-word AC pattern
    // (spaces are ordinary bytes to the automaton), evaluated per doc as
    // a pure projection. Identity: a doc passes the streamed gate for
    // phrase p iff batch phraseSearch reports (p, doc) with n_matches>=1.
    val phrases = Map(1 -> "table hash", 2 -> "slow key")
    val docs = Seq(
      (10L, "the table hash join uses a slow key probe"),
      (11L, "hash table inverted order never matches"),
      (12L, "slow key slow key twice"),
      (13L, "nothing relevant"))
    val mem = MemoryStream[(Long, String)]
    val hitCols = phrases.toSeq.sortBy(_._1).map { case (pid, p) =>
      (graft.functions.Fns.multiPatternCount(col("text"), Seq(p)) >= 1L)
        .as(s"hit_$pid")
    }
    val streamGate = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id") +: hitCols: _*)
    assert(streamGate.isStreaming)
    val q = streamGate.writeStream.format("memory").queryName("phrase_stream")
      .outputMode("append").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    val streamed = spark.table("phrase_stream").collect().flatMap { r =>
      phrases.keys.toSeq.sorted.zipWithIndex.collect {
        case (pid, i) if r.getBoolean(i + 1) => (pid, r.getLong(0))
      }
    }.toSet
    val batch = graft.operators.Retrieval.phraseSearch(
        docs.toDF("doc_id", "text"), "doc_id", "text", phrases)
      .filter(col("n_matches") >= 1)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream gate $streamed != batch phraseSearch $batch")
    assert(streamed == Set((1, 10L), (2, 10L), (2, 12L)))
    q.stop()
  }

  test("streaming SCD-2 version tracker: changes span batches, repeats " +
      "collapse, summary matches the batch runLengthVersions aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // (key, t, tie, state): key 1 changes a→b across the batch boundary
    // and repeats b (must collapse); key 2 never changes.
    val batch1 = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "a"), (2L, 5L, 3L, "x"))
    val batch2 = Seq((1L, 30L, 4L, "b"), (1L, 40L, 5L, "b"), (2L, 50L, 6L, "x"))
    val mem = MemoryStream[(Long, Long, Long, String)]
    val out = graft.streaming.StreamJoins.versionTracker(
      mem.toDF().toDF("k", "t", "tie", "s"), "k", "t", "tie", "s")
    val q = out.writeStream.format("memory").queryName("scd2_stream")
      .outputMode("update").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    val streamed = spark.table("scd2_stream")
      .groupBy("key").agg(max(struct(col("n_versions"), col("last_change_t"),
        col("first_t"), col("current_state"))).as("m"))
      .select(col("key"), col("m.n_versions"), col("m.first_t"),
        col("m.last_change_t"), col("m.current_state"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    // batch formulation: runLengthVersions + the scd2_user_versions agg
    val allRows = (batch1 ++ batch2).toDF("k", "t", "tie", "s")
    val batch = graft.operators.TimeSeries
      .runLengthVersions(allRows, "k", "t", "tie", "s")
      .groupBy("key")
      .agg(count(lit(1)).as("n_versions"), min("t").as("first_t"),
        max("t").as("last_change_t"),
        max_by(col("state"), col("t") * lit(100000000L) + col("tie"))
          .as("current_state"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set((1L, 2L, 10L, 30L, "b"), (2L, 1L, 5L, 5L, "x")))
    q.stop()
  }

  test("streaming growth tracker: classifications span batches, gap-proven " +
      "churn emits retroactively, matches the batch lag/lead classification") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: days 10,11 then 14 (gap ⇒ churned@12 + resurrected@14);
    // user 2: day 5 twice (duplicate collapses); user 3 appears late.
    val batch1 = Seq((1L, 10L), (1L, 11L), (2L, 5L))
    val batch2 = Seq((1L, 14L), (2L, 5L), (3L, 7L))
    val mem = MemoryStream[(Long, Long)]
    val out = graft.streaming.StreamJoins.growthTracker(
      mem.toDF().toDF("u", "d"), "u", "d")
    val q = out.writeStream.format("memory").queryName("growth_stream")
      .outputMode("update").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    val streamed = spark.table("growth_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // batch formulation (the a13 lag/lead classification), restricted to
    // the incremental fold's common domain: churn only when gap-proven.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("d")
    val ud = (batch1 ++ batch2).toDF("u", "d").distinct()
      .withColumn("prev", lag(col("d"), 1).over(w))
      .withColumn("nxt", lead(col("d"), 1).over(w))
    val actB = ud.select(col("u"), col("d"),
      when(col("prev").isNull, "new")
        .when(col("prev") === col("d") - 1, "retained")
        .otherwise("resurrected").as("cls"))
    val churnB = ud.filter(col("nxt") > col("d") + 1)
      .select(col("u"), (col("d") + 1).as("d"), lit("churned").as("cls"))
    val batch = actB.unionByName(churnB).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set(
      (1L, 10L, "new"), (1L, 11L, "retained"),
      (1L, 12L, "churned"), (1L, 14L, "resurrected"),
      (2L, 5L, "new"), (3L, 7L, "new")))
    q.stop()
  }

  test("streaming touch attribution: conversions attribute to strictly " +
      "preceding touches across batches, matches the batch window pair") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // user 1: view, click, purchase | signup, purchase — second conversion
    // sees first=view (sticky) and last=signup (batch-spanning state);
    // user 2 converts cold → (direct).
    val batch1 = Seq((1L, "view", 1L, 1L, 0.0), (1L, "click", 2L, 2L, 0.0),
      (1L, "purchase", 3L, 3L, 10.0))
    val batch2 = Seq((1L, "signup", 4L, 4L, 0.0),
      (1L, "purchase", 5L, 5L, 5.0), (2L, "purchase", 1L, 6L, 2.0))
    val mem = MemoryStream[(Long, String, Long, Long, Double)]
    val out = graft.streaming.StreamJoins.touchAttribution(
      mem.toDF().toDF("u", "et", "t", "tie", "v"),
      "u", "et", "t", "tie", "v", "purchase")
    val q = out.writeStream.format("memory").queryName("attr_stream")
      .outputMode("update").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    val streamed = spark.table("attr_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4))).toSet
    // batch formulation: the a14 IGNORE-NULLS window pair
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("t", "tie")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val touch = when(col("et") =!= "purchase", col("et"))
    val batch = (batch1 ++ batch2).toDF("u", "et", "t", "tie", "v")
      .withColumn("ft", first(touch, ignoreNulls = true).over(w))
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .filter(col("et") === "purchase")
      .select(col("u"), col("t"), coalesce(col("ft"), lit("(direct)")),
        coalesce(col("lt"), lit("(direct)")), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set(
      (1L, 3L, "view", "click", 10.0),
      (1L, 5L, "view", "signup", 5.0),
      (2L, 1L, "(direct)", "(direct)", 2.0)))
    q.stop()
  }

  test("streaming IVF-PQ ingest: code assignment ≡ batch append across microbatches") {
    import graft.operators.Ann
    import graft.streaming.StreamingAnn
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val index = Ann.ivfPqBuild(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", nLists = 8, m = 8, k = 16, byResidual = true)
    val batch = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    def line(id: Long, v: Seq[Double], ts: Long) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}],"ingest_ts":$ts}"""
    val staging = Files.createTempDirectory("ann-ingest").toString
    val indexDir = Files.createTempDirectory("ann-ingest-idx").toString
    val ckpt = Files.createTempDirectory("ann-ingest-ckpt").toString
    val q = StreamingAnn.ivfPqIngestToParquet(spark, staging, index,
      indexDir, ckpt)
    try {
      // two microbatches — the frozen quantizers make the split irrelevant
      val (a, b) = batch.splitAt(40)
      Files.write(java.nio.file.Paths.get(staging, "b1.json"),
        a.map { case (i, v) => line(i, v, 1700000000L + i) }
          .mkString("\n").getBytes)
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(staging, "b2.json"),
        b.map { case (i, v) => line(i, v, 1700000100L + i) }
          .mkString("\n").getBytes)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("codes").cast("array<int>"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2)))
      .sortBy(_._1).toSeq
    val streamed = rows(spark.read.parquet(indexDir))
    val appended = rows(
      Ann.ivfPqAppend(index, emb.filter(col("vec_id") >= 400),
          "vec_id", "embedding")
        .encoded.join(index.encoded.select("id"), Seq("id"), "left_anti"))
    assert(streamed.size === 100)
    assert(streamed === appended,
      "streamed code rows must be bit-identical to the batch append")
  }
}
