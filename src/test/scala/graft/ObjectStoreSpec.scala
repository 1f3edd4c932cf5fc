package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import graft.model.Model
import graft.sources.Sources

/** S5: gs://-shaped object-store read through the standard pipeline —
  * connector conf round-trip with a local-backed shim FileSystem (the
  * real deployment swaps `fs.gs.impl` for the public GCS connector via
  * [[Sources.gcsConnectorConf]]).
  */
class ObjectStoreSpec extends SparkSpec {

  private val root = Files.createTempDirectory("fake-gcs").toString

  private def conf: Map[String, String] = Map(
    "fs.gs.impl" -> classOf[FakeGsFileSystem].getName,
    "fs.gs.impl.disable.cache" -> "true",
    "fs.gs.fake.root" -> root)

  private def stage(bucket: String, key: String, lines: Seq[String],
      gzip: Boolean = false): Unit = {
    val f = Paths.get(root, bucket, key)
    Files.createDirectories(f.getParent)
    if (gzip) {
      val out = new GZIPOutputStream(Files.newOutputStream(f))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    } else Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def mpLine(i: Int): String =
    s"""{"event":"click","distinct_id":"u$i","time":${1600000000L + i},"insert_id":"i$i","source":"test","properties":{"k":"v$i"}}"""

  test("gs:// path reads through the same distributed scan (S5 config surface)") {
    stage("my-bucket", "export/part-0.json", (0 until 4).map(mpLine))
    stage("my-bucket", "export/part-1.json.gz", (4 until 7).map(mpLine), gzip = true)
    val read = Sources.jsonAuto(spark, "gs://my-bucket/export",
      Model.mpEventSchema, conf)
    // 4 plain + 3 gzipped rows: listing, codec chain and parse all ran
    // against the foreign scheme
    assert(read.good.count() == 7)
    assert(read.corrupt.isEmpty)
    assert(read.good.select("distinct_id").distinct().count() == 7)
  }

  test("gs:// source drives the full Pipeline transform (same path as local staged)") {
    stage("my-bucket", "mp/part-0.json", (0 until 5).map(mpLine))
    spark.sparkContext.hadoopConfiguration.set("fs.gs.impl", classOf[FakeGsFileSystem].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.gs.impl.disable.cache", "true")
    spark.sparkContext.hadoopConfiguration.set("fs.gs.fake.root", root)
    val out = Pipeline.transform(spark,
      Pipeline.MixpanelStaged("gs://my-bucket/mp", events = Seq("click")))
    assert(out.events.count() == 5)
  }

  test("gcsConnectorConf declares the public connector + key auth") {
    val c = Sources.gcsConnectorConf("proj-1", Some("/secrets/key.json"))
    assert(c("fs.gs.impl").contains("GoogleHadoopFileSystem"))
    assert(c("fs.gs.project.id") == "proj-1")
    assert(c("google.cloud.auth.service.account.json.keyfile") == "/secrets/key.json")
  }
}
