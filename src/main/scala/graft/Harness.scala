package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The session every harness main runs in (Bench, Verify, ScaleBench,
  * SkewCc, Explain, Demo).
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with one shuffle partition per core, the UI
    * off, WARN logging and the engine configs of [[Tables.tune]]. `conf`
    * adds a main's own settings.
    */
  def session(conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)
  }
}

/** What a measured body ran on its SparkContext: jobs started, stages and
  * tasks completed, and the bytes those stages read from input and read
  * from and wrote to shuffle. Work other threads submit meanwhile counts
  * too.
  */
final case class RunStats(jobs: Long, stages: Long, tasks: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long) {
  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"input_bytes":$inputBytes,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes}"""
}

object RunStats {

  /** Counts from construction on. Events still queued from earlier work
    * are drained before the listener goes on, so they are not counted;
    * `read` drains again, so every event the work so far posted is.
    */
  final class Meter(sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks, input, sRead, sWrite = new AtomicLong
    ListenerDrain(sc)
    sc.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        input.addAndGet(m.inputMetrics.bytesRead)
        sRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        sWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def read(): RunStats = {
      ListenerDrain(sc)
      RunStats(jobs.get, stages.get, tasks.get, input.get, sRead.get, sWrite.get)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** `body`'s result and what it ran. */
  def during[T](spark: SparkSession)(body: => T): (T, RunStats) = {
    val m = new Meter(spark.sparkContext)
    try {
      val r = body
      (r, m.read())
    } finally m.close()
  }
}
