package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Spark runtime counters: jobs, stages, tasks, input/shuffle/spill bytes
  * and executor CPU, summed over every task that ends.
  */
final class Counters extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "exec_cpu_ns")
    .map(_ -> new AtomicLong()).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("exec_cpu_ns").addAndGet(m.executorCpuTime)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get() } +
    ("file_bytes_read" -> Counters.fileBytesRead())
}

object Counters {
  /** Bytes read through Hadoop's local file system: input files only, not
    * cached blocks (which the task input metrics also count) or shuffle.
    */
  def fileBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
}

/** Spark-managed memory an iteration needed: the peak of cached RDD
  * blocks plus the largest execution memory (operator buffers, in pages)
  * one task held. Both follow what the program runs, not the heap setting
  * or how tasks happened to overlap; broadcast blocks, which Spark frees
  * lazily after a GC, are left out.
  */
final class MemoryNeed extends SparkListener {
  private val blocks = mutable.Map[RDDBlockId, Long]()
  private val cached, cachePeak, taskPeak = new AtomicLong()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId => synchronized {
        val size = e.blockUpdatedInfo.memSize
        val old = blocks.put(id, size).getOrElse(0L)
        cachePeak.accumulateAndGet(cached.addAndGet(size - old), math.max)
      }
      case _ =>
    }
  // Unpersisting removes an RDD's blocks without a block update.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.rddId == e.rddId).toList
    cached.addAndGet(-gone.map(blocks.remove(_).getOrElse(0L)).sum)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    taskPeak.accumulateAndGet(m.peakOnHeapExecutionMemory + m.peakOffHeapExecutionMemory,
      math.max)
  }

  def reset(): Unit = { cachePeak.set(cached.get()); taskPeak.set(0) }
  def mb: Double = (cachePeak.get() + taskPeak.get()) / 1048576.0
}

/** Catalyst analysis + optimization + planning time per query execution. */
final class Phases extends QueryExecutionListener {
  val catalystMs = new AtomicLong()

  private def add(qe: QueryExecution): Unit =
    catalystMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def snapshot(): Map[String, Long] = Map("catalyst_ms" -> catalystMs.get())
}

/** Both listeners, attached to one session while a traced section runs. */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private val phases = new Phases

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(phases)
  }

  def detach(): Unit = {
    BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(phases)
  }

  def snapshot(): Map[String, Long] = {
    BenchAccess.drainListeners(spark.sparkContext)
    counters.snapshot() ++ phases.snapshot()
  }

  /** Runs `f` and returns its result with the counter deltas it caused. */
  def measure[T](f: => T): (T, Map[String, Long]) = {
    val before = snapshot()
    val r = f
    val after = snapshot()
    (r, after.map { case (k, v) => k -> (v - before(k)) })
  }
}

/** In-memory spans (name, start, end, parent, run id), written out once at
  * the end of the benchmark run.
  */
object Spans {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: String,
      run: String) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val t0 = System.nanoTime()
  val all = new ArrayBuffer[Span]()

  def span[T](name: String, parent: String, run: String)(f: => T): (T, Span) = {
    val s = System.nanoTime()
    val r = f
    val sp = Span(name, s, System.nanoTime(), parent, run)
    synchronized(all += sp)
    (r, sp)
  }

  def writeJsonl(path: String): Unit = {
    val lines = synchronized(all.toList).map { s =>
      Engine.Mapper.writeValueAsString(Map("name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "parent" -> s.parent, "run" -> s.run))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
