package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}

/** Table access + session tuning shared by every query entry point.
  *
  * Each `SparkEntry.queries` closure calls [[Tables.t]], which idempotently
  * applies engine-level session configs first — so correctness does not
  * depend on which harness (Verify, Bench, tests, driver) built the
  * SparkSession.
  */
object Tables {

  /** Engine session configs.
    *  - LAST_WIN map dedup: JS object-spread precedence (SURVEY §7.4.1).
    *  - ANSI off: lenient JS-like coercions (bad cast → null, not error),
    *    matching the reference's PERMISSIVE ETL posture.
    *  - AQE on: runtime re-plan (coalesce partitions, skew-join) — the
    *    scale path for 100 TB runs.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Parquet TIMESTAMP(NANOS) (events.ts) is unreadable natively; read as
    // long nanos and convert in t() below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // engine SQL functions (rolling_hash, mp_insert_id, explode_session)
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Scale-up repartition ahead of a CPU-bound narrow transform (typed
    * flatMap / mapPartitions): a small input collapses to one
    * maxPartitionBytes-bound split, which would serialize the per-row work
    * on a single core. One cheap round-robin shuffle of the (by
    * definition small) input buys full parallelism; when the input is
    * already at least as parallel as the cluster — the 100 TB case, where
    * thousands of file splits exist — this is a no-op, so no extra
    * shuffle at scale.
    *
    * The check reads the partition count off the plan and runs no job:
    *  - no exchange (under [[tune]]'s AQE, a plan that is not adaptive):
    *    the scan's splits, which `df.rdd` plans on the driver;
    *  - only fixed-count shuffles (`repartition(n)`): the count the plan
    *    outputs (once AQE has run the plan, its final count);
    *  - any other shuffle (join, aggregate, sort, `repartition(cols)`):
    *    AQE may coalesce it down to one partition, which only running it
    *    would show, so the input counts as under-parallel.
    */
  def ensureMinParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df) < target) df.repartition(target) else df
  }

  private def plannedPartitions(df: DataFrame): Int = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec =>
      val plan = a.executedPlan
      val resizable = plan.exists {
        case s: ShuffleExchangeLike => s.shuffleOrigin != REPARTITION_BY_NUM
        case _ => false
      }
      if (resizable) 0 else plan.outputPartitioning.numPartitions
    case _ => df.rdd.getNumPartitions
  }

  // Resolved-read memo (VERDICT r16 #6, guide §6 file-listing cache):
  // every `spark.read.parquet(path)` builds a fresh InMemoryFileIndex
  // (directory listing) and re-reads the footer for schema inference —
  // pure driver-side metadata work repeated for every t() call (each
  // bench rep, each serve-latency batch, each verify query). Memoize the
  // RESOLVED DataFrame per (session, path) in the session's
  // [[SessionScope]]: the file listing and schema are pinned once per
  // session, while every action on it still reads the parquet BYTES from
  // disk (a DataFrame holds no row data — this is metadata caching, not
  // result caching; Spark itself does the same for catalog tables via
  // filesourcePartitionFileCacheSize).
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    SessionScope.of(spark).reads.computeIfAbsent(s"$dir/$name.parquet", path => {
      val df = spark.read.parquet(path)
      // Restore nanos-as-long timestamp columns to TimestampType (micros —
      // Spark's max precision; floor truncation matches the oracle's
      // epoch_ms//1000 semantics at second granularity).
      df.schema.fields.foldLeft(df) {
        case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
          acc.withColumn("ts", timestamp_micros((col("ts") / lit(1000L)).cast("long")))
        case (acc, _) => acc
      }
    })
  }

  /** Epoch seconds (floor) of a timestamp column; works for both TIMESTAMP
    * and TIMESTAMP_NTZ (parquet ns columns) under a UTC session.
    * DuckDB oracle equivalent: `epoch_ms(ts)//1000`.
    */
  def epochS(c: Column): Column = unix_seconds(c.cast("timestamp"))
}
