package graft

import org.apache.spark.sql.functions._

class RunStatsSpec extends SparkSpec {

  private def shuffled() = spark.range(0, 1000, 1, 4).repartition(3).count()

  test("a shuffling action reports its jobs, tasks and shuffle bytes") {
    val (n, stats) = RunStats.during(spark)(shuffled())
    assert(n === 1000L)
    assert(stats.jobs >= 1)
    assert(stats.stages >= 1)
    assert(stats.tasks > 0)
    assert(stats.shuffleWriteBytes > 0)
    assert(stats.shuffleReadBytes > 0)
  }

  test("a body that runs no action reports all zeros") {
    val (df, stats) = RunStats.during(spark)(
      spark.range(100).filter(col("id") % 2 === 0).groupBy().count())
    assert(df.columns.toSeq === Seq("count"))
    assert(stats === RunStats(0, 0, 0, 0, 0, 0))
  }

  test("sequential calls do not leak counts into each other") {
    val (_, first) = RunStats.during(spark)(shuffled())
    val (_, idle) = RunStats.during(spark)(())
    val (_, again) = RunStats.during(spark)(shuffled())
    assert(first.jobs >= 1)
    assert(idle === RunStats(0, 0, 0, 0, 0, 0))
    assert((again.jobs, again.stages, again.tasks) ===
      (first.jobs, first.stages, first.tasks))
  }
}
