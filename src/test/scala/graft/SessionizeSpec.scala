package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.operators.Sessionize

/** The session explosion's row contract at its edges, the one-pass plan it
  * runs as, and the job-free parallelism check ahead of typed transforms.
  */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  // gap 10: user a has a gap of exactly 10 (kept), a tie at t = 110 broken
  // by id, then a gap of 11 (split); user b has two null-time rows and a
  // single-event session
  private def events: DataFrame = Seq(
    ("a", Some(100L), 1L, "x"), ("a", Some(110L), 3L, "z"), ("a", Some(110L), 2L, "y"),
    ("a", Some(121L), 4L, "w"),
    ("b", None, 6L, "n2"), ("b", Some(50L), 7L, "s"), ("b", None, 5L, "n1"))
    .toDF("user", "t", "id", "event")

  test("explode emits begin, hits and end per session, strict gap, null times alone") {
    val got = Sessionize.explode(events, "user", "t", "id", "event", gapSeconds = 10)
    assert(got.columns.toSeq === Seq("user", "session_seq", "event", "time_s"))
    val rows = got.orderBy(col("user"), col("session_seq"), col("time_s"), col("event"))
      .collect().toSeq
    def r(u: String, seq: Long, e: String, t: java.lang.Long) = Row(u, seq, e, t)
    assert(rows === Seq(
      r("a", 1, "session begins", 100L), r("a", 1, "x", 100L),
      r("a", 1, "y", 110L), r("a", 1, "z", 110L), r("a", 1, "session ends", 111L),
      r("a", 2, "session begins", 121L), r("a", 2, "w", 121L), r("a", 2, "session ends", 122L),
      r("b", 1, "n1", null), r("b", 1, "session begins", null), r("b", 1, "session ends", null),
      r("b", 2, "n2", null), r("b", 2, "session begins", null), r("b", 2, "session ends", null),
      r("b", 3, "s", 50L), r("b", 3, "session begins", 50L), r("b", 3, "session ends", 51L)))
  }

  test("sessionize adds session_seq and keeps every input row and column") {
    val got = Sessionize.sessionize(events, "user", "t", "id", gapSeconds = 10)
    assert(got.columns.toSeq === Seq("user", "t", "id", "event", "session_seq"))
    assert(got.select("id", "session_seq").as[(Long, Long)].collect().sorted.toSeq ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 1L, 6L -> 2L, 7L -> 3L))
  }

  test("x1 runs as one window pass: one user exchange, no union or aggregate") {
    val df = SparkEntry.queries("x1_session_explode")(spark, sfDir)
    val (_, stats) = RunStats.during(spark)(df.collect())
    // the user shuffle, the final sort's range sample and its shuffle, and
    // the result stage
    assert(stats.jobs <= 4, stats)
    val nodes = allPlanNodes(df.queryExecution.executedPlan)
    val hashKeys = nodes.collect { case e: ShuffleExchangeLike => e.outputPartitioning }
      .collect { case h: HashPartitioning => h.references.map(_.name).toSeq }
    assert(hashKeys == Seq(Seq("user_id")), df.queryExecution.executedPlan)
    assert(!nodes.exists(n => n.isInstanceOf[UnionExec] || n.isInstanceOf[BaseAggregateExec]),
      df.queryExecution.executedPlan)
  }

  test("ensureMinParallelism reads a repartitioned frame's count without a job") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 1000, 1, 1).toDF().repartition(2)
    val (out, stats) = RunStats.during(spark)(Tables.ensureMinParallelism(narrow))
    assert(stats.jobs == 0, stats)
    assert(out.queryExecution.executedPlan.toString.contains(s"RoundRobinPartitioning($target)"))
    val wide = spark.range(0, 1000, 1, 1).toDF().repartition(target)
    val (same, wideStats) = RunStats.during(spark)(Tables.ensureMinParallelism(wide))
    assert(wideStats.jobs == 0, wideStats)
    assert(same eq wide)
  }

  test("ensureMinParallelism spreads a one-split scan and a resizable shuffle, job-free") {
    val target = spark.sparkContext.defaultParallelism
    val scan = Tables.t(spark, sfDir, "events")
    assert(scan.rdd.getNumPartitions == 1)
    // AQE may coalesce an aggregate's shuffle to one partition, and only
    // running it would tell: such a frame counts as under-parallel
    val agg = scan.groupBy("user_id").count()
    for (df <- Seq(scan, agg)) {
      val (out, stats) = RunStats.during(spark)(Tables.ensureMinParallelism(df))
      assert(stats.jobs == 0, stats)
      assert(out.rdd.getNumPartitions == target)
    }
    val split = spark.range(0, 1000, 1, target).toDF()
    val (same, splitStats) = RunStats.during(spark)(Tables.ensureMinParallelism(split))
    assert(splitStats.jobs == 0, splitStats)
    assert(same eq split)
  }
}
