package graft

import graft.operators.{Ann, Cuts, IdentityResolution}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class CutsSpec extends SparkSpec {

  test("cutCounted counts the probe in the cut's own job") {
    val df = spark.range(0, 1000, 1, 4).toDF().filter(col("id") % 3 === 0)
    val ((c, n), stats) = RunStats.during(spark)(Cuts.cutCounted(df, _.filter(col("id") < 300)))
    assert(n === 100L)
    assert(stats.jobs === 1, "the probe count must ride the materializing job")
    assert(c.count() === 334L)
  }

  test("release frees a local cut's persisted RDD") {
    val c = Cuts.cut(spark.range(100).toDF())
    val rdd = c.queryExecution.logical.collectFirst { case lr: LogicalRDD => lr.rdd }.get
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Cuts.release(c)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("connectedComponentsString counts its vertex set without an extra job") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("c", "a"))
      .toDF("src", "dst")
    val (rows, stats) = RunStats.during(spark)(
      IdentityResolution.connectedComponentsString(edges).collect())
    assert(rows.map(r => r.getString(0) -> r.getString(1)).toMap ===
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // counting the lazy vertex cut with df.count() instead ran 13 jobs
    assert(stats.jobs === 12)
  }

  test("nnDescent and rngPrune release every superseded round's cut") {
    import spark.implicits._
    val emb = (0 until 40).map(i => (i.toLong, Seq.tabulate(4)(j => math.sin(i * 0.7 + j))))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    def persistedBy[T](body: => T): (T, Int) = {
      val before = sc.getPersistentRDDs.keySet
      val r = body
      (r, (sc.getPersistentRDDs.keySet -- before).size)
    }
    // only the round-2 cut, which the final uncut round reads, outlives the call
    val (adj, byBuild) = persistedBy {
      val knn = Ann.nnDescent(emb, "vec_id", "embedding", k = 4, iters = 3)
      knn.collect()
      knn
    }
    assert(byBuild === 1)
    // a counting build cuts every round, and drops the edge set, so none stays
    assert(persistedBy(Ann.nnDescentConvergence(emb, "vec_id", "embedding",
      k = 4, iters = 3).collect())._2 === 0)
    // `ranked` and the round-2 selection stay
    val graph = Ann.serveGraph(adj).localCheckpoint()
    assert(persistedBy(Ann.rngPrune(graph, emb, "vec_id", "embedding", 3).collect())._2 === 2)
  }
}
