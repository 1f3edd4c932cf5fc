package graft

import org.apache.spark.sql.functions._

/** Skewed-graph CC evidence harness (SCALE.md): a power-law-shaped
  * adversarial fixture — ONE giant component built from a hub of degree
  * `spokes` (~√n for the default sizing) fanning out to `spokes` chains of
  * `chainLen` nodes each — run through the DISTRIBUTED min-label loop
  * (the edge count exceeds the union-find fast-path ceiling), reporting
  * rounds to convergence and per-round shuffle bytes.
  *
  * What it pins: (a) the hub does not blow up any round — the hub node
  * contributes degree-many rows to exactly one keyed aggregation, the
  * same shape as any other node; (b) pointer jumping converges in
  * O(log chainLen) rounds, not O(chainLen); (c) per-round shuffle bytes
  * are flat-to-shrinking across rounds (the frontier contracts), so
  * the loop's total traffic is rounds × O(|V|+|E|) with no quadratic
  * term anywhere.
  *
  * Usage: runMain graft.SkewCc [spokes] [chainLen]   (default 1500×1000
  * = 1.5M nodes, 1.5M edges, hub degree 1500 ≈ √n).
  */
object SkewCc {
  def main(args: Array[String]): Unit = {
    val spokes = args.headOption.map(_.toInt).getOrElse(1500)
    val chainLen = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val spark = Harness.session()

    // node 0 = hub; chain s occupies ids [s*chainLen+1, (s+1)*chainLen]
    val n = spokes.toLong * chainLen
    val hubEdges = spark.range(spokes)
      .select(lit(0L).as("src"), (col("id") * chainLen + 1).as("dst"))
    val chainEdges = spark.range(1L, n)
      .filter(col("id") % chainLen =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val edges = hubEdges.unionByName(chainEdges)

    val meter = new RunStats.Meter(spark.sparkContext)
    var last = meter.read()
    var rounds = 0
    val t0 = System.nanoTime()
    val labels = graft.operators.IdentityResolution.connectedComponents(
      edges, maxIter = 40,
      onRound = { i =>
        val now = meter.read()
        println(s"""{"round":$i,"shuffle_read":${now.shuffleReadBytes - last.shuffleReadBytes},""" +
          s""""shuffle_write":${now.shuffleWriteBytes - last.shuffleWriteBytes}}""")
        last = now
        rounds = i
      })
    val nComponents = labels.select("component").distinct().count()
    val wrong = labels.filter(col("component") =!= 0L).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val total = meter.read()
    meter.close()
    println(f"""{"spokes":$spokes,"chain_len":$chainLen,"nodes":${n + 1},""" +
      s""""hub_degree":$spokes,"rounds":$rounds,"n_components":$nComponents,""" +
      f""""mislabeled":$wrong,"sec":$sec%.1f,""" +
      s""""shuffle_read_total":${total.shuffleReadBytes},"shuffle_write_total":${total.shuffleWriteBytes}}""")
    spark.stop()
  }
}
