package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native identity resolution: connected components over an identity-edge
  * list (the `$merge` pair table the reference emits and delegates to
  * Mixpanel's backend — /root/reference/transform/amplitudeToMixpanel.js:203-217;
  * SURVEY §2.4 J1). Our engine owns the transitive closure itself.
  *
  * Algorithm: iterative smallest-label propagation (a DataFrame rendering of
  * large-star/small-star). Each round every node adopts the minimum label in
  * its neighborhood (including itself); converges in O(log n) rounds for
  * real identity graphs (shallow, star-heavy). Each round is one shuffle on
  * node id; intermediate results are cut through [[Cuts]] so the plan
  * stays bounded on long chains.
  */
object IdentityResolution {

  /** edges: (src: long, dst: long) undirected. Returns (node, component)
    * where component = smallest node id reachable.
    *
    * Each round does (a) neighbor-min propagation and (b) pointer jumping
    * (adopt your label's label). Propagation alone converges in O(diameter)
    * rounds — a 1000-hop identity chain would need 1000 shuffles; pointer
    * jumping halves chain depth every round, giving O(log n) total.
    */
  /** Edge-count ceiling for the single-pass union-find fast path: below
    * this, the edge list is bounded driver state (≤ ~16 MB at 1M edges —
    * the same contract as broadcast-join key or IVF-centroid
    * materialization) and one collect beats O(log n) shuffle rounds whose
    * cost is all fixed job overhead. Above it, the distributed
    * propagation loop runs. Near-dup pair graphs sit far below this even
    * at corpus scale (pairs are the duplicate subset, not the corpus);
    * identity graphs at 100 TB sit far above and take the loop.
    */
  val SmallGraphMaxEdges: Long = 1000000L

  /** `onRound` fires after each distributed round commits (round index,
    * 1-based) — the hook the skew-evidence harness ([[graft.SkewCc]]) uses
    * to snapshot per-round shuffle bytes; a no-op by default.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges,
      onRound: Int => Unit = _ => ()): DataFrame = {
    // one job materializes the deduped symmetric edge list AND returns
    // the size-gate count (was: eager cut + a second count job)
    val (sym, nSym) = Cuts.cutCounted(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())

    // Size-adaptive fast path: small graphs finish in one collect +
    // union-find instead of O(log n) shuffle rounds whose cost at this
    // size is pure fixed job overhead.
    if (nSym <= smallGraphMaxEdges) {
      val result = smallGraphComponents(sym)
      Cuts.release(sym)
      return result
    }

    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))

    var converged = false
    var i = 0
    var prevRound: Option[DataFrame] = None
    while (!converged && i < maxIter) {
      // (a) candidate labels: own (tagged as `prev`) + neighbors' labels —
      // carrying `prev` through the aggregation folds the convergence test
      // into the propagation job: no join back against the old labels.
      val own = labels.select(col("node"), col("component"), col("component").as("prev"))
      val nbrLabels = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("component"), lit(null).cast("long").as("prev"))
      val propagated = own.union(nbrLabels)
        .groupBy("node").agg(
          min("component").as("component"),
          min("prev").as("prev")) // exactly one non-null per node
      // (b) pointer jump: component := component's component
      val parents = propagated
        .select(col("node").as("component"), col("component").as("grand"))
      // Checkpoint EVERY round (measured: an every-other-round cadence is
      // ~2× slower — the convergence count executes each round's plan
      // anyway, so a skipped checkpoint means the same work runs twice,
      // once for the count and again inside the next round's lineage).
      // Labels only ever decrease, so changed ⇔ component < prev; the
      // changed-count rides the SAME job that materializes the round
      // (VERDICT r16 #3 — was: eager cut + a second limit(1) scan job).
      val (updated, nChanged) = Cuts.cutCounted(propagated
        .join(parents, Seq("component"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("grand"), col("component"))).as("component"),
          col("prev")),
        _.filter(col("component") < col("prev")))
      val changed = nChanged > 0
      prevRound.foreach(Cuts.release) // predecessor no longer referenced
      prevRound = Some(updated)
      labels = updated.select(col("node"), col("component"))
      converged = !changed
      i += 1
      onRound(i)
    }
    // the edge table is only consumed by the loop; the returned labels are
    // backed by the FINAL round's (still-persisted) checkpoint blocks
    if (prevRound.isDefined) Cuts.release(sym)
    labels
  }

  /** STRING-keyed identity resolution — the glue between the engine's own
    * J1 merge-pair emission (STRING distinct_ids/device_ids —
    * transform/amplitudeToMixpanel.js:203-217) and the Long-keyed
    * [[connectedComponents]] core: a user resolving real Mixpanel
    * identities starts from string ids, not dense longs.
    *
    * Returns (node: string, component: string) where component is the
    * LEXICOGRAPHICALLY smallest id in the node's connected component —
    * the deterministic canonical-identity contract.
    *
    * Scale shape: string→long ids come from `xxhash64(salt, id)` computed
    * INLINE (no global ranking join — a row_number over all vertices
    * would funnel the vertex set through one task). The hash is
    * collision-CHECKED against the materialized vertex set (one count per
    * probe; P(collision) ≈ n²/2⁶⁵ ≈ 10⁻⁴ even at a billion ids, and a
    * retry with the next salt is geometric — in practice probe 0 wins).
    * After the Long CC, the canonical string is min(string) per
    * component: two keyed shuffles (label join + min-agg + canon join),
    * all broadcast-eligible on the component side at identity-graph
    * cardinalities.
    */
  def connectedComponentsString(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 25): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull)
    // materialized once; the salt probe counts and the mapping join both
    // read these blocks (same cut contract as the Long loop). Lazy cut:
    // the vertex count rides the materializing job.
    val (verts, n) = Cuts.cutCounted(
      e.select(col("s").as("v")).union(e.select(col("d").as("v"))).distinct())
    var salt = 0
    while (salt < 8 &&
        verts.select(xxhash64(lit(salt), col("v"))).distinct().count() != n)
      salt += 1
    require(salt < 8, s"xxhash64 collided on the vertex set for 8 salts ($n ids)")
    def h(c: Column): Column = xxhash64(lit(salt), c)
    val cc = connectedComponents(
      e.select(h(col("s")).as("src"), h(col("d")).as("dst")), maxIter)
    val labeled = cc.join(verts.select(col("v"), h(col("v")).as("node")), "node")
      .select(col("v").as("node"), col("component").as("cid"))
    val canon = labeled.groupBy("cid").agg(min("node").as("component"))
    labeled.join(canon, "cid").select("node", "component")
  }

  /** Driver union-find over a bounded edge list (min-root union + path
    * compression ⇒ each root IS the component's minimum id, matching the
    * distributed loop's min-label contract exactly).
    */
  private def smallGraphComponents(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val es = sym.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      // min-root union: the surviving root is the smaller label, so roots
      // stay component minima without a second relabeling pass
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toSeq.sorted.map(n => (n, find(n)))
    spark.createDataset(rows).toDF("node", "component")
  }
}
