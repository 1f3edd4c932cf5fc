package graft

import org.apache.spark.sql.functions._
import graft.operators.{EntityResolution, LinkGraph}

/** Round-11 seventh-session specs: entity resolution and BFS distance. */
class Round11fOpsSpec extends SparkSpec {

  private def parts(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  test("candidatePairs: shared first OR last token blocks; ordered; deduped") {
    val df = parts((1L, "red widget"), (2L, "red wodget"), (3L, "blue widget"),
      (4L, "green gear"))
    val p = EntityResolution.candidatePairs(df, "name")
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // red~red (t1), widget~widget (t2); "green gear" shares no token
    assert(p.toSeq === Seq(("blue widget", "red widget"),
      ("red widget", "red wodget")))
    assert(p.forall { case (a, b) => a < b }, "pairs are ordered")
  }

  test("pairScores: ppm floor division and threshold gate") {
    val df = parts((1L, "red widget"), (2L, "red wodget"), (3L, "red gear"))
    val all = EntityResolution.pairScores(df, "name", minSimPpm = 0L)
      .orderBy("name_a", "name_b").collect()
    val byPair = all.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap
    // lev("red widget","red wodget") = 1, maxLen 10 → 900000 ppm
    assert(byPair(("red widget", "red wodget")) === (1L, 900000L))
    val gated = EntityResolution.pairScores(df, "name", minSimPpm = 850000L)
      .collect()
    assert(gated.length === 1, "only the 0.90 pair survives 0.85")
  }

  test("resolveEntities: transitive merge (A~B, B~C, A!~C) with fact rollup") {
    // wodget~widget (0.90) and wodget~wudget (0.90) chain; widget~wudget
    // is 0.90 too, but the MERGE must not depend on that edge — use a
    // chain where the ends differ by 2 edits: waget ~ woget? keep simple:
    // the three merge regardless; the rollup grain is what's pinned here.
    val df = parts((10L, "red widget"), (11L, "red widget"),
      (12L, "red wodget"), (13L, "red wudget"), (20L, "blue gear"))
    val r = EntityResolution.resolveEntities(df, "id", "name")
      .orderBy("entity").collect()
    assert(r.length === 2)
    val widget = r.find(_.getString(0) === "red widget").get
    assert(widget.getLong(1) === 3L, "three distinct names merged")
    assert(widget.getLong(2) === 4L, "four fact rows covered")
    assert(widget.getLong(3) === 10L, "min fact id")
    val gear = r.find(_.getString(0) === "blue gear").get
    assert((gear.getLong(1), gear.getLong(2), gear.getLong(3)) === ((1L, 1L, 20L)))
  }

  test("resolveEntities: transitive closure crosses blocking passes") {
    // "red widget" ~ "red wodget" blocks on t1=red; "red wodget" ~
    // "teal wodget" blocks on t2=wodget — the component spans blocks, so
    // within-block grouping alone could never produce it.
    val df = parts((1L, "red widget"), (2L, "red wodget"), (3L, "teal wodget"))
    val sims = EntityResolution.pairScores(df, "name", minSimPpm = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!sims.contains(("red widget", "teal wodget")),
      "ends share no blocking token — no direct candidate edge")
    // wodget~widget = 900k ppm; wodget-chain to teal = 727k ppm
    val r = EntityResolution.resolveEntities(df, "id", "name",
      minSimPpm = 700000L).collect()
    assert(r.length === 1 && r.head.getLong(1) === 3L,
      "chain merges to one entity through the middle name")
  }

  test("blockingProfile: per-pass block sizes at both grains") {
    val df = parts((1L, "red widget"), (2L, "red widget"), (3L, "red gear"),
      (4L, "blue widget"))
    val m = EntityResolution.blockingProfile(df, "name").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(m(("first_token", "red")) === ((2L, 3L)),
      "2 names, 3 corpus rows under first-token 'red'")
    assert(m(("last_token", "widget")) === ((2L, 3L)))
    assert(m(("last_token", "gear")) === ((1L, 1L)))
  }

  test("bfsDistance: shortest hops, directedness, rounds horizon") {
    import spark.implicits._
    // 1→2→3→4 chain plus shortcut 1→3; 9 unreachable (edge points INTO 1)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val d = LinkGraph.bfsDistance(edges, "src", "dst", seeds, "node", rounds = 5)
      .orderBy("node").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L),
      "min over paths; 9 not reached (direction respected)")
    // horizon: with rounds = 1 node 4 is beyond the frontier
    val d1 = LinkGraph.bfsDistance(edges, "src", "dst", seeds, "node", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 === Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("containmentPairs: directed — snippet scores 1.0 into its superset, not back") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),             // 3 trigram shingles, all inside doc 2
      (2L, "a b c d e f g h"),       // 6 shingles
      (3L, "x y z w v")              // unrelated
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        3, thresholdPpm = 900000L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r === Map((1L, 2L) -> 1000000L),
      "only the contained→superset direction passes (reverse is 0.5)")
    // lower threshold exposes the reverse direction at exactly 500000 ppm
    val both = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        3, thresholdPpm = 500000L)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(both((2L, 1L)) === 500000L)
  }

  test("windowed funnel: step outside the conversion window does not convert") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // u1 converts inside the window; u2's purchase is past t0+window even
    // though it is after the click; u3 clicks before viewing (no convert)
    val ev = Seq(
      (1L, "view", 1000L), (1L, "click", 1500L), (1L, "purchase", 1900L),
      (2L, "view", 1000L), (2L, "click", 1500L), (2L, "purchase", 2100L),
      (3L, "click", 900L), (3L, "view", 1000L)
    ).toDF("user_id", "event_type", "t")
    val counts = graft.operators.Funnels.funnelCountsWindowed(ev, "user_id",
        "event_type", col("t"), Seq("view", "click", "purchase"),
        windowSec = 1000L)
      .orderBy("step_idx").collect().map(_.getLong(2)).toSeq
    assert(counts === Seq(3L, 2L, 1L),
      "u2 dies at purchase (outside window), u3 at click (before view)")
    val done = graft.operators.Funnels.funnelCompletions(ev, "user_id",
        "event_type", col("t"), Seq("view", "click", "purchase"),
        windowSec = 1000L).collect()
    assert(done.length === 1 && done.head.getLong(0) === 1L)
    assert(done.head.getLong(1) === 1000L && done.head.getLong(2) === 1900L,
      "t0 and t_last are the funnel's own step times")
  }

  test("removeDupSpans: SA-run head keeps, cross-doc and in-doc cuts, uncut intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.md5
    val x = "abcdefghijklmnopqrstuvwxy" // 25 shared chars
    val y = "qwertyuiopasdfghjklzxc"    // 22 chars, repeated within doc 3
    val docs = Seq(
      (1L, "AAAAA" + x),      // SA-first owner of x (its suffix sorts first)
      (2L, x + "zz"),          // loses x, keeps the tail
      (3L, y + "-" + y)        // in-doc repeat: the SHORTER suffix (second
                               // occurrence) is the SA-run head and keeps
    ).toDF("doc_id", "text")
    val r = graft.operators.SuffixArray.removeDupSpans(docs, "doc_id", "text",
        minLen = 20, cap = 64)
      .orderBy("doc").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4)))).toMap
    val h = (s: String) => Seq(s).toDF("t").select(md5(col("t").cast("binary")))
      .head().getString(0)
    assert(r(1L) === ((30L, 30L, 0L, h("AAAAA" + x))), "owner doc untouched")
    assert(r(2L) === ((27L, 2L, 1L, h("zz"))), "cross-doc duplicate span cut")
    assert(r(3L) === ((45L, 23L, 1L, h("-" + y))),
      "in-doc repeat: first occurrence cut (SA head = shorter suffix)")
  }

  test("soundexKey matches Spark's native soundex, including the H/W rules") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, soundex}
    import graft.functions.Fns
    val names = Seq("Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak",
      "Pfister", "Honeyman", "widget", "wodget", "gear", "anvil", "plate",
      "bolt", "ring", "rod", "gizmo", "A", "HW", "hot", "cold")
    val rows = names.toDF("n")
      .select(col("n"), Fns.soundexKey(col("n")).as("ours"),
        soundex(col("n")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) === r.getString(2),
        s"${r.getString(0)}: ours=${r.getString(1)} native=${r.getString(2)}")
    }
    val canon = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon("Ashcraft") === "A261", "H transparency merges s/c")
    assert(canon("Pfister") === "P236", "first-code merge drops the f")
    assert(canon("Robert") === canon("Rupert"))
  }

  test("plan locks: a16 bounded top-k, kmv partial-aggregates map-side") {
    import org.apache.spark.sql.functions.col
    import graft.functions.Fns
    val basket = graft.SparkEntry.queries("a16_market_basket")(spark, sfDir)
    val bplan = basket.queryExecution.executedPlan.toString
    assert(bplan.contains("TakeOrderedAndProject"),
      "top-25 must compile to bounded top-k, not a global sort")
    // kmv: partial aggregation appears below the exchange (two-phase agg)
    val km = spark.range(1000).toDF("h")
      .agg(Fns.kmvMinima(col("h"), 8))
    val kplan = km.queryExecution.executedPlan.toString
    assert(kplan.contains("partial_kmv_minima"),
      s"kmv must map-side partial-aggregate; plan:\n$kplan")
  }

  test("kmvMinima: k smallest DISTINCT values survive shuffle-order merges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.Fns
    // values 100..999 step 7, each duplicated 3x, scattered over partitions
    val vals = (0 until 129).map(i => 100L + 7L * i)
    val df = spark.sparkContext
      .parallelize(vals ++ vals ++ vals, numSlices = 16).toDF("h")
    val got = df.agg(Fns.kmvMinima(col("h"), 10).as("m"))
      .collect().head.getSeq[Long](0)
    assert(got === vals.sorted.take(10),
      "ascending k smallest, duplicates occupy one slot")
    // fewer distinct than k: all kept, still ascending
    val small = Seq(5L, 3L, 5L, 9L).toDF("h")
      .agg(Fns.kmvMinima(col("h"), 10)).collect().head.getSeq[Long](0)
    assert(small === Seq(3L, 5L, 9L))
  }

  test("levenshteinWithin: exact within bound, sentinel above, matches built-in") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    import graft.functions.Fns
    val rnd = new scala.util.Random(42)
    def word(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val pairs = (0 until 200).map { _ =>
      (word(3 + rnd.nextInt(30)), word(3 + rnd.nextInt(30)))
    } :+ (("", "abc")) :+ (("abc", "")) :+ (("same", "same"))
    val df = pairs.toDF("a", "b")
      .withColumn("full", levenshtein(col("a"), col("b")).cast("long"))
    val checked = df
      .withColumn("within_big", Fns.levenshteinWithin(col("a"), col("b"), lit(100L)))
      .withColumn("at_exact", Fns.levenshteinWithin(col("a"), col("b"), col("full")))
      .withColumn("below", Fns.levenshteinWithin(col("a"), col("b"), col("full") - 1))
      .collect()
    checked.foreach { r =>
      val full = r.getLong(2)
      assert(r.getLong(3) === full, s"bound 100 must be exact for $r")
      assert(r.getLong(4) === full, s"bound == distance must be exact for $r")
      if (full > 0)
        assert(r.getLong(5) === full, // sentinel = (full-1)+1 == full here
          s"bound just below distance reports bound+1 for $r")
    }
  }

  test("nextJoin: earliest right at-or-after, equal time visible, null past end") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 35L, 102L))
      .toDF("k", "t", "id")
    val right = Seq((1L, 20L, 1L, 777L), (1L, 30L, 2L, 888L))
      .toDF("k", "t", "id", "v")
    val r = graft.operators.AsofJoin.nextJoin(left, right, "k", "t", "id", "v")
      .orderBy("t").collect()
    // t=10 → right@20; t=20 → right@20 (equal time IS visible);
    // t=35 → nothing later → nulls
    assert(r(0).getLong(3) === 20L && r(0).getLong(4) === 777L)
    assert(r(1).getLong(3) === 20L && r(1).getLong(4) === 777L)
    assert(r(2).isNullAt(3) && r(2).isNullAt(4))
  }

  test("shortestPaths: weights beat hop count; frontier close keeps rounds exact") {
    import spark.implicits._
    // 1→2→3 cheap chain (1+1) vs direct heavy edge 1→3 (5): BFS would
    // take the direct edge, weighted takes the chain
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val d = graft.operators.LinkGraph.shortestPaths(edges, "src", "dst", "w",
        seeds, "node", rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // under-provisioned rounds report the best ≤k-edge path (the direct
    // heavy edge), the documented synchronous contract
    val d1 = graft.operators.LinkGraph.shortestPaths(edges, "src", "dst", "w",
        seeds, "node", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 === Map(1L -> 0L, 2L -> 1L, 3L -> 5L))
    // parallel edges collapse to the min weight
    val dup = Seq((1L, 2L, 9L), (1L, 2L, 4L)).toDF("src", "dst", "w")
    val d2 = graft.operators.LinkGraph.shortestPaths(dup, "src", "dst", "w",
        seeds, "node", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2(2L) === 4L)
  }

  test("bfsDistance: multiple seeds take the nearest one") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L, 7L).toDF("node")
    val d = LinkGraph.bfsDistance(edges, "src", "dst", seeds, "node", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(4L) === 1L, "seed 7 reaches 4 in one hop, beating 1's three")
  }

  test("shortestPaths/bfsDistance: driver tier == distributed loop (r17)") {
    import spark.implicits._
    // ring + chord graph, mixed weights; rounds over-provisioned so the
    // distributed loop's early exit fires (frontier closes before round 12)
    val n = 12L
    val edges = (0L until n).flatMap { i =>
      Seq((i, (i + 1) % n, 2L), (i, (i * 3) % n, 5L), (i, (i + n - 1) % n, 3L))
    }.filter { case (s, d, _) => s != d }.toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = toMap(LinkGraph.shortestPaths(
      edges, "src", "dst", "w", seeds, "node", rounds = 12))
    // smallGraphMaxEdges = 0 forces the distributed relaxation loop
    val viaLoop = toMap(LinkGraph.shortestPaths(
      edges, "src", "dst", "w", seeds, "node", rounds = 12,
      smallGraphMaxEdges = 0L))
    assert(viaDriver === viaLoop && viaDriver.size == n)
    // under-provisioned rounds must agree too (no early exit; both report
    // the best ≤2-edge path)
    val d2a = toMap(LinkGraph.shortestPaths(
      edges, "src", "dst", "w", seeds, "node", rounds = 2))
    val d2b = toMap(LinkGraph.shortestPaths(
      edges, "src", "dst", "w", seeds, "node", rounds = 2,
      smallGraphMaxEdges = 0L))
    assert(d2a === d2b)
    val bfsEdges = edges.select("src", "dst")
    val bA = toMap(LinkGraph.bfsDistance(
      bfsEdges, "src", "dst", seeds, "node", rounds = 12))
    val bB = toMap(LinkGraph.bfsDistance(
      bfsEdges, "src", "dst", seeds, "node", rounds = 12,
      smallGraphMaxEdges = 0L))
    assert(bA === bB && bA.size == n)
    // an isolated seed (no out-edges) is still reported at distance 0
    val iso = Seq(0L, 99L).toDF("node")
    val iA = toMap(LinkGraph.bfsDistance(
      bfsEdges, "src", "dst", iso, "node", rounds = 3))
    val iB = toMap(LinkGraph.bfsDistance(
      bfsEdges, "src", "dst", iso, "node", rounds = 3,
      smallGraphMaxEdges = 0L))
    assert(iA === iB && iA(99L) === 0L)
    // a null seed reaches nothing and yields no row in either tier
    val withNull = Seq(Some(0L), None).toDF("node")
    val nA = toMap(LinkGraph.shortestPaths(
      edges, "src", "dst", "w", withNull, "node", rounds = 12))
    val nB = toMap(LinkGraph.shortestPaths(
      edges, "src", "dst", "w", withNull, "node", rounds = 12,
      smallGraphMaxEdges = 0L))
    assert(nA === viaDriver && nB === viaDriver)
    val nC = toMap(LinkGraph.bfsDistance(
      bfsEdges, "src", "dst", withNull, "node", rounds = 12))
    val nD = toMap(LinkGraph.bfsDistance(
      bfsEdges, "src", "dst", withNull, "node", rounds = 12,
      smallGraphMaxEdges = 0L))
    assert(nC === bA && nD === bA)
  }
}
