package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Skew evidence for the near-dup band join (VERDICT r12 #7): one
  * boilerplate bucket of B near-identical docs costs C(B,2) candidate
  * pairs REGARDLESS of the LSH band width — measured here in pair counts
  * and shuffle bytes (quadratic in B), plus the documented escape hatch
  * (`hotBucketCap` star pairs: B−1 rows, cluster connectivity kept).
  * SCALE.md carries the numbers.
  */
class Round13SkewSpec extends SparkSpec {

  import spark.implicits._

  /** `body`'s result and the shuffle bytes it wrote. */
  private def measure[A](body: => A): (A, Long) = {
    val (out, stats) = RunStats.during(spark)(body)
    (out, stats.shuffleWriteBytes)
  }

  private val boiler = "the quick brown fox jumps over a lazy dog while the " +
    "bright sun sets behind tall green hills and children play near the " +
    "quiet river bank for hours watching small boats drift slowly past docks"

  /** B copies of the SAME boilerplate text (every band collides → one
    * B-member bucket per band) + 200 unique background docs.
    */
  private def corpus(b: Int) = {
    val hot = (0 until b).map(i => (i.toLong, boiler))
    val bg = (0 until 200).map(i => (100000L + i,
      s"unique background document number $i about topic t$i with words " +
        s"w${i * 3} w${i * 3 + 1} w${i * 3 + 2} only it contains"))
    (hot ++ bg).toDF("doc_id", "text")
  }

  private def pairs(b: Int, cap: Int = Int.MaxValue) =
    Dedup.minhashLshPairs(corpus(b), "doc_id", "text",
      n = 3, numHashes = 8, bandSize = 2, threshold = 0.8,
      hotBucketCap = cap)

  test("hot band bucket: pair volume and shuffle bytes follow sum-bucket-squared") {
    val (n500, w500) = measure(pairs(500).count())
    val (n1000, w1000) = measure(pairs(1000).count())
    // identical docs: jaccard 1.0, every pair verifies → exactly C(B,2)
    assert(n500 === 500L * 499 / 2, s"B=500 pairs: $n500")
    assert(n1000 === 1000L * 999 / 2, s"B=1000 pairs: $n1000")
    // quadratic shuffle growth on 2× the hot bucket: the pair rows
    // dominate the wire, so bytes track C(B,2) ≈ 4× (wide tolerance for
    // the fixed signature-side bytes shared by both runs)
    val ratio = w1000.toDouble / w500.max(1L)
    assert(ratio > 2.4 && ratio < 6.5,
      s"expected ~4x shuffle-write growth, got $ratio ($w500 -> $w1000)")
  }

  test("hotBucketCap: star pairs keep connectivity at linear cost") {
    val (nCap, wCap) = measure(pairs(1000, cap = 64).count())
    val (nFull, wFull) = measure(pairs(1000).count())
    assert(nCap === 999L, s"star pairs of the 1000-bucket: $nCap")
    assert(nFull === 1000L * 999 / 2)
    assert(wCap < wFull / 3,
      s"capped run must shuffle far less: $wCap vs $wFull")
    // connectivity: every member pairs with the min doc → one cluster
    val star = pairs(1000, cap = 64).select("id_a", "id_b").collect()
    assert(star.forall(_.getLong(0) === 0L), "star center is the min doc")
    assert(star.map(_.getLong(1)).toSet === (1L until 1000L).toSet)
  }
}
