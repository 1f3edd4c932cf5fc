package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CommonPrefixLen, Fns}

/** Distributed suffix array over the corpus by prefix doubling
  * (Manber–Myers 1993), and the duplicated-substring detection built on it
  * (the exact-substring dedup signal of Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better" — their single-node suffix
  * array is the part that does NOT scale to a cluster; width-doubling
  * re-expresses it as O(log maxDocLen) relational rounds).
  *
  * Why this exists next to the n-gram/MinHash family: shingle-based dedup
  * finds DOCUMENT-level near-duplicates; the suffix array finds every
  * EXACT repeated substring at any position — the memorization-risk signal
  * (boilerplate, licenses, templated spam) that survives document-level
  * dedup because the containing documents differ.
  *
  * Scale shape (the whole point): NO suffix string is ever materialized.
  * A suffix is the pair (doc, pos); its sort key is an order-consistent
  * integer rank refined over rounds. Three job-count levers make this
  * bench-real (the naive per-char/per-doubling form was measured 4-5×
  * slower at sf0.1 — all fixed job overhead):
  *
  *   1. ROUND 0 STARTS WIDE: suffixes are first ranked by their leading
  *      `initWidth`-char substring directly (a bounded `substr`
  *      projection, pipelined with the position generator — the full text
  *      is never copied per row). One pass replaces log2(initWidth)
  *      doubling rounds; the shuffle carries ≤ initWidth extra bytes/row.
  *   2. EACH ROUND QUADRUPLES: one exchange gathers the four width-w
  *      ranks at p, p+w, p+2w, p+3w (each row multicasts itself to the
  *      four positions that need it; one groupBy(doc,pos) pivot — NOT
  *      four self-joins), and ranking the 4-tuple orders suffixes by
  *      their first 4w chars. -1 is the past-end sentinel (below every
  *      real rank, so a shorter suffix that is a prefix sorts first).
  *   3. ONE WINDOW PER RANK PASS: ranks use rank()-over-bucket semantics
  *      (min row-number of the equal-key class) instead of dense rank —
  *      order-consistent, which is all later rounds need — so a pass is
  *      one ≤65536-row driver histogram (the IVF-centroid bounded-
  *      materialization contract), inlined offsets, and ONE
  *      bucket-partitioned window. Never a partition-less window, no
  *      distinct-pairs table, no rank join-back.
  *
  * Round count is DETERMINISTIC: one cheap max(length) job upfront, then
  * ceil(log4(maxLen/initWidth)) rounds — once the window covers the
  * longest doc, rank classes are exactly the byte-identical-suffix
  * classes, and the LAST rank pass emits the permutation directly
  * (row_number with (doc, pos) ties fused into its one window — no
  * separate globalRowNumber pass). 100 TB posture: a 1M-char max doc is
  * 6 rounds at the default initWidth=256; rounds checkpoint-cut lineage
  * and release predecessor blocks (the
  * [[IdentityResolution.connectedComponents]] loop contract).
  *
  * Ordering contract: UTF-8 byte order (Spark and DuckDB string
  * comparison agree for the ASCII corpus; round-0 buckets cap multi-byte
  * leading chars at 255, which only coarsens load balance, never rank
  * order).
  */
object SuffixArray {

  /** Driver-side histogram bound for the round-0 two-byte bucketer
    * (≤ 256² buckets, 16 B each — the same order as a broadcast bloom
    * bitset). Later rounds use ≤ `buckets` numeric-range buckets.
    */
  val MaxInitBuckets = 65536

  private val P = 1000000007L

  /** One rank pass: order-consistent class rank (min 0-based row number
    * of the equal-`keyCols` class under ORDER BY keyCols) appended as
    * `out`, plus the relation's row count from the same histogram job.
    * `bucketOf` must be monotone non-decreasing in the keyCols order with
    * ≤ `maxBuckets` distinct values; rank() ties inside the bucket window
    * give every class member its head's position, so no per-class
    * aggregation or join-back is needed.
    *
    * With `tieCols` set the pass instead emits the TOTAL order
    * `row_number() OVER (ORDER BY keyCols, tieCols) - 1`: because equal
    * keyCols classes get equal rank() and tieCols break ties within a
    * class, this is exactly classRank-then-row_number fused into the one
    * window the rank pass already pays — the final suffix-array pass
    * rides it instead of running [[Ranks.globalRowNumber]] afterwards.
    */
  private def classRankPass(df: DataFrame, keyCols: Seq[String],
      bucketOf: Column, out: String,
      maxBuckets: Int = MaxInitBuckets,
      tieCols: Seq[String] = Nil): (DataFrame, Long) = {
    val b = s"__crp_$out"
    val withB = df.withColumn(b, bucketOf.cast("long"))
    val hist = withB.groupBy(col(b)).agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getAs[Long](b), r.getAs[Long]("__n"))).sortBy(_._1)
    require(hist.length <= maxBuckets,
      s"rank-pass bucketer produced ${hist.length} distinct buckets (max " +
        s"$maxBuckets) — the offset table is a driver materialization")
    if (hist.isEmpty) (withB.drop(b).withColumn(out, lit(0L)), 0L)
    else {
      val total = hist.map(_._2).sum
      val offs = hist.map(_._1).zip(hist.map(_._2).scanLeft(0L)(_ + _).init).toMap
      val w = Window.partitionBy(b).orderBy((keyCols ++ tieCols).map(col): _*)
      val inBucket = if (tieCols.isEmpty) rank().over(w) else row_number().over(w)
      (withB.withColumn(out,
        Ranks.offsetLookup(col(b), offs) + inBucket - 1L).drop(b),
        total)
    }
  }

  /** (doc, pos, sa_pos): for every suffix of every doc (0-based char
    * `pos`), its 0-based position in the global suffix order — ranks by
    * full suffix, ties (byte-identical suffixes, e.g. from exact-copy
    * docs) broken by (doc, pos).
    */
  /** `wideCap`: adaptive short-corpus fast path. When the one upfront
    * max(length) probe shows EVERY doc fits in `wideCap` chars, round 0
    * ranks by the full (≤ wideCap-char) suffix and the quadrupling loop
    * never runs — the whole SA is ONE fused rank pass. This does
    * materialize suffixes in that pass's shuffle, but the per-row bytes
    * are bounded by the cap the caller chose, which is exactly the
    * "never materialize an UNBOUNDED suffix" contract; corpora with any
    * doc past the cap take the initWidth + quadrupling path unchanged.
    */
  def suffixRanks(docs: DataFrame, idCol: String, textCol: String,
      initWidth: Int = 256, buckets: Int = 256,
      wideCap: Int = 1024): DataFrame = {
    require(initWidth >= 4, s"initWidth must be >= 4, got $initWidth")
    val spark = docs.sparkSession
    val base = graft.Tables.ensureMinParallelism(
      docs.filter(col(idCol).isNotNull && length(col(textCol)) > 0))
      .select(col(idCol).as("doc"), col(textCol).as("__txt"))
    val maxLen = base.agg(max(length(col("__txt")))).collect()(0)
      .get(0) match { case null => 0; case i: Int => i }
    if (maxLen == 0)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc"), lit(0L).as("pos"), lit(0L).as("sa_pos"))
        .limit(0)
    // Deterministic round schedule, known before any pass runs: round 0
    // covers initWidth chars, each later round quadruples. The LAST pass
    // (possibly round 0 itself) fuses the final row_number in via tieCols
    // — ordering by (roundKey, doc, pos) equals ordering by (classRank,
    // doc, pos), so the separate globalRowNumber pass the <=r10 shape
    // paid is pure overhead.
    val effInitWidth =
      if (maxLen <= math.max(wideCap, initWidth)) maxLen else initWidth
    val nRounds = {
      var w = effInitWidth.toLong; var k = 0
      while (w < maxLen) { w *= 4; k += 1 }; k
    }

    // round 0: rank by the leading initWidth chars — generator + substr
    // pipeline in one narrow stage, so the per-row cost is the capped key,
    // never the doc text
    val suf0 = base
      .select(col("doc"),
        explode(sequence(lit(0L), length(col("__txt")).cast("long") - 1L))
          .as("pos"),
        col("__txt"))
      .select(col("doc"), col("pos"),
        col("__txt").substr((col("pos") + 1L).cast("int"), lit(effInitWidth))
          .as("__k"))
    // two-byte monotone bucketer: first two chars' code points capped at
    // 255 (capping coarsens balance only; a 1-char key's missing second
    // byte is 0, matching "a" < "ab" string order)
    val bucket0 =
      least(coalesce(ascii(substring(col("__k"), 1, 1)), lit(0)), lit(255)) * 256 +
        least(coalesce(ascii(substring(col("__k"), 2, 1)), lit(0)), lit(255))
    if (nRounds == 0)
      // initWidth already covers the longest doc: round 0 IS the final
      // pass — row_number by (key, doc, pos) in its one window
      return classRankPass(suf0, Seq("__k"), bucket0, "sa_pos",
        tieCols = Seq("doc", "pos"))._1
        .select(col("doc"), col("pos"), col("sa_pos"))

    val (ranked0, n) = classRankPass(suf0, Seq("__k"), bucket0, "r")
    var cur = Cuts.cut(ranked0.select(col("doc"), col("pos"), col("r")))
    var prev = cur

    var width = effInitWidth.toLong
    var round = 1
    var out: DataFrame = null
    while (round <= nRounds) {
      // multicast: each (doc, q, r) serves as the width-w rank for the
      // four positions q, q-w, q-2w, q-3w; ONE exchange pivots all four
      val tagged = cur.select(col("doc"), col("pos"), col("r"),
          explode(sequence(lit(0L), lit(3L))).as("__t"))
        .select(col("doc"), (col("pos") - col("__t") * width).as("pos"),
          col("__t"), col("r"))
        .filter(col("pos") >= 0L)
      val gathered = tagged.groupBy("doc", "pos").agg(
        max(when(col("__t") === 0L, col("r"))).as("__r0"),
        coalesce(max(when(col("__t") === 1L, col("r"))), lit(-1L)).as("__r1"),
        coalesce(max(when(col("__t") === 2L, col("r"))), lit(-1L)).as("__r2"),
        coalesce(max(when(col("__t") === 3L, col("r"))), lit(-1L)).as("__r3"))
      val last = round == nRounds
      val g = Cuts.cut(gathered)
      val rKeys = Seq("__r0", "__r1", "__r2", "__r3")
      val rBucket =
        expr(s"CAST(__r0 * $buckets AS BIGINT) div ${math.max(n, 1L)}")
      if (last) {
        // fused final pass: equal 4-tuples after the covering round are
        // byte-identical suffixes; (doc, pos) ties give the total order
        out = classRankPass(g, rKeys, rBucket, "sa_pos",
          maxBuckets = buckets + 1, tieCols = Seq("doc", "pos"))._1
          .select(col("doc"), col("pos"), col("sa_pos"))
      } else {
        val (ranked, _) = classRankPass(g, rKeys, rBucket, "__nr",
          maxBuckets = buckets + 1)
        val next = Cuts.cut(ranked.select(col("doc"), col("pos"),
          col("__nr").as("r")))
        Cuts.release(prev)
        Cuts.release(g)
        prev = next
        cur = next
      }
      width *= 4
      round += 1
    }
    out
  }

  /** Per-doc suffix-array verification summary: suffix count, min/max
    * global rank, and a position-weighted rank checksum mod 1e9+7 — any
    * single rank error anywhere breaks some doc's checksum, so the whole
    * permutation is pinned in #docs output rows (the executed-resize
    * checksum pattern). The sum accumulates in DECIMAL(38,0): Long would
    * overflow past ~9e9 terms of (mod P)² products.
    */
  def rankChecksum(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val term = ((col("sa_pos") % P) * ((col("pos") + 1L) % P)) % P
    suffixRanks(docs, idCol, textCol)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_suffixes"),
        min("sa_pos").as("min_rank"),
        max("sa_pos").as("max_rank"),
        (sum(term.cast("decimal(38,0)")) % P).cast("long").as("rank_checksum"))
  }

  /** Duplicated-substring spans: a position is a DUP START if the suffix
    * there shares a prefix of ≥ `minLen` chars (capped at `cap`) with a
    * rank-adjacent suffix — the suffix-array property that adjacent ranks
    * maximize common prefixes makes checking the two neighbors EXACT for
    * "∃ another occurrence of length ≥ minLen" (any such occurrence
    * implies an adjacent LCP at least that long). Output per doc: suffix
    * count, dup-start count, longest capped span.
    *
    * Shape: suffix prefixes re-materialize only `cap` chars per row —
    * never the suffix, and never a re-shuffle of the corpus: the doc
    * table is the small side of a broadcast join against the SA, so the
    * substr is a pipelined projection. Rank adjacency exploits sa_pos
    * being a DENSE 0..n-1 permutation (n = total chars, one tiny agg on
    * the doc table): bucket `sa_pos * B div n` is perfectly balanced
    * with ANALYTIC offsets — no histogram job — so neighbors come from
    * ONE ~1x-volume exchange + lead/lag inside bucket windows. Bucket
    * edges are exact, not approximated: each boundary row also emits a
    * GHOST copy into its rank-neighbor's bucket (≤ 2 extra rows per
    * bucket), supplying the missing lead/lag there; ghosts are dropped
    * after the window. This replaced an r10→r11-draft shape whose 3x
    * multicast + n-group hash gather spilled at sf1 (102 s cold rep).
    * LCPs are codegen'd [[CommonPrefixLen]] calls on the window output.
    */
  /** Each suffix position with the capped prefixes of its GLOBAL
    * suffix-array neighbors: (doc, pos, pfx, __pn, __pp) — the shared
    * ghost-window machinery behind [[dupSpans]] and [[removeDupSpans]].
    */
  private def saNeighborPrefixes(docs: DataFrame, idCol: String,
      textCol: String, cap: Int): DataFrame = {
    val filtered = docs
      .filter(col(idCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc"), col(textCol).as("__txt"))
    val n = filtered.agg(sum(length(col("__txt")))).collect()(0).get(0) match {
      case null => 0L
      case l: Long => l
    }
    val nSafe = math.max(n, 1L)
    // bucket count: analytic offsets cost the driver nothing, so size for
    // ~4k rows/bucket, clamped to the usual driver-histogram bound
    val B = math.max(256L, math.min(65536L, nSafe / 4096L))
    val sa = suffixRanks(docs, idCol, textCol)
    val pfx = sa.join(broadcast(filtered), Seq("doc"))
      .select(col("doc"), col("pos"), col("sa_pos"),
        col("__txt").substr((col("pos") + 1L).cast("int"), lit(cap)).as("pfx"))
    def bktOf(s: Column): Column =
      Fns.ofExpr(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        Fns.toExpr(s * B), Fns.toExpr(lit(nSafe))))
    val bkt = bktOf(col("sa_pos"))
    val nextB = bktOf(col("sa_pos") + 1L)
    val prevB = bktOf(col("sa_pos") - 1L)
    val isLast = nextB =!= bkt // global last ghosts into an all-ghost
    // bucket that the post-window filter drops; harmless
    val isFirst = col("sa_pos") === 0L || prevB =!= bkt
    // null entries mark "no ghost here"; explode emits them and a
    // RELATIONAL isNotNull filter drops them — an array-filter HOF here
    // would run interpreted per row, the exact pathology the r10
    // tx_ngram_novelty reroute removed
    val targets = array(
      struct(bkt.as("b"), lit(false).as("g")),
      when(isLast, struct(nextB.as("b"), lit(true).as("g"))),
      when(isFirst && col("sa_pos") =!= 0L,
        struct(prevB.as("b"), lit(true).as("g"))))
    val rel = pfx
      .select(col("doc"), col("pos"), col("sa_pos"), col("pfx"),
        explode(targets).as("__bg"))
      .filter(col("__bg").isNotNull)
      .select(col("doc"), col("pos"), col("sa_pos"), col("pfx"),
        col("__bg.b").as("__b"), col("__bg.g").as("__g"))
    val w = Window.partitionBy(col("__b")).orderBy(col("sa_pos"))
    rel
      .withColumn("__pn", lead(col("pfx"), 1).over(w))
      .withColumn("__pp", lag(col("pfx"), 1).over(w))
      .filter(!col("__g"))
      .select("doc", "pos", "pfx", "__pn", "__pp")
  }

  private def lcpWith(cap: Int)(other: Column): Column =
    when(other.isNull, 0).otherwise(Fns.ofExpr(CommonPrefixLen(
      Fns.toExpr(col("pfx")), Fns.toExpr(other), cap)))

  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, cap: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= cap,
      s"need 1 <= minLen <= cap, got minLen=$minLen cap=$cap")
    val lcp = lcpWith(cap) _
    saNeighborPrefixes(docs, idCol, textCol, cap)
      .withColumn("__dup_len",
        greatest(lcp(col("__pn")), lcp(col("__pp"))))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_suffixes"),
        sum(when(col("__dup_len") >= minLen, 1L).otherwise(0L)).as("n_dup_pos"),
        max("__dup_len").cast("int").as("max_dup_len"))
  }

  /** The APPLY step of exact-substring dedup (the MassiveText
    * ExactSubstr removal, Lee et al. 2022): every position whose suffix
    * shares a ≥ `minLen`-char prefix with its suffix-array PREDECESSOR is
    * a NON-FIRST occurrence (the SA-run head — the lexicographically
    * first (doc,pos) of the run — keeps its copy), and its duplicated
    * span [pos, pos+lcp) is cut, capped at `cap` chars per position
    * (successive dup positions extend coverage past the cap, so long
    * duplicated regions are still fully removed). Overlapping spans merge
    * with the gaps-and-islands pass; surviving text is reassembled from
    * the between-span segments.
    *
    * Output per doc: (doc, orig_len, kept_len, n_spans_cut, cleaned_md5)
    * — the md5 stands in for the cleaned text so the result stays
    * row-compact at any scale (the cleaned text itself is the
    * `piece`-segment projection, available by omitting the final hash).
    * All windows are doc-partitioned over span/segment rows (bounded by
    * per-doc dup structure), never corpus-sized.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, cap: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= cap,
      s"need 1 <= minLen <= cap, got minLen=$minLen cap=$cap")
    val lcp = lcpWith(cap) _
    val iv = saNeighborPrefixes(docs, idCol, textCol, cap)
      .withColumn("__lp", lcp(col("__pp")))
      .filter(col("__lp") >= minLen)
      .select(col("doc"), col("pos").as("s"),
        (col("pos") + col("__lp")).as("e"))
    val base = docs.filter(col(idCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc"), col(textCol).as("__txt"),
        length(col(textCol)).cast("long").as("len"))
    // merge overlapping/adjacent spans: island starts where s exceeds the
    // running max of prior ends
    val wPrev = Window.partitionBy("doc").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, 0)
    val merged = iv
      .withColumn("__runmax", max("e").over(wPrev))
      .withColumn("__new",
        when(col("__runmax").isNull || col("s") > col("__runmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum("__new").over(wRun))
      .groupBy("doc", "__isl").agg(min("s").as("s"), max("e").as("e"))
    // kept segments = gaps between merged spans + the tail; uncut docs
    // keep one full-length segment
    val wSeg = Window.partitionBy("doc").orderBy("s")
    val mids = merged
      .withColumn("st", coalesce(lag("e", 1).over(wSeg), lit(0L)))
      .select(col("doc"), col("st"), col("s").as("en"))
    val tails = merged.groupBy("doc").agg(max("e").as("st"))
      .join(base.select("doc", "len"), "doc")
      .select(col("doc"), col("st"), col("len").as("en"))
    val uncut = base.join(merged.select("doc").distinct(), Seq("doc"), "left_anti")
      .select(col("doc"), lit(0L).as("st"), col("len").as("en"))
    val segs = mids.unionByName(tails).unionByName(uncut)
      .filter(col("en") > col("st"))
      .join(base, "doc")
      .select(col("doc"), col("st"), (col("en") - col("st")).as("plen"),
        col("__txt").substr((col("st") + 1L).cast("int"),
          (col("en") - col("st")).cast("int")).as("piece"))
    val kept = segs.groupBy("doc")
      .agg(sum("plen").as("kept_len"),
        array_join(transform(
          array_sort(collect_list(struct(col("st"), col("piece")))),
          x => x.getField("piece")), "").as("__kept"))
    val nspans = merged.groupBy("doc").agg(count(lit(1)).as("n_spans_cut"))
    base.select(col("doc"), col("len").as("orig_len"))
      .join(kept, Seq("doc"), "left")
      .join(nspans, Seq("doc"), "left")
      .select(col("doc"), col("orig_len"),
        coalesce(col("kept_len"), lit(0L)).as("kept_len"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        md5(coalesce(col("__kept"), lit("")).cast("binary")).as("cleaned_md5"))
  }
}
