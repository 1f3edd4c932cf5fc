package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Fns

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification (marker-word heuristic), and
  * document fingerprinting. All pure column expressions (whole-stage
  * codegen, no UDFs) — per-row cost, embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(Fns.tokens(text))

  /** Deterministic MLM masking (Devlin et al. 2019 §3.1 — BERT's
    * 15% / 80-10-10 rule): each token position is masked with p=0.15;
    * a masked position becomes `[MASK]` 80% of the time, a RANDOM vocab
    * token 10%, and stays itself 10%. Every draw is the portable hash of
    * (doc, pos, salt) — reproducible epochs, engine-replayable. The
    * random-token table is the corpus vocabulary in code-point order
    * (driver-bounded collect, the negative-table contract), indexed by
    * hash — so the oracle's `row_number() OVER (ORDER BY token)` picks
    * the identical word. Output: (doc, pos, token, out_token, is_masked,
    * label) — label carries the original token ONLY at masked positions
    * (the loss mask).
    */
  def mlmMask(docs: DataFrame, idCol: String, textCol: String,
      maskPct: Int = 15): DataFrame = {
    require(maskPct >= 1 && maskPct <= 99, s"bad maskPct $maskPct")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol).as("doc"),
        posexplode(Fns.tokens(col(textCol))).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    val vocab = toks.select("token").distinct()
      .limit(graft.operators.SkipGram.MaxHuffmanVocab + 1)
      .collect().map(_.getString(0))
    require(vocab.length <= graft.operators.SkipGram.MaxHuffmanVocab,
      "mlmMask: vocabulary exceeds the driver-bounded ceiling")
    // code-point order = both engines' binary string order
    val sorted = vocab.sortWith { (a, b) =>
      var i = 0; var j = 0
      var r = 0
      while (r == 0 && i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) r = Integer.compare(ca, cb)
        else { i += Character.charCount(ca); j += Character.charCount(cb) }
      }
      (if (r != 0) r else Integer.compare(a.length - i, b.length - j)) < 0
    }
    val bVocab = spark.sparkContext.broadcast(sorted)
    implicit val enc = Encoders.row(StructType(Seq(
      toks.schema("doc"), toks.schema("pos"), toks.schema("token"),
      StructField("out_token", StringType, nullable = true),
      StructField("is_masked", BooleanType, nullable = false),
      StructField("label", StringType, nullable = true))))
    val pct = maskPct
    toks.mapPartitions { rows =>
      val v = bVocab.value
      def h(key: String): Long = graft.functions.RollingHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(key))
      rows.map { r =>
        val doc = r.get(0); val pos = r.get(1); val tok = r.getString(2)
        val masked = h(s"$doc:$pos:m") % 100 < pct
        val out =
          if (!masked) tok
          else h(s"$doc:$pos:t") % 10 match {
            case x if x <= 7 => "[MASK]"
            case 8 => v((h(s"$doc:$pos:r") % v.length).toInt)
            case _ => tok
          }
        Row(doc, pos, tok, out, masked, if (masked) tok else null)
      }
    }
  }

  /** Per-document SCRIPT profile — the multilingual-curation gate that
    * routes documents to per-script pipelines (and catches mislabeled
    * `lang` columns): code points counted into Unicode-block buckets
    * (Latin incl. Latin-1/Extended, Cyrillic, CJK unified, Arabic,
    * digits, whitespace, other), plus the dominant LETTER script by a
    * fixed precedence argmax (latin > cyrillic > cjk > arabic > other on
    * ties — deterministic). One typed pass per row (exact code-point
    * iteration — surrogate-safe, which a regex char split is not);
    * counts are integers, so the profile is engine-replayable.
    * Output: (doc, n_latin, n_cyrillic, n_cjk, n_arabic, n_digit,
    * n_space, n_other, dominant).
    */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val in = docs.select(col(idCol).as("doc"), col(textCol).as("__t"))
    implicit val enc = Encoders.row(StructType(
      in.schema("doc") +: Seq("n_latin", "n_cyrillic", "n_cjk", "n_arabic",
        "n_digit", "n_space", "n_other")
        .map(StructField(_, LongType, nullable = false))))
    val counted = in.mapPartitions { rows =>
      rows.map { r =>
        val s = if (r.isNullAt(1)) "" else r.getString(1)
        var lat = 0L; var cyr = 0L; var cjk = 0L; var ara = 0L
        var dig = 0L; var spc = 0L; var oth = 0L
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          if (cp >= '0' && cp <= '9') dig += 1
          else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') spc += 1
          else if ((cp >= 0x41 && cp <= 0x5a) || (cp >= 0x61 && cp <= 0x7a) ||
            (cp >= 0xc0 && cp <= 0x24f)) lat += 1
          else if (cp >= 0x400 && cp <= 0x4ff) cyr += 1
          else if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
          else if (cp >= 0x600 && cp <= 0x6ff) ara += 1
          else oth += 1
          i += Character.charCount(cp)
        }
        Row(r.get(0), lat, cyr, cjk, ara, dig, spc, oth)
      }
    }
    counted.withColumn("dominant",
      when(col("n_latin") === 0 && col("n_cyrillic") === 0 &&
        col("n_cjk") === 0 && col("n_arabic") === 0, "none")
        .when(col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_cjk") && col("n_latin") >= col("n_arabic"),
          "latin")
        .when(col("n_cyrillic") >= col("n_cjk") &&
          col("n_cyrillic") >= col("n_arabic"), "cyrillic")
        .when(col("n_cjk") >= col("n_arabic"), "cjk")
        .otherwise("arabic"))
  }

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * single other non-space chars — a cheap proxy for tokenizer cost
    * accounting. DuckDB: `len(regexp_extract_all(lower(s),'[a-z]+|[0-9]+|[^a-z0-9 ]'))`.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  val StopWords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  /** Fraction of tokens that are stopwords, 4 decimals. */
  def stopwordRatio(text: Column): Column = {
    val ts = Fns.tokens(text)
    round(
      size(filter(ts, t => t.isin(StopWords: _*))) /
        greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Fraction of non-space chars that are punctuation, 4 decimals. */
  def punctRatio(text: Column): Column = {
    val nonSpace = length(regexp_replace(text, "\\s", ""))
    val punct = length(regexp_replace(regexp_replace(text, "\\s", ""), "[a-zA-Z0-9]", ""))
    round(punct / greatest(nonSpace, lit(1)).cast("double"), 4)
  }

  /** Composite quality score in [0,1]: length sweet-spot × low punctuation ×
    * stopword presence (natural text has some). Deterministic arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4)
    val stopScore = least(stopwordRatio(text) * 5, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 4)
  }

  /** Marker-word sets per language for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: language ID at pipeline scale is a
    * per-row score-and-argmax, and the marker table is broadcast-free
    * (inlined in the plan).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist")
  )

  /** Predicted language: argmax of marker-token hits, ties broken by the
    * declaration order above; "und" (undetermined) when no marker hits.
    */
  def langId(text: Column): Column = {
    val ts = Fns.tokens(text)
    val scores = LangMarkers.map { case (lang, ms) =>
      lang -> size(filter(ts, t => t.isin(ms: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), els) =>
      when(sc === best && sc > 0, lit(lang)).otherwise(els)
    }
  }

  /** Portable document fingerprint (rolling hash of the full text). */
  def fingerprint(text: Column): Column = Fns.rollingHash(text)

  /** Canonical text normalization — the cleaning step ahead of hashing /
    * shingling in every curation pipeline: lowercase, strip
    * non-alphanumeric-non-space characters, collapse whitespace runs to
    * single spaces, trim. Pure per-row projection; normalizing BEFORE
    * exact/near dedup is what makes "same text modulo case and
    * punctuation" collide to one key.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Strip HTML/XML markup down to text — the extraction step ahead of
    * every web-corpus gate (C4/CCNet run on extracted text, not raw
    * HTML): drop tags (`<...>`, including comments and doctype), decode
    * the frequent entities, collapse whitespace runs, trim. Entity
    * decode order matters: `&amp;` is decoded LAST so `&amp;lt;` yields
    * the literal `&lt;` instead of double-decoding — the standard
    * single-pass convention. Pure per-row codegen'd projection — no
    * shuffle, embarrassingly parallel; script-heavy extraction (JS
    * boilerplate removal) belongs in a quality gate downstream, not
    * here.
    */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) {
      case (c, (e, r)) => replace(c, lit(e), lit(r))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // --- repetition filters (Gopher-style quality signals) -----------------
  // Public provenance: "Scaling Language Models: Methods, Analysis &
  // Insights from Training Gopher" (Rae et al. 2021) §A.1.1 uses
  // duplicate-n-gram fractions and most-common-word fraction as document
  // quality gates. Re-expressed as per-row column expressions — no
  // shuffle, embarrassingly parallel at corpus scale.

  /** Fraction of tokens that are the single most frequent token, 4
    * decimals. O(distinct×tokens) per row — documents are bounded
    * (pipeline chunking), so this stays a per-row constant.
    * DuckDB: list_max(list_transform(list_distinct(ts),
    *   w -> len(list_filter(ts, t -> t = w)))) / len(ts).
    */
  def topTokenFraction(text: Column): Column = {
    val ts = Fns.tokens(text)
    val topCount = array_max(transform(array_distinct(ts),
      w => size(filter(ts, t => t === w))))
    round(topCount / greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Fraction of word n-grams that are repeats of an earlier n-gram in the
    * same document (1 - distinct/total), 4 decimals; 0.0 when the document
    * has fewer than n tokens.
    */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val gs = Fns.shingles(text, n)
    when(size(gs) <= 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(gs)) / size(gs).cast("double"), 4))
  }

  /** Repetition gate: true when the document looks pathologically
    * repetitive under the Gopher-style thresholds (most-common-word > 30%
    * of tokens, or > 30% duplicated 2-grams).
    */
  def repetitive(text: Column): Column =
    topTokenFraction(text) > 0.3 || dupNgramFraction(text, 2) > 0.3

  // --- Gopher quality rule battery ---------------------------------------
  // Public provenance: Rae et al. 2021 §A.1.1 filters documents by word
  // count bounds, mean word length bounds, symbol-to-word ratio, and the
  // fraction of words carrying at least one alphabetic character. All
  // per-row column arithmetic — no shuffle, no UDFs.

  /** Mean token length in characters, 4 decimals (0.0 for empty docs). */
  def meanWordLength(text: Column): Column = {
    val ts = Fns.tokens(text)
    val totalChars = aggregate(ts, lit(0L), (acc, w) => acc + length(w))
    round(totalChars / greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Fraction of tokens containing at least one alphabetic character,
    * 4 decimals. Gopher gates on ≥ 0.8.
    */
  def alphaWordFraction(text: Column): Column = {
    val ts = Fns.tokens(text)
    round(size(filter(ts, w => w.rlike("[a-z]"))) /
      greatest(size(ts), lit(1)).cast("double"), 4)
  }

  /** Full Gopher-style gate: word count within [minWords, maxWords], mean
    * word length within [minMeanLen, maxMeanLen], punctuation ratio under
    * maxSymbolRatio, alpha-word fraction over minAlphaFrac, and at least
    * minStopHits stopword occurrences (natural prose contains function
    * words). Returns a boolean column.
    */
  def gopherPass(text: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): Column = {
    val ts = Fns.tokens(text)
    val nWords = size(ts)
    val stopHits = size(filter(ts, t => t.isin(StopWords: _*)))
    nWords.between(minWords, maxWords) &&
      meanWordLength(text).between(minMeanLen, maxMeanLen) &&
      punctRatio(text) < maxSymbolRatio &&
      alphaWordFraction(text) > minAlphaFrac &&
      stopHits >= minStopHits
  }

  /** Default weights for [[qualityLogit]]: (bias, length, stopword,
    * punctuation, alpha-fraction, mean-word-length). Stand-ins for a
    * trained classifier's coefficients — the OPERATOR contract (broadcast
    * constant weights × per-row feature projection) is what matters at
    * scale; swapping in learned weights changes no plan shape.
    */
  val QualityLogitWeights: Seq[Double] = Seq(-1.0, 1.5, 2.0, -3.0, 1.0, 0.5)

  /** Linear quality-classifier score (fasttext-style curation classifiers
    * reduce to exactly this at inference: w·features + b per document).
    * Features are each rounded to 4 decimals BEFORE the combination, and
    * the combination itself runs in EXACT DECIMAL(18,6) arithmetic with
    * no final double-round: a double sum rounded with `round(x, 4)`
    * diverges across engines when the sum lands an ulp below a
    * half-boundary (Spark rounds the 17-digit shortest representation,
    * DuckDB a 15-digit one — observed live: 1.8045499999999999 → 1.8045
    * vs 1.8046 on 13/5000 docs at sf0.1). The exact-decimal combination
    * of exactly-representable terms has ONE value on every engine; the
    * output is that value cast to double. The logit is monotone in the
    * probability, so thresholding it is equivalent to thresholding the
    * sigmoid, without cross-engine exp() rounding either.
    */
  def qualityLogit(text: Column, weights: Seq[Double] = QualityLogitWeights): Column = {
    require(weights.length == 6, "need (bias, len, stop, punct, alpha, mwl)")
    val Seq(b, wLen, wStop, wPunct, wAlpha, wMwl) = weights
    def dec(c: Column) = c.cast("decimal(18,6)")
    val fLen = dec(least(tokenCount(text) / lit(100.0), lit(1.0)))
    // 0.5·(mwl/10) folded to 0.05·mwl: decimal division scale rules differ
    // across engines, multiplication is exact everywhere
    val logit = dec(lit(b)) + dec(lit(wLen)) * fLen +
      dec(lit(wStop)) * dec(stopwordRatio(text)) +
      dec(lit(wPunct)) * dec(punctRatio(text)) +
      dec(lit(wAlpha)) * dec(alphaWordFraction(text)) +
      dec(lit(wMwl / 10.0)) * dec(meanWordLength(text))
    logit.cast("double")
  }

  // --- PII redaction ------------------------------------------------------
  // Patterns deliberately restricted to syntax with identical semantics in
  // Java regex (Spark) and RE2 (DuckDB): character classes, bounded
  // quantifiers, alternation, \b word boundaries — no backreferences or
  // lookaround (RE2 has neither).

  /** Email addresses (conservative: alnum local part with . + _ -). */
  val EmailRe = "[A-Za-z0-9][A-Za-z0-9.+_-]*@[A-Za-z0-9-]+\\.[A-Za-z0-9.]+"
  /** NANP-style phone: 555-123-4567 (word-bounded). */
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  /** Dotted-quad IPv4 (word-bounded; no range validation — redaction
    * favors recall).
    */
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails, then phones, then IPv4s with typed placeholder tags.
    * Order matters only for overlapping matches; these three pattern
    * families are mutually exclusive on any single span.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Count of matches of `re` in `text` (0 for null text). */
  def piiCount(text: Column, re: String): Column =
    coalesce(regexp_count(text, lit(re)), lit(0))

  /** Sliding-window token chunking — the RAG/embedding-prep shape: each
    * document becomes overlapping chunks of `window` tokens advancing by
    * `stride` (stride < window ⇒ overlap preserves context across chunk
    * boundaries; stride = window ⇒ disjoint chunks). The final partial
    * chunk is kept when at least one token remains past the last full
    * stride (no content is silently dropped). Output: (doc, chunk_idx,
    * chunk_text, n_tokens). Pure projection + generator — zero shuffles,
    * embarrassingly parallel at corpus scale; chunk count per doc is
    * ⌈max(n - window, 0) / stride⌉ + 1.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val ts = Fns.tokens(col(textCol))
    val nChunks = (ceil(greatest(size(ts) - window, lit(0)) /
      lit(stride.toDouble)) + 1).cast("int")
    val chunkArr = transform(sequence(lit(0), nChunks - 1),
      i => slice(ts, i * stride + 1, lit(window)))
    docs.filter(size(ts) > 0)
      .select(col(idCol).as("doc"), posexplode(chunkArr).as(Seq("chunk_idx", "c")))
      .select(col("doc"), col("chunk_idx"),
        concat_ws(" ", col("c")).as("chunk_text"),
        size(col("c")).as("n_tokens"))
  }

  /** Corpus-trained add-one-smoothed bigram language-model score per
    * document — the CCNet-style perplexity quality filter (Wenzek et al.
    * 2020, arXiv:1911.00359 §4.3: documents are ranked by LM perplexity
    * and the worst tail dropped; here the LM is trained on the corpus
    * itself instead of a shipped KenLM binary, so the whole thing is one
    * deterministic Spark plan). Per document:
    *
    *   avg_logprob = (1/B) · Σ ln( (c(w₁w₂)+1) / (c(w₁)+V) )
    *
    * over its B bigram positions, with c(·) corpus counts and V the
    * corpus vocabulary size. Output (doc, n_bigrams, avg_logprob);
    * single-token documents have no bigrams and are absent. Low scores ≈
    * high perplexity ≈ drop candidates.
    *
    * Determinism contract: each term is rounded to 6 decimals and summed
    * in DECIMAL(28,6) — exact, order-independent — so the result is
    * bit-stable across partitionings AND engines (a raw double sum over a
    * shuffled join is neither). The final 4-decimal average is computed in
    * INTEGER arithmetic — micro-unit sum islp = slp·10⁶ (exact long),
    * avg·10⁴ = round-half-away(islp / (100·B)) via the positive-operand
    * identity (2m+b) div (2b) — never `round(double, 4)`, whose half-
    * boundary behavior differs between engines when the quotient lands an
    * ulp from x.xxxx5 (the qualityLogit DECIMAL lesson; a divergent round
    * here would also migrate documents across perplexity bands
    * downstream). Plan: count tables are two keyed
    * map-side-combined aggregations over the exploded token/bigram
    * streams; scoring joins them back keyed on the token(s); V is a 1-row
    * broadcast. Linear in corpus tokens at 100 TB — the standard
    * distributed n-gram-LM shape (Brants et al. 2007, EMNLP, "Large
    * Language Models in Machine Translation" trains exactly these count
    * tables in MapReduce).
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val win = Window.partitionBy("doc").orderBy("p")
    val toks = docs.select(col(idCol).as("doc"),
      posexplode(Fns.tokens(col(textCol))).as(Seq("p", "w1")))
    val bi = toks.withColumn("w2", lead("w1", 1).over(win))
      .filter(col("w2").isNotNull)
    val uni = toks.groupBy("w1").agg(count(lit(1)).as("c1"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = toks.agg(count_distinct(col("w1")).as("v"))
    bi.join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        round(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))), 6)
          .cast("decimal(28,6)"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      // islp = slp·10⁶: DECIMAL(38,6)×10⁶ has zero fractional part, so the
      // long cast is exact (|slp| ≲ 20·doc_len keeps it far under 2⁶³);
      // sign·((2|islp|+100B) div (200B)) is half-away-from-zero rounding of
      // islp/(100B) with POSITIVE integer division only — floor == trunc,
      // so Spark `div` and DuckDB `//` agree; /10⁴ of a small int in double
      // is correctly rounded IEEE on both engines
      .withColumn("islp", (col("slp") * lit(1000000L)).cast("long"))
      .select(col("doc"), col("n_bigrams"),
        (when(col("islp") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(2*abs(islp) + 100*n_bigrams) div (200*n_bigrams)"))
          .cast("double")./(lit(10000.0)).as("avg_logprob"))
  }

  /** Per-doc n-gram novelty: the fraction (ppm) of a document's DISTINCT
    * n-grams that occur in NO other document — the memorization-risk /
    * uniqueness ranking signal. Uses the relational shingle index (the
    * PPJoin pipeline's shared subtree — one doc-partitioned lead window,
    * whole-stage codegen) rather than the per-row HOF shingle lambda,
    * which is interpreted and measured ~2.5× slower at sf0.1; the gram
    * table feeds both the gram-df aggregation and the join back, so the
    * exchange is computed once (ReuseExchange). Docs with fewer than n
    * tokens emit no row (no grams ⇒ novelty undefined).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val grams = Dedup.shingleIndex(docs, idCol, textCol, n)
    val gdf = grams.groupBy("s").agg(count(lit(1)).as("gdf"))
    grams.join(gdf, "s")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc").as(idCol), col("n_grams"), col("n_unique"),
        expr("(n_unique * 1000000) div n_grams").as("novelty_ppm"))
  }

  /** Per-domain unigram KL divergence against the whole corpus —
    * KL(P_domain ‖ P_corpus) — the data-recipe drift diagnostic (which
    * sources' token distributions deviate most; feeds mixture-weight
    * decisions). Micro-nat integer output via the engine's rounded-ln
    * exactness pattern ([[bigramLmScore]]): the per-TYPE log ratio
    * ln((c_d·N) / (n_d·c)) is rounded to 6 decimals ONCE, scaled to an
    * integer, weighted by the exact count c_d, summed as exact integers,
    * and divided by n_d at the very end — so nothing order-dependent
    * ever accumulates in floating point. Every domain type also occurs
    * in the corpus (c ≥ c_d > 0): no zero ratios.
    *
    * Product bound: c_d·N must stay under 2^53 for the double quotient
    * to be exact — holds to ~petatoken corpora per domain type; beyond
    * that, pre-scale counts (documented contract, loud to revisit).
    *
    * Plan: one tokenize pass → one (domain, type) aggregation; the type
    * and domain marginals reduce FROM that table (never a second corpus
    * pass); N is a 1-row broadcast scalar.
    */
  def domainKl(docs: DataFrame, textCol: String, domainCol: String): DataFrame = {
    val toks = docs.select(col(domainCol).as("domain"),
        explode(Fns.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
    val cs = toks.groupBy("domain", "w").agg(count(lit(1)).as("c_d"))
    val ns = cs.groupBy("domain").agg(sum("c_d").as("n_d"))
    val cc = cs.groupBy("w").agg(sum("c_d").as("c"))
    val nTot = cc.agg(sum("c").as("n_tot"))
    cs.join(cc, "w").join(ns, "domain").crossJoin(broadcast(nTot))
      .withColumn("iln",
        (round(log((col("c_d") * col("n_tot")).cast("double") /
            (col("n_d") * col("c")).cast("double")), 6)
          .cast("decimal(28,6)") * 1000000).cast("long"))
      .groupBy("domain")
      .agg(max("n_d").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c_d") * col("iln")).as("num"))
      .select(col("domain"), col("n_tokens"), col("n_types"),
        // num is ≥ 0 in exact math (KL ≥ 0) but micro-rounding can push
        // it a hair negative: divide |num| and reapply the sign so both
        // engines' integer division agrees (floor == trunc on positives)
        (when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("abs(num) div n_tokens")).as("kl_micro"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al., NeurIPS
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): features are unigram + bigram occurrences hashed into
    * `buckets`; the target and source distributions are the two bucket
    * count tables (add-one smoothed), and a doc's weight sums its grams'
    * bucket scores. The published form scores log(p_target/p_source);
    * transcendental doubles cannot hash-match across engines, so the
    * score is the FIXED-POINT frequency ratio
    * `((cnt_t + 1)·scale) div (cnt_s + 1)` — integer-exact and
    * cross-engine reproducible (the same deviation-for-exactness
    * precedent as the quality logit's DECIMAL linear score). Compose
    * with [[Sampling.importanceSample]] for the resampling step.
    *
    * Plan shape: one tokenize pass feeds unigrams and bigrams (the
    * bigram `lead` rides the same per-doc exchange), one bucket
    * aggregation (`buckets` rows — AQE broadcasts it back), one per-doc
    * aggregation. No driver-side state; safe at any corpus size.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int, scale: Long = 1000000L): DataFrame = {
    require(buckets > 0 && scale > 0, s"buckets $buckets scale $scale")
    val w = Window.partitionBy("doc").orderBy("p")
    val base = docs.select(col(idCol).as("doc"), targetPred.as("is_target"),
        posexplode(Fns.tokens(col(textCol))).as(Seq("p", "w")))
      .withColumn("w2", lead("w", 1).over(w))
    val uni = base.select(col("doc"), col("is_target"), col("w").as("g"))
    val bi = base.filter(col("w2").isNotNull)
      .select(col("doc"), col("is_target"),
        concat_ws(" ", col("w"), col("w2")).as("g"))
    val grams = uni.unionByName(bi)
      .select(col("doc"), col("is_target"),
        pmod(Fns.rollingHash(col("g")), lit(buckets.toLong)).as("b"))
    val scores = grams.groupBy("b").agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("cnt_t"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("cnt_s"))
      .select(col("b"),
        expr(s"((cnt_t + 1) * $scale) div (cnt_s + 1)").as("score"))
    grams.join(scores, "b")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"), sum("score").as("weight"))
  }

  /** DISTRIBUTED TRAINING of a linear document classifier — batch
    * perceptron over hashed bag-of-words features (the trained-filter
    * pattern of GPT-3/LLaMA data curation: learn curated-vs-crawl or
    * language membership from labels, then score the whole corpus).
    *
    * Why a perceptron and not logistic regression: the batch-perceptron
    * update `w += Σ_misclassified y·x` is pure INTEGER arithmetic —
    * order-independent, partitioning-independent, and replayable
    * exactly in SQL (a sigmoid gradient is transcendental, so no cross-
    * engine hash-exactness; the fixed-point precedents are `qualityLogit`
    * and `dsirWeights`). With margin 0 and unit rate, epoch e is
    * deterministic given epoch e-1.
    *
    * POCKET variant (Gallant 1990): full-batch rate-1 updates oscillate
    * on non-separable data (the epoch-1 gradient aggregates the whole
    * corpus, so w overshoots and the sign of every score can flip per
    * epoch — measured on the sf corpus: the plain final-epoch weights
    * predict one class). The pocket tracks the EXACT training-error
    * count of every candidate w_0..w_E (one integer count per epoch, no
    * floats) and returns the argmin, earliest epoch on ties — still
    * fully deterministic and SQL-replayable.
    *
    * Scale shape: features hash into `dim` buckets (portable rolling
    * hash, the engine-wide shared kernel); one keyed agg builds the
    * (doc, bucket, count) table, checkpoint-cut once and reused every
    * epoch. An epoch is ONE job: per-doc scores (keyed agg with the
    * weight vector inlined as a map literal — the IVF-centroid driver
    * contract, `dim` longs, loudly bounded), a keyed join-back, and the
    * misclassified-gradient agg collected to the driver. Epochs are a
    * fixed hyperparameter, so total cost is `epochs` corpus passes over
    * the (already tiny) feature table — the corpus text is read once.
    *
    * Every doc also carries a BIAS feature (bucket = `dim`,
    * x = `biasScale`): without it a through-the-origin perceptron cannot
    * express threshold labels (e.g. "long doc") at all, and without the
    * SCALE it cannot learn them in practice — batch updates move each
    * token bucket by its MISCLASSIFIED TOKEN MASS per epoch but a unit
    * bias only by the misclassified doc count, so the threshold drifts
    * ~50× slower than the weights oscillate (measured on the sf corpus:
    * unit bias never beats the trivial classifier; biasScale 8 reaches
    * 96% training accuracy — the integer analogue of feature
    * standardization). Returns the trained weight vector as a
    * `dim + 1`-row relation (bucket, weight), bias last. Docs whose id
    * is null are excluded; zero-token docs still score via the bias.
    */
  def perceptronTrain(docs: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int = 32, epochs: Int = 3,
      biasScale: Int = 8): DataFrame = {
    val (w, feat) = perceptronFit(docs, idCol, textCol, label, dim, epochs,
      biasScale)
    // the weight relation doesn't reference the feature table — free its
    // checkpoint blocks (the CC-loop leak contract); perceptronScore's
    // result IS backed by them, so only the train path releases
    Cuts.release(feat)
    val spark = docs.sparkSession
    import spark.implicits._
    w.zipWithIndex.map { case (wt, j) => (j.toLong, wt) }
      .toSeq.toDF("bucket", "weight")
  }

  /** [[perceptronTrain]] then score every doc with the final weights:
    * (doc, y, score, pred) — `pred` is sign(score) with 0 → -1, matching
    * the training rule's "0 is misclassified" convention. The confusion
    * matrix `groupBy(y, pred).count` pins every doc's score sign in 4
    * output rows.
    */
  def perceptronScore(docs: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int = 32, epochs: Int = 3,
      biasScale: Int = 8): DataFrame = {
    val (w, feat) = perceptronFit(docs, idCol, textCol, label, dim, epochs,
      biasScale)
    val wMap = w.zipWithIndex.map { case (wt, j) => j.toLong -> wt }.toMap
    feat.groupBy("doc", "y")
      .agg(sum(element_at(typedLit(wMap), col("j")) * col("x")).as("score"))
      .select(col("doc"), col("y"),
        col("score"),
        when(col("score") > 0L, 1L).otherwise(-1L).as("pred"))
  }

  /** Shared fit: returns (weights, checkpointed feature table). */
  private def perceptronFit(docs: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int, epochs: Int,
      biasScale: Int): (Array[Long], DataFrame) = {
    require(dim >= 2 && dim <= 4096,
      s"dim=$dim out of [2, 4096] — the weight vector is a per-epoch " +
        "driver materialization; size it like an IVF centroid table")
    require(epochs >= 1 && epochs <= 16,
      s"epochs=$epochs out of [1, 16] — each epoch is a corpus-feature pass")
    require(biasScale >= 1, s"biasScale must be >= 1, got $biasScale")
    val tokFeat = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc"), label.cast("long").as("y"),
        explode(Fns.tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .select(col("doc"), col("y"),
        pmod(Fns.rollingHash(col("t")), lit(dim.toLong)).as("j"))
      .groupBy("doc", "y", "j").agg(count(lit(1)).as("x"))
    val biasFeat = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc"), label.cast("long").as("y"),
        lit(dim.toLong).as("j"), lit(biasScale.toLong).as("x"))
    val feat = Cuts.cut(tokFeat.unionByName(biasFeat))
    val w = Array.fill(dim + 1)(0L)
    var pocket = w.clone()
    var bestErr = Long.MaxValue
    def misclassified(weights: Array[Long]) = {
      val wMap = weights.indices.map(i => i.toLong -> weights(i)).toMap
      feat.groupBy("doc", "y").agg(
          sum(element_at(typedLit(wMap), col("j")) * col("x")).as("score"))
        .filter(col("y") * col("score") <= 0L)
    }
    // Epoch fusion (VERDICT r16 #5): the error count and the gradient
    // ride ONE action per epoch — the err count travels as a sentinel
    // j = -1 row unioned onto the gradient aggregate (j is always ≥ 0
    // for real buckets), where the unfused loop paid two sequential
    // actions (mis.count(), then the gradient collect) that each
    // re-executed the per-doc score aggregation. The two `mis` references
    // share the score-agg exchange (ReuseExchange), so the epoch's
    // corpus-scale work runs once. Same w/pocket sequence: err is the
    // identical count, applied before the same gradient update.
    def epochStats(weights: Array[Long]): (Long, Seq[(Long, Long)]) = {
      val mis = misclassified(weights)
      val rows = feat.join(mis.select("doc"), "doc")
        .groupBy("j").agg(sum(col("y") * col("x")).as("g"))
        .unionByName(mis.groupBy().agg(count(lit(1)).as("g"))
          .select(lit(-1L).as("j"), col("g")))
        .collect()
        .map(r => (r.getAs[Long]("j"), r.getAs[Long]("g")))
      val err = rows.collectFirst { case (-1L, c) => c }.get
      (err, rows.filter(_._1 >= 0L).toSeq)
    }
    for (_ <- 1 to epochs) {
      val (err, grad) = epochStats(w)
      if (err < bestErr) { bestErr = err; pocket = w.clone() }
      grad.foreach { case (j, g) => w(j.toInt) += g }
    }
    if (misclassified(w).count() < bestErr) pocket = w
    (pocket, feat)
  }

  /** PMI-style collocation mining: adjacent-token bigrams scored by
    * integer-rational lift — `c_xy · N · 10⁶ div (c_x · c_y)` (N = total
    * token count), the point-wise mutual information exponentiated and
    * ppm-scaled so no float log appears in any compared column. Bigrams
    * below `minCount` are dropped before scoring (the classic sparsity
    * gate); the result is the bounded top-`k` by (lift, w1, w2).
    *
    * One corpus pass builds the positional token table; bigrams are a
    * doc-partitioned lead window (no self-join); both unigram joins carry
    * only the ≥minCount bigram mass; N is a 1-row broadcast scalar.
    */
  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; each word scores deg/freq (deg =
    * Σ phrase length over its occurrences — co-occurrence degree
    * including self); a phrase scores the sum of its words' scores. All
    * integer-rational (score_ppm = deg·10⁶ div freq). Returns the top-`k`
    * distinct phrases by (score, phrase) with occurrence counts.
    *
    * Phrase segmentation is a doc-partitioned stopword prefix-sum (one
    * window, no self-join); phrases longer than `maxPhraseLen` are
    * dropped (the RAKE length cap — also bounds the phrase-string agg).
    * Word/phrase tables are vocabulary-sized; top-k is bounded.
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      maxPhraseLen: Int = 8, k: Int = 15): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(Fns.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("stop", when(col("w").isin(StopWords: _*), 1).otherwise(0))
    val seg = toks.withColumn("phrase_id",
      sum("stop").over(Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pw = seg.filter(col("stop") === 0)
      .select(col("doc_id"), col("phrase_id"), col("pos"), col("w"))
    val ph = pw.groupBy("doc_id", "phrase_id")
      .agg(count(lit(1)).as("plen"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("phrase"))
      .filter(col("plen") <= maxPhraseLen)
    val occ = pw.join(ph, Seq("doc_id", "phrase_id"))
    val wscore = occ.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("w"), expr("(deg * 1000000) div freq").as("wsc"))
    occ.join(wscore, "w")
      .groupBy("doc_id", "phrase_id", "phrase")
      .agg(sum("wsc").as("score"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), min("score").as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(Fns.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val bg = toks
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    bg.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_xy"),
        expr("(c_xy * n * 1000000) div (c1 * c2)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
