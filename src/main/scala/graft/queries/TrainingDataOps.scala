package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Fns
import graft.operators.{Ann, Contamination, Cuts, Dedup, LinkGraph, Multimodal, Retrieval, SuffixArray, TextAnalysis, IdentityResolution, WebCuration}

/** Training-data pipeline operators (dedup, similarity search, multimodal,
  * text analysis) as verifiable queries over `documents`/`embeddings`.
  * The underlying operators live in graft.operators.* and are reusable;
  * these wrappers pin parameters + deterministic output shapes for the
  * DuckDB oracle.
  */
object TrainingDataOps {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The standing flat serve graph over `embeddings` (k=4, iters=2) —
    * the index five graph rows walk. Built ONCE per session per sfDir
    * via [[FixtureCache]] (deterministic build, so sharing is
    * result-identical; it just removes four redundant nn-descent runs
    * from the verify gate's wall time).
    */
  private def flatServeGraph(s: SparkSession, dir: String): DataFrame =
    FixtureCache.cached(s, s"flatServeGraph|$dir") {
      Ann.serveGraph(Ann.nnDescent(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2))
    }

  /** The standing layered (HNSW) index at `maxLevel` — shared by the
    * descent rows, same [[FixtureCache]] contract.
    */
  private def layeredIndex(s: SparkSession, dir: String,
      maxLevel: Int): DataFrame =
    FixtureCache.cached(s, s"layeredIndex|$maxLevel|$dir") {
      Ann.layeredBuild(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2, p = 4, maxLevel = maxLevel)
    }

  /** PQ codebooks trained on `embeddings` at the oracle config
    * (m=4, k=8, 2 Lloyd rounds) — shared by the ADC / recall / re-rank
    * rows ([[FixtureCache]]; training is deterministic).
    */
  private def pqBooksFixture(s: SparkSession,
      dir: String): Seq[Seq[(Int, Seq[Double])]] =
    FixtureCache.cachedAny(s, s"pqBooks|4|8|$dir") {
      Ann.pqCodebooks(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, k = 8)
    }

  /** Built IVF-PQ index at the oracle config (nLists=8, m=4, k=8),
    * absolute or residual-coded — encoded table checkpoint-materialized
    * so the shared copy is compute-once.
    */
  private def ivfPqFixture(s: SparkSession, dir: String,
      byResidual: Boolean): Ann.IvfPqIndex =
    FixtureCache.cachedAny(s, s"ivfPq|8|4|8|$byResidual|$dir") {
      val idx = Ann.ivfPqBuild(t(s, dir, "embeddings"), "vec_id",
        "embedding", nLists = 8, m = 4, k = 8, byResidual)
      idx.copy(encoded = Cuts.cut(idx.encoded))
    }

  /** DuckDB SQL for the ADC-scored graph walk (+ exact re-rank):
    * duckBaseGraphCtes + duckPqCtes + per-query LUTs + the merged entry
    * round and one 2-hop round, beam `beam`, final filter `extraWhere`
    * applied with the self-exclusion before the re-rank (the
    * post-filter serve contract).
    */
  private def duckAdcWalkSql(beam: Int, extraWhere: String = ""): String = {
    val sub = 16
    val luts = (0 until 4).map { sp =>
      val lo = sp * sub + 1
      s"""ld_$sp AS (
         |  SELECT q.query_id, cc.c,
         |    list_reduce(list_transform(range(1, $sub+1),
         |      i -> ((q.qv)[$lo+i-1]-cc.center[i])*((q.qv)[$lo+i-1]-cc.center[i])),
         |      (a, x) -> a + x) AS t
         |  FROM q CROSS JOIN c2_$sp cc)""".stripMargin
    }.mkString(",\n")
    def adcScore(src: String, out: String) =
      s"""$out AS (SELECT x.query_id, x.nid,
         |  d0.t + d1.t + d2.t + d3.t AS dist
         |  FROM $src x
         |  JOIN a3_0 z0 ON z0.id = x.nid
         |  JOIN a3_1 z1 ON z1.id = x.nid
         |  JOIN a3_2 z2 ON z2.id = x.nid
         |  JOIN a3_3 z3 ON z3.id = x.nid
         |  JOIN ld_0 d0 ON d0.query_id = x.query_id AND d0.c = z0.c
         |  JOIN ld_1 d1 ON d1.query_id = x.query_id AND d1.c = z1.c
         |  JOIN ld_2 d2 ON d2.query_id = x.query_id AND d2.c = z2.c
         |  JOIN ld_3 d3 ON d3.query_id = x.query_id AND d3.c = z3.c)""".stripMargin
    s"""WITH ${duckBaseGraphCtes(8)},
       |${duckPqCtes(4, 8, 64)},
       |$luts,
       |ac0 AS (SELECT q.query_id, CAST(0 AS BIGINT) AS nid FROM q),
       |af1 AS (SELECT DISTINCT c.query_id, a.dst AS nid
       |  FROM ac0 c JOIN adj a ON a.src = c.nid),
       |af2 AS (SELECT DISTINCT c.query_id, a.dst AS nid
       |  FROM af1 c JOIN adj a ON a.src = c.nid),
       |acand AS (SELECT DISTINCT query_id, nid FROM (
       |  SELECT query_id, nid FROM ac0
       |  UNION SELECT query_id, nid FROM af1
       |  UNION SELECT query_id, nid FROM af2)),
       |${adcScore("acand", "aw0")},
       |ab0 AS (SELECT query_id, nid, dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist, nid) AS rn FROM aw0) WHERE rn <= $beam),
       |bf1 AS (SELECT DISTINCT t.query_id, a.dst AS nid
       |  FROM ab0 t JOIN adj a ON a.src = t.nid),
       |bf2 AS (SELECT DISTINCT t.query_id, a.dst AS nid
       |  FROM bf1 t JOIN adj a ON a.src = t.nid),
       |bx AS (SELECT DISTINCT query_id, nid FROM (
       |  SELECT query_id, nid FROM bf1
       |  UNION SELECT query_id, nid FROM bf2) u
       |  WHERE NOT EXISTS (SELECT 1 FROM ab0 p
       |    WHERE p.query_id = u.query_id AND p.nid = u.nid)),
       |${adcScore("bx", "bw")},
       |bu AS (SELECT query_id, nid, dist FROM ab0
       |  UNION ALL SELECT query_id, nid, dist FROM bw),
       |ab1 AS (SELECT query_id, nid, dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY dist, nid) AS rn FROM bu) WHERE rn <= $beam),
       |rr AS (SELECT b.query_id, b.nid, $duckQcos AS cos
       |  FROM ab1 b JOIN q ON q.query_id = b.query_id
       |  JOIN v ON v.nid = b.nid
       |  WHERE b.nid <> b.query_id$extraWhere)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
       |  round(cos, 4) AS cos
       |FROM (SELECT query_id, nid, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn FROM rr)
       |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB fragment: portable rolling hash of column/expr `e` (must match
    * [[Fns.rollingHash]]).
    */
  private def duckHash(e: String): String =
    s"CASE WHEN $e IS NULL OR $e = '' THEN 0 ELSE " +
      s"list_reduce(list_transform(string_split($e,''), x -> CAST(ascii(x) AS BIGINT)), " +
      s"(a,b) -> (a*31+b)%1000000007) END"

  /** DuckDB fragment: i-th MinHash permutation (must match [[Fns.permuteHash]]). */
  private def duckPermute(h: String, i: Int): String =
    s"($h*${2 * i + 1} + ${i.toLong * i + i + 41})%1000000007"

  private val duckToks = "string_split_regex(trim(lower(text)),'\\s+')"

  /** Skip-gram CTE chain (positioned tokens → deletion-subsampling →
    * windowed contexts) shared by the pair, and negative-draw oracles.
    * Must mirror [[graft.operators.SkipGram.skipgramPairs]] exactly.
    */
  private lazy val duckSkipgramCtes: String =
    s"""tok AS (SELECT doc_id AS doc, unnest(range(len(ts))) AS pos,
       |    unnest(ts) AS token
       |  FROM (SELECT doc_id, $duckToks AS ts FROM documents)),
       |tk AS (SELECT * FROM tok WHERE token <> ''),
       |tot AS (SELECT count(*) AS T FROM tk),
       |cnt AS (SELECT token, count(*) AS c FROM tk GROUP BY 1),
       |kept AS (SELECT tk.doc, tk.pos, tk.token
       |  FROM tk JOIN cnt USING (token), tot
       |  WHERE (${duckHash("CAST(doc AS VARCHAR)||':'||CAST(pos AS VARCHAR)")})
       |      % 1000003
       |    < least(1.0, sqrt(0.001*T/c) + 0.001*T/c) * 1000003),
       |win AS (SELECT token AS center,
       |  [lag(token,1) OVER w, lead(token,1) OVER w,
       |   lag(token,2) OVER w, lead(token,2) OVER w] AS ctx
       |  FROM kept WINDOW w AS (PARTITION BY doc ORDER BY pos)),
       |pr AS (SELECT center, unnest(ctx) AS context FROM win)""".stripMargin

  /** DuckDB SQL for [[graft.operators.Vocab.bpeTrain]] with `n` merge
    * rounds unrolled into chained CTEs (the duckIvfCtes trick): round r
    * recounts adjacent pairs from w{r-1}, argmaxes deterministically, and
    * applies the merge with the SAME delimited literal replace as Spark.
    */
  /** DuckDB emulation of [[graft.operators.Vocab.gpt2PreTokens]] over the
    * `text` column. RE2 has no lookahead; `\\s+(?!\\S)` makes a whitespace
    * run followed by \\S split as (run minus its LAST char) + the last
    * char, where a last SPACE attaches to the following token and a last
    * non-space ws char stands alone. Emulated with sentinels (chr(2),
    * excluded from every class so it vanishes from the match stream):
    * rule 1 brackets a non-space-ws char directly before \\S - it must
    * stand alone; rule 2 puts a sentinel BEFORE a space directly before
    * \\S - the space must attach. After the rewrite no whitespace run
    * directly precedes \\S, so a plain `\\s+` alternative reproduces the
    * lookahead split. Extra sentinels at boundaries that would fall
    * anyway are harmless; Round13OpsSpec pins the mixed-run cases and
    * the oracle rows pin engine parity corpus-wide.
    */
  private val duckPretokList: String =
    """regexp_extract_all(regexp_replace(regexp_replace(text,""" +
      """ '([^\S ])(\S)', chr(2) || '\1' || chr(2) || '\2', 'g'),""" +
      """ ' (\S)', chr(2) || ' \1', 'g'),""" +
      """ '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+|""" +
      """ ?[^\s\p{L}\p{N}\u0002]+|\s+', 0)"""

  private def duckBpeCtes(n: Int, src: String = "documents",
      tokExpr: String = "token", toksExpr: String = duckToks): String = {
    // w$r/b$r MUST be MATERIALIZED (the duckWpCtes lesson): DuckDB inlines
    // plain CTEs and each round references its predecessor 2-3×, so an
    // inlined chain re-evaluates w0 (and any expensive tokExpr, e.g. the
    // byte map) with multiplicative fan-out — 12 byte-level rounds ran
    // >5 min inlined vs ~1 s materialized.
    val rounds = (1 to n).map { r =>
      s"""s$r AS (SELECT string_split(trim(w), '  ') AS syms, cnt FROM w${r - 1}),
         |p$r AS (SELECT l, r2, sum(cnt) AS freq FROM (
         |  SELECT unnest(syms[1:len(syms)-1]) AS l, unnest(syms[2:len(syms)]) AS r2, cnt
         |  FROM s$r WHERE len(syms) >= 2) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r2, CAST(freq AS BIGINT) AS freq FROM p$r
         |  ORDER BY freq DESC, l, r2 LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(w.w, ' '||b.l||'  '||b.r2||' ', ' '||b.l||b.r2||' ') AS w, w.cnt
         |  FROM w${r - 1} w CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT '  ' || regexp_replace($tokExpr, '(.)', '\\1  ', 'g') AS w, cnt FROM (
       |    SELECT token, count(*) AS cnt FROM (
       |      SELECT unnest($toksExpr) AS token FROM $src)
       |    WHERE token <> '' GROUP BY token)),
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of [[graft.operators.Vocab.byteMapString]] over the
    * single-char-string column `c`: code point → UTF-8 bytes (pure
    * shift/mask arithmetic, branch per encoded length) → one mapped char
    * per byte at [[graft.operators.Vocab.ByteCpBase]].
    */
  private def duckByteMap(tok: String): String =
    s"""array_to_string(list_transform(flatten(
       |    list_transform(string_split($tok, ''), c ->
       |      CASE WHEN unicode(c) < 128 THEN [unicode(c)]
       |        WHEN unicode(c) < 2048 THEN
       |          [192 + unicode(c)//64, 128 + unicode(c)%64]
       |        WHEN unicode(c) < 65536 THEN
       |          [224 + unicode(c)//4096, 128 + (unicode(c)//64)%64,
       |           128 + unicode(c)%64]
       |        ELSE
       |          [240 + unicode(c)//262144, 128 + (unicode(c)//4096)%64,
       |           128 + (unicode(c)//64)%64, 128 + unicode(c)%64] END)),
       |  b -> chr(CAST(${graft.operators.Vocab.ByteCpBase} + b AS INTEGER))), '')""".stripMargin

  /** Spark/DuckDB source pair for the byte-level BPE rows: a doc_id-
    * bounded corpus slice plus injected NON-LATIN fixtures (accents,
    * CJK, Cyrillic, emoji — 2-, 3- and 4-byte UTF-8) so the byte-level
    * path is exercised even where the parquet fixture is pure ASCII.
    * All fixture text is pre-lowercased: `lower()` parity across engines
    * on exotic cased chars is not what these rows test.
    */
  private val bbpeFixtures: Seq[(Long, String)] = Seq(
    (-1L, "héllo wörld 😀😀 你好 мир мир"),
    (-2L, "naïve café 🚀 ß déjà vu déjà"))

  private val bbpeDuckSrc: String =
    "(SELECT doc_id, text FROM documents WHERE doc_id < 400" +
      bbpeFixtures.map { case (id, s) =>
        s" UNION ALL SELECT CAST($id AS BIGINT), '$s'"
      }.mkString + ")"

  private def bbpeSparkSrc(docs: org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") < 400).select("doc_id", "text")
      .unionByName(bbpeFixtures.toDF("doc_id", "text"))
  }

  /** Fixture pair for the GPT-2 PRE-TOKENIZED byte-BPE rows: contractions
    * (the regex's special-cased suffixes), preserved case, digit runs,
    * punctuation adjacency, interior multi-space runs, a tab, and
    * trailing whitespace — every branch of [[graft.operators.Vocab.Gpt2PretokPattern]],
    * plus multi-byte UTF-8. The `it's`/`don't` repeats make an
    * apostrophe-crossing merge attractive to the WHITESPACE-split
    * trainer, which the pre-tokenizer forbids — the fixture where the
    * two merge tables provably differ.
    */
  private val pretokFixtures: Seq[(Long, String)] = Seq(
    (-3L, "It's it's it's don't don't we're I'll they'd 2026 abc123 Hello,world"),
    (-4L, "MIXED Case  two  spaces\ttab héllo 你好 😀! trailing  "),
    // mixed whitespace runs: the lookahead-emulation cases the sentinel
    // rewrite must reproduce (space+tab+letter, tab+space, double tab)
    (-5L, "x \tb a\t b m\t\tn end \t "))

  // U+0002 is the DuckDB-side sentinel that emulates RE2's missing
  // lookahead (see duckPretokList) — a document actually containing it
  // would be split differently by the oracle's rewritten match stream
  // than by Spark's real lookahead. Both engines therefore strip it at
  // the source, making the emulation's precondition explicit instead of
  // assumed (the corpus is sentinel-free today; this pins the contract).
  private def pretokSparkSrc(docs: org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") < 400).select("doc_id", "text")
      .unionByName(pretokFixtures.toDF("doc_id", "text"))
      .select(col("doc_id"),
        translate(col("text"), "\u0002", "").as("text"))
  }

  private val pretokDuckSrc: String =
    "(SELECT doc_id, replace(text, chr(2), '') AS text FROM " +
      "(SELECT doc_id, text FROM documents WHERE doc_id < 400" +
      pretokFixtures.map { case (id, s) =>
        val esc = s.replace("'", "''")
        s" UNION ALL SELECT CAST($id AS BIGINT), '$esc'"
      }.mkString + ") psrc)"

  /** DuckDB CTE chain replaying [[TextAnalysis.perceptronTrain]]'s POCKET
    * batch perceptron exactly: features are hashed-token counts (the
    * shared portable hash) + a per-doc bias; epoch r scores docs with
    * w{r-1}, folds the misclassified docs' y·x into a per-bucket
    * gradient, and adds it — all integer, so the chain is hash-exact at
    * any epoch count (the duckBpeCtes unrolling pattern). The pocket
    * pick replays too: `errs` holds each candidate w_0..w_E's exact
    * training-error count (err(w_r) comes from s{r+1}, which scores with
    * w_r), `best` is the argmin with earliest-epoch ties, and `wbest`
    * is the returned weight table.
    */
  private def duckPerceptronCtes(dim: Int, epochs: Int,
      biasScale: Int = 8): String = {
    // AS MATERIALIZED everywhere a CTE is referenced more than once:
    // DuckDB inlines CTEs by default, so the w-chain (w_r references
    // w_{r-1} twice) would re-evaluate feat 2^epochs times and the
    // pocket unions multiply that again — materialization makes each
    // epoch evaluate exactly once, like the Spark side
    val rounds = (1 to epochs).map { r =>
      s"""s$r AS MATERIALIZED (SELECT f.doc_id, f.y, sum(w.w * f.x) AS score
         |  FROM feat f JOIN w${r - 1} w ON w.j = f.j GROUP BY 1, 2),
         |g$r AS (SELECT f.j, sum(f.y * f.x) AS g
         |  FROM feat f JOIN s$r s ON s.doc_id = f.doc_id
         |    AND s.y * s.score <= 0
         |  GROUP BY f.j),
         |w$r AS MATERIALIZED (SELECT w.j, w.w + coalesce(g.g, 0) AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g ON g.j = w.j)""".stripMargin
    }.mkString(",\n")
    val sLast =
      s"""s${epochs + 1} AS MATERIALIZED (
         |  SELECT f.doc_id, f.y, sum(w.w * f.x) AS score
         |  FROM feat f JOIN w$epochs w ON w.j = f.j GROUP BY 1, 2)""".stripMargin
    val errRows = (0 to epochs).map { r =>
      s"SELECT $r AS e, (SELECT count(*) FROM s${r + 1} " +
        "WHERE y * score <= 0) AS n"
    }.mkString(" UNION ALL ")
    val candRows = (0 to epochs).map { r =>
      s"SELECT $r AS e, j, w FROM w$r"
    }.mkString(" UNION ALL ")
    val pocket =
      s"""$sLast,
         |errs AS ($errRows),
         |best AS (SELECT e FROM errs ORDER BY n, e LIMIT 1),
         |cand AS ($candRows),
         |wbest AS (SELECT c.j, c.w FROM cand c JOIN best b ON b.e = c.e)""".stripMargin
    s"""lab AS (SELECT doc_id,
       |  CAST(CASE WHEN len(text) >= 300 THEN 1 ELSE -1 END AS BIGINT) AS y
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest($duckToks) AS t FROM documents),
       |feat AS MATERIALIZED (
       |  SELECT k.doc_id, l.y, k.h % $dim AS j, count(*) AS x
       |  FROM (SELECT doc_id, ${duckHash("t")} AS h FROM tok WHERE t <> '') k
       |  JOIN lab l ON l.doc_id = k.doc_id GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT doc_id, y, CAST($dim AS BIGINT) AS j,
       |    CAST($biasScale AS BIGINT) AS x
       |  FROM lab),
       |w0 AS (SELECT unnest(range(0, ${dim + 1})) AS j,
       |  CAST(0 AS BIGINT) AS w),
       |$rounds,
       |$pocket""".stripMargin
  }

  /** Fingerprint stress corpus for the LARGE BPE training tier: one
    * synthetic "word" per hash of a bounded document slice (md5 of text +
    * sha256 of metadata — both engines produce identical lowercase hex).
    * `documents.text` at test SFs has ~31 word types, far too few to
    * sustain thousands of merges; 250 docs × two hex digests give ~500
    * word types / ~24k symbols, supporting >10k merges. The doc_id bound
    * keeps corpus and oracle cost SF-invariant.
    */
  private val bpeLargeDuckSrc: String =
    """(SELECT concat_ws(' ', md5(text),
      |   sha256(concat_ws('|', lang, source, doc_id))) AS text
      | FROM documents WHERE doc_id < 250)""".stripMargin

  private def bpeLargeSparkSrc(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("doc_id") < 250)
      .select(concat_ws(" ", md5(col("text")),
        sha2(concat_ws("|", col("lang"), col("source"), col("doc_id")), 256))
        .as("text"))

  /** DuckDB SQL for the INCREMENTAL BPE training tier: `n` merge rounds
    * as ONE recursive CTE (the unrolled-CTE trick of [[duckBpeCtes]] caps
    * out around tens of rounds; recursion expresses thousands). The
    * recursive step carries the word-type table as 'w' rows, recounts
    * adjacent pairs, argmaxes with the same (freq desc, l, r) binary-
    * collation tie-break, applies the merge with the identical delimited
    * literal replace, and emits one 'm' row per round; recursion stops at
    * `n` rounds or when no pair remains — exactly [[graft.operators
    * .Vocab.bpeTrainIncremental]]'s loop, evaluated sequentially.
    */
  private def duckBpeTrainRecursiveSql(n: Int, src: String,
      tokExpr: String = "token"): String =
    s"""WITH RECURSIVE w0 AS (
       |  SELECT '  ' || regexp_replace($tokExpr, '(.)', '\\1  ', 'g') AS w, cnt FROM (
       |    SELECT token, count(*)::BIGINT AS cnt FROM (
       |      SELECT unnest($duckToks) AS token FROM $src)
       |    WHERE token <> '' GROUP BY token)),
       |st AS (
       |  SELECT 0 AS it, 'w' AS kind, w, cnt,
       |    NULL::VARCHAR AS l, NULL::VARCHAR AS r, NULL::BIGINT AS freq FROM w0
       |  UNION ALL
       |  (
       |    WITH prev AS (SELECT * FROM st),
       |    pw AS (SELECT it, w, cnt FROM prev WHERE kind = 'w'),
       |    pairs AS (
       |      SELECT s[i] AS l, s[i+1] AS r, sum(cnt)::BIGINT AS freq
       |      FROM (SELECT string_split(trim(w), '  ') AS s, cnt FROM pw),
       |           LATERAL (SELECT unnest(range(1, len(s))) AS i)
       |      GROUP BY 1, 2),
       |    best AS (SELECT l, r, freq FROM pairs ORDER BY freq DESC, l, r LIMIT 1),
       |    nw AS (
       |      SELECT pw.it + 1 AS it, 'w' AS kind,
       |        replace(w, ' ' || b.l || '  ' || b.r || ' ',
       |                   ' ' || b.l || b.r || ' ') AS w,
       |        cnt, NULL::VARCHAR AS l, NULL::VARCHAR AS r, NULL::BIGINT AS freq
       |      FROM pw, best b),
       |    m AS (
       |      SELECT (SELECT max(it) FROM pw) + 1 AS it, 'm' AS kind,
       |        NULL::VARCHAR AS w, NULL::BIGINT AS cnt, b.l, b.r, b.freq
       |      FROM best b)
       |    SELECT * FROM nw WHERE (SELECT max(it) FROM pw) < $n
       |    UNION ALL
       |    SELECT * FROM m WHERE (SELECT max(it) FROM pw) < $n
       |  )
       |)
       |SELECT CAST(it AS INTEGER) AS merge_rank, l AS lhs, r AS rhs,
       |  l || r AS merged, freq
       |FROM st WHERE kind = 'm' ORDER BY merge_rank""".stripMargin

  /** DuckDB SQL for [[graft.operators.Vocab.wordpieceTrain]] with `n`
    * rounds unrolled into chained CTEs (the duckBpeCtes shape): round r
    * recounts symbol and pair frequencies from w{r-1}, argmaxes the
    * likelihood-ratio score fp/(fl·fr) — an IEEE double of exact BIGINTs,
    * computed identically by both engines — and applies the merge with
    * the same delimited literal replace. Continuations carry `##`.
    */
  private def duckWpCtes(n: Int, src: String = "documents"): String = {
    // s$r MUST be MATERIALIZED: DuckDB inlines plain CTEs, and each round
    // references its predecessor ~3× (u$r, p$r, w$r) — inlined, the w0
    // parquet scan multiplies 3^n-fold and exhausts file descriptors
    val rounds = (1 to n).map { r =>
      s"""s$r AS MATERIALIZED (SELECT string_split(trim(w), '  ') AS syms, cnt FROM w${r - 1}),
         |u$r AS (SELECT sym, sum(cnt)::BIGINT AS f FROM (
         |  SELECT unnest(syms) AS sym, cnt FROM s$r) GROUP BY 1),
         |p$r AS (SELECT l, r2, sum(cnt)::BIGINT AS fp FROM (
         |  SELECT unnest(syms[1:len(syms)-1]) AS l, unnest(syms[2:len(syms)]) AS r2, cnt
         |  FROM s$r WHERE len(syms) >= 2) GROUP BY 1, 2),
         |b$r AS (SELECT p.l, p.r2, p.fp,
         |    p.l || substr(p.r2, 3) AS merged
         |  FROM p$r p JOIN u$r ul ON ul.sym = p.l JOIN u$r ur ON ur.sym = p.r2
         |  ORDER BY CAST(p.fp AS DOUBLE)/(CAST(ul.f AS DOUBLE)*CAST(ur.f AS DOUBLE)) DESC,
         |    p.l, p.r2 LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(w.w, ' '||b.l||'  '||b.r2||' ', ' '||b.merged||' ') AS w, w.cnt
         |  FROM w${r - 1} w CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT '  ' || token[1:1] || '  ' ||
       |    regexp_replace(token[2:], '(.)', '##\\1  ', 'g') AS w, cnt FROM (
       |    SELECT token, count(*)::BIGINT AS cnt FROM (
       |      SELECT unnest($duckToks) AS token FROM $src)
       |    WHERE token <> '' GROUP BY token)),
       |$rounds""".stripMargin
  }

  /** One unigram Viterbi E-step over the word-TYPE table `wt` as a
    * recursive CTE, mirroring [[graft.operators.Vocab.viterbiPath]]
    * position by position: the recursion advances one code-point position
    * per iteration, the working set carries the dp rows still inside the
    * `maxPieceLen` lookback window (plus each word's completed row), and
    * the per-position argmax is `max(v)` then `min(piece)` — the same
    * (score desc, piece asc-by-binary-collation) tie-break the Scala dp
    * applies, over the same `dp(j) · (cnt/total)` IEEE doubles of exact
    * BIGINT counts, so paths match bit-for-bit. Emits t{k} (vocab total),
    * e{k} (dp states), f{k} (final row per word), c{k} (piece recount).
    */
  private def duckUnigramViterbi(k: Int, vocab: String, maxPieceLen: Int): String =
    s"""t$k AS (SELECT sum(cnt)::BIGINT AS t FROM $vocab),
       |e$k AS (
       |  SELECT word, cnt, 0 AS j, CAST(1.0 AS DOUBLE) AS v, '' AS path, 0 AS it FROM wt
       |  UNION ALL
       |  (WITH prev AS (SELECT * FROM e$k),
       |   cur AS (SELECT max(it) AS it FROM prev),
       |   cand AS (
       |     SELECT p.word, p.cnt, p.j, vk.piece,
       |       p.v * (CAST(vk.cnt AS DOUBLE) / (SELECT CAST(t AS DOUBLE) FROM t$k)) AS nv,
       |       p.path
       |     FROM prev p JOIN $vocab vk
       |       ON vk.piece = substr(p.word, p.j + 1, (SELECT it + 1 FROM cur) - p.j)
       |     WHERE (SELECT it + 1 FROM cur) - p.j BETWEEN 1 AND $maxPieceLen
       |       AND (SELECT it + 1 FROM cur) <= length(p.word)),
       |   bv AS (SELECT word, max(nv) AS bnv FROM cand GROUP BY word),
       |   bp AS (SELECT c.word, min(c.piece) AS piece FROM cand c JOIN bv
       |     ON bv.word = c.word AND c.nv = bv.bnv GROUP BY c.word),
       |   nxt AS (
       |     SELECT c.word, c.cnt, (SELECT it + 1 FROM cur) AS j, c.nv AS v,
       |       c.path || ' ' || c.piece AS path, (SELECT it + 1 FROM cur) AS it
       |     FROM cand c JOIN bp ON bp.word = c.word AND bp.piece = c.piece),
       |   keep AS (
       |     SELECT word, cnt, j, v, path, (SELECT it + 1 FROM cur) AS it FROM prev
       |     WHERE j > (SELECT it + 1 FROM cur) - $maxPieceLen OR j = length(word))
       |   SELECT * FROM keep WHERE (SELECT it FROM cur) < (SELECT m FROM mx)
       |   UNION ALL
       |   SELECT * FROM nxt WHERE (SELECT it FROM cur) < (SELECT m FROM mx))
       |),
       |f$k AS (SELECT word, cnt, path FROM e$k
       |  WHERE it = (SELECT m FROM mx) AND j = length(word)),
       |c$k AS (SELECT piece, sum(cnt)::BIGINT AS cnt FROM (
       |  SELECT unnest(string_split(trim(path), ' ')) AS piece, cnt FROM f$k)
       |  GROUP BY piece)""".stripMargin

  /** Unigram M-step: recounted pieces plus ALL single code points (the
    * character-coverage invariant — zero-count singles survive with 0).
    */
  private def duckUnigramMstep(k: Int): String =
    s"""v$k AS MATERIALIZED (
       |  SELECT piece, max(cnt) AS cnt FROM (
       |    SELECT piece, cnt FROM c$k
       |    UNION ALL
       |    SELECT ch.piece, coalesce(c.cnt, 0)::BIGINT AS cnt
       |    FROM chars ch LEFT JOIN c$k c USING (piece))
       |  GROUP BY piece)""".stripMargin

  /** DuckDB SQL replaying [[graft.operators.Vocab.unigramTrain]] exactly:
    * substring seed → `emIters` Viterbi hard-EM rounds → count prune →
    * final recount. All engine state is exact BIGINT counts; the only
    * floats are the per-word dp scores, built by the identical operation
    * sequence in both engines (see [[duckUnigramViterbi]]).
    */
  private def duckUnigramTrainSql(vocabSize: Int, seedSize: Int,
      maxPieceLen: Int, emIters: Int, src: String): String = {
    val rounds = (1 to emIters).map(k =>
      duckUnigramViterbi(k, s"v${k - 1}", maxPieceLen) + ",\n" +
        duckUnigramMstep(k)).mkString(",\n")
    val fk = emIters + 1
    s"""WITH RECURSIVE
       |wt AS MATERIALIZED (
       |  SELECT token AS word, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest($duckToks) AS token FROM $src)
       |  WHERE token <> '' GROUP BY token),
       |mx AS (SELECT max(length(word))::INTEGER AS m FROM wt),
       |sub AS MATERIALIZED (
       |  SELECT piece, sum(cnt)::BIGINT AS cnt FROM (
       |    SELECT substr(word, i, l) AS piece, cnt
       |    FROM wt,
       |         LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i),
       |         LATERAL (SELECT unnest(range(1, $maxPieceLen + 1)) AS l)
       |    WHERE i + l <= length(word) + 1)
       |  GROUP BY piece),
       |chars AS (SELECT piece, cnt FROM sub WHERE length(piece) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, max(cnt) AS cnt FROM (
       |    SELECT piece, cnt FROM (
       |      SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT $seedSize)
       |    UNION ALL
       |    SELECT piece, cnt FROM chars)
       |  GROUP BY piece),
       |$rounds,
       |vp AS MATERIALIZED (
       |  SELECT piece, max(cnt) AS cnt FROM (
       |    SELECT piece, cnt FROM (
       |      SELECT piece, cnt FROM v$emIters ORDER BY cnt DESC, piece LIMIT $vocabSize)
       |    UNION ALL
       |    SELECT piece, cnt FROM v$emIters WHERE length(piece) = 1)
       |  GROUP BY piece),
       |${duckUnigramViterbi(fk, "vp", maxPieceLen)}
       |SELECT p.piece, coalesce(c.cnt, 0)::BIGINT AS cnt
       |FROM vp p LEFT JOIN c$fk c USING (piece)
       |ORDER BY cnt DESC, piece""".stripMargin
  }

  /** Fixed unigram vocab for `tx_unigram_encode` (piece, count): the full
    * lowercase alphabet as coverage fallback plus multi-char pieces whose
    * RELATIVE counts make segmentation choices non-trivial (the corpus
    * words split into real multi-piece paths, and competing splits like
    * ta/ble vs t/a/b/l/e are decided by the probability products).
    */
  private val unigramFixedVocab: Seq[(String, Long)] =
    ('a' to 'z').map(c => (c.toString, 5L)) ++ Seq(
      "scan" -> 50L, "ta" -> 40L, "or" -> 30L, "der" -> 25L, "col" -> 20L,
      "umn" -> 20L, "win" -> 15L, "dow" -> 15L, "part" -> 12L, "agg" -> 10L,
      "sort" -> 10L, "er" -> 8L, "in" -> 8L, "on" -> 6L, "ble" -> 6L,
      "str" -> 6L, "eam" -> 6L, "que" -> 5L, "ry" -> 5L)

  /** DuckDB SQL for [[graft.operators.Vocab.unigramEncode]] with the
    * fixed vocab: ONE Viterbi pass over the DISTINCT token table (the
    * token-TYPE trick — segmentation depends only on the token, so the dp
    * runs once per type and joins back to the positional token stream),
    * then a LEFT JOIN that turns uncovered tokens into `[UNK]` exactly
    * like the operator.
    */
  private def duckUnigramEncodeCtes(maxPieceLen: Int): String = {
    val values = unigramFixedVocab
      .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
    s"""wt AS MATERIALIZED (
       |  SELECT DISTINCT token AS word, 1::BIGINT AS cnt FROM (
       |    SELECT unnest($duckToks) AS token FROM documents)
       |  WHERE token <> ''),
       |mx AS (SELECT max(length(word))::INTEGER AS m FROM wt),
       |vfix AS (SELECT * FROM (VALUES $values) AS t(piece, cnt)),
       |${duckUnigramViterbi(1, "vfix", maxPieceLen)},
       |seg AS (SELECT word, trim(path) AS pieces FROM f1),
       |tok AS (SELECT doc_id, unnest(range(len(ts))) AS token_idx, unnest(ts) AS token
       |  FROM (SELECT doc_id, $duckToks AS ts FROM documents))""".stripMargin
  }

  private def duckUnigramEncodeSql(maxPieceLen: Int): String =
    s"""WITH RECURSIVE
       |${duckUnigramEncodeCtes(maxPieceLen)}
       |SELECT tok.doc_id, CAST(tok.token_idx AS INTEGER) AS token_idx, tok.token,
       |  coalesce(s.pieces, '[UNK]') AS pieces
       |FROM tok LEFT JOIN seg s ON s.word = tok.token
       |WHERE length(tok.token) > 0
       |ORDER BY doc_id, token_idx""".stripMargin

  /** Ids variant: piece ids = rank order (cnt desc, piece asc) over the
    * FIXED vocab — the same deterministic id assignment
    * [[graft.operators.Vocab.piecesToIds]] receives on the Spark side;
    * uncovered tokens map to the single unk id -1.
    */
  private def duckUnigramEncodeIdsSql(maxPieceLen: Int): String =
    s"""WITH RECURSIVE
       |${duckUnigramEncodeCtes(maxPieceLen)},
       |vid AS (SELECT piece,
       |  row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS id FROM vfix),
       |pp AS (SELECT word, unnest(string_split(trim(path), ' ')) AS piece,
       |  unnest(range(len(string_split(trim(path), ' ')))) AS pidx FROM f1),
       |wid AS (SELECT pp.word,
       |  string_agg(CAST(vid.id AS VARCHAR), ' ' ORDER BY pidx) AS ids
       |  FROM pp JOIN vid USING (piece) GROUP BY pp.word)
       |SELECT tok.doc_id, CAST(tok.token_idx AS INTEGER) AS token_idx, tok.token,
       |  coalesce(w.ids, '-1') AS ids
       |FROM tok LEFT JOIN wid w ON w.word = tok.token
       |WHERE length(tok.token) > 0
       |ORDER BY doc_id, token_idx""".stripMargin

  /** Round-trip oracle: ids minted from the vid rank table are mapped
    * BACK through it (piece → id → piece, a self-join on id), then
    * re-concatenated — so a wrong id assignment surfaces as a decode
    * mismatch instead of cancelling out. Uncovered tokens stay `[UNK]`
    * and fail the `roundtrip` flag exactly like the Spark side.
    */
  private def duckIdsDecodeSql(maxPieceLen: Int): String =
    s"""WITH RECURSIVE
       |${duckUnigramEncodeCtes(maxPieceLen)},
       |vid AS (SELECT piece,
       |  row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS id FROM vfix),
       |pp AS (SELECT word, unnest(string_split(trim(path), ' ')) AS piece,
       |  unnest(range(len(string_split(trim(path), ' ')))) AS pidx FROM f1),
       |wdec AS (SELECT pp.word,
       |  string_agg(r.piece, ' ' ORDER BY pidx) AS pieces,
       |  string_agg(r.piece, '' ORDER BY pidx) AS decoded
       |  FROM pp JOIN vid v ON v.piece = pp.piece JOIN vid r ON r.id = v.id
       |  GROUP BY pp.word)
       |SELECT tok.doc_id, CAST(tok.token_idx AS INTEGER) AS token_idx, tok.token,
       |  coalesce(w.pieces, '[UNK]') AS pieces,
       |  coalesce(w.decoded, '[UNK]') AS decoded,
       |  coalesce(w.decoded, '[UNK]') = tok.token AS roundtrip
       |FROM tok LEFT JOIN wdec w ON w.word = tok.token
       |WHERE length(tok.token) > 0
       |ORDER BY doc_id, token_idx""".stripMargin

  /** CTE chain applying the `n` learned merges to every token of `src`:
    * token stream t0 → t{n}, one replace per round.
    */
  private def duckBpeApplyCtes(n: Int, src: String = "documents"): String = {
    val applies = (1 to n).map { r =>
      s"""t$r AS MATERIALIZED (SELECT doc_id, token_idx, token,
         |  replace(t.t, ' '||b.l||'  '||b.r2||' ', ' '||b.l||b.r2||' ') AS t
         |  FROM t${r - 1} t CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT doc_id, unnest(range(len(ts))) AS token_idx, unnest(ts) AS token
       |  FROM (SELECT doc_id, $duckToks AS ts FROM $src)),
       |t0 AS (SELECT doc_id, token_idx, token,
       |  '  ' || regexp_replace(token, '(.)', '\\1  ', 'g') AS t
       |  FROM tok WHERE len(token) > 0),
       |$applies""".stripMargin
  }

  private def duckBpeSql(n: Int, src: String = "documents",
      tokExpr: String = "token", toksExpr: String = duckToks): String = {
    val out = (1 to n).map(r =>
      s"SELECT CAST($r AS INTEGER) AS merge_rank, l AS lhs, r2 AS rhs, l||r2 AS merged, freq FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH ${duckBpeCtes(n, src, tokExpr, toksExpr)}
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB SQL for [[graft.operators.Vocab.bbpeEncode]] over merges
    * learned by the byte-level `n`-round chain: tokens byte-map first
    * (t0 splits the MAPPED form), then each round's winner applies with
    * the identical delimited literal replace.
    */
  private def duckBbpeEncodeSql(n: Int, src: String = bbpeDuckSrc,
      toksExpr: String = duckToks): String = {
    val applies = (1 to n).map { r =>
      s"""t$r AS MATERIALIZED (SELECT doc_id, token_idx, token, mapped,
         |  replace(t.t, ' '||b.l||'  '||b.r2||' ', ' '||b.l||b.r2||' ') AS t
         |  FROM t${r - 1} t CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckBpeCtes(n, src, duckByteMap("token"), toksExpr)},
       |tok AS (SELECT doc_id, unnest(range(len(ts))) AS token_idx, unnest(ts) AS token
       |  FROM (SELECT doc_id, $toksExpr AS ts FROM $src)),
       |t0 AS MATERIALIZED (SELECT doc_id, token_idx, token,
       |  ${duckByteMap("token")} AS mapped,
       |  '  ' || regexp_replace(${duckByteMap("token")}, '(.)', '\\1  ', 'g') AS t
       |  FROM tok WHERE len(token) > 0),
       |$applies
       |SELECT doc_id, CAST(token_idx AS INTEGER) AS token_idx, token, mapped,
       |  array_to_string(string_split(trim(t), '  '), ' ') AS pieces,
       |  CAST(len(string_split(trim(t), '  ')) AS INTEGER) AS n_pieces,
       |  array_to_string(string_split(trim(t), '  '), '') = mapped AS roundtrip
       |FROM t$n ORDER BY doc_id, token_idx""".stripMargin
  }

  /** DuckDB SQL for [[graft.operators.Vocab.bpeEncode]] over merges
    * learned by the same `n`-round training chain: each round's winning
    * pair is applied to every corpus token with the identical delimited
    * literal replace.
    */
  private def duckBpeEncodeSql(n: Int): String =
    s"""WITH ${duckBpeCtes(n)},
       |${duckBpeApplyCtes(n)}
       |SELECT doc_id, CAST(token_idx AS INTEGER) AS token_idx, token,
       |  array_to_string(string_split(trim(t), '  '), ' ') AS pieces,
       |  CAST(len(string_split(trim(t), '  ')) AS INTEGER) AS n_pieces
       |FROM t$n ORDER BY doc_id, token_idx""".stripMargin

  /** Fixed WordPiece vocab for `tx_wordpiece`: word starts, `##`
    * continuations, and the full lowercase alphabet as fallback starts —
    * chosen so the corpus words segment into REAL multi-piece encodings
    * ("customer" → cus ##tom ##er) rather than degenerate whole-token
    * hits, exercising greedy longest-match on both engines.
    */
  private val wpVocab: Seq[String] = Seq(
    "the", "fast", "key", "ord", "##er", "sort", "tab", "##le", "scan",
    "mer", "##ge", "part", "win", "##dow", "small", "hash", "join", "bat",
    "##ch", "spark", "gro", "##up", "query", "row", "data", "slow", "fil",
    "##ter", "cus", "##tom", "line", "val", "##ue", "big", "stre", "##am",
    "agg", "col", "##umn", "vec", "##tor",
    "##a", "##b", "##c", "##d", "##e", "##f", "##g", "##h", "##i", "##j",
    "##k", "##l", "##m", "##n", "##o", "##p", "##q", "##r", "##s", "##t",
    "##u", "##v", "##w", "##x", "##y", "##z",
    "a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l", "m",
    "n", "o", "p", "q", "r", "s", "t", "u", "v", "w", "x", "y", "z")

  /** DuckDB CTEs for the distinct word-3-gram shingle index + per-doc
    * counts, over any doc-shaped source (doc_id, text).
    */
  private def duckShingleCtes(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, $duckToks AS ts FROM $src),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |  [array_to_string(ts[i:i+2],' ') for i in range(1, len(ts)-1)])) AS s FROM toks),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)""".stripMargin

  private def duckJaccardCtes(src: String = "documents"): String =
    s"""${duckShingleCtes(src)},
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT id_a, id_b, inter*1.0/(ca.n_sh + cb.n_sh - inter) AS jaccard
       |  FROM pairs JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b)""".stripMargin

  private val NumHashes = 32
  private val BandSize = 4

  /** DuckDB CTEs computing the 32-column MinHash signature + 8 band keys. */
  private def duckMinhashCtes(src: String = "documents"): String = {
    val sigCols = (0 until NumHashes)
      .map(i => s"min(${duckPermute("hv", i)}) AS sig_$i").mkString(", ")
    val bands = (0 until NumHashes / BandSize).map { b =>
      val parts = (0 until BandSize).map(i => s"sig_${b * BandSize + i}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('|', $parts) AS key FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""${duckJaccardCtes(src)},
       |hv AS (SELECT doc_id, ${duckHash("s")} AS hv FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM hv GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB CTE chain for the DSIR rows: hashed unigram+bigram feature
    * counts over the raw and target sources, the add-one-smoothed bucket
    * log-ratio table (round-6 DECIMAL, the bigramLmScore discipline),
    * and per-doc integer micro-weights. Ends with CTE `w` =
    * (doc, n_feats, logw_micro). Mirrors
    * [[graft.operators.Sampling.dsirLogWeights]] exactly.
    */
  private def duckDsirCtes(rawSrc: String, targetSrc: String,
      buckets: Int = 512): String = {
    def featChain(p: String, src: String) =
      s"""${p}tok AS (SELECT doc_id AS doc, unnest(range(len(ts))) AS p,
         |    unnest(ts) AS w
         |  FROM (SELECT doc_id, $duckToks AS ts FROM $src)),
         |${p}tk AS (SELECT * FROM ${p}tok WHERE w <> ''),
         |${p}bi AS (SELECT doc, w AS w1,
         |  lead(w) OVER (PARTITION BY doc ORDER BY p) AS w2 FROM ${p}tk),
         |${p}ft AS (SELECT doc, w AS f FROM ${p}tk
         |  UNION ALL SELECT doc, w1 || ' ' || w2 FROM ${p}bi
         |  WHERE w2 IS NOT NULL)""".stripMargin
    s"""${featChain("r", rawSrc)},
       |rfc AS MATERIALIZED (SELECT doc, ${duckHash("f")} % $buckets AS b,
       |  count(*) AS cnt FROM rft GROUP BY 1, 2),
       |${featChain("t", targetSrc)},
       |tfc AS (SELECT ${duckHash("f")} % $buckets AS b, count(*) AS tc
       |  FROM tft GROUP BY 1),
       |rtot AS (SELECT b, sum(cnt) AS rc FROM rfc GROUP BY b),
       |tot AS (SELECT coalesce(r.b, t.b) AS b, coalesce(rc, 0) AS rc,
       |  coalesce(tc, 0) AS tc FROM rtot r FULL OUTER JOIN tfc t ON r.b = t.b),
       |sm AS (SELECT sum(rc) AS R, sum(tc) AS T FROM tot),
       |ratio AS MATERIALIZED (SELECT b,
       |  CAST(round(ln((tc + 1.0) / (T + $buckets)), 6) AS DECIMAL(28,6)) -
       |  CAST(round(ln((rc + 1.0) / (R + $buckets)), 6) AS DECIMAL(28,6)) AS r
       |  FROM tot, sm),
       |w AS MATERIALIZED (SELECT doc, CAST(sum(cnt) AS BIGINT) AS n_feats,
       |  CAST(sum(cnt * r) * 1000000 AS BIGINT) AS logw_micro
       |  FROM rfc JOIN ratio USING (b) GROUP BY doc)""".stripMargin
  }

  /** Multi-target sibling of [[duckDsirCtes]] mirroring
    * [[graft.operators.Sampling.dsirMixtureWeights]]: ONE raw feature
    * chain (rfc/rtot), then per domain its own target chain, smoothed
    * totals and round-6 DECIMAL ratio table. Ends with CTE `mixw` =
    * (doc, domain, n_feats, logw_micro).
    */
  private def duckDsirMixtureCtes(rawSrc: String,
      targets: Seq[(String, String)], buckets: Int = 512): String = {
    def featChain(p: String, src: String) =
      s"""${p}tok AS (SELECT doc_id AS doc, unnest(range(len(ts))) AS p,
         |    unnest(ts) AS w
         |  FROM (SELECT doc_id, $duckToks AS ts FROM $src)),
         |${p}tk AS (SELECT * FROM ${p}tok WHERE w <> ''),
         |${p}bi AS (SELECT doc, w AS w1,
         |  lead(w) OVER (PARTITION BY doc ORDER BY p) AS w2 FROM ${p}tk),
         |${p}ft AS (SELECT doc, w AS f FROM ${p}tk
         |  UNION ALL SELECT doc, w1 || ' ' || w2 FROM ${p}bi
         |  WHERE w2 IS NOT NULL)""".stripMargin
    val perDomain = targets.zipWithIndex.map { case ((name, src), i) =>
      val p = s"d$i"
      s"""${featChain(p, src)},
         |${p}tfc AS (SELECT ${duckHash("f")} % $buckets AS b, count(*) AS tc
         |  FROM ${p}ft GROUP BY 1),
         |${p}tot AS (SELECT coalesce(r.b, t.b) AS b, coalesce(rc, 0) AS rc,
         |  coalesce(tc, 0) AS tc FROM rtot r FULL OUTER JOIN ${p}tfc t
         |  ON r.b = t.b),
         |${p}sm AS (SELECT sum(rc) AS R, sum(tc) AS T FROM ${p}tot),
         |${p}ratio AS MATERIALIZED (SELECT b, '$name' AS domain,
         |  CAST(round(ln((tc + 1.0) / (T + $buckets)), 6) AS DECIMAL(28,6)) -
         |  CAST(round(ln((rc + 1.0) / (R + $buckets)), 6) AS DECIMAL(28,6)) AS r
         |  FROM ${p}tot, ${p}sm)""".stripMargin
    }.mkString(",\n")
    val ratioUnion = targets.indices
      .map(i => s"SELECT * FROM d${i}ratio").mkString(" UNION ALL ")
    s"""${featChain("r", rawSrc)},
       |rfc AS MATERIALIZED (SELECT doc, ${duckHash("f")} % $buckets AS b,
       |  count(*) AS cnt FROM rft GROUP BY 1, 2),
       |rtot AS MATERIALIZED (SELECT b, sum(cnt) AS rc FROM rfc GROUP BY b),
       |$perDomain,
       |allratio AS ($ratioUnion),
       |mixw AS MATERIALIZED (SELECT doc, domain,
       |  CAST(sum(cnt) AS BIGINT) AS n_feats,
       |  CAST(sum(cnt * r) * 1000000 AS BIGINT) AS logw_micro
       |  FROM rfc JOIN allratio USING (b) GROUP BY doc, domain)""".stripMargin
  }

  private val duckCosine =
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"

  /** DuckDB CTE chain mirroring [[Ann.serveGraph]] over
    * `nnDescent(k=4, iters=2)` plus [[Ann.graphSearch]]'s batched beam
    * walk (entry node 0): per hop, expand the beam's out-edges minus the
    * current beam, score exactly, keep the best `beam` per query. The
    * nn-descent rounds are the ann_nndescent oracle's, verbatim. Ends
    * with CTE `b$hops` = (query_id, nid, cos), self rows still present.
    */
  /** Shared prefix of the graph-walk oracles: the base nn-descent graph
    * (ring init, k=4, 2 rounds) over the `corp` view, its symmetrized
    * serve adjacency `adj`, and the query/vector views `q`/`v`.
    * `corpusSql`/`querySql` parameterize the corpus and query sets (the
    * insert oracle builds the graph on all-but-the-last-8 vectors and
    * queries WITH the held-out 8); defaults reproduce the flat rows.
    */
  /** The nn-descent round CTEs alone (corp/nn/e0/e1..eR, ring init,
    * k=4) — shared by [[duckBaseGraphCtes]] and the convergence oracle.
    */
  private def duckNnRounds(rounds: Int,
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings")
      : String = {
    def nnRound(r: Int) =
      s"""g$r AS (SELECT src, dst FROM e${r - 1}
         |  UNION ALL SELECT dst, src FROM e${r - 1}
         |  UNION ALL SELECT x.src, y.dst FROM e${r - 1} x
         |    JOIN e${r - 1} y ON x.dst = y.src),
         |c$r AS (SELECT DISTINCT src, dst FROM g$r WHERE src <> dst),
         |s$r AS (SELECT c.src, c.dst, $duckCosine AS cos
         |  FROM c$r c JOIN corp a ON a.vec_id = c.src
         |    JOIN corp b ON b.vec_id = c.dst),
         |e$r AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT src, dst, row_number() OVER (
         |    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM s$r)
         |  WHERE rn <= 4)""".stripMargin
    s"""corp AS ($corpusSql),
       |nn AS (SELECT count(*) AS n FROM corp),
       |e0 AS MATERIALIZED (
       |  SELECT a.vec_id AS src, CAST((a.vec_id + j.j) % nn.n AS BIGINT) AS dst
       |  FROM corp a, range(1, 5) j(j), nn
       |  WHERE (a.vec_id + j.j) % nn.n <> a.vec_id),
       |${(1 to rounds).map(nnRound).mkString(",\n")}""".stripMargin
  }

  private def duckBaseGraphCtes(nQueries: Int,
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings",
      querySql: String = null): String = {
    val qSql = Option(querySql).getOrElse(
      "SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv " +
        s"FROM embeddings WHERE vec_id < $nQueries")
    s"""${duckNnRounds(2, corpusSql)},
       |adj AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM e2 UNION ALL SELECT dst, src FROM e2)),
       |q AS ($qSql),
       |v AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM corp)""".stripMargin
  }

  private val duckQcos = "list_dot_product(q.qv, v.cv) / " +
    "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.cv, v.cv)))"

  /** The batched beam walk over `adj`/`q`/`v` (entry node 0): b0 = the
    * scored entry, then `hops` rounds of expandHops-deep frontier closure
    * minus the current beam, scored, capped at `beam`. Ends with CTE
    * `b$hops`.
    */
  private def duckWalkRounds(beam: Int, hops: Int, expandHops: Int): String = {
    val qcos = duckQcos
    val walkRounds = (1 to hops).map { r =>
      // expandHops-deep per-round frontier closure (mirrors graphSearch's
      // expandHops loop): f1 = beam's out-edges, f_e = f_{e-1}'s, the
      // union minus the current beam is the round's expansion
      val fr = (1 to expandHops).map { e =>
        val src = if (e == 1) s"b${r - 1}" else s"f${e - 1}_$r"
        s"""f${e}_$r AS (SELECT DISTINCT t.query_id, a.dst AS nid
           |  FROM $src t JOIN adj a ON a.src = t.nid)""".stripMargin
      }.mkString(",\n")
      val unionF = (1 to expandHops)
        .map(e => s"SELECT query_id, nid FROM f${e}_$r").mkString(" UNION ")
      s"""$fr,
         |x$r AS (SELECT DISTINCT query_id, nid FROM ($unionF) u
         |  WHERE NOT EXISTS (SELECT 1 FROM b${r - 1} p
         |    WHERE p.query_id = u.query_id AND p.nid = u.nid)),
         |w$r AS (SELECT x.query_id, x.nid, $qcos AS cos
         |  FROM x$r x JOIN q ON q.query_id = x.query_id
         |    JOIN v ON v.nid = x.nid),
         |u$r AS (SELECT query_id, nid, cos FROM b${r - 1}
         |  UNION ALL SELECT query_id, nid, cos FROM w$r),
         |b$r AS MATERIALIZED (SELECT query_id, nid, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, nid) AS rn FROM u$r) WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""b0 AS MATERIALIZED (SELECT q.query_id, v.nid, $qcos AS cos
       |  FROM q JOIN v ON v.nid = 0),
       |$walkRounds""".stripMargin
  }

  private def duckGraphSearchCtes(nQueries: Int, beam: Int, hops: Int,
      expandHops: Int = 1): String =
    s"""${duckBaseGraphCtes(nQueries)},
       |${duckWalkRounds(beam, hops, expandHops)}""".stripMargin

  /** DuckDB CTE chain mirroring the HNSW-style layered descent
    * ([[Ann.layeredBuild]] maxLevel=1 p=4 + [[Ann.layeredSearch]]): the
    * deterministic LCG level draw, the layer-1 k-NN graph built by the
    * SAME nn-descent protocol on row_number-densified member ids, the
    * single merged upper-layer round (entry ∪ its 2-hop closure over the
    * layer-1 adjacency, scored, top `beamUpper`), and the base round
    * seeded by that beam (2-hop closure over the base adjacency minus
    * the handoff, scored, union, top `beamBase`). Reuses
    * [[duckGraphSearchCtes]]'s base-graph protocol verbatim for layer 0
    * (CTEs nn/e0..e2/adj/q/v). Ends with CTE `bb` = (query_id, nid,
    * cos), self rows still present.
    */
  /** The L-level generalization of [[duckLayeredCtes]]: per-layer member
    * tables (nested LCG thresholds), per-layer densified nn-descent +
    * symmetrized adjacency `adj_l`, the TOP layer's merged entry round,
    * pre-scored handoff rounds down the hierarchy, and the base round.
    * Ends with CTE `bb`.
    */
  private def duckLayeredCtesL(nQueries: Int, beamUpper: Int,
      beamBase: Int, maxLevel: Int, p: Int = 4): String = {
    val qcos = duckQcos
    def thr(l: Int): Long = {
      var t = 1L << 31; for (_ <- 1 to l) t /= p; t
    }
    def layerCtes(l: Int): String = {
      def rnd(r: Int) =
        s"""lg${r}_$l AS (SELECT src, dst FROM le${r - 1}_$l
           |  UNION ALL SELECT dst, src FROM le${r - 1}_$l
           |  UNION ALL SELECT x.src, y.dst FROM le${r - 1}_$l x
           |    JOIN le${r - 1}_$l y ON x.dst = y.src),
           |lc${r}_$l AS (SELECT DISTINCT src, dst FROM lg${r}_$l WHERE src <> dst),
           |ls${r}_$l AS (SELECT c.src, c.dst, $duckCosine AS cos
           |  FROM lc${r}_$l c
           |  JOIN m_$l ma ON ma.did = c.src JOIN embeddings a ON a.vec_id = ma.vec_id
           |  JOIN m_$l mb ON mb.did = c.dst JOIN embeddings b ON b.vec_id = mb.vec_id),
           |le${r}_$l AS MATERIALIZED (SELECT src, dst FROM (
           |  SELECT src, dst, row_number() OVER (
           |    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM ls${r}_$l)
           |  WHERE rn <= 4)""".stripMargin
      s"""m_$l AS MATERIALIZED (SELECT vec_id,
         |  row_number() OVER (ORDER BY vec_id) - 1 AS did
         |  FROM lv WHERE u < ${thr(l)}),
         |n_$l AS (SELECT count(*) AS n FROM m_$l),
         |le0_$l AS MATERIALIZED (
         |  SELECT m.did AS src, CAST((m.did + j.j) % n_$l.n AS BIGINT) AS dst
         |  FROM m_$l m, range(1, 5) j(j), n_$l
         |  WHERE (m.did + j.j) % n_$l.n <> m.did),
         |${rnd(1)},
         |${rnd(2)},
         |adj_$l AS MATERIALIZED (SELECT DISTINCT ma.vec_id AS src,
         |  mb.vec_id AS dst
         |  FROM (SELECT src, dst FROM le2_$l
         |    UNION ALL SELECT dst, src FROM le2_$l) e
         |  JOIN m_$l ma ON ma.did = e.src JOIN m_$l mb ON mb.did = e.dst)""".stripMargin
    }
    // top layer: merged entry round (entry ∪ its 2-hop closure, scored)
    val top = maxLevel
    val topWalk =
      s"""ent AS (SELECT min(src) AS e FROM adj_$top),
         |c0_$top AS (SELECT q.query_id, ent.e AS nid FROM q, ent),
         |f1_$top AS (SELECT DISTINCT c.query_id, a.dst AS nid
         |  FROM c0_$top c JOIN adj_$top a ON a.src = c.nid),
         |f2_$top AS (SELECT DISTINCT c.query_id, a.dst AS nid
         |  FROM f1_$top c JOIN adj_$top a ON a.src = c.nid),
         |cand_$top AS (SELECT DISTINCT query_id, nid FROM (
         |  SELECT query_id, nid FROM c0_$top
         |  UNION SELECT query_id, nid FROM f1_$top
         |  UNION SELECT query_id, nid FROM f2_$top)),
         |w_$top AS (SELECT c.query_id, c.nid, $qcos AS cos
         |  FROM cand_$top c JOIN q ON q.query_id = c.query_id
         |    JOIN v ON v.nid = c.nid),
         |h_$top AS MATERIALIZED (SELECT query_id, nid, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, nid) AS rn FROM w_$top) WHERE rn <= $beamUpper)""".stripMargin
    // lower upper layers: pre-scored handoff + one 2-hop round each
    val lowerWalks = (maxLevel - 1 to 1 by -1).map { l =>
      s"""f1_$l AS (SELECT DISTINCT t.query_id, a.dst AS nid
         |  FROM h_${l + 1} t JOIN adj_$l a ON a.src = t.nid),
         |f2_$l AS (SELECT DISTINCT c.query_id, a.dst AS nid
         |  FROM f1_$l c JOIN adj_$l a ON a.src = c.nid),
         |x_$l AS (SELECT DISTINCT query_id, nid FROM (
         |  SELECT query_id, nid FROM f1_$l
         |  UNION SELECT query_id, nid FROM f2_$l) u
         |  WHERE NOT EXISTS (SELECT 1 FROM h_${l + 1} p
         |    WHERE p.query_id = u.query_id AND p.nid = u.nid)),
         |w_$l AS (SELECT x.query_id, x.nid, $qcos AS cos
         |  FROM x_$l x JOIN q ON q.query_id = x.query_id
         |    JOIN v ON v.nid = x.nid),
         |u_$l AS (SELECT query_id, nid, cos FROM h_${l + 1}
         |  UNION ALL SELECT query_id, nid, cos FROM w_$l),
         |h_$l AS MATERIALIZED (SELECT query_id, nid, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, nid) AS rn FROM u_$l) WHERE rn <= $beamUpper)""".stripMargin
    }
    val baseWalk =
      s"""bf1 AS (SELECT DISTINCT t.query_id, a.dst AS nid
         |  FROM h_1 t JOIN adj a ON a.src = t.nid),
         |bf2 AS (SELECT DISTINCT t.query_id, a.dst AS nid
         |  FROM bf1 t JOIN adj a ON a.src = t.nid),
         |bx AS (SELECT DISTINCT query_id, nid FROM (
         |  SELECT query_id, nid FROM bf1
         |  UNION SELECT query_id, nid FROM bf2) u
         |  WHERE NOT EXISTS (SELECT 1 FROM h_1 p
         |    WHERE p.query_id = u.query_id AND p.nid = u.nid)),
         |bw AS (SELECT x.query_id, x.nid, $qcos AS cos
         |  FROM bx x JOIN q ON q.query_id = x.query_id
         |    JOIN v ON v.nid = x.nid),
         |bu AS (SELECT query_id, nid, cos FROM h_1
         |  UNION ALL SELECT query_id, nid, cos FROM bw),
         |bb AS MATERIALIZED (SELECT query_id, nid, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, nid) AS rn FROM bu) WHERE rn <= $beamBase)""".stripMargin
    (Seq(duckBaseGraphCtes(nQueries),
      """lv AS (SELECT vec_id,
        |  (vec_id * 1103515245 + 12345) % 2147483648 AS u FROM embeddings)""".stripMargin) ++
      (1 to maxLevel).map(layerCtes) ++
      Seq(topWalk) ++ lowerWalks ++ Seq(baseWalk)).mkString(",\n")
  }

  private def duckLayeredCtes(nQueries: Int, beamUpper: Int,
      beamBase: Int): String = {
    val qcos = duckQcos
    def lNnRound(r: Int) =
      s"""lg$r AS (SELECT src, dst FROM le${r - 1}
         |  UNION ALL SELECT dst, src FROM le${r - 1}
         |  UNION ALL SELECT x.src, y.dst FROM le${r - 1} x
         |    JOIN le${r - 1} y ON x.dst = y.src),
         |lc$r AS (SELECT DISTINCT src, dst FROM lg$r WHERE src <> dst),
         |ls$r AS (SELECT c.src, c.dst, $duckCosine AS cos
         |  FROM lc$r c
         |  JOIN m1 ma ON ma.did = c.src JOIN embeddings a ON a.vec_id = ma.vec_id
         |  JOIN m1 mb ON mb.did = c.dst JOIN embeddings b ON b.vec_id = mb.vec_id),
         |le$r AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT src, dst, row_number() OVER (
         |    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM ls$r)
         |  WHERE rn <= 4)""".stripMargin
    s"""${duckBaseGraphCtes(nQueries)},
       |lv AS (SELECT vec_id,
       |  (vec_id * 1103515245 + 12345) % 2147483648 AS u FROM embeddings),
       |m1 AS MATERIALIZED (SELECT vec_id,
       |  row_number() OVER (ORDER BY vec_id) - 1 AS did
       |  FROM lv WHERE u < 536870912),
       |n1 AS (SELECT count(*) AS n FROM m1),
       |le0 AS MATERIALIZED (
       |  SELECT m.did AS src, CAST((m.did + j.j) % n1.n AS BIGINT) AS dst
       |  FROM m1 m, range(1, 5) j(j), n1
       |  WHERE (m.did + j.j) % n1.n <> m.did),
       |${lNnRound(1)},
       |${lNnRound(2)},
       |adj1 AS MATERIALIZED (SELECT DISTINCT ma.vec_id AS src,
       |  mb.vec_id AS dst
       |  FROM (SELECT src, dst FROM le2 UNION ALL SELECT dst, src FROM le2) e
       |  JOIN m1 ma ON ma.did = e.src JOIN m1 mb ON mb.did = e.dst),
       |ent1 AS (SELECT min(src) AS e FROM adj1),
       |l1c0 AS (SELECT q.query_id, ent1.e AS nid FROM q, ent1),
       |l1f1 AS (SELECT DISTINCT c.query_id, a.dst AS nid
       |  FROM l1c0 c JOIN adj1 a ON a.src = c.nid),
       |l1f2 AS (SELECT DISTINCT c.query_id, a.dst AS nid
       |  FROM l1f1 c JOIN adj1 a ON a.src = c.nid),
       |l1cand AS (SELECT DISTINCT query_id, nid FROM (
       |  SELECT query_id, nid FROM l1c0
       |  UNION SELECT query_id, nid FROM l1f1
       |  UNION SELECT query_id, nid FROM l1f2)),
       |l1w AS (SELECT c.query_id, c.nid, $qcos AS cos
       |  FROM l1cand c JOIN q ON q.query_id = c.query_id
       |    JOIN v ON v.nid = c.nid),
       |h1 AS MATERIALIZED (SELECT query_id, nid, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nid) AS rn FROM l1w) WHERE rn <= $beamUpper),
       |bf1 AS (SELECT DISTINCT t.query_id, a.dst AS nid
       |  FROM h1 t JOIN adj a ON a.src = t.nid),
       |bf2 AS (SELECT DISTINCT t.query_id, a.dst AS nid
       |  FROM bf1 t JOIN adj a ON a.src = t.nid),
       |bx AS (SELECT DISTINCT query_id, nid FROM (
       |  SELECT query_id, nid FROM bf1
       |  UNION SELECT query_id, nid FROM bf2) u
       |  WHERE NOT EXISTS (SELECT 1 FROM h1 p
       |    WHERE p.query_id = u.query_id AND p.nid = u.nid)),
       |bw AS (SELECT x.query_id, x.nid, $qcos AS cos
       |  FROM bx x JOIN q ON q.query_id = x.query_id
       |    JOIN v ON v.nid = x.nid),
       |bu AS (SELECT query_id, nid, cos FROM h1
       |  UNION ALL SELECT query_id, nid, cos FROM bw),
       |bb AS MATERIALIZED (SELECT query_id, nid, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, nid) AS rn FROM bu) WHERE rn <= $beamBase)""".stripMargin
  }

  /** DuckDB CTE: sign-bit binary codes as two 32-bit words (must match
    * [[Ann.binaryQuantize]]'s packing: word w bit b = embedding[32w+b] >
    * 0; integer shifts only, every value < 2^32).
    */
  private val duckBinWords =
    """bw AS (SELECT vec_id,
      |  CAST(list_sum(list_transform(range(0, 32), b ->
      |    CASE WHEN embedding[CAST(b + 1 AS INTEGER)] > 0
      |    THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
      |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
      |  CAST(list_sum(list_transform(range(0, 32), b ->
      |    CASE WHEN embedding[CAST(b + 33 AS INTEGER)] > 0
      |    THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
      |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
      |  FROM embeddings)""".stripMargin

  /** DuckDB CTE chain replicating [[Ann.ivfAssignments]] exactly (init =
    * k smallest vec ids, 2 Lloyd rounds of fold-order assignment +
    * DECIMAL(38,18) means): final assignment table `a3(id, c)`.
    */
  private def duckIvfCtes(k: Int): String = {
    def assignCte(dist: String, cent: String, out: String): String =
      s"""$dist AS (
         |  SELECT b.id, cc.c,
         |    list_reduce(list_transform(range(1, len(b.v)+1),
         |      i -> (b.v[i]-cc.center[i])*(b.v[i]-cc.center[i])),
         |      (a, x) -> a + x) AS dist
         |  FROM base b CROSS JOIN $cent cc),
         |$out AS (SELECT id, c FROM (
         |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn FROM $dist)
         |  WHERE rn = 1)""".stripMargin
    def updateCte(assign: String, out: String): String =
      s"""$out AS (
         |  SELECT c, list(cx ORDER BY d) AS center FROM (
         |    SELECT a.c, dims.d, CAST(sum(CAST(dims.x AS DECIMAL(38,18))) AS DOUBLE)/count(*) AS cx
         |    FROM dims JOIN $assign a ON dims.id = a.id GROUP BY 1, 2)
         |  GROUP BY c)""".stripMargin
    s"""base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT id, unnest(range(len(v))) AS d, unnest(v) AS x FROM base),
       |c0 AS (SELECT CAST(id AS INTEGER) AS c, v AS center FROM base WHERE id < $k),
       |${assignCte("d1", "c0", "a1")},
       |${updateCte("a1", "c1")},
       |${assignCte("d2", "c1", "a2")},
       |${updateCte("a2", "c2")},
       |${assignCte("d3", "c2", "a3")}""".stripMargin
  }

  /** DuckDB CTE chains replicating [[Ann.pqCodebooks]] + [[Ann.pqEncode]]
    * per subspace: for each s, `base_s` slices dims [s·sub+1, (s+1)·sub]
    * of `srcVec` from `srcTable` (default: the raw embeddings; the
    * residual variant passes a residual CTE), then the [[duckIvfCtes]]
    * k-means protocol (init = ids < k, 2 Lloyd rounds of fold-order
    * assignment + DECIMAL(38,18) means) ends in final books `c2_s` and
    * code assignments `a3_s`.
    */
  private def duckPqCtes(m: Int, k: Int, dims: Int,
      srcTable: String = "embeddings", srcId: String = "vec_id",
      srcVec: String = "embedding::DOUBLE[]"): String = {
    val sub = dims / m
    (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = (s + 1) * sub
      def assignCte(dist: String, cent: String, out: String): String =
        s"""${dist}_$s AS (
           |  SELECT b.id, cc.c,
           |    list_reduce(list_transform(range(1, len(b.v)+1),
           |      i -> (b.v[i]-cc.center[i])*(b.v[i]-cc.center[i])),
           |      (a, x) -> a + x) AS dist
           |  FROM base_$s b CROSS JOIN ${cent}_$s cc),
           |${out}_$s AS (SELECT id, c FROM (
           |  SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn
           |  FROM ${dist}_$s) WHERE rn = 1)""".stripMargin
      def updateCte(assign: String, out: String): String =
        s"""${out}_$s AS (
           |  SELECT c, list(cx ORDER BY d) AS center FROM (
           |    SELECT a.c, dims_$s.d, CAST(sum(CAST(dims_$s.x AS DECIMAL(38,18))) AS DOUBLE)/count(*) AS cx
           |    FROM dims_$s JOIN $assign a ON dims_$s.id = a.id GROUP BY 1, 2)
           |  GROUP BY c)""".stripMargin
      s"""base_$s AS (SELECT $srcId AS id, ($srcVec)[$lo:$hi] AS v
         |  FROM $srcTable),
         |dims_$s AS (
         |  SELECT id, unnest(range(len(v))) AS d, unnest(v) AS x FROM base_$s),
         |c0_$s AS (SELECT CAST(id AS INTEGER) AS c, v AS center FROM base_$s WHERE id < $k),
         |${assignCte("d1", "c0", "a1")},
         |${updateCte(s"a1_$s", "c1")},
         |${assignCte("d2", "c1", "a2")},
         |${updateCte(s"a2_$s", "c2")},
         |${assignCte("d3", "c2", "a3")}""".stripMargin
    }.mkString(",\n")
  }

  val specs: Map[String, QuerySpec] = Map(

    // ---- exact dedup on a canonical prefix key ------------------------
    "dd_exact_dedup" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("pkey", Dedup.prefixKey(col("text"), 10))
        Dedup.exactFirstWins(docs, Seq("pkey"), Seq("doc_id"))
          .select("doc_id")
          .orderBy("doc_id")
      },
      s"""SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (
         |    PARTITION BY array_to_string(($duckToks)[1:10], ' ')
         |    ORDER BY doc_id) AS rn
         |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin
    ),

    // ---- n-gram Jaccard near-dup pairs --------------------------------
    "dd_ngram_jaccard" -> QuerySpec(
      (s, dir) =>
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
          .orderBy("id_a", "id_b"),
      s"""WITH ${duckJaccardCtes()}
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard
         |FROM jac WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin
    ),

    // ---- directed n-gram CONTAINMENT near-dups -------------------------
    // Broder's second measure: C(A→B) = |A∩B|/|A| catches a snippet
    // living inside a much larger doc (high containment, low Jaccard).
    // Spark side candidates via the asymmetric prefix filter (A's rarest
    // shingles vs the FULL index — lossless); the oracle verifies with
    // the naive shared-shingle group-by. Directed: id_a is the contained
    // side, so mutual near-dups appear twice with their own scores.
    "dd_containment" -> QuerySpec(
      (s, dir) =>
        Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
            3, thresholdPpm = 900000L)
          .orderBy("id_a", "id_b"),
      s"""WITH ${duckShingleCtes()},
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |ct AS (SELECT id_a, id_b,
         |    (inter * 1000000) // ca.n_sh AS containment_ppm
         |  FROM pairs JOIN cnt ca ON ca.doc_id = id_a)
         |SELECT id_a, id_b, CAST(containment_ppm AS BIGINT) AS containment_ppm
         |FROM ct WHERE containment_ppm >= 900000
         |ORDER BY id_a, id_b""".stripMargin
    ),

    // ---- web-curation URL canonicalization ----------------------------
    // Synthesize crawl-shaped URLs from doc_id arithmetic — mixed-case
    // scheme/host, www., default and explicit ports, trailing slashes,
    // tracking params, unsorted params, fragments — and canonicalize.
    // The oracle predicts the canonical form in CLOSED FORM from the same
    // arithmetic (independent derivation, not a parallel regex run), the
    // multimodal-oracle pattern.
    "web_url_canonical" -> QuerySpec(
      (s, dir) => {
        val d = col("doc_id")
        val url = concat(
          when(d % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
          lit("WWW.Site"), d % 37,
          when(d % 4 === 0, ".com").when(d % 4 === 1, ".CO.UK")
            .when(d % 4 === 2, ".org").otherwise(".io"),
          when(d % 6 === 0, ":443").when(d % 6 === 3, ":8080").otherwise(""),
          lit("/Dir/page"), d % 11,
          when(d % 3 === 0, "/").otherwise(""),
          when(d % 4 === 0, concat(lit("?utm_source=feed&id="), d % 9))
            .when(d % 4 === 1, "?b=2&a=1&fbclid=zz")
            .when(d % 4 === 2, concat(lit("?q="), d % 5)).otherwise(""),
          when(d % 5 === 1, "#frag").otherwise(""))
        t(s, dir, "documents")
          .select(d.as("doc_id"), url.as("url"))
          .select(col("doc_id"), col("url"),
            WebCuration.canonicalizeUrl(col("url")).as("canonical_url"),
            WebCuration.hostOf(col("url")).as("host"),
            WebCuration.registeredDomain(col("url")).as("registered_domain"))
          .orderBy("doc_id")
      },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END AS scm,
        |    CASE doc_id % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.CO.UK'
        |      WHEN 2 THEN '.org' ELSE '.io' END AS tld,
        |    CASE doc_id % 6 WHEN 0 THEN ':443' WHEN 3 THEN ':8080'
        |      ELSE '' END AS prt,
        |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END AS trl,
        |    CASE doc_id % 4
        |      WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 9)
        |      WHEN 1 THEN '?b=2&a=1&fbclid=zz'
        |      WHEN 2 THEN '?q=' || (doc_id % 5) ELSE '' END AS qry,
        |    CASE WHEN doc_id % 5 = 1 THEN '#frag' ELSE '' END AS frg
        |  FROM documents)
        |SELECT doc_id,
        |  scm || '://WWW.Site' || (doc_id % 37) || tld || prt
        |    || '/Dir/page' || (doc_id % 11) || trl || qry || frg AS url,
        |  lower(scm) || '://site' || (doc_id % 37) || lower(tld)
        |    || CASE WHEN doc_id % 6 = 3 THEN ':8080' ELSE '' END
        |    || '/Dir/page' || (doc_id % 11)
        |    || CASE doc_id % 4
        |         WHEN 0 THEN '?id=' || (doc_id % 9)
        |         WHEN 1 THEN '?a=1&b=2'
        |         WHEN 2 THEN '?q=' || (doc_id % 5) ELSE '' END AS canonical_url,
        |  'site' || (doc_id % 37) || lower(tld)
        |    AS host,
        |  'site' || (doc_id % 37) || lower(tld) AS registered_domain
        |FROM p ORDER BY doc_id""".stripMargin
    ),

    // ---- canonical-URL dedup ------------------------------------------
    // Surface variants of the same resource — www. vs none, default :443
    // vs none, trailing slash, a fragment, tracking params, and the SAME
    // params in a different ORDER — collapse to one canonical key; one
    // keyed aggregation resolves the first-seen winner (the crawl-level
    // dedup that runs BEFORE any content-level pass). Moduli are chosen
    // so the surface modulus (7) is coprime to every canonical modulus:
    // each canonical group genuinely contains several distinct raw
    // surface forms the canonicalizer must merge.
    "dd_url_dedup" -> QuerySpec(
      (s, dir) => {
        val d = col("doc_id")
        val url = concat(
          when(d % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
          when(d % 7 === 4, "WWW.").otherwise(""), lit("Site"), d % 5, lit(".com"),
          when(d % 2 === 0 && d % 7 === 0, ":443").otherwise(""),
          lit("/p"), d % 3,
          when(d % 7 === 1, "/").otherwise(""),
          when(d % 4 === 0, "?b=2&utm_source=x&a=1")
            .when(d % 4 === 1, "?b=2&a=1")
            .when(d % 4 === 2, concat(lit("?id="), d % 3)).otherwise(""),
          when(d % 7 === 3, "#f").otherwise(""))
        WebCuration.urlDedup(
          t(s, dir, "documents").select(d.as("doc_id"), url.as("url")),
          "doc_id", "url")
          .orderBy("canonical_url")
      },
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
        |      || '://site' || (doc_id % 5) || '.com/p' || (doc_id % 3)
        |      || CASE WHEN doc_id % 4 IN (0, 1) THEN '?a=1&b=2'
        |           WHEN doc_id % 4 = 2 THEN '?id=' || (doc_id % 3)
        |           ELSE '' END AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin
    ),

    // ---- domain blocklist filter --------------------------------------
    // Crawl-level domain exclusion: anti-join the registered domain
    // against a blocklist relation (broadcast by AQE at this size; keyed
    // shuffle at public-suffix-list scale).
    "web_domain_filter" -> QuerySpec(
      (s, dir) => {
        val d = col("doc_id")
        val url = concat(
          when(d % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
          when(d % 7 === 4, "WWW.").otherwise(""), lit("Site"), d % 5, lit(".com"),
          lit("/p"), d % 3)
        val blocked = s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row("site1.com"),
            org.apache.spark.sql.Row("SITE3.COM")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("domain",
              org.apache.spark.sql.types.StringType))))
        WebCuration.blockDomains(
          t(s, dir, "documents").select(d.as("doc_id"), url.as("url")),
          "url", blocked)
          .select(col("doc_id"), col("registered_domain"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, 'site' || (doc_id % 5) || '.com' AS registered_domain
        |FROM documents WHERE doc_id % 5 NOT IN (1, 3)
        |ORDER BY doc_id""".stripMargin
    ),

    // ---- incremental snapshot-over-corpus dedup ------------------------
    // The periodic-crawl-refresh shape: the src0 slice arrives as a NEW
    // batch and dedups against the rest of the corpus by content key.
    // Bloom-negative rows skip the anti-join entirely; bloom-positive
    // rows are exactly confirmed — the oracle is the plain first-wins +
    // NOT-IN formulation, so any bloom false-NEGATIVE (which the bitset
    // contract forbids) or sloppy confirm breaks the hash.
    "dd_incremental" -> QuerySpec(
      (s, dir) => {
        val keyed = t(s, dir, "documents")
          .withColumn("pkey", Dedup.prefixKey(col("text"), 10))
        val batch = keyed.filter(col("source") === "src0")
        val corpus = keyed.filter(col("source") =!= "src0")
        Dedup.incrementalDedup(batch, corpus.select("pkey"), "pkey", "doc_id")
          .select("doc_id")
          .orderBy("doc_id")
      },
      s"""WITH k AS (
         |  SELECT doc_id, source,
         |    array_to_string(($duckToks)[1:10], ' ') AS pkey
         |  FROM documents),
         |fw AS (
         |  SELECT doc_id, pkey, row_number() OVER (
         |    PARTITION BY pkey ORDER BY doc_id) AS rn
         |  FROM k WHERE source = 'src0')
         |SELECT doc_id FROM fw
         |WHERE rn = 1 AND pkey NOT IN (
         |  SELECT pkey FROM k WHERE source != 'src0')
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- inverted-index TF-IDF retrieval -------------------------------
    // Sparse lexical top-k: integer-exact idf surrogate (N*1e6 div df,
    // the log-free pattern), tf*idf summed per (query, doc), bounded
    // TopKByScore ranking (ties -> ascending doc_id). Query 2 carries an
    // absent term ('zzz_absent') — it must contribute nothing while the
    // query's other term still retrieves.
    "tx_tfidf_topk" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          (0, "slow"), (0, "key"),
          (1, "table"), (1, "hash"), (1, "merge"),
          (2, "vector"), (2, "zzz_absent")).toDF("query_id", "term")
        Retrieval.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text",
            queries, k = 5)
          .orderBy("query_id", "rank")
      },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |p AS (SELECT term, doc_id, count(*) AS tf FROM toks
        |  WHERE term != '' GROUP BY 1, 2),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
        |q(query_id, term) AS (VALUES (0, 'slow'), (0, 'key'),
        |  (1, 'table'), (1, 'hash'), (1, 'merge'),
        |  (2, 'vector'), (2, 'zzz_absent')),
        |sc AS (SELECT q.query_id, p.doc_id,
        |    sum(p.tf * ((nd.n * 1000000) // dfq.df)) AS score
        |  FROM q JOIN p USING (term) JOIN dfq USING (term), nd
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        |  FROM sc)
        |SELECT CAST(query_id AS INTEGER) AS query_id,
        |  CAST(rnk AS INTEGER) AS rank, doc_id,
        |  CAST(score AS BIGINT) AS score
        |FROM rk WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- PNG chunk inventory with EXECUTED CRC verification ------------
    // Real container walk (the image sibling of the MP4 stbl demux):
    // hand-written stored-deflate PNGs make every chunk length/offset
    // closed-form, so the oracle predicts the whole inventory; CRC32 is
    // recomputed over type||data per chunk. Every 13th doc carries a
    // VALID structure with a LYING checksum (data byte flipped after
    // CRC) -> crc_ok false on exactly the IDAT row; every 23rd has a
    // broken signature -> quarantined 'unsupported'.
    "mm_png_chunks" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(8) + col("doc_id") % 9).cast("int").as("w"),
          (lit(5) + col("doc_id") % 7).cast("int").as("h"),
          ((col("doc_id") * 11) % 256).cast("int").as("shade"),
          (col("doc_id") % 13 === 4).as("corrupt_crc")
        ).as[Multimodal.PngChunkSpec]
        val bin = Multimodal.synthesizePngChunked(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 23 === 6,
              concat(lit(Array(0x00.toByte)),
                expr("substring(payload, 2, 2147483647)")))
              .otherwise(col("payload")).as("payload"))
        Multimodal.pngChunks(s, bin).toDF()
          .orderBy("doc_id", "chunk_idx")
      },
      """WITH s AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h,
        |    doc_id % 13 = 4 AS badcrc, doc_id % 23 = 6 AS badsig
        |  FROM documents),
        |d AS (SELECT doc_id, badcrc, badsig, h*(w+1) AS rawlen FROM s),
        |ok AS (
        |  SELECT doc_id, 0 AS chunk_idx, 'IHDR' AS chunk_type,
        |    CAST(13 AS BIGINT) AS data_len, CAST(8 AS BIGINT) AS byte_offset,
        |    TRUE AS crc_ok, 'ok' AS status FROM d WHERE NOT badsig
        |  UNION ALL
        |  SELECT doc_id, 1, 'IDAT', CAST(11 + rawlen AS BIGINT),
        |    CAST(33 AS BIGINT), NOT badcrc, 'ok' FROM d WHERE NOT badsig
        |  UNION ALL
        |  SELECT doc_id, 2, 'IEND', CAST(0 AS BIGINT),
        |    CAST(56 + rawlen AS BIGINT), TRUE, 'ok' FROM d WHERE NOT badsig),
        |bd AS (
        |  SELECT doc_id, -1 AS chunk_idx, '' AS chunk_type,
        |    CAST(0 AS BIGINT) AS data_len, CAST(0 AS BIGINT) AS byte_offset,
        |    FALSE AS crc_ok, 'unsupported' AS status
        |  FROM d WHERE badsig)
        |SELECT * FROM ok UNION ALL SELECT * FROM bd
        |ORDER BY doc_id, chunk_idx""".stripMargin
    ),

    // ---- flagship 5: the dedup funnel ----------------------------------
    // The stage-by-stage removal report every curation run logs: raw ->
    // exact (prefix-key first-wins) -> near-dup (MinHash clusters on the
    // exact survivors, min-id winner kept) -> blocklist gate (the
    // Aho-Corasick pass). One row per stage with in/out/removed counts;
    // the oracle chains every stage's contract, so a drift anywhere in
    // the funnel shifts a count and breaks the hash.
    "pipeline_dedup_funnel" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val keyed = docs.withColumn("pkey", Dedup.prefixKey(col("text"), 10))
        val s1 = Dedup.exactFirstWins(keyed, Seq("pkey"), Seq("doc_id"))
          .select("doc_id", "text")
        val pairs = Dedup.minhashLshPairs(s1, "doc_id", "text", n = 3,
          numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
        // min-id winner: a node survives unless its component label is
        // someone else's id
        val losers = Dedup.nearDupClusters(pairs)
          .filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"))
        val s2 = s1.join(losers, Seq("doc_id"), "left_anti")
        val s3 = s2.filter(Fns.multiPatternCount(col("text"),
          Seq("slow", "dup", "table hash", "art", "badword")) === 0)
        // four 1-row scalars, broadcast-joined into one row, then
        // exploded to funnel rows — no window (the corpus-wide sweep
        // forbids partition-less windows, even 4-row ones) and no
        // cartesian (1-row broadcast nested-loop, the sketch-scalar
        // pattern)
        def cnt(df: org.apache.spark.sql.DataFrame, as: String) =
          broadcast(df.agg(count(lit(1)).cast("long").as(as)))
        docs.agg(count(lit(1)).cast("long").as("n0"))
          .crossJoin(cnt(s1, "n1"))
          .crossJoin(cnt(s2, "n2"))
          .crossJoin(cnt(s3, "n3"))
          .select(explode(array(
            struct(lit("01_raw").as("stage"), col("n0").as("docs_in"),
              col("n0").as("docs_out"), lit(0L).as("removed")),
            struct(lit("02_exact").as("stage"), col("n0").as("docs_in"),
              col("n1").as("docs_out"), (col("n0") - col("n1")).as("removed")),
            struct(lit("03_neardup").as("stage"), col("n1").as("docs_in"),
              col("n2").as("docs_out"), (col("n1") - col("n2")).as("removed")),
            struct(lit("04_blocklist").as("stage"), col("n2").as("docs_in"),
              col("n3").as("docs_out"), (col("n2") - col("n3")).as("removed"))
          )).as("r"))
          .select(col("r.stage").as("stage"), col("r.docs_in").as("docs_in"),
            col("r.docs_out").as("docs_out"), col("r.removed").as("removed"))
          .orderBy("stage")
      },
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text,
         |    array_to_string(($duckToks)[1:10], ' ') AS pkey
         |  FROM documents),
         |ex AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY pkey),
         |exact AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN ex ON d.doc_id = ex.doc_id),
         |${duckMinhashCtes("exact")},
         |np AS (
         |  SELECT j.id_a AS a, j.id_b AS b
         |  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |  WHERE j.jaccard >= 0.8),
         |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
         |comp(node, label) AS (
         |  SELECT DISTINCT a AS node, a AS label FROM edges
         |  UNION
         |  SELECT e.a, c.label FROM edges e JOIN comp c ON c.node = e.b),
         |losers AS (
         |  SELECT node FROM (SELECT node, min(label) AS cluster
         |    FROM comp GROUP BY node) WHERE cluster != node),
         |s2 AS (SELECT doc_id, text FROM exact
         |  WHERE doc_id NOT IN (SELECT node FROM losers)),
         |s3 AS (SELECT doc_id FROM s2 WHERE
         |  length(regexp_extract_all(text, '\\bslow\\b'))
         |  + length(regexp_extract_all(text, '\\bdup\\b'))
         |  + length(regexp_extract_all(text, '\\btable hash\\b'))
         |  + length(regexp_extract_all(text, '\\bart\\b'))
         |  + length(regexp_extract_all(text, '\\bbadword\\b')) = 0),
         |counts AS (
         |  SELECT '01_raw' AS stage, (SELECT count(*) FROM documents) AS n
         |  UNION ALL SELECT '02_exact', (SELECT count(*) FROM exact)
         |  UNION ALL SELECT '03_neardup', (SELECT count(*) FROM s2)
         |  UNION ALL SELECT '04_blocklist', (SELECT count(*) FROM s3))
         |SELECT stage,
         |  CAST(coalesce(lag(n) OVER (ORDER BY stage), n) AS BIGINT)
         |    AS docs_in,
         |  CAST(n AS BIGINT) AS docs_out,
         |  CAST(coalesce(lag(n) OVER (ORDER BY stage), n) - n AS BIGINT)
         |    AS removed
         |FROM counts ORDER BY stage""".stripMargin
    ),

    // ---- eval-split leakage detection ----------------------------------
    // The eval-hygiene check a benchmark owner runs AFTER splitting:
    // near-duplicate pairs (the MinHash-LSH detector) that STRADDLE the
    // train/test hash split are leakage — test items whose near-copy is
    // trained on. Composes hashSplit + minhashLshPairs; the oracle
    // replays both contracts and must agree on every leaked pair.
    "sp_split_leakage" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val split = graft.operators.Sampling.hashSplit(docs, "doc_id",
            Seq("train" -> 0.9, "test" -> 0.1))
          .select(col("doc_id"), col("split"))
        Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
            numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
          .join(split.select(col("doc_id").as("id_a"),
            col("split").as("split_a")), "id_a")
          .join(split.select(col("doc_id").as("id_b"),
            col("split").as("split_b")), "id_b")
          .filter(col("split_a") =!= col("split_b"))
          .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
            col("jaccard"))
          .orderBy("id_a", "id_b")
      },
      s"""WITH ${duckMinhashCtes()},
         |sp AS (SELECT doc_id,
         |  CASE WHEN (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911
         |      + 2654435761) % 1000000007)*1.0/1000000007 < 0.9
         |    THEN 'train' ELSE 'test' END AS split
         |  FROM documents)
         |SELECT j.id_a, j.id_b, sa.split AS split_a, sb.split AS split_b,
         |  round(j.jaccard, 4) AS jaccard
         |FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |JOIN sp sa ON sa.doc_id = j.id_a
         |JOIN sp sb ON sb.doc_id = j.id_b
         |WHERE j.jaccard >= 0.8 AND sa.split != sb.split
         |ORDER BY j.id_a, j.id_b""".stripMargin
    ),

    // ---- audio silence segmentation (gaps-and-islands) -----------------
    // Burst-modulated real PCM (loud/loud/QUIET stretches of 160 frames)
    // decoded by the executed-audio tier into 80-frame windows, then
    // maximal silent runs (peak < 8) as islands. Every 19th payload is
    // truncated -> quarantined out before segmentation.
    "mm_silence_segments" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(8000).as("sample_rate"),
          (lit(1) + col("doc_id") % 2).cast("int").as("channels"),
          (lit(320) + (col("doc_id") % 4) * 80).cast("int").as("n_frames"),
          ((col("doc_id") * 7) % 256).cast("int").as("seed"),
          lit(160).as("burst_frames")
        ).as[Multimodal.WavPcmBurstSpec]
        val bin = Multimodal.synthesizeWavPcmBursts(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 19 === 3, col("payload").substr(1, 50))
              .otherwise(col("payload")).as("payload"))
        val windows = Multimodal.audioEnergy(s, bin, windowFrames = 80).toDF()
        Multimodal.silenceSegments(windows, peakThreshold = 8)
          .orderBy("doc_id", "start_window")
      },
      """WITH s AS (
        |  SELECT doc_id, 320 + (doc_id % 4) * 80 AS n,
        |    1 + doc_id % 2 AS ch, (doc_id * 7) % 256 AS seed,
        |    doc_id % 19 = 3 AS bad
        |  FROM documents),
        |fr AS (SELECT doc_id, n, ch, seed, unnest(range(0, n)) AS k
        |  FROM s WHERE NOT bad),
        |sm AS (SELECT doc_id, n, ch, seed, k, unnest(range(0, ch)) AS c
        |  FROM fr),
        |v AS (SELECT doc_id, n, k // 80 AS w,
        |    CASE WHEN (k // 160) % 3 = 2
        |      THEN abs((seed + 31*k + 17*c) % 9 - 4)
        |      ELSE abs((seed + 31*k + 17*c) % 4096 - 2048) END AS av
        |  FROM sm),
        |wn AS (SELECT doc_id, w, max(av) AS peak,
        |    CAST(least(80, max(n) - 80*w) AS BIGINT) AS nf
        |  FROM v GROUP BY doc_id, w),
        |sil AS (SELECT doc_id, w, nf, peak FROM wn WHERE peak < 8),
        |isl AS (SELECT doc_id, w, nf, peak,
        |    w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
        |  FROM sil)
        |SELECT doc_id, CAST(min(w) AS BIGINT) AS start_window,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(nf) AS BIGINT) AS n_frames,
        |  CAST(max(peak) AS INTEGER) AS max_peak
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, start_window""".stripMargin
    ),

    // ---- n-gram novelty (memorization-risk signal) ---------------------
    // Per doc: the fraction of its DISTINCT trigrams that occur in NO
    // other document — the "how much of this doc is unique text" signal
    // memorization/contamination analyses rank by. One shingle table,
    // one gram-document-frequency agg reduced FROM it, one per-doc agg;
    // novelty in exact ppm (integer div).
    "tx_ngram_novelty" -> QuerySpec(
      (s, dir) =>
        TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", 3)
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(ts[i:i+2], ' ') AS g
         |  FROM toks, unnest(range(1, len(ts) - 1)) AS u(i)
         |  WHERE len(ts) >= 3),
         |gdf AS (SELECT g, count(*) AS gdf FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN gdf.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique,
         |  CAST((sum(CASE WHEN gdf.gdf = 1 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS novelty_ppm
         |FROM sh JOIN gdf USING (g) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- exact phrase search (positional index) ------------------------
    // Decontamination's verbatim-quote detector: ONE join + ONE agg for
    // any phrase length — postings vote for start = pos - offset, a
    // start with all plen DISTINCT offsets is a match. Phrase 4 ("a a",
    // repeated term, self-overlapping) pins both the distinct-offset
    // rule and overlapping-start counting; the oracle replays the SAME
    // relational construction (a regex could not count overlaps).
    "tx_phrase_search" -> QuerySpec(
      (s, dir) =>
        Retrieval.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
            Map(1 -> "table hash", 2 -> "slow key", 3 -> "key agg row",
              4 -> "a a"))
          .orderBy("phrase_id", "doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |pz AS (SELECT doc_id, unnest(range(len(ts))) AS pos, ts
         |  FROM toks),
         |p AS (SELECT doc_id, pos,
         |    ts[CAST(pos + 1 AS INTEGER)] AS term
         |  FROM pz WHERE ts[CAST(pos + 1 AS INTEGER)] != ''),
         |ph(phrase_id, off, term, plen) AS (VALUES
         |  (1, 0, 'table', 2), (1, 1, 'hash', 2),
         |  (2, 0, 'slow', 2), (2, 1, 'key', 2),
         |  (3, 0, 'key', 3), (3, 1, 'agg', 3), (3, 2, 'row', 3),
         |  (4, 0, 'a', 2), (4, 1, 'a', 2)),
         |cand AS (SELECT ph.phrase_id, ph.plen, p.doc_id,
         |    p.pos - ph.off AS strt, ph.off
         |  FROM p JOIN ph ON p.term = ph.term
         |  WHERE p.pos - ph.off >= 0),
         |m AS (SELECT phrase_id, plen, doc_id, strt,
         |    count(DISTINCT off) AS n_off
         |  FROM cand GROUP BY 1, 2, 3, 4)
         |SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches
         |FROM m WHERE n_off = plen GROUP BY 1, 2
         |ORDER BY phrase_id, doc_id""".stripMargin
    ),

    // ---- cross-source content-overlap matrix ---------------------------
    // Which source pairs ship the same documents (mirrors, re-crawls):
    // distinct (source, key) self-joined on key, one keyed agg.
    "dd_source_overlap" -> QuerySpec(
      (s, dir) =>
        Dedup.sourceOverlap(
            t(s, dir, "documents")
              .withColumn("pkey", Dedup.prefixKey(col("text"), 10)),
            "pkey", "source")
          .orderBy("src_a", "src_b"),
      s"""WITH k AS (
         |  SELECT DISTINCT source,
         |    array_to_string(($duckToks)[1:10], ' ') AS pkey
         |  FROM documents)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM k a JOIN k b ON a.pkey = b.pkey AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),

    // ---- posting-list compression accounting ---------------------------
    // Elias-gamma d-gap cost vs raw 64-bit ids per term — integer-exact
    // via length(bin(gap)) = floor(log2)+1 in both engines. First gap =
    // doc_id + 1 (0-based ids).
    "tx_index_compression" -> QuerySpec(
      (s, dir) =>
        Retrieval.indexCompressionStats(t(s, dir, "documents"),
            "doc_id", "text")
          .orderBy("term"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |p AS (SELECT DISTINCT term, doc_id FROM toks WHERE term != ''),
         |g AS (SELECT term, doc_id,
         |    doc_id - coalesce(lag(doc_id) OVER (
         |      PARTITION BY term ORDER BY doc_id), -1) AS gap
         |  FROM p),
         |s AS (SELECT term, count(*) AS df,
         |    CAST(sum(2 * length(bin(gap)) - 1) AS BIGINT) AS gamma_bits,
         |    count(*) * 64 AS raw_bits
         |  FROM g GROUP BY 1)
         |SELECT term, df, gamma_bits, raw_bits,
         |  CAST((gamma_bits * 1000000) // raw_bits AS BIGINT) AS ratio_ppm
         |FROM s ORDER BY term""".stripMargin
    ),

    // ---- per-domain unigram KL vs corpus --------------------------------
    // Data-recipe drift diagnostic in exact micro-nats: per-TYPE rounded
    // ln ratio (the bigram-LM DECIMAL pattern) weighted by exact counts,
    // integer-summed, divided once at the end.
    "tx_domain_kl" -> QuerySpec(
      (s, dir) =>
        TextAnalysis.domainKl(t(s, dir, "documents"), "text", "source")
          .orderBy("domain"),
      s"""WITH toks AS (
         |  SELECT source AS domain, unnest($duckToks) AS w FROM documents),
         |cs AS (SELECT domain, w, count(*) AS c_d FROM toks
         |  WHERE w != '' GROUP BY 1, 2),
         |ns AS (SELECT domain, sum(c_d) AS n_d FROM cs GROUP BY 1),
         |cc AS (SELECT w, sum(c_d) AS c FROM cs GROUP BY 1),
         |nt AS (SELECT sum(c) AS n_tot FROM cc),
         |term AS (
         |  SELECT cs.domain, ns.n_d, cs.c_d,
         |    CAST(CAST(round(ln((cs.c_d * nt.n_tot)::DOUBLE
         |      / (ns.n_d * cc.c)::DOUBLE), 6) AS DECIMAL(28,6)) * 1000000
         |      AS BIGINT) AS iln
         |  FROM cs JOIN cc USING (w) JOIN ns USING (domain), nt),
         |agg AS (
         |  SELECT domain, max(n_d) AS n_tokens, count(*) AS n_types,
         |    sum(c_d * iln) AS num
         |  FROM term GROUP BY 1)
         |SELECT domain, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  n_types,
         |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
         |    * (abs(num) // n_tokens) AS BIGINT) AS kl_micro
         |FROM agg ORDER BY domain""".stripMargin
    ),

    // ---- sliding-window chunking with overlap --------------------------
    // Long-context prep: 16-token windows every 8 tokens (50% overlap);
    // only the last window may be short. Window hashes pin the exact
    // token content of every window, not just the geometry.
    "tx_sliding_windows" -> QuerySpec(
      (s, dir) =>
        graft.operators.Packing.slidingWindows(
            t(s, dir, "documents"), "doc_id", "text",
            window = 16, stride = 8)
          .select(col("doc_id"), col("win_idx"), col("start_tok"),
            col("n_tokens"), md5(col("window_text")).as("win_hash"))
          .orderBy("doc_id", "win_idx"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |d AS (SELECT doc_id, len(ts) AS n, ts FROM toks WHERE len(ts) > 0),
         |w AS (SELECT doc_id, n, ts,
         |  1 + greatest(0, (n - 16 + 7) // 8) AS nw FROM d),
         |e AS (SELECT doc_id, n, ts, unnest(range(0, nw)) AS win_idx FROM w)
         |SELECT doc_id, win_idx, win_idx*8 AS start_tok,
         |  CAST(least(16, n - win_idx*8) AS INTEGER) AS n_tokens,
         |  md5(array_to_string(ts[CAST(win_idx*8 + 1 AS INTEGER):
         |    CAST(win_idx*8 + least(16, n - win_idx*8) AS INTEGER)], ' '))
         |    AS win_hash
         |FROM e ORDER BY doc_id, win_idx""".stripMargin
    ),

    // ---- deterministic span-corruption masks (T5 denoising prep) -------
    // 3-token spans every 11 tokens, phase-shifted per doc by
    // doc_id mod 11 — the reproducible analog of T5's random span
    // sampling; spans clip at the doc end; sentinel numbering follows
    // span order (<extra_id_k>).
    "tx_span_corruption" -> QuerySpec(
      (s, dir) =>
        graft.operators.Packing.spanCorruptionMask(
            t(s, dir, "documents"), "doc_id", "text",
            spanLen = 3, every = 11)
          .orderBy("doc_id", "span_idx"),
      s"""WITH toks AS (SELECT doc_id, len($duckToks) AS n FROM documents),
         |d AS (SELECT doc_id, n, doc_id % 11 AS phase FROM toks WHERE n > 0),
         |sp AS (SELECT doc_id, n, phase,
         |  greatest(0, (n - phase + 10) // 11) AS ns FROM d),
         |e AS (SELECT doc_id, n, phase, unnest(range(0, ns)) AS span_idx
         |  FROM sp WHERE ns > 0)
         |SELECT doc_id, span_idx, phase + span_idx*11 AS start_tok,
         |  CAST(least(3, n - (phase + span_idx*11)) AS INTEGER)
         |    AS span_tokens,
         |  CAST(span_idx AS INTEGER) AS sentinel_id
         |FROM e WHERE least(3, n - (phase + span_idx*11)) > 0
         |ORDER BY doc_id, span_idx""".stripMargin
    ),

    // ---- badword/blocklist content gate (Aho–Corasick) -----------------
    // The C4 banned-word filter as ONE automaton pass per document
    // instead of one regex per pattern. The pattern list pins all the
    // contract edges: "slow"/"dup" (present words), "table hash" (a
    // multi-word phrase), "art" (a SUBSTRING of the corpus word "part" —
    // counts 0 unless word boundaries are enforced), "badword" (absent).
    // The oracle runs five independent \b-regexes; the automaton must
    // agree with their sum on every document.
    "tx_badword_filter" -> QuerySpec(
      (s, dir) => {
        val pats = Seq("slow", "dup", "table hash", "art", "badword")
        t(s, dir, "documents")
          .select(col("doc_id"),
            Fns.multiPatternCount(col("text"), pats).as("n_blocked"))
          .select(col("doc_id"), col("n_blocked"),
            (col("n_blocked") > 0).as("blocked"))
          .orderBy("doc_id")
      },
      """WITH c AS (
        |  SELECT doc_id,
        |    length(regexp_extract_all(text, '\bslow\b'))
        |    + length(regexp_extract_all(text, '\bdup\b'))
        |    + length(regexp_extract_all(text, '\btable hash\b'))
        |    + length(regexp_extract_all(text, '\bart\b'))
        |    + length(regexp_extract_all(text, '\bbadword\b')) AS nb
        |  FROM documents)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_blocked, nb > 0 AS blocked
        |FROM c ORDER BY doc_id""".stripMargin
    ),

    // ---- host-graph PageRank ------------------------------------------
    // The Common-Crawl-style host quality signal: a 37-host link graph
    // synthesized from doc_id arithmetic (two outlink families per doc,
    // deduped), ranked by 5 rounds of integer fixed-point power
    // iteration (scale 1e12, damping 85/100, floor division, dangling
    // mass dropped). Every operation is an exact commutative integer
    // op, so the oracle unrolls all 5 rounds as CTEs and must agree on
    // every rank to the last unit — any drift in the damping split, the
    // div order, or a lost edge breaks the hash.
    "web_pagerank" -> QuerySpec(
      (s, dir) => {
        val d = col("doc_id")
        val docs = t(s, dir, "documents")
        val edges = docs.select((d % 37).as("src"), ((d * 3 + 1) % 37).as("dst"))
          .unionByName(
            docs.select((d % 37).as("src"), ((d * 7 + 5) % 37).as("dst")))
        LinkGraph.pageRank(edges, "src", "dst", iters = 5)
          .select(col("node").as("host"), col("rank"))
          .orderBy("host")
      },
      {
        val iterCte = (i: Int) => {
          val prev = s"r${i - 1}"
          s"""s$i AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS mass
             |  FROM e0 e JOIN $prev r ON e.src = r.node
             |  JOIN od o ON e.src = o.src GROUP BY 1),
             |r$i AS (SELECT n.node,
             |    ((1000000000000 // nn.n) * 15) // 100
             |      + (85 * COALESCE(s.mass, 0)) // 100 AS rank
             |  FROM nodes n LEFT JOIN s$i s ON n.node = s.node, nn)""".stripMargin
        }
        s"""WITH e0 AS (
           |  SELECT DISTINCT doc_id % 37 AS src, (doc_id * 3 + 1) % 37 AS dst
           |  FROM documents
           |  UNION
           |  SELECT doc_id % 37, (doc_id * 7 + 5) % 37 FROM documents),
           |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY 1),
           |r0 AS (SELECT node, 1000000000000 // nn.n AS rank FROM nodes, nn),
           |${(1 to 5).map(iterCte).mkString(",\n")}
           |SELECT node AS host, CAST(rank AS BIGINT) AS rank FROM r5
           |ORDER BY host""".stripMargin
      }
    ),

    // ---- TextRank keywords: PageRank over word co-occurrence -----------
    // Mihalcea & Tarau 2004 composed from owned parts: adjacent-token
    // co-occurrence edges (both directions — TextRank's undirected
    // random walk as a symmetric directed graph) over rolling-hash word
    // ids, ranked by the SAME integer fixed-point PageRank web_pagerank
    // uses (identical damping/base arithmetic, 5 unrolled oracle
    // iterations), joined back to words for the bounded top-20.
    "tx_textrank" -> QuerySpec(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(graft.functions.Fns.tokens(col("text"))).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
        val bg = toks.withColumn("w2",
            lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
          .filter(col("w2").isNotNull && col("w") =!= col("w2"))
        val h1 = graft.functions.Fns.rollingHash(col("w"))
        val h2 = graft.functions.Fns.rollingHash(col("w2"))
        val edges = bg.select(h1.as("src"), h2.as("dst"))
          .unionByName(bg.select(h2.as("src"), h1.as("dst")))
        val words = toks
          .select(graft.functions.Fns.rollingHash(col("w")).as("node"),
            col("w").as("word"))
          .distinct()
        LinkGraph.pageRank(edges, "src", "dst", iters = 5)
          .join(words, "node")
          .select(col("word"), col("rank"))
          .orderBy(col("rank").desc, col("word"))
          .limit(20)
      },
      {
        val iterCte = (i: Int) => {
          val prev = s"r${i - 1}"
          s"""s$i AS (SELECT e.dst AS node, sum(r.rank // o.outdeg) AS mass
             |  FROM e0 e JOIN $prev r ON e.src = r.node
             |  JOIN od o ON e.src = o.src GROUP BY 1),
             |r$i AS (SELECT n.node,
             |    ((1000000000000 // nn.n) * 15) // 100
             |      + (85 * COALESCE(s.mass, 0)) // 100 AS rank
             |  FROM nodes n LEFT JOIN s$i s ON n.node = s.node, nn)""".stripMargin
        }
        s"""WITH lst AS (SELECT doc_id,
           |    string_split_regex(trim(lower(text)), '\\s+') AS l FROM documents),
           |toks AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS pos, unnest(l) AS w FROM lst),
           |tk AS (SELECT * FROM toks WHERE w <> ''),
           |bg AS (SELECT doc_id, w AS w1,
           |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tk),
           |pairs AS (SELECT w1, w2 FROM bg WHERE w2 IS NOT NULL AND w1 <> w2),
           |e0 AS (SELECT DISTINCT src, dst FROM (
           |  SELECT ${duckHash("w1")} AS src, ${duckHash("w2")} AS dst FROM pairs
           |  UNION ALL
           |  SELECT ${duckHash("w2")}, ${duckHash("w1")} FROM pairs)),
           |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY 1),
           |r0 AS (SELECT node, 1000000000000 // nn.n AS rank FROM nodes, nn),
           |${(1 to 5).map(iterCte).mkString(",\n")},
           |words AS (SELECT DISTINCT ${duckHash("w")} AS node, w AS word FROM tk)
           |SELECT w.word, CAST(r.rank AS BIGINT) AS rank
           |FROM r5 r JOIN words w ON r.node = w.node
           |ORDER BY rank DESC, word LIMIT 20""".stripMargin
      }
    ),

    // ---- DSIR hashed n-gram importance weights ------------------------
    // Target = src0 docs; every doc scored by its hashed unigram+bigram
    // buckets' target-vs-source frequency ratios (fixed-point integer —
    // see TextAnalysis.dsirWeights for the log-free exactness rationale).
    // ---- trained quality classifier (pocket batch perceptron) ----------
    // DISTRIBUTED TRAINING, oracle-gated: 4 epochs of integer batch-
    // perceptron updates over 32 hashed bag-of-words buckets + a bias
    // feature, label y = (len >= 300); the returned weights are the
    // POCKET pick — the candidate with the exact minimum training-error
    // count (plain final-epoch weights oscillate to one class on this
    // non-separable data). The oracle unrolls every epoch AND the
    // pocket argmin as CTEs, so drift in any epoch's gradient or in the
    // error accounting breaks the hash.
    "tx_perceptron_train" -> QuerySpec(
      (s, dir) => TextAnalysis.perceptronTrain(t(s, dir, "documents"),
          "doc_id", "text",
          when(length(col("text")) >= 300, 1L).otherwise(-1L),
          dim = 32, epochs = 4)
        .orderBy("bucket"),
      s"""WITH ${duckPerceptronCtes(32, 4)}
         |SELECT j AS bucket, CAST(w AS BIGINT) AS weight
         |FROM wbest ORDER BY bucket""".stripMargin
    ),

    // ---- classifier scoring: confusion matrix --------------------------
    // Scores every doc with the pocket weights; pred = sign(score) with
    // 0 → -1 (the training rule's margin convention). The confusion
    // matrix pins every doc's score sign in ≤4 output rows.
    "tx_perceptron_confusion" -> QuerySpec(
      (s, dir) => TextAnalysis.perceptronScore(t(s, dir, "documents"),
          "doc_id", "text",
          when(length(col("text")) >= 300, 1L).otherwise(-1L),
          dim = 32, epochs = 4)
        .groupBy("y", "pred").agg(count(lit(1)).as("n"))
        .orderBy("y", "pred"),
      s"""WITH ${duckPerceptronCtes(32, 4)},
         |sf2 AS (SELECT f.doc_id, f.y, sum(w.w * f.x) AS score
         |  FROM feat f JOIN wbest w ON w.j = f.j GROUP BY 1, 2)
         |SELECT y,
         |  CAST(CASE WHEN score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  count(*) AS n
         |FROM sf2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),

    "tx_dsir_weights" -> QuerySpec(
      (s, dir) =>
        TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          col("source") === "src0", buckets = 512)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, source = 'src0' AS tgt, $duckToks AS ts
         |  FROM documents),
         |uni AS (SELECT doc_id, tgt, unnest(ts) AS g FROM toks),
         |bi AS (SELECT doc_id, tgt, unnest(
         |  [array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]) AS g
         |  FROM toks),
         |g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         |hb AS (SELECT doc_id, tgt, ${duckHash("g")} % 512 AS b FROM g),
         |c AS (SELECT b,
         |    count(*) FILTER (WHERE tgt) AS cnt_t,
         |    count(*) FILTER (WHERE NOT tgt) AS cnt_s
         |  FROM hb GROUP BY b),
         |sc AS (SELECT b, (cnt_t + 1) * 1000000 // (cnt_s + 1) AS score FROM c)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(score) AS BIGINT) AS weight
         |FROM hb JOIN sc USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ),

    // ---- MinHash + LSH near-dup pairs ---------------------------------
    "dd_minhash_lsh" -> QuerySpec(
      (s, dir) =>
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
          .orderBy("id_a", "id_b"),
      s"""WITH ${duckMinhashCtes()}
         |SELECT j.id_a, j.id_b, round(j.jaccard, 4) AS jaccard
         |FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |WHERE j.jaccard >= 0.8 ORDER BY j.id_a, j.id_b""".stripMargin
    ),

    // ---- edit-distance verification of LSH candidates ------------------
    // The exact-similarity confirmation tier character-level dedup wants
    // when shingle Jaccard is too coarse (near-identical docs with small
    // in-place edits): LSH candidates at a LOW threshold (0.5), then true
    // Levenshtein on the pair — keep pairs with edit similarity
    // (max_len − lev)/max_len ≥ 0.8. Levenshtein is O(len²) per pair, so
    // it ONLY ever runs on the LSH-pruned candidate mass (never all
    // pairs), behind a free length-difference gate (|len_a − len_b| > 20%
    // of max_len already caps similarity below 0.8 — pairs it drops
    // cannot pass the final filter, so the gate is semantics-free).
    "dd_edit_verify" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.5)
        val ta = docs.select(col("doc_id").as("id_a"),
          col("text").as("text_a"), length(col("text")).as("len_a"))
        val tb = docs.select(col("doc_id").as("id_b"),
          col("text").as("text_b"), length(col("text")).as("len_b"))
        pairs.join(ta, "id_a").join(tb, "id_b")
          .filter((greatest(col("len_a"), col("len_b"))
              - least(col("len_a"), col("len_b"))).cast("bigint") * 1000000L
            <= lit(200000L) * greatest(col("len_a"), col("len_b")).cast("bigint"))
          // banded Levenshtein: the sim_ppm ≥ 0.8 gate keeps exactly the
          // rows with lev ≤ max_len div 5, where the band is EXACT (and
          // rejected rows report bound+1, failing the same gate) — the
          // full O(len²) DP was the #1 sf1 cost on this surface (51.7 s;
          // the band is 5× fewer cells plus whole-band early exit)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"),
            Fns.levenshteinWithin(col("text_a"), col("text_b"),
              expr("greatest(len_a, len_b) div 5")).as("lev"),
            greatest(col("len_a"), col("len_b")).cast("long").as("max_len"))
          .withColumn("sim_ppm", expr("((max_len - lev) * 1000000) div max_len"))
          .filter(col("sim_ppm") >= 800000L)
          .orderBy("id_a", "id_b")
      },
      s"""WITH ${duckMinhashCtes()},
         |cp AS (
         |  SELECT j.id_a, j.id_b, j.jaccard
         |  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |  WHERE j.jaccard >= 0.5),
         |x AS (
         |  SELECT cp.id_a, cp.id_b, round(cp.jaccard, 4) AS jaccard,
         |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
         |    CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len
         |  FROM cp
         |  JOIN documents da ON cp.id_a = da.doc_id
         |  JOIN documents db ON cp.id_b = db.doc_id)
         |SELECT id_a, id_b, jaccard, lev, max_len,
         |  ((max_len - lev) * 1000000) // max_len AS sim_ppm
         |FROM x
         |WHERE ((max_len - lev) * 1000000) // max_len >= 800000
         |ORDER BY id_a, id_b""".stripMargin
    ),

    // ---- SimHash signatures -------------------------------------------
    "dd_simhash" -> QuerySpec(
      (s, dir) =>
        Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", 32)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct($duckToks)) AS w FROM documents),
         |h AS (SELECT doc_id, ${duckHash("w")} AS hv FROM toks WHERE w <> ''),
         |votes AS (
         |  SELECT doc_id, r.j AS j,
         |    CASE WHEN ((hv*(2*r.j+1) + (r.j*r.j + r.j + 41)) % 1000000007) % 2 = 0
         |         THEN 1 ELSE -1 END AS v
         |  FROM h, range(32) r(j)),
         |sums AS (SELECT doc_id, j, sum(v) AS sv FROM votes GROUP BY 1, 2)
         |SELECT doc_id,
         |  string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
         |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ),

    // ---- embedding cosine near-dup pairs ------------------------------
    "dd_embed_cosine" -> QuerySpec(
      (s, dir) =>
        Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
          .orderBy("id_a", "id_b"),
      s"""WITH p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, $duckCosine AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cos, 4) AS cos FROM p
         |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
    ),

    // ---- embedding cosine pairs, LSH-blocked (the 100 TB path) --------
    "dd_embed_cosine_blocked" -> QuerySpec(
      (s, dir) =>
        Dedup.embeddingCosinePairsBlocked(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, numPlanes = 4)
          .orderBy("id_a", "id_b"),
      s"""WITH dims AS (
         |  SELECT vec_id AS vid, unnest(range(len(embedding))) AS d,
         |    unnest(embedding::DOUBLE[]) AS x
         |  FROM embeddings),
         |proj AS (
         |  SELECT vid, p.p AS p,
         |    sum(CASE WHEN ((p.p*1315423911 + d*2654435761) % 1000000007) % 2 = 0
         |        THEN x ELSE -x END) AS sv
         |  FROM dims, range(4) p(p) GROUP BY vid, p.p),
         |buck AS (SELECT vid, string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM proj GROUP BY vid),
         |pr AS (
         |  SELECT ba.vid AS id_a, bb.vid AS id_b, $duckCosine AS cos
         |  FROM buck ba JOIN buck bb ON ba.bucket = bb.bucket AND ba.vid < bb.vid
         |  JOIN embeddings a ON a.vec_id = ba.vid
         |  JOIN embeddings b ON b.vec_id = bb.vid)
         |SELECT id_a, id_b, round(cos, 4) AS cos FROM pr
         |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
    ),

    // ---- text metrics: token counts + quality scoring -----------------
    "tx_text_metrics" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"),
          TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality")
        ).orderBy("doc_id"),
      {
        val stop = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        s"""WITH m AS (
           |  SELECT doc_id, $duckToks AS ts,
           |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subwords,
           |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
           |    length(regexp_replace(regexp_replace(text, '\\s', '', 'g'), '[a-zA-Z0-9]', '', 'g')) AS n_punct
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, len(ts) AS n_tokens, n_subwords,
           |    round(len(list_filter(ts, t -> t IN ($stop))) * 1.0 / greatest(len(ts), 1), 4) AS stop_ratio,
           |    round(n_punct * 1.0 / greatest(n_nonspace, 1), 4) AS punct_ratio
           |  FROM m)
           |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           |  CAST(n_subwords AS INTEGER) AS n_subwords, stop_ratio, punct_ratio,
           |  round((least(n_tokens/50.0, 1.0)
           |       + greatest(0.0, 1.0 - punct_ratio*4)
           |       + least(stop_ratio*5, 1.0)) / 3.0, 4) AS quality
           |FROM r ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- language ID (marker-word heuristic) --------------------------
    "tx_lang_id" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"), col("lang").as("labeled_lang"),
          TextAnalysis.langId(col("text")).as("predicted_lang")
        ).orderBy("doc_id"),
      {
        val scoreCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          val in = ms.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(ts, t -> t IN ($in))) AS s_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
        s"""WITH m AS (SELECT doc_id, lang, $duckToks AS ts FROM documents),
           |sc AS (SELECT doc_id, lang, $scoreCols FROM m),
           |b AS (SELECT *, $best AS best FROM sc)
           |SELECT doc_id, lang AS labeled_lang,
           |  CASE $cases ELSE 'und' END AS predicted_lang
           |FROM b ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- document fingerprint (portable rolling hash) -----------------
    "tx_fingerprint" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"), Fns.rollingHash(col("text")).as("fingerprint")
        ).orderBy("doc_id"),
      s"""SELECT doc_id, ${duckHash("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin
    ),

    // ---- multimodal: binary payload + batched decode (stubbed codec) ---
    "mm_decode_meta" -> QuerySpec(
      (s, dir) => {
        val bin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text")
        Multimodal.decodeMeta(s, bin).toDF().orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE ascii(text[1:1]) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
        |  CAST(64 + (ascii(text[1:1]) * 7) % 512 AS INTEGER) AS height,
        |  md5(text) AS content_hash,
        |  'stub' AS status, CAST(NULL AS VARCHAR) AS err
        |FROM documents ORDER BY doc_id""".stripMargin
    ),

    // ---- corrupt-media quarantine accounting ----------------------------
    // Synthesize real images, truncate every 5th payload to its 8-byte
    // magic (reader sniff still claims it; the pixel decode fails), and
    // audit the decode: the batch COMPLETES, corrupt rows land in the
    // 'corrupt' status with their byte mass — one bad image never aborts
    // the job. Encoded 'ok' byte sizes are encoder-version-dependent, so
    // the oracle pins counts + corrupt-only bytes (8·n), never ok bytes.
    "mm_decode_audit" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(1) + col("doc_id") % 16).cast("int").as("w"),
          (lit(1) + (col("doc_id") * 7) % 16).cast("int").as("h"),
          when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("fmt"),
          (col("doc_id") % 256).cast("int").as("shade")
        ).as[Multimodal.ImageSpec]
        val bin = Multimodal.synthesizeImages(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, col("payload").substr(1, 8))
              .otherwise(col("payload")).as("payload"))
        Multimodal.decodeAudit(Multimodal.decodeMeta(s, bin).toDF())
          .orderBy("status", "format")
      },
      """SELECT CASE WHEN doc_id % 5 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 0 END) AS BIGINT) AS q_bytes
        |FROM documents GROUP BY 1, 2 ORDER BY status, format""".stripMargin
    ),

    // ---- REAL codec round-trip: ImageIO encode → decode -----------------
    // Payload geometry is doc_id arithmetic, so the oracle predicts what
    // the REAL decoder must recover from genuine PNG/JPEG containers; the
    // encoded byte stream itself is never oracled (encoder-version-
    // dependent), only the decoded facts.
    "mm_decode_real" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(1) + col("doc_id") % 16).cast("int").as("w"),
          (lit(1) + (col("doc_id") * 7) % 16).cast("int").as("h"),
          when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("fmt"),
          (col("doc_id") % 256).cast("int").as("shade")
        ).as[Multimodal.ImageSpec]
        val bin = Multimodal.synthesizeImages(s, specs)
        Multimodal.decodeMeta(s, bin).toDF()
          .select(col("doc_id"), col("format"), col("width"), col("height"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(1 + doc_id % 16 AS INTEGER) AS width,
        |  CAST(1 + (doc_id * 7) % 16 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin
    ),

    // ---- REAL audio header decode: RIFF/WAVE fmt-chunk arithmetic ------
    // Synthesize genuine WAV containers whose geometry is doc_id
    // arithmetic, truncate every 7th payload mid-fmt-chunk, and decode:
    // duration/rate/channels/bits must be recovered from the real bytes;
    // truncated payloads land in quarantine with the stable 'truncated'
    // reason. The oracle predicts every decoded fact arithmetically
    // (duration_ms = n_samples*1000 // sample_rate — block align cancels).
    "mm_decode_audio" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          when(col("doc_id") % 4 === 0, 8000).when(col("doc_id") % 4 === 1, 16000)
            .when(col("doc_id") % 4 === 2, 22050).otherwise(44100)
            .cast("int").as("sample_rate"),
          (lit(1) + col("doc_id") % 2).cast("int").as("channels"),
          when(col("doc_id") % 3 === 0, 8).otherwise(16).cast("int").as("bits"),
          (lit(100) + col("doc_id") % 400).cast("int").as("n_samples")
        ).as[Multimodal.WavSpec]
        val bin = Multimodal.synthesizeWav(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 3, col("payload").substr(1, 20))
              .otherwise(col("payload")).as("payload"))
        Multimodal.decodeAvMeta(s, bin).toDF()
          .select(col("doc_id"), col("n_bytes"), col("format"),
            col("duration_ms"), col("sample_rate"), col("channels"),
            col("bits_per_sample"), col("status"), col("err"))
          .orderBy("doc_id")
      },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 ELSE 44100 END AS sr,
        |    1 + doc_id % 2 AS ch,
        |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    100 + doc_id % 400 AS ns,
        |    doc_id % 7 = 3 AS trunc
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN trunc THEN 20 ELSE 44 + ns*ch*bits//8 END AS BIGINT) AS n_bytes,
        |  'wav' AS format,
        |  CAST(CASE WHEN trunc THEN 0 ELSE ns*1000//sr END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN trunc THEN 0 ELSE sr END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN trunc THEN 0 ELSE ch END AS INTEGER) AS channels,
        |  CAST(CASE WHEN trunc THEN 0 ELSE bits END AS INTEGER) AS bits_per_sample,
        |  CASE WHEN trunc THEN 'corrupt' ELSE 'ok' END AS status,
        |  CASE WHEN trunc THEN 'truncated' ELSE NULL END AS err
        |FROM p ORDER BY doc_id""".stripMargin
    ),

    // ---- EXECUTED audio: real PCM frame decode -> window statistics ----
    // The audio sibling of mm_resize_exec: synthesize genuine RIFF/WAVE
    // containers whose interleaved 16-bit PCM payload is doc_id
    // arithmetic, then DECODE THE SAMPLES (not just the header) into
    // per-window integer-exact energy / peak / zero-crossing rows. Class
    // 5 writes a valid 8-bit container the 16-bit tier must refuse as
    // 'unsupported'; class 6 truncates mid-fmt-chunk -> 'corrupt'. The
    // oracle replays the waveform with unnest(range(...)).
    "mm_audio_energy" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val cls = col("doc_id") % 7
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(8000).as("sample_rate"),
          (lit(1) + col("doc_id") % 2).cast("int").as("channels"),
          when(cls === 5, 8).otherwise(16).cast("int").as("bits"),
          (lit(50) + (col("doc_id") * 11) % 150).cast("int").as("n_frames"),
          ((col("doc_id") * 29) % 4096).cast("int").as("seed")
        ).as[Multimodal.WavPcmSpec]
        val bin = Multimodal.synthesizeWavPcm(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 6, col("payload").substr(1, 30))
              .otherwise(col("payload")).as("payload"))
        Multimodal.audioEnergy(s, bin, windowFrames = 64).toDF()
          .orderBy("doc_id", "window_idx")
      },
      """WITH p AS (
        |  SELECT doc_id,
        |    1 + doc_id % 2 AS ch,
        |    50 + (doc_id * 11) % 150 AS nf,
        |    (doc_id * 29) % 4096 AS seed,
        |    doc_id % 7 AS cls
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, ch, seed, unnest(range(0, nf)) AS k
        |  FROM p WHERE cls NOT IN (5, 6)),
        |fc AS (
        |  SELECT doc_id, seed, k, k // 64 AS wi, unnest(range(0, ch)) AS c
        |  FROM f),
        |v AS (
        |  SELECT doc_id, wi, k, c,
        |    (seed + 31*k + 17*c) % 4096 - 2048 AS s
        |  FROM fc),
        |agg AS (
        |  SELECT doc_id, wi,
        |    count(*) FILTER (WHERE c = 0) AS n_frames,
        |    sum(s*s) AS sum_sq,
        |    max(abs(s)) AS peak
        |  FROM v GROUP BY doc_id, wi),
        |z0 AS (
        |  SELECT doc_id, wi, s,
        |    lag(s) OVER (PARTITION BY doc_id, wi ORDER BY k) AS ps
        |  FROM v WHERE c = 0),
        |z AS (
        |  SELECT doc_id, wi,
        |    count(*) FILTER (WHERE ps IS NOT NULL AND (s >= 0) <> (ps >= 0))
        |      AS zcross
        |  FROM z0 GROUP BY doc_id, wi),
        |ok AS (
        |  SELECT a.doc_id, CAST(a.wi AS BIGINT) AS window_idx,
        |    CAST(a.n_frames AS INTEGER) AS n_frames,
        |    CAST(a.sum_sq AS BIGINT) AS sum_sq,
        |    CAST(a.peak AS INTEGER) AS peak,
        |    CAST(z.zcross AS INTEGER) AS zcross,
        |    'ok' AS status, CAST(NULL AS VARCHAR) AS err
        |  FROM agg a JOIN z ON a.doc_id = z.doc_id AND a.wi = z.wi),
        |bd AS (
        |  SELECT doc_id, CAST(-1 AS BIGINT) AS window_idx,
        |    CAST(0 AS INTEGER) AS n_frames, CAST(0 AS BIGINT) AS sum_sq,
        |    CAST(0 AS INTEGER) AS peak, CAST(0 AS INTEGER) AS zcross,
        |    CASE WHEN cls = 5 THEN 'unsupported' ELSE 'corrupt' END AS status,
        |    CASE WHEN cls = 5 THEN 'bits_8' ELSE 'truncated' END AS err
        |  FROM p WHERE cls IN (5, 6))
        |SELECT * FROM ok UNION ALL SELECT * FROM bd
        |ORDER BY doc_id, window_idx""".stripMargin
    ),

    // ---- EXECUTED audio resample: integer boxcar decimation ------------
    // Same WAV fixture classes as mm_audio_energy (8-bit -> unsupported,
    // truncated -> corrupt), factor-4 decimation: out[t][c] = sum of 4
    // consecutive decoded samples (undivided boxcar — exact in both
    // engines), trailing partial block dropped. The digest pins shape
    // (in/out frame counts), content (position-weighted checksum over
    // every (t, c)), and dynamics (max |out|) in one row per doc.
    "mm_audio_resample" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val cls = col("doc_id") % 7
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(8000).as("sample_rate"),
          (lit(1) + col("doc_id") % 2).cast("int").as("channels"),
          when(cls === 5, 8).otherwise(16).cast("int").as("bits"),
          (lit(50) + (col("doc_id") * 11) % 150).cast("int").as("n_frames"),
          ((col("doc_id") * 29) % 4096).cast("int").as("seed")
        ).as[Multimodal.WavPcmSpec]
        val bin = Multimodal.synthesizeWavPcm(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 6, col("payload").substr(1, 30))
              .otherwise(col("payload")).as("payload"))
        Multimodal.audioResample(s, bin, factor = 4).toDF()
          .orderBy("doc_id")
      },
      """WITH p AS (
        |  SELECT doc_id,
        |    1 + doc_id % 2 AS ch,
        |    50 + (doc_id * 11) % 150 AS nf,
        |    (doc_id * 29) % 4096 AS seed,
        |    doc_id % 7 AS cls
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, ch, nf, seed, unnest(range(0, (nf // 4) * 4)) AS k
        |  FROM p WHERE cls NOT IN (5, 6)),
        |fc AS (
        |  SELECT doc_id, ch, nf, seed, k, k // 4 AS t,
        |    unnest(range(0, ch)) AS c
        |  FROM f),
        |v AS (
        |  SELECT doc_id, ch, nf, t, c,
        |    (seed + 31*k + 17*c) % 4096 - 2048 AS s
        |  FROM fc),
        |o AS (
        |  SELECT doc_id, ch, nf, t, c, sum(s) AS o
        |  FROM v GROUP BY 1, 2, 3, 4, 5),
        |ok AS (
        |  SELECT doc_id,
        |    CAST(any_value(nf) AS INTEGER) AS n_in_frames,
        |    CAST(any_value(nf) // 4 AS INTEGER) AS n_out_frames,
        |    CAST(max(abs(o)) AS INTEGER) AS out_peak,
        |    CAST(sum(o * (t * ch + c + 1)) AS BIGINT) AS checksum,
        |    'ok' AS status, CAST(NULL AS VARCHAR) AS err
        |  FROM o GROUP BY doc_id),
        |bd AS (
        |  SELECT doc_id, CAST(0 AS INTEGER) AS n_in_frames,
        |    CAST(0 AS INTEGER) AS n_out_frames, CAST(0 AS INTEGER) AS out_peak,
        |    CAST(0 AS BIGINT) AS checksum,
        |    CASE WHEN cls = 5 THEN 'unsupported' ELSE 'corrupt' END AS status,
        |    CASE WHEN cls = 5 THEN 'bits_8' ELSE 'truncated' END AS err
        |  FROM p WHERE cls IN (5, 6))
        |SELECT * FROM ok UNION ALL SELECT * FROM bd
        |ORDER BY doc_id""".stripMargin
    ),

    // ---- REAL video header decode: ISO-BMFF moov/mvhd/tkhd boxes -------
    // Same pattern for mp4: genuine minimal containers (ftyp+moov), track
    // geometry as 16.16 fixed point, movie duration in mvhd timescale
    // units; every 11th payload cut mid-moov -> quarantine 'truncated'.
    "mm_decode_video" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          when(col("doc_id") % 3 === 0, 600).when(col("doc_id") % 3 === 1, 1000)
            .otherwise(90000).cast("int").as("timescale"),
          (lit(1000) + (col("doc_id") * 37) % 50000).cast("long").as("duration_units"),
          (lit(16) * (lit(1) + col("doc_id") % 40)).cast("int").as("w"),
          (lit(16) * (lit(1) + col("doc_id") % 30)).cast("int").as("h")
        ).as[Multimodal.Mp4Spec]
        val bin = Multimodal.synthesizeMp4(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 5, col("payload").substr(1, 40))
              .otherwise(col("payload")).as("payload"))
        Multimodal.decodeAvMeta(s, bin).toDF()
          .select(col("doc_id"), col("n_bytes"), col("format"),
            col("duration_ms"), col("width"), col("height"),
            col("status"), col("err"))
          .orderBy("doc_id")
      },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts,
        |    1000 + (doc_id * 37) % 50000 AS du,
        |    16 * (1 + doc_id % 40) AS w,
        |    16 * (1 + doc_id % 30) AS h,
        |    doc_id % 11 = 5 AS trunc
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN trunc THEN 40 ELSE 232 END AS BIGINT) AS n_bytes,
        |  'mp4' AS format,
        |  CAST(CASE WHEN trunc THEN 0 ELSE du*1000//ts END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN trunc THEN 0 ELSE w END AS INTEGER) AS width,
        |  CAST(CASE WHEN trunc THEN 0 ELSE h END AS INTEGER) AS height,
        |  CASE WHEN trunc THEN 'corrupt' ELSE 'ok' END AS status,
        |  CASE WHEN trunc THEN 'truncated' ELSE NULL END AS err
        |FROM p ORDER BY doc_id""".stripMargin
    ),

    // ---- REAL media feature extraction: byte histogram (no codec) ------
    // ---- per-payload byte entropy ---------------------------------------
    // The low-entropy gate (solid-color frames, zero-padded payloads,
    // padding-attack blobs score near 0; compressed/encrypted media near
    // 4 bits over 16 bins). Terms follow the bigram-LM determinism
    // contract: each −p·log₂p rounded to 6 decimals, summed in
    // DECIMAL(28,6) — order-independent, engine-exact.
    "mm_byte_entropy" -> QuerySpec(
      (s, dir) => {
        val bin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text")
        val h = Multimodal.byteHistogram(bin, bins = 16)
        val tot = h.groupBy("doc_id").agg(sum("n").as("total"))
        h.join(tot, "doc_id")
          .withColumn("term",
            round(-(col("n") / col("total")) * log2(col("n") / col("total")), 6)
              .cast("decimal(28,6)"))
          .groupBy("doc_id")
          .agg(max("total").as("n_bytes"),
            sum("term").cast("double").as("entropy_bits"))
          .orderBy("doc_id")
      },
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split(text, ''), x -> ascii(x)//16)) AS bin
        |  FROM documents),
        |h AS (SELECT doc_id, bin, count(*) AS n FROM b GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS total FROM h GROUP BY 1),
        |terms AS (SELECT h.doc_id,
        |    CAST(round(-(h.n/tot.total) * log2(h.n/tot.total), 6)
        |      AS DECIMAL(28,6)) AS term, tot.total
        |  FROM h JOIN tot ON h.doc_id = tot.doc_id)
        |SELECT doc_id, CAST(max(total) AS BIGINT) AS n_bytes,
        |  CAST(sum(term) AS DOUBLE) AS entropy_bits
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
    ),

    "mm_byte_histogram" -> QuerySpec(
      (s, dir) => {
        val bin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text")
        Multimodal.byteHistogram(bin, bins = 16)
          .orderBy("doc_id", "bin")
      },
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split(text, ''), x -> ascii(x)//16)) AS bin
        |  FROM documents)
        |SELECT doc_id, CAST(bin AS INTEGER) AS bin, count(*) AS n
        |FROM b GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin
    ),

    // ---- resize planning: aspect-preserving fit into 224×224 -----------
    "mm_resize_plan" -> QuerySpec(
      (s, dir) => {
        val bin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text")
        Multimodal.resizePlan(Multimodal.decodeMeta(s, bin).toDF(), 224, 224)
          .orderBy("doc_id")
      },
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
        |    CAST(64 + (ascii(text[1:1]) * 7) % 512 AS INTEGER) AS height
        |  FROM documents),
        |s AS (
        |  SELECT *, least(224.0/width, 224.0/height, 1.0) AS sc FROM m)
        |SELECT doc_id, width, height,
        |  CAST(greatest(floor(width*sc), 1) AS INTEGER) AS out_w,
        |  CAST(greatest(floor(height*sc), 1) AS INTEGER) AS out_h
        |FROM s ORDER BY doc_id""".stripMargin
    ),

    // ---- EXECUTED resize: real PNG decode + nearest-neighbor resample --
    // Patterned fixtures (pixel (x,y) = (7x+13y+shade) mod 256, lossless
    // PNG) make every OUTPUT pixel oracle-predictable: nearest-neighbor
    // with integer source addressing reads source pixel
    // (ox·w div out_w, oy·h div out_h), so DuckDB recomputes the full
    // raster from arithmetic — geometry, gray stats AND a position-
    // weighted checksum must all match the ImageIO-decoded truth. Every
    // 13th payload is cut after the IHDR chunk (33 bytes): the PNG reader
    // claims it, pixel decode fails -> quarantine with a stable reason.
    "mm_resize_exec" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(20) + col("doc_id") % 40).cast("int").as("w"),
          (lit(16) + col("doc_id") % 24).cast("int").as("h"),
          ((col("doc_id") * 31) % 256).cast("int").as("shade")
        ).as[Multimodal.PatternImageSpec]
        val bin = Multimodal.synthesizePatternImages(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 7, col("payload").substr(1, 33))
              .otherwise(col("payload")).as("payload"))
        Multimodal.resizeExec(s, bin, 32, 24).toDF()
          .select(col("doc_id"), col("status"), col("in_w"), col("in_h"),
            col("out_w"), col("out_h"), col("n_px"), col("sum_gray"),
            col("min_gray"), col("max_gray"), col("checksum"))
          .orderBy("doc_id")
      },
      """WITH s AS (
        |  SELECT doc_id, 20 + doc_id % 40 AS w, 16 + doc_id % 24 AS h,
        |    (doc_id * 31) % 256 AS shade, doc_id % 13 = 7 AS bad
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, w, h, shade, bad,
        |    CAST(greatest(floor(w * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS out_w,
        |    CAST(greatest(floor(h * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS out_h
        |  FROM s),
        |py AS (SELECT *, unnest(range(0, out_h)) AS oy FROM d WHERE NOT bad),
        |px AS (SELECT *, unnest(range(0, out_w)) AS ox FROM py),
        |v AS (
        |  SELECT doc_id, w, h, out_w, out_h, oy, ox,
        |    ((ox * w // out_w) * 7 + (oy * h // out_h) * 13 + shade) % 256 AS gray
        |  FROM px),
        |ok AS (
        |  SELECT doc_id, 'ok' AS status,
        |    CAST(max(w) AS INTEGER) AS in_w, CAST(max(h) AS INTEGER) AS in_h,
        |    max(out_w) AS out_w, max(out_h) AS out_h,
        |    count(*) AS n_px,
        |    CAST(sum(gray) AS BIGINT) AS sum_gray,
        |    CAST(min(gray) AS INTEGER) AS min_gray,
        |    CAST(max(gray) AS INTEGER) AS max_gray,
        |    CAST(sum((gray + 1) * (oy * out_w + ox + 1)) AS BIGINT) AS checksum
        |  FROM v GROUP BY doc_id),
        |bd AS (
        |  SELECT doc_id, 'corrupt' AS status,
        |    CAST(0 AS INTEGER) AS in_w, CAST(0 AS INTEGER) AS in_h,
        |    CAST(0 AS INTEGER) AS out_w, CAST(0 AS INTEGER) AS out_h,
        |    CAST(0 AS BIGINT) AS n_px, CAST(0 AS BIGINT) AS sum_gray,
        |    CAST(0 AS INTEGER) AS min_gray, CAST(0 AS INTEGER) AS max_gray,
        |    CAST(0 AS BIGINT) AS checksum
        |  FROM d WHERE bad)
        |SELECT * FROM ok UNION ALL SELECT * FROM bd ORDER BY doc_id""".stripMargin
    ),

    // ---- perceptual image hash (aHash) over EXECUTED pixels ------------
    // Images come in 40 pattern groups; within a group the three
    // brightness variants (shade +0/+1/+2) are near-identical rasters, so
    // the 8x8 average-hash mostly collides or lands within a few bits —
    // real perceptual-dedup behavior, not a toy. The hash is pure integer
    // arithmetic (cross-multiplied mean compare, no division), so the
    // oracle replays every bit from the pattern formula alone; every
    // 17th payload is truncated mid-IHDR -> quarantined 'corrupt'.
    "mm_phash_dedup" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val g = expr("doc_id div 3")
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(16) + (g % 12) * 2).cast("int").as("w"),
          (lit(16) + (g % 9) * 2).cast("int").as("h"),
          ((g * 19) % 250 + col("doc_id") % 3).cast("int").as("shade")
        ).as[Multimodal.PatternImageSpec]
        val bin = Multimodal.synthesizePatternImages(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 17 === 5, col("payload").substr(1, 20))
              .otherwise(col("payload")).as("payload"))
        Multimodal.perceptualHash(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("in_w"), col("in_h"),
            col("ahash_hi"), col("ahash_lo"))
          .orderBy("doc_id")
      },
      """WITH s AS (
        |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS rep,
        |    doc_id % 17 = 5 AS bad
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, bad,
        |    16 + (g % 12) * 2 AS w, 16 + (g % 9) * 2 AS h,
        |    (g * 19) % 250 + rep AS shade
        |  FROM s),
        |px AS (SELECT doc_id, w, h, shade, unnest(range(0, w)) AS x
        |  FROM d WHERE NOT bad),
        |pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
        |v AS (SELECT doc_id,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS idx,
        |    (x * 7 + y * 13 + shade) % 256 AS gval
        |  FROM pxy),
        |tot AS (SELECT doc_id, sum(gval) AS ts, count(*) AS tn
        |  FROM v GROUP BY 1),
        |cell AS (SELECT doc_id, idx, sum(gval) AS bs, count(*) AS cn
        |  FROM v GROUP BY 1, 2),
        |bits AS (SELECT c.doc_id, c.idx,
        |    CASE WHEN c.bs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS b
        |  FROM cell c JOIN tot t USING (doc_id)),
        |hs AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN b * (CAST(1 AS BIGINT) << (31 - idx)) ELSE 0 END)
        |      AS BIGINT) AS ahash_hi,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN b * (CAST(1 AS BIGINT) << (63 - idx)) ELSE 0 END)
        |      AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1),
        |ok AS (SELECT d.doc_id, 'ok' AS status,
        |    CAST(d.w AS INTEGER) AS in_w, CAST(d.h AS INTEGER) AS in_h,
        |    h.ahash_hi, h.ahash_lo
        |  FROM d JOIN hs h USING (doc_id) WHERE NOT d.bad),
        |bd AS (SELECT doc_id, 'corrupt' AS status,
        |    CAST(0 AS INTEGER) AS in_w, CAST(0 AS INTEGER) AS in_h,
        |    CAST(0 AS BIGINT) AS ahash_hi, CAST(0 AS BIGINT) AS ahash_lo
        |  FROM d WHERE bad)
        |SELECT * FROM ok UNION ALL SELECT * FROM bd
        |ORDER BY doc_id""".stripMargin
    ),

    // ---- perceptual-dup collapse: keep-best per hash bucket ------------
    // Exact-perceptual dedup as ONE min(struct) aggregation over the
    // (hi, lo) hash key (the keep-best contract — no window, no sort):
    // canonical winner = lowest doc_id, group size rides the same agg.
    "mm_phash_keep_best" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val g = expr("doc_id div 3")
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(16) + (g % 12) * 2).cast("int").as("w"),
          (lit(16) + (g % 9) * 2).cast("int").as("h"),
          ((g * 19) % 250 + col("doc_id") % 3).cast("int").as("shade")
        ).as[Multimodal.PatternImageSpec]
        val bin = Multimodal.synthesizePatternImages(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 17 === 5, col("payload").substr(1, 20))
              .otherwise(col("payload")).as("payload"))
        val hashes = Multimodal.perceptualHash(s, bin).toDF()
          .filter(col("status") === "ok")
        Dedup.keepBestPerKey(hashes, Seq("ahash_hi", "ahash_lo"),
            Seq(col("doc_id")), Seq("doc_id"), countAs = Some("n_imgs"))
          .select(col("ahash_hi"), col("ahash_lo"),
            col("doc_id").as("keep_id"), col("n_imgs"))
          .orderBy("ahash_hi", "ahash_lo")
      },
      """WITH s AS (
        |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS rep,
        |    doc_id % 17 = 5 AS bad
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, bad,
        |    16 + (g % 12) * 2 AS w, 16 + (g % 9) * 2 AS h,
        |    (g * 19) % 250 + rep AS shade
        |  FROM s),
        |px AS (SELECT doc_id, w, h, shade, unnest(range(0, w)) AS x
        |  FROM d WHERE NOT bad),
        |pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
        |v AS (SELECT doc_id,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS idx,
        |    (x * 7 + y * 13 + shade) % 256 AS gval
        |  FROM pxy),
        |tot AS (SELECT doc_id, sum(gval) AS ts, count(*) AS tn
        |  FROM v GROUP BY 1),
        |cell AS (SELECT doc_id, idx, sum(gval) AS bs, count(*) AS cn
        |  FROM v GROUP BY 1, 2),
        |bits AS (SELECT c.doc_id, c.idx,
        |    CASE WHEN c.bs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS b
        |  FROM cell c JOIN tot t USING (doc_id)),
        |hs AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN b * (CAST(1 AS BIGINT) << (31 - idx)) ELSE 0 END)
        |      AS BIGINT) AS ahash_hi,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN b * (CAST(1 AS BIGINT) << (63 - idx)) ELSE 0 END)
        |      AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1)
        |SELECT ahash_hi, ahash_lo, min(doc_id) AS keep_id,
        |  count(*) AS n_imgs
        |FROM hs GROUP BY 1, 2 ORDER BY ahash_hi, ahash_lo""".stripMargin
    ),

    // ---- Hamming-banded near-duplicate image pairs ---------------------
    // The SimHash pigeonhole construction over the aHash: four 16-bit
    // bands generate candidates on ONE keyed exchange, two popcounts
    // verify. Contract pinned in both engines: pairs that share >= 1
    // band AND sit within Hamming distance 6. The oracle self-joins
    // exhaustively (its candidate step must replicate the band
    // semantics, or banding bugs would hide behind matching outputs).
    "mm_phash_near_pairs" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val g = expr("doc_id div 3")
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(16) + (g % 12) * 2).cast("int").as("w"),
          (lit(16) + (g % 9) * 2).cast("int").as("h"),
          ((g * 19) % 250 + col("doc_id") % 3).cast("int").as("shade")
        ).as[Multimodal.PatternImageSpec]
        val bin = Multimodal.synthesizePatternImages(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 17 === 5, col("payload").substr(1, 20))
              .otherwise(col("payload")).as("payload"))
        val hashes = Multimodal.perceptualHash(s, bin).toDF()
        Multimodal.perceptualNearPairs(hashes, maxHamming = 6)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
          .orderBy("id_a", "id_b")
      },
      """WITH s AS (
        |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS rep,
        |    doc_id % 17 = 5 AS bad
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, bad,
        |    16 + (g % 12) * 2 AS w, 16 + (g % 9) * 2 AS h,
        |    (g * 19) % 250 + rep AS shade
        |  FROM s),
        |px AS (SELECT doc_id, w, h, shade, unnest(range(0, w)) AS x
        |  FROM d WHERE NOT bad),
        |pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
        |v AS (SELECT doc_id,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS idx,
        |    (x * 7 + y * 13 + shade) % 256 AS gval
        |  FROM pxy),
        |tot AS (SELECT doc_id, sum(gval) AS ts, count(*) AS tn
        |  FROM v GROUP BY 1),
        |cell AS (SELECT doc_id, idx, sum(gval) AS bs, count(*) AS cn
        |  FROM v GROUP BY 1, 2),
        |bits AS (SELECT c.doc_id, c.idx,
        |    CASE WHEN c.bs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS b
        |  FROM cell c JOIN tot t USING (doc_id)),
        |hs AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN b * (CAST(1 AS BIGINT) << (31 - idx)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN b * (CAST(1 AS BIGINT) << (63 - idx)) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
        |    AS BIGINT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE ((a.hi >> 16) = (b.hi >> 16)
        |    OR (a.hi & 65535) = (b.hi & 65535)
        |    OR (a.lo >> 16) = (b.lo >> 16)
        |    OR (a.lo & 65535) = (b.lo & 65535))
        |  AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
        |ORDER BY id_a, id_b""".stripMargin
    ),

    // ---- frame-sampling plumbing (every 3rd 64-byte "frame"). The Spark
    // side slices BINARY at byte offsets (the real media semantics); the
    // oracle slices VARCHAR, which is byte-exact because the synthetic
    // corpus is pure ASCII (verified) — DuckDB has no BLOB substring. ----
    "mm_frame_sample" -> QuerySpec(
      (s, dir) => {
        val bin = Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id", "text")
        Multimodal.sampleFrames(bin, frameBytes = 64, stride = 3)
          .select(col("doc_id"), col("frame_idx"), col("byte_offset"),
            md5(col("frame")).as("frame_hash"))
          .orderBy("doc_id", "frame_idx")
      },
      """WITH f AS (
        |  SELECT doc_id, text,
        |    octet_length(encode(text))//64 AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, text, unnest(range(0, nf, 3)) AS fi FROM f WHERE nf > 0)
        |SELECT doc_id, fi AS frame_idx, fi*64 AS byte_offset,
        |  md5(substring(text, CAST(fi*64 + 1 AS INTEGER), 64)) AS frame_hash
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin
    ),

    // ---- TRUE MP4 frame demux: stbl/stsz/stsc/stco sample tables -------
    // Fixtures carry REAL sample tables with non-uniform per-sample sizes
    // (stsz entries), 3-samples-per-chunk packing (stsc), and chunk
    // offsets (stco) that are NOT contiguity-inferable (a 4-byte pad
    // precedes every chunk inside mdat). The demuxer must expand the
    // tables into absolute (offset, size) per frame and READ the bytes —
    // frame_sum is the unsigned byte sum of the actual slice, which only
    // matches the oracle's fill arithmetic if every offset is exact.
    // Layout arithmetic (fixed v0 boxes incl. mdhd/stts/stss): data
    // region starts at 408 + 4·(ns + nc + nk); sample i sits
    // 4·(i div 3 + 1) pad bytes plus the cumulative size of all prior
    // samples past that. pts comes from expanding stts's TWO runs (first
    // ceil(ns/2) samples at 40 media units, rest at 80; mdhd timescale
    // 1000 -> units are ms); sync flags from stss (every 4th sample).
    // Every 9th doc cut mid-moov and every (9k+7)th cut mid-mdat ->
    // quarantine 'truncated' (the second class proves index-vs-payload
    // bounds are enforced, not just box-walk bounds).
    "mm_frame_index" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val ns = (lit(4) + col("doc_id") % 9).cast("int")
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(600).as("timescale"),
          lit(1000L).as("duration_units"),
          lit(64).as("w"), lit(48).as("h"),
          transform(sequence(lit(0), ns - 1),
            i => (lit(8) + (col("doc_id") * 5 + i * 3) % 9).cast("int"))
            .as("sample_sizes"),
          lit(3).as("samples_per_chunk"),
          (col("doc_id") * 13 % 256).cast("int").as("fill_seed"),
          lit(1000).as("media_timescale"),
          lit(40).as("delta_a"), lit(80).as("delta_b")
        ).as[Multimodal.Mp4SampleSpec]
        // class 7: ns=11, nc=4, nk=3 -> mdat data starts at 480; cut at
        // 484 = exactly the first sample's offset, so the index parses
        // but its first promised frame overruns the payload
        val bin = Multimodal.synthesizeMp4Samples(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 9 === 4, col("payload").substr(1, 60))
              .when(col("doc_id") % 9 === 7, col("payload").substr(1, 484))
              .otherwise(col("payload")).as("payload"))
        Multimodal.frameIndex(s, bin, stride = 2).toDF()
          .orderBy("doc_id", "frame_idx")
      },
      """WITH p AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS ns,
        |    (4 + doc_id % 9 + 2) // 3 AS nc,
        |    (4 + doc_id % 9 + 3) // 4 AS nk,
        |    (4 + doc_id % 9 + 1) // 2 AS h,
        |    doc_id % 9 IN (4, 7) AS bad
        |  FROM documents),
        |sam AS (
        |  SELECT doc_id, ns, nc, nk, h, unnest(range(0, ns)) AS i
        |  FROM p WHERE NOT bad),
        |sz AS (
        |  SELECT doc_id, ns, nc, nk, h, i,
        |    8 + (doc_id*5 + i*3) % 9 AS s,
        |    sum(8 + (doc_id*5 + i*3) % 9) OVER
        |      (PARTITION BY doc_id ORDER BY i
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
        |  FROM sam),
        |ok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |    CAST(408 + 4*(ns + nc + nk) + 4*(i//3 + 1) + coalesce(cum, 0)
        |      AS BIGINT) AS byte_offset,
        |    CAST(s AS INTEGER) AS frame_bytes,
        |    CAST(s * ((doc_id*13 + 7*i) % 256) AS BIGINT) AS frame_sum,
        |    CAST(40*least(i, h) + 80*greatest(i - h, 0) AS BIGINT) AS pts_ms,
        |    i % 4 = 0 AS is_sync,
        |    'ok' AS status, CAST(NULL AS VARCHAR) AS err
        |  FROM sz WHERE i % 2 = 0),
        |bd AS (
        |  SELECT doc_id, CAST(-1 AS BIGINT) AS frame_idx,
        |    CAST(0 AS BIGINT) AS byte_offset, CAST(0 AS INTEGER) AS frame_bytes,
        |    CAST(0 AS BIGINT) AS frame_sum, CAST(-1 AS BIGINT) AS pts_ms,
        |    FALSE AS is_sync, 'corrupt' AS status, 'truncated' AS err
        |  FROM p WHERE bad)
        |SELECT * FROM ok UNION ALL SELECT * FROM bd
        |ORDER BY doc_id, frame_idx""".stripMargin
    ),

    // ---- keyframe-aligned clip extraction (GOP segmentation) -----------
    // Same real-sample-table fixtures as mm_frame_index, full stride: the
    // stss box marks every 4th sample sync, so clips are exactly the
    // i//4 groups and every clip aggregate (frame count, first-sample
    // byte offset, total bytes, payload byte-sum, pts span) is closed-form
    // from the same layout arithmetic. Truncation classes quarantine as
    // one clip_idx=-1 row each (skip-and-account preserved through the
    // clip layer).
    "mm_keyframe_clips" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val ns = (lit(4) + col("doc_id") % 9).cast("int")
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(600).as("timescale"),
          lit(1000L).as("duration_units"),
          lit(64).as("w"), lit(48).as("h"),
          transform(sequence(lit(0), ns - 1),
            i => (lit(8) + (col("doc_id") * 5 + i * 3) % 9).cast("int"))
            .as("sample_sizes"),
          lit(3).as("samples_per_chunk"),
          (col("doc_id") * 13 % 256).cast("int").as("fill_seed"),
          lit(1000).as("media_timescale"),
          lit(40).as("delta_a"), lit(80).as("delta_b")
        ).as[Multimodal.Mp4SampleSpec]
        val bin = Multimodal.synthesizeMp4Samples(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 9 === 4, col("payload").substr(1, 60))
              .when(col("doc_id") % 9 === 7, col("payload").substr(1, 484))
              .otherwise(col("payload")).as("payload"))
        Multimodal.keyframeClips(s, bin)
          .orderBy("doc_id", "clip_idx")
      },
      """WITH p AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS ns,
        |    (4 + doc_id % 9 + 2) // 3 AS nc,
        |    (4 + doc_id % 9 + 3) // 4 AS nk,
        |    (4 + doc_id % 9 + 1) // 2 AS h,
        |    doc_id % 9 IN (4, 7) AS bad
        |  FROM documents),
        |sam AS (
        |  SELECT doc_id, ns, nc, nk, h, unnest(range(0, ns)) AS i
        |  FROM p WHERE NOT bad),
        |sz AS (
        |  SELECT doc_id, ns, nc, nk, h, i,
        |    8 + (doc_id*5 + i*3) % 9 AS s,
        |    sum(8 + (doc_id*5 + i*3) % 9) OVER
        |      (PARTITION BY doc_id ORDER BY i
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
        |  FROM sam),
        |f AS (
        |  SELECT doc_id, i, i // 4 AS clip_idx, s,
        |    408 + 4*(ns + nc + nk) + 4*(i//3 + 1) + coalesce(cum, 0) AS off,
        |    s * ((doc_id*13 + 7*i) % 256) AS fsum,
        |    40*least(i, h) + 80*greatest(i - h, 0) AS pts
        |  FROM sz),
        |ok AS (
        |  SELECT doc_id, CAST(clip_idx AS BIGINT) AS clip_idx,
        |    CAST(min(i) AS BIGINT) AS start_frame,
        |    count(*) AS n_frames,
        |    CAST(min(off) AS BIGINT) AS start_offset,
        |    CAST(sum(s) AS BIGINT) AS clip_bytes,
        |    CAST(sum(fsum) AS BIGINT) AS clip_sum,
        |    CAST(min(pts) AS BIGINT) AS start_ms,
        |    CAST(max(pts) - min(pts) AS BIGINT) AS span_ms,
        |    'ok' AS status, CAST(NULL AS VARCHAR) AS err
        |  FROM f GROUP BY doc_id, clip_idx),
        |bd AS (
        |  SELECT doc_id, CAST(-1 AS BIGINT) AS clip_idx,
        |    CAST(0 AS BIGINT) AS start_frame, CAST(0 AS BIGINT) AS n_frames,
        |    CAST(0 AS BIGINT) AS start_offset, CAST(0 AS BIGINT) AS clip_bytes,
        |    CAST(0 AS BIGINT) AS clip_sum, CAST(-1 AS BIGINT) AS start_ms,
        |    CAST(0 AS BIGINT) AS span_ms,
        |    'corrupt' AS status, 'truncated' AS err
        |  FROM p WHERE bad)
        |SELECT * FROM ok UNION ALL SELECT * FROM bd
        |ORDER BY doc_id, clip_idx""".stripMargin
    ),

    // ---- EXECUTED resize, second codec + full status fan-out -----------
    // Same pattern arithmetic as mm_resize_exec, but the container cycles
    // per doc: PNG, BMP (both lossless, both real JDK ImageIO decode
    // paths), a text payload no installed reader claims ('unsupported'),
    // and a BMP cut to 20 bytes (the reader claims the 'BM' magic, pixel
    // decode fails -> 'corrupt'). Pins that the executed-pixels tier is
    // codec-agnostic and that all three non-ok channels stay distinct.
    "mm_resize_codecs" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(20) + col("doc_id") % 40).cast("int").as("w"),
          (lit(16) + col("doc_id") % 24).cast("int").as("h"),
          ((col("doc_id") * 31) % 256).cast("int").as("shade"),
          when(col("doc_id") % 4 === 0, "png").otherwise("bmp").as("fmt")
        ).as[Multimodal.PatternImageFmtSpec]
        val cls = col("doc_id") % 4
        val bin = Multimodal.synthesizePatternImagesFmt(s, specs)
          .select(col("doc_id"),
            when(cls === 2, concat(lit("unsupported payload #"),
              col("doc_id").cast("string")).cast("binary"))
              .when(cls === 3, col("payload").substr(1, 20))
              .otherwise(col("payload")).as("payload"))
        Multimodal.resizeExec(s, bin, 32, 24).toDF()
          .select(col("doc_id"), col("status"), col("err"),
            col("in_w"), col("in_h"), col("out_w"), col("out_h"),
            col("n_px"), col("sum_gray"), col("min_gray"), col("max_gray"),
            col("checksum"))
          .orderBy("doc_id")
      },
      """WITH s AS (
        |  SELECT doc_id, 20 + doc_id % 40 AS w, 16 + doc_id % 24 AS h,
        |    (doc_id * 31) % 256 AS shade, doc_id % 4 AS cls
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, w, h, shade, cls,
        |    CAST(greatest(floor(w * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS out_w,
        |    CAST(greatest(floor(h * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS out_h
        |  FROM s),
        |py AS (SELECT *, unnest(range(0, out_h)) AS oy FROM d WHERE cls IN (0, 1)),
        |px AS (SELECT *, unnest(range(0, out_w)) AS ox FROM py),
        |v AS (
        |  SELECT doc_id, w, h, out_w, out_h, oy, ox,
        |    ((ox * w // out_w) * 7 + (oy * h // out_h) * 13 + shade) % 256 AS gray
        |  FROM px),
        |ok AS (
        |  SELECT doc_id, 'ok' AS status, CAST(NULL AS VARCHAR) AS err,
        |    CAST(max(w) AS INTEGER) AS in_w, CAST(max(h) AS INTEGER) AS in_h,
        |    max(out_w) AS out_w, max(out_h) AS out_h,
        |    count(*) AS n_px,
        |    CAST(sum(gray) AS BIGINT) AS sum_gray,
        |    CAST(min(gray) AS INTEGER) AS min_gray,
        |    CAST(max(gray) AS INTEGER) AS max_gray,
        |    CAST(sum((gray + 1) * (oy * out_w + ox + 1)) AS BIGINT) AS checksum
        |  FROM v GROUP BY doc_id),
        |bd AS (
        |  SELECT doc_id,
        |    CASE WHEN cls = 2 THEN 'unsupported' ELSE 'corrupt' END AS status,
        |    CASE WHEN cls = 3 THEN 'decode_failed' ELSE NULL END AS err,
        |    CAST(0 AS INTEGER) AS in_w, CAST(0 AS INTEGER) AS in_h,
        |    CAST(0 AS INTEGER) AS out_w, CAST(0 AS INTEGER) AS out_h,
        |    CAST(0 AS BIGINT) AS n_px, CAST(0 AS BIGINT) AS sum_gray,
        |    CAST(0 AS INTEGER) AS min_gray, CAST(0 AS INTEGER) AS max_gray,
        |    CAST(0 AS BIGINT) AS checksum
        |  FROM d WHERE cls IN (2, 3))
        |SELECT * FROM ok UNION ALL SELECT * FROM bd ORDER BY doc_id""".stripMargin
    ),

    // ---- EXECUTED decode, JPEG tier (geometry + status fan-out) --------
    // JPEG is the dominant web-image codec a curation run meets first;
    // its decode IS executed (real JDK ImageIO JPEG reader + the same
    // nearest-neighbor resample), but lossy decode is not bit-portable
    // across decoder implementations, so the oracle gates on DECODED
    // GEOMETRY and the ok/unsupported/corrupt fan-out (the
    // mm_decode_audit pattern) — never pixel checksums. The quarantine
    // contract holds: a truncated JPEG (reader claims the FFD8 magic,
    // pixel decode throws) is a 'corrupt' row, not a task failure.
    "mm_jpeg_decode" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(20) + col("doc_id") % 40).cast("int").as("w"),
          (lit(16) + col("doc_id") % 24).cast("int").as("h"),
          ((col("doc_id") * 31) % 256).cast("int").as("shade"),
          lit("jpg").as("fmt")
        ).as[Multimodal.PatternImageFmtSpec]
        val cls = col("doc_id") % 3
        val bin = Multimodal.synthesizePatternImagesFmt(s, specs)
          .select(col("doc_id"),
            when(cls === 1, concat(lit("not an image #"),
              col("doc_id").cast("string")).cast("binary"))
              .when(cls === 2, col("payload").substr(1, 24))
              .otherwise(col("payload")).as("payload"))
        Multimodal.resizeExec(s, bin, 32, 24).toDF()
          .select(col("doc_id"), col("status"), col("err"),
            col("in_w"), col("in_h"), col("out_w"), col("out_h"), col("n_px"))
          .orderBy("doc_id")
      },
      """WITH s AS (
        |  SELECT doc_id, 20 + doc_id % 40 AS w, 16 + doc_id % 24 AS h,
        |    doc_id % 3 AS cls
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, w, h, cls,
        |    CAST(greatest(floor(w * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS ow,
        |    CAST(greatest(floor(h * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS oh
        |  FROM s)
        |SELECT doc_id,
        |  CASE cls WHEN 0 THEN 'ok' WHEN 1 THEN 'unsupported'
        |    ELSE 'corrupt' END AS status,
        |  CASE WHEN cls = 2 THEN 'decode_failed' END AS err,
        |  CAST(CASE WHEN cls = 0 THEN w ELSE 0 END AS INTEGER) AS in_w,
        |  CAST(CASE WHEN cls = 0 THEN h ELSE 0 END AS INTEGER) AS in_h,
        |  CAST(CASE WHEN cls = 0 THEN ow ELSE 0 END AS INTEGER) AS out_w,
        |  CAST(CASE WHEN cls = 0 THEN oh ELSE 0 END AS INTEGER) AS out_h,
        |  CAST(CASE WHEN cls = 0 THEN ow * oh ELSE 0 END AS BIGINT) AS n_px
        |FROM d ORDER BY doc_id""".stripMargin
    ),

    // ---- EXECUTED decode, GIF tier (palette codec; geometry-gated) -----
    // GIF is palette-quantized: the JDK encoder maps grays to palette
    // entries, so pixel values are encoder-dependent — the oracle gates
    // on decoded geometry + the quarantine fan-out exactly like
    // mm_jpeg_decode. Truncating INSIDE the LZW data (not the header)
    // pins that a reader-claimed stream that dies mid-decode quarantines.
    "mm_gif_decode" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(20) + col("doc_id") % 40).cast("int").as("w"),
          (lit(16) + col("doc_id") % 24).cast("int").as("h"),
          ((col("doc_id") * 31) % 256).cast("int").as("shade"),
          lit("gif").as("fmt")
        ).as[Multimodal.PatternImageFmtSpec]
        val cls = col("doc_id") % 3
        val bin = Multimodal.synthesizePatternImagesFmt(s, specs)
          .select(col("doc_id"),
            when(cls === 1, concat(lit("plain text payload #"),
              col("doc_id").cast("string")).cast("binary"))
              .when(cls === 2, col("payload").substr(1, 40))
              .otherwise(col("payload")).as("payload"))
        Multimodal.resizeExec(s, bin, 32, 24).toDF()
          .select(col("doc_id"), col("status"), col("err"),
            col("in_w"), col("in_h"), col("out_w"), col("out_h"), col("n_px"))
          .orderBy("doc_id")
      },
      """WITH s AS (
        |  SELECT doc_id, 20 + doc_id % 40 AS w, 16 + doc_id % 24 AS h,
        |    doc_id % 3 AS cls
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, w, h, cls,
        |    CAST(greatest(floor(w * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS ow,
        |    CAST(greatest(floor(h * least(32.0/w, 24.0/h, 1.0)), 1) AS INTEGER) AS oh
        |  FROM s)
        |SELECT doc_id,
        |  CASE cls WHEN 0 THEN 'ok' WHEN 1 THEN 'unsupported'
        |    ELSE 'corrupt' END AS status,
        |  CASE WHEN cls = 2 THEN 'decode_failed' END AS err,
        |  CAST(CASE WHEN cls = 0 THEN w ELSE 0 END AS INTEGER) AS in_w,
        |  CAST(CASE WHEN cls = 0 THEN h ELSE 0 END AS INTEGER) AS in_h,
        |  CAST(CASE WHEN cls = 0 THEN ow ELSE 0 END AS INTEGER) AS out_w,
        |  CAST(CASE WHEN cls = 0 THEN oh ELSE 0 END AS INTEGER) AS out_h,
        |  CAST(CASE WHEN cls = 0 THEN ow * oh ELSE 0 END AS BIGINT) AS n_px
        |FROM d ORDER BY doc_id""".stripMargin
    ),

    // ---- lossy-audio tier: MP3 frame-header walk (metadata + audit) ----
    // Real corpora are MP3/AAC, not WAV-PCM; this row mirrors the
    // mm_jpeg_decode contract for audio: REAL MPEG-1 Layer III framing
    // synthesized from spec arithmetic, a frame-by-frame header walk
    // (O(frames), interior bytes never read), and the ok/unsupported/
    // corrupt fan-out with all statuses distinct on fuzzed fixtures —
    // garbage bytes, a mid-frame truncation, and the forbidden bitrate
    // index 15. Duration/bitrate are closed-form (frames·1152/rate,
    // table-mean) so the oracle replays them exactly, including the
    // VBR mean over the per-frame bitrate table walk.
    "mm_mp3_meta" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 5
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (col("doc_id") % 3).cast("int").as("sr_idx"),
          (lit(5) + col("doc_id") % 20).cast("int").as("n_frames"),
          when(m === 1, 1).when(m === 3, 3).when(m === 4, 4)
            .otherwise(0).cast("int").as("cls")
        ).as[Multimodal.Mp3Spec]
        val bin = Multimodal.synthesizeMp3(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 2,
              concat(lit("not audio #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.mp3Audit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"), col("n_frames"),
            col("sample_rate"), col("bitrate_kbps"), col("duration_ms"))
          .orderBy("doc_id")
      },
      {
        val lst = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
        s"""WITH s AS (SELECT doc_id, doc_id % 5 AS m,
           |    CAST(doc_id % 3 AS INTEGER) AS sri, 5 + doc_id % 20 AS n
           |  FROM documents),
           |b AS (SELECT doc_id, m, n,
           |  CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
           |  FROM s),
           |vbj AS (SELECT doc_id, n, unnest(range(n)) AS j FROM b WHERE m = 1),
           |vb AS (SELECT doc_id,
           |  CAST(sum($lst[CAST(1 + (doc_id + j) % 14 AS INTEGER)])
           |    // any_value(n) AS INTEGER) AS mean_kbps
           |  FROM vbj GROUP BY doc_id)
           |SELECT b.doc_id,
           |  CASE WHEN m IN (0, 1) THEN 'ok' WHEN m = 2 THEN 'unsupported'
           |    ELSE 'corrupt' END AS status,
           |  CASE WHEN m = 3 THEN 'truncated'
           |    WHEN m = 4 THEN 'bad_header' END AS err,
           |  CAST(CASE WHEN m IN (0, 1) THEN n ELSE 0 END AS INTEGER) AS n_frames,
           |  CAST(CASE WHEN m IN (0, 1) THEN sr ELSE 0 END AS INTEGER)
           |    AS sample_rate,
           |  CAST(CASE WHEN m = 0 THEN $lst[CAST(1 + b.doc_id % 14 AS INTEGER)]
           |    WHEN m = 1 THEN vb.mean_kbps ELSE 0 END AS INTEGER)
           |    AS bitrate_kbps,
           |  CAST(CASE WHEN m IN (0, 1) THEN n * 1152 * 1000 // sr ELSE 0 END
           |    AS BIGINT) AS duration_ms
           |FROM b LEFT JOIN vb ON b.doc_id = vb.doc_id
           |ORDER BY b.doc_id""".stripMargin
      }
    ),

    // ---- lossy-audio tier, AAC-ADTS sibling of mm_mp3_meta -------------
    // ADTS carries an EXPLICIT 13-bit frame length (unlike MP3's derived
    // one), so the walk exercises the other header discipline; profile /
    // sample-rate-index / channel-configuration decode plus the same
    // ok/unsupported/corrupt fan-out (garbage, mid-frame truncation,
    // reserved sample-rate index 15).
    "mm_aac_meta" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 5
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (col("doc_id") % 13).cast("int").as("sr_idx"),
          (col("doc_id") % 4).cast("int").as("profile"),
          (lit(1) + col("doc_id") % 3).cast("int").as("channels"),
          (lit(4) + col("doc_id") % 12).cast("int").as("n_frames"),
          when(m === 3, 3).when(m === 4, 4).otherwise(0).cast("int").as("cls")
        ).as[Multimodal.AacSpec]
        val bin = Multimodal.synthesizeAac(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 2,
              concat(lit("not audio #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.aacAudit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"), col("n_frames"),
            col("sample_rate"), col("profile"), col("channels"),
            col("duration_ms"))
          .orderBy("doc_id")
      },
      {
        val srl = "[96000,88200,64000,48000,44100,32000,24000,22050," +
          "16000,12000,11025,8000,7350]"
        s"""WITH s AS (SELECT doc_id, doc_id % 5 AS m,
           |    $srl[CAST(1 + doc_id % 13 AS INTEGER)] AS sr,
           |    ['main','lc','ssr','ltp'][CAST(1 + doc_id % 4 AS INTEGER)]
           |      AS prof,
           |    1 + doc_id % 3 AS ch, 4 + doc_id % 12 AS n
           |  FROM documents)
           |SELECT doc_id,
           |  CASE WHEN m IN (0, 1) THEN 'ok' WHEN m = 2 THEN 'unsupported'
           |    ELSE 'corrupt' END AS status,
           |  CASE WHEN m = 3 THEN 'truncated'
           |    WHEN m = 4 THEN 'bad_header' END AS err,
           |  CAST(CASE WHEN m IN (0, 1) THEN n ELSE 0 END AS INTEGER)
           |    AS n_frames,
           |  CAST(CASE WHEN m IN (0, 1) THEN sr ELSE 0 END AS INTEGER)
           |    AS sample_rate,
           |  CASE WHEN m IN (0, 1) THEN prof ELSE '' END AS profile,
           |  CAST(CASE WHEN m IN (0, 1) THEN ch ELSE 0 END AS INTEGER)
           |    AS channels,
           |  CAST(CASE WHEN m IN (0, 1) THEN n * 1024 * 1000 // sr ELSE 0 END
           |    AS BIGINT) AS duration_ms
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- G.711 companded telephony audio: EXECUTED μ-law/A-law decode ---
    // The third real audio codec tier (r16; VERDICT r15 #6): WAV fmt
    // codes 7/6 carry 8-bit logarithmic PCM whose expansion to linear is
    // ITU-T G.711's closed-form integer arithmetic — REAL sample decode
    // (every byte expanded, exact integer digests), not a header walk.
    // The fixture byte sweep (seed + 31k + 17c mod 256) hits every
    // companded segment of both laws; fan-out: clean μ-law / clean A-law
    // / not-RIFF garbage (unsupported) / truncated data chunk (corrupt)
    // / same bytes mislabeled PCM fmt 1 (unsupported — the decoder must
    // refuse, never misread companded bytes as linear).
    "mm_g711_decode" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 5
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          when(m === 1, 1).otherwise(0).cast("int").as("law"),
          lit(8000).cast("int").as("sample_rate"),
          (lit(1) + col("doc_id") % 2).cast("int").as("channels"),
          (lit(32) + col("doc_id") % 64).cast("int").as("n_frames"),
          (col("doc_id") % 251).cast("int").as("seed"),
          when(m === 3, 3).when(m === 4, 4).otherwise(0).cast("int").as("cls")
        ).as[Multimodal.G711Spec]
        val bin = Multimodal.synthesizeG711(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 2,
              concat(lit("not audio #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.g711Audit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"), col("codec"),
            col("sample_rate"), col("channels"), col("n_frames"),
            col("duration_ms"), col("peak"), col("sum_abs"),
            col("n_zero_cross"))
          .orderBy("doc_id")
      },
      s"""WITH s AS (SELECT doc_id, doc_id % 5 AS m,
         |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
         |    32 + doc_id % 64 AS nf, doc_id % 251 AS seed
         |  FROM documents),
         |ks AS (SELECT doc_id, m, ch, seed, unnest(range(nf * ch)) AS j
         |  FROM s WHERE m IN (0, 1)),
         |sv AS (SELECT doc_id, m, ch, j // ch AS k, j % ch AS c,
         |    CAST((seed + 31 * (j // ch) + 17 * (j % ch)) % 256 AS INTEGER)
         |      AS u
         |  FROM ks),
         |dec AS (SELECT doc_id, ch, k, c,
         |  CASE WHEN m = 0 THEN
         |    CASE WHEN (255 - u) >= 128
         |      THEN 132 - ((((255 - u) % 16) * 8 + 132)
         |        << (((255 - u) % 128) // 16))
         |      ELSE ((((255 - u) % 16) * 8 + 132)
         |        << (((255 - u) % 128) // 16)) - 132 END
         |  ELSE
         |    CASE WHEN xor(u, 85) >= 128 THEN 1 ELSE -1 END *
         |    CASE (xor(u, 85) % 128) // 16
         |      WHEN 0 THEN (xor(u, 85) % 16) * 16 + 8
         |      WHEN 1 THEN (xor(u, 85) % 16) * 16 + 264
         |      ELSE ((xor(u, 85) % 16) * 16 + 264)
         |        << ((xor(u, 85) % 128) // 16 - 1) END
         |  END AS v FROM sv),
         |zc0 AS (SELECT doc_id, v,
         |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
         |  FROM dec WHERE c = 0),
         |zcs AS (SELECT doc_id, sum(CASE WHEN pv IS NOT NULL
         |      AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END) AS zc
         |  FROM zc0 GROUP BY doc_id),
         |agg AS (SELECT doc_id, max(abs(v)) AS peak, sum(abs(v)) AS sum_abs
         |  FROM dec GROUP BY doc_id)
         |SELECT s.doc_id,
         |  CASE WHEN m IN (0, 1) THEN 'ok'
         |    WHEN m = 3 THEN 'corrupt' ELSE 'unsupported' END AS status,
         |  CASE WHEN m = 2 THEN 'bad_magic' WHEN m = 3 THEN 'truncated'
         |    WHEN m = 4 THEN 'fmt_code_1' END AS err,
         |  CASE WHEN m = 0 THEN 'ulaw' WHEN m = 1 THEN 'alaw'
         |    ELSE '' END AS codec,
         |  CAST(CASE WHEN m IN (0, 1) THEN 8000 ELSE 0 END AS INTEGER)
         |    AS sample_rate,
         |  CAST(CASE WHEN m IN (0, 1) THEN ch ELSE 0 END AS INTEGER)
         |    AS channels,
         |  CAST(CASE WHEN m IN (0, 1) THEN nf ELSE 0 END AS BIGINT)
         |    AS n_frames,
         |  CAST(CASE WHEN m IN (0, 1) THEN nf * 1000 // 8000 ELSE 0 END
         |    AS BIGINT) AS duration_ms,
         |  CAST(CASE WHEN m IN (0, 1) THEN agg.peak ELSE 0 END AS INTEGER)
         |    AS peak,
         |  CAST(CASE WHEN m IN (0, 1) THEN agg.sum_abs ELSE 0 END AS BIGINT)
         |    AS sum_abs,
         |  CAST(CASE WHEN m IN (0, 1) THEN zcs.zc ELSE 0 END AS BIGINT)
         |    AS n_zero_cross
         |FROM s LEFT JOIN agg ON s.doc_id = agg.doc_id
         |  LEFT JOIN zcs ON s.doc_id = zcs.doc_id
         |ORDER BY s.doc_id""".stripMargin
    ),

    // ---- IMA ADPCM: EXECUTED stateful sample decode ----------------------
    // (r16) The fourth real audio codec tier, and the first STATEFUL one:
    // WAV fmt code 0x11 nibbles update a (predictor, step-index) pair,
    // re-seeded per block from the 4-byte block header. The oracle replays
    // the recursion sample-for-sample as a DuckDB recursive CTE (state
    // resets included), and the digest carries two state WITNESSES
    // (final_pred, final_idx) that only a faithful full decode can
    // produce. Fan-out: clean 1-block / clean 2-block (state reset
    // exercised) / not-RIFF garbage (unsupported) / truncated data chunk
    // (corrupt) / mislabeled linear PCM fmt 1 (unsupported — nibble soup
    // must never decode as PCM).
    "mm_adpcm_decode" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 5
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(8000).cast("int").as("sample_rate"),
          (lit(12) + col("doc_id") % 20).cast("int").as("nb"),
          (lit(1) + col("doc_id") % 2).cast("int").as("n_blocks"),
          (col("doc_id") * 37 % 16384 - 8192).cast("int").as("pred0"),
          (col("doc_id") % 89).cast("int").as("idx0"),
          (col("doc_id") % 251).cast("int").as("seed"),
          when(m === 3, 3).when(m === 4, 4).otherwise(0).cast("int").as("cls")
        ).as[Multimodal.AdpcmSpec]
        val bin = Multimodal.synthesizeAdpcm(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 2,
              concat(lit("not audio #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.adpcmAudit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"),
            col("sample_rate"), col("n_blocks"), col("n_samples"),
            col("duration_ms"), col("peak"), col("sum_abs"),
            col("n_zero_cross"), col("final_pred"), col("final_idx"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE s AS (SELECT doc_id, doc_id % 5 AS m,
         |    CAST(12 + doc_id % 20 AS INTEGER) AS nb,
         |    CAST(1 + doc_id % 2 AS INTEGER) AS nblk,
         |    CAST(doc_id % 251 AS INTEGER) AS seed,
         |    CAST(doc_id * 37 % 16384 - 8192 AS INTEGER) AS pred0,
         |    CAST(doc_id % 89 AS INTEGER) AS idx0
         |  FROM documents),
         |blk AS (SELECT doc_id, nb, seed,
         |    unnest(range(nblk)) AS b FROM s WHERE m IN (0, 1)),
         |dec AS (
         |  SELECT blk.doc_id, blk.nb, blk.seed, blk.b, 0 AS k,
         |      CAST(GREATEST(-32768, LEAST(32767, s.pred0 + 100 * blk.b))
         |        AS INTEGER) AS pred,
         |      CAST((s.idx0 + 7 * blk.b) % 89 AS INTEGER) AS idx
         |    FROM blk JOIN s ON blk.doc_id = s.doc_id
         |  UNION ALL
         |  SELECT doc_id, nb, seed, b, k + 1,
         |      CAST(GREATEST(-32768, LEAST(32767,
         |        pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END))
         |        AS INTEGER),
         |      CAST(GREATEST(0, LEAST(88,
         |        idx + ([-1,-1,-1,-1,2,4,6,8])[(nib % 8) + 1]))
         |        AS INTEGER)
         |    FROM (
         |      SELECT *, st // 8
         |          + CASE WHEN nib % 2 = 1 THEN st // 4 ELSE 0 END
         |          + CASE WHEN (nib // 2) % 2 = 1 THEN st // 2 ELSE 0 END
         |          + CASE WHEN (nib // 4) % 2 = 1 THEN st ELSE 0 END AS diff
         |      FROM (
         |        SELECT *,
         |            ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
         |              41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
         |              173,190,209,230,253,279,307,337,371,408,449,494,544,
         |              598,658,724,796,876,963,1060,1166,1282,1411,1552,
         |              1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
         |              4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
         |              11487,12635,13899,15289,16818,18500,20350,22385,
         |              24623,27086,29794,32767])[idx + 1] AS st,
         |            CASE WHEN k % 2 = 0 THEN bv % 16 ELSE bv // 16 END
         |              AS nib
         |        FROM (
         |          SELECT *, (seed + 31 * (b * nb + k // 2)) % 256 AS bv
         |          FROM dec WHERE k < 2 * nb)))),
         |zc0 AS (SELECT doc_id, pred,
         |    lag(pred) OVER (PARTITION BY doc_id ORDER BY b, k) AS pv
         |  FROM dec),
         |zcs AS (SELECT doc_id, sum(CASE WHEN pv IS NOT NULL
         |      AND ((pred >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END) AS zc
         |  FROM zc0 GROUP BY doc_id),
         |agg AS (SELECT doc_id, max(abs(pred)) AS peak,
         |    sum(abs(pred)) AS sum_abs FROM dec GROUP BY doc_id),
         |fin AS (SELECT doc_id, pred AS fp, idx AS fi FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY b DESC, k DESC) AS rn FROM dec) WHERE rn = 1)
         |SELECT s.doc_id,
         |  CASE WHEN m IN (0, 1) THEN 'ok'
         |    WHEN m = 3 THEN 'corrupt' ELSE 'unsupported' END AS status,
         |  CASE WHEN m = 2 THEN 'bad_magic' WHEN m = 3 THEN 'truncated'
         |    WHEN m = 4 THEN 'fmt_code_1' END AS err,
         |  CAST(CASE WHEN m IN (0, 1) THEN 8000 ELSE 0 END AS INTEGER)
         |    AS sample_rate,
         |  CAST(CASE WHEN m IN (0, 1) THEN nblk ELSE 0 END AS BIGINT)
         |    AS n_blocks,
         |  CAST(CASE WHEN m IN (0, 1) THEN nblk * (1 + 2 * nb) ELSE 0 END
         |    AS BIGINT) AS n_samples,
         |  CAST(CASE WHEN m IN (0, 1)
         |    THEN nblk * (1 + 2 * nb) * 1000 // 8000 ELSE 0 END
         |    AS BIGINT) AS duration_ms,
         |  CAST(CASE WHEN m IN (0, 1) THEN agg.peak ELSE 0 END AS INTEGER)
         |    AS peak,
         |  CAST(CASE WHEN m IN (0, 1) THEN agg.sum_abs ELSE 0 END AS BIGINT)
         |    AS sum_abs,
         |  CAST(CASE WHEN m IN (0, 1) THEN zcs.zc ELSE 0 END AS BIGINT)
         |    AS n_zero_cross,
         |  CAST(CASE WHEN m IN (0, 1) THEN fin.fp ELSE 0 END AS INTEGER)
         |    AS final_pred,
         |  CAST(CASE WHEN m IN (0, 1) THEN fin.fi ELSE 0 END AS INTEGER)
         |    AS final_idx
         |FROM s LEFT JOIN agg ON s.doc_id = agg.doc_id
         |  LEFT JOIN zcs ON s.doc_id = zcs.doc_id
         |  LEFT JOIN fin ON s.doc_id = fin.doc_id
         |ORDER BY s.doc_id""".stripMargin
    ),

    // ---- Ogg/Vorbis: EXECUTED page walk + real page CRC ------------------
    // (r16) RFC 3533 pages with lacing tables and the spec's own CRC-32
    // (poly 0x04C11DB7, unreflected, computed over the zeroed-CRC page
    // image — only a genuine recompute can pass it), plus the Vorbis I
    // identification-header unpack on the BOS page. The oracle replays
    // the lacing arithmetic closed-form (sizes, packet counts, granules)
    // and pins the walk via the byte totals; the CRC pass itself is
    // spec-tested against independent reference vectors. Fan-out: clean /
    // garbage (unsupported) / truncated final page (corrupt) / one
    // payload byte flipped after CRC stamping (corrupt bad_crc — the
    // witness that the CRC actually runs) / non-Vorbis BOS packet /
    // Vorbis version 1 (both unsupported).
    "mm_ogg_decode" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 7
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          lit(16000).cast("int").as("sample_rate"),
          (lit(1) + col("doc_id") % 3).cast("int").as("n_pages"),
          (lit(1) + col("doc_id") % 4).cast("int").as("n_segs"),
          (col("doc_id") % 251).cast("int").as("seed"),
          when(m === 3, 3).when(m === 4, 4).when(m === 5, 5)
            .when(m === 6, 6).otherwise(0).cast("int").as("cls")
        ).as[Multimodal.OggSpec]
        val bin = Multimodal.synthesizeOgg(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 2,
              concat(lit("not an ogg #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.oggVorbisAudit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"),
            col("sample_rate"), col("channels"), col("bitrate_nominal"),
            col("n_pages"), col("n_packets"), col("payload_bytes"),
            col("final_granule"), col("crc_fail_pages"))
          .orderBy("doc_id")
      },
      s"""WITH s AS (SELECT doc_id, doc_id % 7 AS m,
         |    CAST(1 + doc_id % 3 AS BIGINT) AS np,
         |    CAST(1 + doc_id % 4 AS BIGINT) AS ns,
         |    CAST(doc_id % 251 AS BIGINT) AS seed
         |  FROM documents),
         |segs AS (SELECT doc_id, seed,
         |    unnest(range(np * ns)) AS g FROM s WHERE m IN (0, 1)),
         |pb AS (SELECT doc_id,
         |    sum(1 + (seed + 17 * g) % 254) AS payload_bytes
         |  FROM segs GROUP BY doc_id)
         |SELECT s.doc_id,
         |  CASE WHEN m IN (0, 1) THEN 'ok'
         |    WHEN m IN (3, 4) THEN 'corrupt' ELSE 'unsupported' END
         |    AS status,
         |  CASE WHEN m = 2 THEN 'bad_magic' WHEN m = 3 THEN 'truncated'
         |    WHEN m = 4 THEN 'bad_crc' WHEN m = 5 THEN 'not_vorbis'
         |    WHEN m = 6 THEN 'version_1' END AS err,
         |  CAST(CASE WHEN m IN (0, 1) THEN 16000 ELSE 0 END AS INTEGER)
         |    AS sample_rate,
         |  CAST(CASE WHEN m IN (0, 1) THEN 1 + s.doc_id % 2 ELSE 0 END
         |    AS INTEGER) AS channels,
         |  CAST(CASE WHEN m IN (0, 1) THEN 64000 ELSE 0 END AS INTEGER)
         |    AS bitrate_nominal,
         |  CAST(CASE WHEN m IN (0, 1) THEN np + 1 ELSE 0 END AS BIGINT)
         |    AS n_pages,
         |  CAST(CASE WHEN m IN (0, 1) THEN np * ns ELSE 0 END AS BIGINT)
         |    AS n_packets,
         |  CAST(CASE WHEN m IN (0, 1) THEN pb.payload_bytes ELSE 0 END
         |    AS BIGINT) AS payload_bytes,
         |  CAST(CASE WHEN m IN (0, 1) THEN np * 441 * ns ELSE 0 END
         |    AS BIGINT) AS final_granule,
         |  CAST(CASE WHEN m = 4 THEN 1 ELSE 0 END AS BIGINT)
         |    AS crc_fail_pages
         |FROM s LEFT JOIN pb ON s.doc_id = pb.doc_id
         |ORDER BY s.doc_id""".stripMargin
    ),

    // ---- FLAC metadata-block walk: the lossless-audio container ---------
    // (r16) xiph FLAC: `fLaC` magic + [last|type|24-bit-BE length]
    // metadata blocks; STREAMINFO's packed 20/3/5/36-bit geometry is the
    // executed unpack. Fan-out: two clean geometries / garbage
    // (unsupported) / mid-block truncation / invalid block type 127 /
    // missing STREAMINFO (spec requires it first) — all corrupt-
    // quarantined with stable reasons the oracle predicts.
    "mm_flac_meta" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 6
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          element_at(array(lit(8000), lit(22050), lit(44100), lit(48000)),
            (col("doc_id") % 4 + 1).cast("int")).cast("int").as("sample_rate"),
          (lit(1) + col("doc_id") % 3).cast("int").as("channels"),
          (lit(16) + lit(8) * (col("doc_id") % 2)).cast("int").as("bits"),
          (lit(1000) + col("doc_id") % 100000).cast("long").as("total_samples"),
          when(m === 3, 3).when(m === 4, 4).when(m === 5, 5)
            .otherwise(0).cast("int").as("cls")
        ).as[Multimodal.FlacSpec]
        val bin = Multimodal.synthesizeFlac(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 6 === 2,
              concat(lit("not flac #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.flacAudit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"),
            col("sample_rate"), col("channels"), col("bits"),
            col("total_samples"), col("duration_ms"), col("n_blocks"),
            col("has_vorbis_comment"))
          .orderBy("doc_id")
      },
      s"""WITH s AS (SELECT doc_id, doc_id % 6 AS m,
         |    [8000, 22050, 44100, 48000][CAST(1 + doc_id % 4 AS INTEGER)]
         |      AS sr,
         |    CAST(1 + doc_id % 3 AS INTEGER) AS ch,
         |    CAST(16 + 8 * (doc_id % 2) AS INTEGER) AS bits,
         |    1000 + doc_id % 100000 AS total
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN m IN (0, 1) THEN 'ok' WHEN m = 2 THEN 'unsupported'
         |    ELSE 'corrupt' END AS status,
         |  CASE WHEN m = 2 THEN 'bad_magic' WHEN m = 3 THEN 'truncated'
         |    WHEN m = 4 THEN 'bad_block_type'
         |    WHEN m = 5 THEN 'no_streaminfo' END AS err,
         |  CAST(CASE WHEN m IN (0, 1) THEN sr ELSE 0 END AS INTEGER)
         |    AS sample_rate,
         |  CAST(CASE WHEN m IN (0, 1) THEN ch ELSE 0 END AS INTEGER)
         |    AS channels,
         |  CAST(CASE WHEN m IN (0, 1) THEN bits ELSE 0 END AS INTEGER)
         |    AS bits,
         |  CAST(CASE WHEN m IN (0, 1) THEN total ELSE 0 END AS BIGINT)
         |    AS total_samples,
         |  CAST(CASE WHEN m IN (0, 1) THEN total * 1000 // sr ELSE 0 END
         |    AS BIGINT) AS duration_ms,
         |  CAST(CASE WHEN m IN (0, 1) THEN 2 ELSE 0 END AS INTEGER)
         |    AS n_blocks,
         |  CASE WHEN m IN (0, 1) THEN TRUE ELSE FALSE END
         |    AS has_vorbis_comment
         |FROM s ORDER BY doc_id""".stripMargin
    ),

    // ---- MP3 VBR headers: the Xing/VBRI duration shortcut ---------------
    // Real VBR corpora carry a Xing (LAME) or VBRI (Fraunhofer) tag in
    // the first frame declaring stream frame/byte totals; tools read
    // duration from it in O(1) instead of walking O(frames). The row
    // proves the shortcut is USED (declared frames exclude the tag frame
    // — a walk would count one more), the mean bitrate comes from the
    // declared byte total, and the one integrity check the header
    // enables fires: a truncated stream's declared bytes no longer match
    // → corrupt `vbr_length_mismatch`, never a silently wrong duration.
    "mm_mp3_vbr_header" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 4
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (col("doc_id") % 3).cast("int").as("sr_idx"),
          (lit(5) + col("doc_id") % 20).cast("int").as("n_frames"),
          when(m === 1, 5).when(m === 2, 6).when(m === 3, 7)
            .otherwise(0).cast("int").as("cls")
        ).as[Multimodal.Mp3Spec]
        Multimodal.mp3Audit(s, Multimodal.synthesizeMp3(s, specs)).toDF()
          .select(col("doc_id"), col("status"), col("err"), col("method"),
            col("n_frames"), col("sample_rate"), col("bitrate_kbps"),
            col("duration_ms"))
          .orderBy("doc_id")
      },
      {
        val lst = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
        s"""WITH s AS (SELECT doc_id, doc_id % 4 AS m,
           |    CAST(doc_id % 3 AS INTEGER) AS sri, 5 + doc_id % 20 AS n
           |  FROM documents),
           |b AS (SELECT doc_id, m, n,
           |  CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr
           |  FROM s),
           |vbj AS (SELECT doc_id, n, sr, unnest(range(n)) AS j
           |  FROM b WHERE m IN (1, 2)),
           |vb AS (SELECT doc_id,
           |  CAST(144 * 32 * 1000 // any_value(sr)
           |    + sum(144 * $lst[CAST(1 + (doc_id + j) % 14 AS INTEGER)]
           |      * 1000 // sr) AS BIGINT) AS total_bytes
           |  FROM vbj GROUP BY doc_id)
           |SELECT b.doc_id,
           |  CASE WHEN m <= 2 THEN 'ok' ELSE 'corrupt' END AS status,
           |  CASE WHEN m = 3 THEN 'vbr_length_mismatch' END AS err,
           |  CASE m WHEN 0 THEN 'walk' WHEN 1 THEN 'xing'
           |    WHEN 2 THEN 'vbri' ELSE '' END AS method,
           |  CAST(CASE WHEN m <= 2 THEN n ELSE 0 END AS INTEGER) AS n_frames,
           |  CAST(CASE WHEN m <= 2 THEN sr ELSE 0 END AS INTEGER)
           |    AS sample_rate,
           |  CAST(CASE WHEN m = 0 THEN $lst[CAST(1 + b.doc_id % 14 AS INTEGER)]
           |    WHEN m IN (1, 2) THEN vb.total_bytes * 8
           |      // (n * 1152 * 1000 // sr)
           |    ELSE 0 END AS INTEGER) AS bitrate_kbps,
           |  CAST(CASE WHEN m <= 2 THEN n * 1152 * 1000 // sr ELSE 0 END
           |    AS BIGINT) AS duration_ms
           |FROM b LEFT JOIN vb ON b.doc_id = vb.doc_id
           |ORDER BY b.doc_id""".stripMargin
      }
    ),

    // ---- AAC-ADTS variants: CRC-protected frames + MPEG-2 ID bit --------
    // protection_absent = 0 adds a verified CRC-16 after the 7 fixed
    // header bytes (frame length counts it); the ID bit selects MPEG-2
    // framing (ISO/IEC 13818-7 — same timing). A payload byte flipped
    // after the CRC was computed is a `crc_mismatch` corrupt row — the
    // check actually runs, it is not a header-shape pass-through.
    "mm_aac_ext_meta" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val m = col("doc_id") % 6
        val specs = t(s, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (col("doc_id") % 13).cast("int").as("sr_idx"),
          (col("doc_id") % 4).cast("int").as("profile"),
          (lit(1) + col("doc_id") % 3).cast("int").as("channels"),
          (lit(4) + col("doc_id") % 12).cast("int").as("n_frames"),
          when(m === 1 || m === 3, 1).otherwise(0).cast("int").as("mpeg2"),
          when(m === 2 || m === 3 || m === 5, 1).otherwise(0)
            .cast("int").as("crc"),
          when(m === 3, 5).when(m === 5, 3).otherwise(0).cast("int").as("cls")
        ).as[Multimodal.AacExtSpec]
        val bin = Multimodal.synthesizeAacExt(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 6 === 4,
              concat(lit("not audio #"), col("doc_id").cast("string"))
                .cast("binary"))
              .otherwise(col("payload")).as("payload"))
        Multimodal.aacAudit(s, bin).toDF()
          .select(col("doc_id"), col("status"), col("err"), col("version"),
            col("crc"), col("n_frames"), col("sample_rate"), col("profile"),
            col("channels"), col("duration_ms"))
          .orderBy("doc_id")
      },
      {
        val srl = "[96000,88200,64000,48000,44100,32000,24000,22050," +
          "16000,12000,11025,8000,7350]"
        s"""WITH s AS (SELECT doc_id, doc_id % 6 AS m,
           |    $srl[CAST(1 + doc_id % 13 AS INTEGER)] AS sr,
           |    ['main','lc','ssr','ltp'][CAST(1 + doc_id % 4 AS INTEGER)]
           |      AS prof,
           |    1 + doc_id % 3 AS ch, 4 + doc_id % 12 AS n
           |  FROM documents)
           |SELECT doc_id,
           |  CASE WHEN m IN (0, 1, 2) THEN 'ok' WHEN m = 4 THEN 'unsupported'
           |    ELSE 'corrupt' END AS status,
           |  CASE WHEN m = 3 THEN 'crc_mismatch'
           |    WHEN m = 5 THEN 'truncated' END AS err,
           |  CASE WHEN m = 1 THEN 'mpeg2' WHEN m IN (0, 2) THEN 'mpeg4'
           |    ELSE '' END AS version,
           |  CASE WHEN m = 2 THEN 'ok' WHEN m IN (0, 1) THEN 'none'
           |    ELSE '' END AS crc,
           |  CAST(CASE WHEN m IN (0, 1, 2) THEN n ELSE 0 END AS INTEGER)
           |    AS n_frames,
           |  CAST(CASE WHEN m IN (0, 1, 2) THEN sr ELSE 0 END AS INTEGER)
           |    AS sample_rate,
           |  CASE WHEN m IN (0, 1, 2) THEN prof ELSE '' END AS profile,
           |  CAST(CASE WHEN m IN (0, 1, 2) THEN ch ELSE 0 END AS INTEGER)
           |    AS channels,
           |  CAST(CASE WHEN m IN (0, 1, 2) THEN n * 1024 * 1000 // sr
           |    ELSE 0 END AS BIGINT) AS duration_ms
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- native identity resolution (connected components) ------------
    "id_resolution_cc" -> QuerySpec(
      (s, dir) => {
        val edges = t(s, dir, "events")
          .select(col("user_id").as("src"),
            (lit(100000L) + col("user_id") % 50).as("dst"))
          .distinct()
        IdentityResolution.connectedComponents(edges).orderBy("node")
      },
      """SELECT DISTINCT user_id AS node, user_id % 50 AS component FROM events
        |UNION
        |SELECT DISTINCT 100000 + user_id % 50, user_id % 50 FROM events
        |ORDER BY node""".stripMargin
    ),

    // ---- STRING-keyed identity resolution ------------------------------
    // J1-shaped string ids (u<user>, d<group>, x<class>) in a two-hop
    // star graph: users → device groups → class hubs, so components only
    // resolve TRANSITIVELY; canonical id = lexicographic min string.
    "id_resolution_string" -> QuerySpec(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
        val g = col("user_id") % 50
        val e1 = ev.select(
          concat(lit("u"), col("user_id").cast("string")).as("src"),
          concat(lit("d"), g.cast("string")).as("dst")).distinct()
        val e2 = ev.select(
          concat(lit("d"), g.cast("string")).as("src"),
          concat(lit("x"), (g % 7).cast("string")).as("dst")).distinct()
        IdentityResolution.connectedComponentsString(e1.union(e2))
          .orderBy("node")
      },
      """WITH m AS (SELECT DISTINCT user_id, user_id % 50 AS g FROM events
        |  WHERE user_id IS NOT NULL),
        |gs AS (SELECT DISTINCT g FROM m),
        |canon AS (SELECT g % 7 AS k, min('d' || CAST(g AS VARCHAR)) AS c
        |  FROM gs GROUP BY 1),
        |nodes AS (
        |  SELECT 'u' || CAST(user_id AS VARCHAR) AS node, g % 7 AS k FROM m
        |  UNION
        |  SELECT 'd' || CAST(g AS VARCHAR), g % 7 FROM gs
        |  UNION
        |  SELECT 'x' || CAST(k AS VARCHAR), k
        |  FROM (SELECT DISTINCT g % 7 AS k FROM gs))
        |SELECT node, c AS component FROM nodes JOIN canon USING (k)
        |ORDER BY node""".stripMargin
    ),

    // ---- ANN: brute-force cosine top-k --------------------------------
    "ann_topk_bruteforce" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
      },
      s"""WITH sc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |r AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- ANN: IVF probed-list top-k. Full hash oracle: assignment
    //      distances are per-row LEFT FOLDS in index order (bit-identical
    //      IEEE double sums in both engines); centroid means accumulate in
    //      exact DECIMAL(38,18) — the 2 Lloyd rounds + final assignment
    //      unroll into deterministic SQL --------------------------------
    "ann_ivf_probe" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nLists = 8, nprobe = 3)
          .orderBy("query_id", "rank")
      },
      {
        s"""WITH ${duckIvfCtes(8)},
           |cent AS (SELECT c, center FROM c2),
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |qd AS (
           |  SELECT query_id, c,
           |    list_dot_product(qv, qv) + list_dot_product(center, center)
           |      - 2*list_dot_product(qv, center) AS dist
           |  FROM q CROSS JOIN cent),
           |probes AS (SELECT query_id, c FROM (
           |  SELECT query_id, c, row_number() OVER (PARTITION BY query_id ORDER BY dist, c) AS rn
           |  FROM qd) WHERE rn <= 3),
           |sc AS (
           |  SELECT p.query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
           |  FROM probes p
           |  JOIN a3 ON a3.c = p.c
           |  JOIN embeddings a ON a.vec_id = p.query_id
           |  JOIN embeddings b ON b.vec_id = a3.id
           |  WHERE a3.id <> p.query_id),
           |r AS (SELECT *, row_number() OVER (
           |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(cos, 4) AS cos
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- ANN: IVF range search (fixed radius over probed lists) --------
    // The radius dual of ann_ivf_probe: same trained coarse quantizer,
    // same nprobe-list candidate stream, but a cos ≥ 0.25 threshold
    // replaces the ranker — the scale path for "all near-duplicates of
    // these queries" (output bounded by selectivity, not k).
    "ann_ivf_range" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.ivfRange(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          minCos = 0.25, nLists = 8, nprobe = 3)
          .orderBy("query_id", "neighbor_id")
      },
      {
        s"""WITH ${duckIvfCtes(8)},
           |cent AS (SELECT c, center FROM c2),
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |qd AS (
           |  SELECT query_id, c,
           |    list_dot_product(qv, qv) + list_dot_product(center, center)
           |      - 2*list_dot_product(qv, center) AS dist
           |  FROM q CROSS JOIN cent),
           |probes AS (SELECT query_id, c FROM (
           |  SELECT query_id, c, row_number() OVER (PARTITION BY query_id ORDER BY dist, c) AS rn
           |  FROM qd) WHERE rn <= 3),
           |sc AS (
           |  SELECT p.query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
           |  FROM probes p
           |  JOIN a3 ON a3.c = p.c
           |  JOIN embeddings a ON a.vec_id = p.query_id
           |  JOIN embeddings b ON b.vec_id = a3.id
           |  WHERE a3.id <> p.query_id)
           |SELECT query_id, neighbor_id, round(cos, 4) AS cos
           |FROM sc WHERE cos >= 0.25 ORDER BY 1, 2""".stripMargin
      }
    ),

    // ---- cluster-quality audit: per-list inertia -----------------------
    // The index-health metric an IVF deployment tracks (unbalanced or
    // high-inertia lists mean a bad coarse quantizer): per cluster, the
    // member count and Σ ||v − centroid||² over members. Distances use
    // the SAME dot-product expansion both engines already share
    // (ann_ivf_probe's qd shape); each per-vector distance is rounded
    // once to 6 decimals and summed as DECIMAL — order-independent, so
    // partitioning can't move the hash.
    "emb_cluster_inertia" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val (assign, cents) = Ann.ivfAssignments(emb, "vec_id", "embedding", 8)
        emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .join(assign, "vec_id")
          .join(broadcast(cents), "centroid")
          .withColumn("dist", Fns.dotProduct(col("v"), col("v")) +
            Fns.dotProduct(col("center"), col("center")) -
            lit(2.0) * Fns.dotProduct(col("v"), col("center")))
          .withColumn("d6", round(col("dist"), 6).cast("decimal(28,6)"))
          .groupBy("centroid")
          .agg(count(lit(1)).as("n_vectors"),
            round(sum(col("d6")), 4).cast("double").as("inertia"))
          .orderBy("centroid")
      },
      s"""WITH ${duckIvfCtes(8)},
         |m AS (
         |  SELECT a3.c AS centroid, b.embedding::DOUBLE[] AS v, c2.center
         |  FROM a3 JOIN embeddings b ON b.vec_id = a3.id
         |  JOIN c2 ON c2.c = a3.c),
         |d AS (
         |  SELECT centroid,
         |    CAST(round(list_dot_product(v, v)
         |      + list_dot_product(center, center)
         |      - 2*list_dot_product(v, center), 6) AS DECIMAL(28,6)) AS d6
         |  FROM m)
         |SELECT centroid, count(*) AS n_vectors,
         |  CAST(round(sum(d6), 4) AS DOUBLE) AS inertia
         |FROM d GROUP BY 1 ORDER BY centroid""".stripMargin
    ),

    // ---- ANN: hyperplane-LSH bucketed top-k ---------------------------
    "ann_lsh_bucketed" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          numPlanes = 6, k = 3)
          .orderBy("query_id", "rank")
      },
      s"""WITH dims AS (
         |  SELECT vec_id AS vid, unnest(range(len(embedding))) AS d,
         |    unnest(embedding::DOUBLE[]) AS x
         |  FROM embeddings),
         |proj AS (
         |  SELECT vid, p.p AS p,
         |    sum(CASE WHEN ((p.p*1315423911 + d*2654435761) % 1000000007) % 2 = 0
         |        THEN x ELSE -x END) AS sv
         |  FROM dims, range(6) p(p) GROUP BY vid, p.p),
         |buck AS (SELECT vid, string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM proj GROUP BY vid),
         |sc AS (
         |  SELECT qa.vid AS query_id, cb.vid AS neighbor_id, $duckCosine AS cos
         |  FROM buck qa JOIN buck cb ON qa.bucket = cb.bucket AND qa.vid < 10 AND cb.vid <> qa.vid
         |  JOIN embeddings a ON a.vec_id = qa.vid
         |  JOIN embeddings b ON b.vec_id = cb.vid),
         |r AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- int8 scalar quantization of the embedding column --------------
    // Per-dim global [min,max] → codes 0..255 via fixed-order IEEE double
    // arithmetic — bit-identical across engines, so the full code matrix
    // hash-matches.
    // ---- rotation-training second moments ------------------------------
    // The distributed half of PCA/OPQ pretransform training: the
    // upper-triangle second-moment matrix, decimal-exact (each product is
    // ONE IEEE multiply, summed in DECIMAL(38,18) — order-independent on
    // both engines). The bounded d x d eigensolve runs on the driver and
    // is property-tested (Round10OpsSpec), not oracle-gated.
    "emb_covariance" -> QuerySpec(
      (s, dir) =>
        Ann.secondMoments(t(s, dir, "embeddings"), "vec_id", "embedding")
          .orderBy("i", "j"),
      """WITH x AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |f AS (SELECT v, unnest(range(1, len(v)+1)) AS i FROM x),
        |g AS (SELECT v, i, unnest(range(i, len(v)+1)) AS j FROM f)
        |SELECT CAST(i-1 AS INTEGER) AS i, CAST(j-1 AS INTEGER) AS j,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(v[i]*v[j] AS DECIMAL(38,18))), 12) AS DOUBLE)
        |    AS sxx
        |FROM g GROUP BY 1, 2 ORDER BY i, j""".stripMargin
    ),

    // ---- OPQ Procrustes-step cross moments -----------------------------
    // The distributed half of ONE true-OPQ alternation (Ge et al. 2013,
    // non-parametric): PQ books fit on the mean-centered corpus (the
    // R=identity first-alternation state — training fully unrolled in
    // SQL via duckPqCtes on a centered source), each vector reconstructed
    // from its assigned centroids, and the d×d cross-moment matrix
    // A[i][j] = Σ x_i·y_j aggregated decimal-exact. The driver-side
    // SVD/Procrustes solve (R = V·Uᵀ) is bounded d×d and property-tested
    // (Round11OpsSpec: orthogonality, determinism, recall ≥ PCA-RR), not
    // oracle-gated — the emb_covariance precedent.
    "emb_opq_cross_moments" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val (mu, _, books) = Ann.opqTrain(emb, "vec_id", "embedding",
          m = 4, k = 8, iterations = 1, initRotation = "identity")
        Ann.opqCrossMoments(emb, "vec_id", "embedding", mu, null, books)
          .orderBy("i", "j")
      },
      s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |rd AS (SELECT vec_id, unnest(range(1, len(v)+1)) AS d, unnest(v) AS x
         |  FROM raw),
         |mus AS (SELECT d,
         |  CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)/count(*) AS mu
         |  FROM rd GROUP BY d),
         |centered AS (SELECT vec_id, list(x - mu ORDER BY d) AS v
         |  FROM rd JOIN mus USING (d) GROUP BY vec_id),
         |${duckPqCtes(4, 8, 64, srcTable = "centered", srcId = "vec_id",
             srcVec = "v")},
         |recon AS (SELECT a3_0.id,
         |  c20.center || c21.center || c22.center || c23.center AS y
         |  FROM a3_0
         |  JOIN c2_0 c20 ON c20.c = a3_0.c
         |  JOIN a3_1 ON a3_1.id = a3_0.id JOIN c2_1 c21 ON c21.c = a3_1.c
         |  JOIN a3_2 ON a3_2.id = a3_0.id JOIN c2_2 c22 ON c22.c = a3_2.c
         |  JOIN a3_3 ON a3_3.id = a3_0.id JOIN c2_3 c23 ON c23.c = a3_3.c),
         |xy AS (SELECT c.v AS x, r.y AS y
         |  FROM centered c JOIN recon r ON r.id = c.vec_id),
         |e1 AS (SELECT x, unnest(range(1, len(x)+1)) AS i, unnest(x) AS xi, y
         |  FROM xy),
         |e2 AS (SELECT i, xi, unnest(range(1, len(y)+1)) AS j, unnest(y) AS yj
         |  FROM e1)
         |SELECT CAST(i-1 AS INTEGER) AS i, CAST(j-1 AS INTEGER) AS j,
         |  count(*) AS n,
         |  CAST(round(sum(CAST(xi*yj AS DECIMAL(38,18))), 12) AS DOUBLE)
         |    AS sxy
         |FROM e2 GROUP BY 1, 2 ORDER BY i, j""".stripMargin
    ),

    "emb_quantize_int8" -> QuerySpec(
      (s, dir) =>
        Ann.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
          .select(col("id").as("vec_id"),
            array_join(col("codes"), " ").as("codes"))
          .orderBy("vec_id"),
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |e AS (SELECT vec_id, unnest(range(1, len(v)+1)) AS d, unnest(v) AS x
         |  FROM v),
         |mm AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
         |c AS (SELECT vec_id, e.d,
         |  CASE WHEN mx = mn THEN 0 ELSE
         |    least(255, greatest(0,
         |      CAST(floor((x - mn)*255.0/(mx - mn) + 0.5) AS INTEGER)))
         |  END AS code
         |  FROM e JOIN mm ON e.d = mm.d)
         |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ' ' ORDER BY d) AS codes
         |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin
    ),

    // ---- recall of quantized search vs exact ----------------------------
    // Both rankers run the SAME cosine fold, one over raw doubles, one
    // over the dequantized view — the quality dial a pipeline reads
    // before committing to int8 storage.
    "ann_quantized_recall" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val deq = Ann.quantizeInt8(emb, "vec_id", "embedding")
          .select(col("id").as("vec_id"), col("deq").as("embedding"))
        Ann.recallEval(
            Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
              "vec_id", "embedding", 5),
            Ann.bruteForceTopK(deq, deq.filter(col("vec_id") < 10),
              "vec_id", "embedding", 5),
            5)
          .orderBy("query_id")
      },
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |e AS (SELECT vec_id, unnest(range(1, len(v)+1)) AS d, unnest(v) AS x
         |  FROM v),
         |mm AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
         |dq AS (SELECT vec_id, list(CASE WHEN mx = mn THEN mn ELSE
         |    mn + least(255, greatest(0,
         |      CAST(floor((x - mn)*255.0/(mx - mn) + 0.5) AS INTEGER)))
         |      * (mx - mn) / 255.0 END ORDER BY e.d) AS v
         |  FROM e JOIN mm ON e.d = mm.d GROUP BY vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      $duckCosine DESC, b.vec_id) AS rank
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rank <= 5),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_dot_product(a.v, b.v) /
         |        (sqrt(list_dot_product(a.v, a.v)) *
         |         sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rank
         |  FROM dq a JOIN dq b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5)
         |SELECT ex.query_id,
         |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / 5.0, 4) AS recall
         |FROM ex LEFT JOIN ap USING (query_id, neighbor_id)
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
    ),

    // ---- binary (sign-bit) quantization: the 1-bit memory rung ---------
    // Full code matrix hash-exact: packing is pure integer arithmetic
    // (no floats survive), so any addressing slip anywhere flips a bit.
    "emb_binary_codes" -> QuerySpec(
      (s, dir) => Ann.binaryQuantize(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("id").as("vec_id"),
          element_at(col("words"), 1).as("w0"),
          element_at(col("words"), 2).as("w1"))
        .orderBy("vec_id"),
      s"""WITH $duckBinWords
         |SELECT vec_id, w0, w1 FROM bw ORDER BY vec_id""".stripMargin
    ),

    // ---- Hamming top-k over binary codes (the serving path) ------------
    // Distance = popcount(xor) over the packed words; ranked by the
    // bounded top-k aggregate with ascending-id ties — the corpus side
    // reads 8 bytes per 64-dim vector.
    "ann_hamming_topk" -> QuerySpec(
      (s, dir) => {
        val codes = Ann.binaryQuantize(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        Ann.hammingTopK(codes, codes.filter(col("id") < 10), d = 64, k = 5)
          .orderBy("query_id", "rank")
      },
      s"""WITH $duckBinWords,
         |r AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
         |    AS INTEGER) AS hamming,
         |  row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |    bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)),
         |    b.vec_id) AS rank
         |  FROM bw a JOIN bw b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |  hamming
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- binary-quantization quality: Hamming@5 vs exact cosine@5 ------
    // The quality dial the 32x memory win trades (same contract as
    // ann_quantized_recall / ann_pq_recall).
    "ann_hamming_recall" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val codes = Ann.binaryQuantize(emb, "vec_id", "embedding")
        Ann.recallEval(
            Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
              "vec_id", "embedding", 5),
            Ann.hammingTopK(codes, codes.filter(col("id") < 10), 64, 5), 5)
          .orderBy("query_id")
      },
      s"""WITH $duckBinWords,
         |ex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      $duckCosine DESC, b.vec_id) AS rank
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rank <= 5),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)),
         |      b.vec_id) AS rank
         |  FROM bw a JOIN bw b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5)
         |SELECT ex.query_id,
         |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / 5.0, 4) AS recall
         |FROM ex LEFT JOIN ap USING (query_id, neighbor_id)
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
    ),

    // ---- PQ: per-subspace k-means codes (4 subspaces × 8 centroids) ----
    // The full code matrix hash-matches: training means are DECIMAL-
    // exact, assignment distances fold in element order on both engines.
    "emb_pq_codes" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = Ann.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 8)
        Ann.pqEncode(emb, "vec_id", "embedding", books)
          .select(col("id").as("vec_id"),
            array_join(col("codes"), " ").as("codes"))
          .orderBy("vec_id")
      },
      s"""WITH ${duckPqCtes(4, 8, 64)}
         |SELECT b.id AS vec_id,
         |  concat_ws(' ', a3_0.c, a3_1.c, a3_2.c, a3_3.c) AS codes
         |FROM base_0 b
         |JOIN a3_0 ON a3_0.id = b.id JOIN a3_1 ON a3_1.id = b.id
         |JOIN a3_2 ON a3_2.id = b.id JOIN a3_3 ON a3_3.id = b.id
         |ORDER BY vec_id""".stripMargin
    ),

    // ---- PQ: asymmetric-distance top-k (ADC) ---------------------------
    // LUT = exact subvector-to-centroid L2 per query (c2_s books); corpus
    // cost is 4 lookups + 3 adds per vector; the sum order t0+t1+t2+t3 is
    // pinned on both sides.
    "ann_pq_adc" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          books = pqBooksFixture(s, dir), k = 8, topK = 5)
          .orderBy("query_id", "rank")
      },
      {
        val sub = 16
        val luts = (0 until 4).map { sp =>
          val lo = sp * sub + 1
          s"""ld_$sp AS (
             |  SELECT q.query_id, cc.c,
             |    list_reduce(list_transform(range(1, $sub+1),
             |      i -> ((q.qv)[$lo+i-1]-cc.center[i])*((q.qv)[$lo+i-1]-cc.center[i])),
             |      (a, x) -> a + x) AS t
             |  FROM q CROSS JOIN c2_$sp cc)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckPqCtes(4, 8, 64)},
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |$luts,
           |sc AS (
           |  SELECT d0.query_id, e0.id AS neighbor_id,
           |    d0.t + d1.t + d2.t + d3.t AS dist
           |  FROM a3_0 e0
           |  JOIN a3_1 e1 ON e1.id = e0.id
           |  JOIN a3_2 e2 ON e2.id = e0.id
           |  JOIN a3_3 e3 ON e3.id = e0.id
           |  JOIN ld_0 d0 ON d0.c = e0.c
           |  JOIN ld_1 d1 ON d1.query_id = d0.query_id AND d1.c = e1.c
           |  JOIN ld_2 d2 ON d2.query_id = d0.query_id AND d2.c = e2.c
           |  JOIN ld_3 d3 ON d3.query_id = d0.query_id AND d3.c = e3.c
           |  WHERE e0.id <> d0.query_id),
           |r AS (SELECT *, row_number() OVER (
           |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM sc)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
           |  round(dist, 4) AS dist
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- IVF-PQ: coarse inverted lists pruned, PQ/ADC ranked -----------
    // The production index layout (FAISS IVFx,PQy with by_residual=false):
    // same coarse quantizer as ann_ivf_probe (a3/c2), same codes as
    // emb_pq_codes (a3_s/c2_s), candidates restricted to the 3 probed
    // lists before the ADC sum.
    "ann_ivfpq_adc" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.ivfPqSearch(ivfPqFixture(s, dir, byResidual = false),
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            nprobe = 3, topK = 5)
          .orderBy("query_id", "rank")
      },
      {
        val sub = 16
        val luts = (0 until 4).map { sp =>
          val lo = sp * sub + 1
          s"""ld_$sp AS (
             |  SELECT q.query_id, cc.c,
             |    list_reduce(list_transform(range(1, $sub+1),
             |      i -> ((q.qv)[$lo+i-1]-cc.center[i])*((q.qv)[$lo+i-1]-cc.center[i])),
             |      (a, x) -> a + x) AS t
             |  FROM q CROSS JOIN c2_$sp cc)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckIvfCtes(8)},
           |cent AS (SELECT c, center FROM c2),
           |${duckPqCtes(4, 8, 64)},
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |qd AS (
           |  SELECT query_id, c,
           |    list_dot_product(qv, qv) + list_dot_product(center, center)
           |      - 2*list_dot_product(qv, center) AS dist
           |  FROM q CROSS JOIN cent),
           |probes AS (SELECT query_id, c FROM (
           |  SELECT query_id, c, row_number() OVER (
           |    PARTITION BY query_id ORDER BY dist, c) AS rn
           |  FROM qd) WHERE rn <= 3),
           |$luts,
           |sc AS (
           |  SELECT p.query_id, li.id AS neighbor_id,
           |    d0.t + d1.t + d2.t + d3.t AS dist
           |  FROM a3 li
           |  JOIN probes p ON li.c = p.c
           |  JOIN a3_0 e0 ON e0.id = li.id
           |  JOIN a3_1 e1 ON e1.id = li.id
           |  JOIN a3_2 e2 ON e2.id = li.id
           |  JOIN a3_3 e3 ON e3.id = li.id
           |  JOIN ld_0 d0 ON d0.query_id = p.query_id AND d0.c = e0.c
           |  JOIN ld_1 d1 ON d1.query_id = p.query_id AND d1.c = e1.c
           |  JOIN ld_2 d2 ON d2.query_id = p.query_id AND d2.c = e2.c
           |  JOIN ld_3 d3 ON d3.query_id = p.query_id AND d3.c = e3.c
           |  WHERE li.id <> p.query_id),
           |r AS (SELECT *, row_number() OVER (
           |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM sc)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
           |  round(dist, 4) AS dist
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- IVF-PQ with residual encoding (the FAISS default) -------------
    // PQ trains on displacements from the assigned coarse centroid;
    // query LUTs are per (query, probed list) — the query displaces
    // against EACH probed centroid before the table build.
    "ann_ivfpq_residual" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.ivfPqSearch(ivfPqFixture(s, dir, byResidual = true),
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            nprobe = 3, topK = 5)
          .orderBy("query_id", "rank")
      },
      {
        val sub = 16
        val luts = (0 until 4).map { sp =>
          val lo = sp * sub + 1
          s"""ld_$sp AS (
             |  SELECT r.query_id, r.c AS pc, cc.c,
             |    list_reduce(list_transform(range(1, $sub+1),
             |      i -> ((r.rv)[$lo+i-1]-cc.center[i])*((r.rv)[$lo+i-1]-cc.center[i])),
             |      (a, x) -> a + x) AS t
             |  FROM rq r CROSS JOIN c2_$sp cc)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckIvfCtes(8)},
           |cent AS (SELECT c, center FROM c2),
           |resid AS (
           |  SELECT b.id, list_transform(range(1, len(b.v)+1),
           |    i -> b.v[i] - cc.center[i]) AS fv
           |  FROM base b JOIN a3 ON a3.id = b.id JOIN cent cc ON cc.c = a3.c),
           |${duckPqCtes(4, 8, 64, srcTable = "resid", srcId = "id", srcVec = "fv")},
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |qd AS (
           |  SELECT query_id, c,
           |    list_dot_product(qv, qv) + list_dot_product(center, center)
           |      - 2*list_dot_product(qv, center) AS dist
           |  FROM q CROSS JOIN cent),
           |probes AS (SELECT query_id, c FROM (
           |  SELECT query_id, c, row_number() OVER (
           |    PARTITION BY query_id ORDER BY dist, c) AS rn
           |  FROM qd) WHERE rn <= 3),
           |rq AS (
           |  SELECT p.query_id, p.c, list_transform(range(1, len(q.qv)+1),
           |    i -> q.qv[i] - cc.center[i]) AS rv
           |  FROM probes p JOIN q ON q.query_id = p.query_id
           |  JOIN cent cc ON cc.c = p.c),
           |$luts,
           |sc AS (
           |  SELECT p.query_id, li.id AS neighbor_id,
           |    d0.t + d1.t + d2.t + d3.t AS dist
           |  FROM a3 li
           |  JOIN probes p ON li.c = p.c
           |  JOIN a3_0 e0 ON e0.id = li.id
           |  JOIN a3_1 e1 ON e1.id = li.id
           |  JOIN a3_2 e2 ON e2.id = li.id
           |  JOIN a3_3 e3 ON e3.id = li.id
           |  JOIN ld_0 d0 ON d0.query_id = p.query_id AND d0.pc = p.c AND d0.c = e0.c
           |  JOIN ld_1 d1 ON d1.query_id = p.query_id AND d1.pc = p.c AND d1.c = e1.c
           |  JOIN ld_2 d2 ON d2.query_id = p.query_id AND d2.pc = p.c AND d2.c = e2.c
           |  JOIN ld_3 d3 ON d3.query_id = p.query_id AND d3.pc = p.c AND d3.c = e3.c
           |  WHERE li.id <> p.query_id),
           |r AS (SELECT *, row_number() OVER (
           |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM sc)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
           |  round(dist, 4) AS dist
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- PQ: recall of ADC top-5 vs exact squared-L2 top-5 -------------
    // The quality dial the memory win trades away — both rankers
    // replicated in SQL (exact side = full-vector fold-order L2).
    "ann_pq_recall" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val qv = q.select(col("vec_id").cast("long").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
        val base = emb.select(col("vec_id").cast("long").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        val exact = base.join(broadcast(qv), col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            graft.functions.Fns.l2Dist(col("qv"), col("cv")).as("dist"))
          .groupBy("query_id")
          .agg(graft.functions.Fns.topKByScore(-col("dist"),
            col("neighbor_id"), 5).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
          .select(col("query_id"), col("t.id").as("neighbor_id"))
        Ann.recallEval(exact,
            Ann.pqTopK(emb, q, "vec_id", "embedding",
              books = pqBooksFixture(s, dir), k = 8, topK = 5),
            5)
          .orderBy("query_id")
      },
      {
        val sub = 16
        val luts = (0 until 4).map { sp =>
          val lo = sp * sub + 1
          s"""ld_$sp AS (
             |  SELECT q.query_id, cc.c,
             |    list_reduce(list_transform(range(1, $sub+1),
             |      i -> ((q.qv)[$lo+i-1]-cc.center[i])*((q.qv)[$lo+i-1]-cc.center[i])),
             |      (a, x) -> a + x) AS t
             |  FROM q CROSS JOIN c2_$sp cc)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckPqCtes(4, 8, 64)},
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |$luts,
           |sc AS (
           |  SELECT d0.query_id, e0.id AS neighbor_id,
           |    d0.t + d1.t + d2.t + d3.t AS dist
           |  FROM a3_0 e0
           |  JOIN a3_1 e1 ON e1.id = e0.id
           |  JOIN a3_2 e2 ON e2.id = e0.id
           |  JOIN a3_3 e3 ON e3.id = e0.id
           |  JOIN ld_0 d0 ON d0.c = e0.c
           |  JOIN ld_1 d1 ON d1.query_id = d0.query_id AND d1.c = e1.c
           |  JOIN ld_2 d2 ON d2.query_id = d0.query_id AND d2.c = e2.c
           |  JOIN ld_3 d3 ON d3.query_id = d0.query_id AND d3.c = e3.c
           |  WHERE e0.id <> d0.query_id),
           |ap AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM sc)
           |  WHERE rank <= 5),
           |exd AS (
           |  SELECT q.query_id, b.vec_id AS neighbor_id,
           |    list_reduce(list_transform(range(1, 65),
           |      i -> ((q.qv)[i]-(b.embedding::DOUBLE[])[i])
           |         * ((q.qv)[i]-(b.embedding::DOUBLE[])[i])),
           |      (a, x) -> a + x) AS dist
           |  FROM q JOIN embeddings b ON b.vec_id <> q.query_id),
           |ex AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank FROM exd)
           |  WHERE rank <= 5)
           |SELECT ex.query_id,
           |  CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hits,
           |  round(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           |    / 5.0, 4) AS recall
           |FROM ex LEFT JOIN ap USING (query_id, neighbor_id)
           |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
      }
    ),

    // ---- deterministic train/val/test split (hash-of-key, no RNG) ------
    "sp_hash_split" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.hashSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").cast("long").as("id_checksum"))
          .orderBy("split")
      },
      s"""WITH h AS (
         |  SELECT doc_id,
         |    (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911 + 2654435761)
         |      % 1000000007)*1.0/1000000007 AS u
         |  FROM documents)
         |SELECT CASE WHEN u < 0.8 THEN 'train'
         |            WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
    ),

    // ---- per-stratum deterministic sampling ----------------------------
    "sp_stratified_sample" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.stratifiedSample(docs, "doc_id", "lang",
          Map("en" -> 0.5), defaultRate = 0.2)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").cast("long").as("id_checksum"))
          .orderBy("lang")
      },
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911 + 2654435761)
         |      % 1000000007)*1.0/1000000007 AS u
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM h WHERE u < (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END)
         |GROUP BY lang ORDER BY lang""".stripMargin
    ),

    // ---- transitive near-dup clusters (pairs → connected components) ---
    "dd_dup_clusters" -> QuerySpec(
      (s, dir) => {
        val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
        Dedup.nearDupClusters(pairs)
          .select(col("node").as("doc_id"), col("component").as("cluster"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE ${duckMinhashCtes()},
         |np AS (
         |  SELECT j.id_a AS a, j.id_b AS b
         |  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |  WHERE j.jaccard >= 0.8),
         |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
         |comp(node, label) AS (
         |  SELECT DISTINCT a AS node, a AS label FROM edges
         |  UNION
         |  SELECT e.a, c.label FROM edges e JOIN comp c ON c.node = e.b)
         |SELECT node AS doc_id, min(label) AS cluster
         |FROM comp GROUP BY node ORDER BY doc_id""".stripMargin
    ),

    // ---- near-dup canonical selection: keep best per cluster ------------
    // The "so what" of near-dup detection: for every MinHash cluster keep
    // ONE canonical document (longest text, ties doc_id-ascending) via the
    // map-side-combined min(struct) winner shape — never a window sort
    // over members. Output also carries member count for removal
    // accounting.
    "dd_neardup_keep_best" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
        val members = Dedup.nearDupClusters(pairs)
          .join(docs.select(col("doc_id"), col("n_chars")),
            col("node") === col("doc_id"))
          .select(col("component").as("cluster"), col("doc_id"), col("n_chars"))
        Dedup.keepBestPerKey(members, Seq("cluster"),
          Seq(-col("n_chars"), col("doc_id")), Seq("doc_id", "n_chars"),
          countAs = Some("n_members"))
          .withColumnRenamed("doc_id", "keep_id")
          .select("cluster", "keep_id", "n_chars", "n_members")
          .orderBy("cluster")
      },
      s"""WITH RECURSIVE ${duckMinhashCtes()},
         |np AS (
         |  SELECT j.id_a AS a, j.id_b AS b
         |  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |  WHERE j.jaccard >= 0.8),
         |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
         |comp(node, label) AS (
         |  SELECT DISTINCT a AS node, a AS label FROM edges
         |  UNION
         |  SELECT e.a, c.label FROM edges e JOIN comp c ON c.node = e.b),
         |mem AS (
         |  SELECT cl.cluster, cl.node, d.n_chars FROM (
         |    SELECT node, min(label) AS cluster FROM comp GROUP BY node) cl
         |  JOIN documents d ON d.doc_id = cl.node),
         |sel AS (
         |  SELECT cluster, node AS keep_id, n_chars,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, node) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS n_members
         |  FROM mem)
         |SELECT cluster, keep_id, n_chars, CAST(n_members AS BIGINT) AS n_members
         |FROM sel WHERE rn = 1 ORDER BY cluster""".stripMargin
    ),

    // ---- leakage-safe split: hash the near-dup CLUSTER, not the doc ----
    // A plain doc-id hash split leaks near-duplicates across train/test
    // (sp_split_leakage measures exactly that); splitting on the cluster
    // representative (component label for clustered docs, own id for
    // singletons) makes cross-split near-dup leakage zero BY CONSTRUCTION.
    // Scale shape: the cluster map is the (small) LSH-pair component
    // output left-joined onto the corpus; the split itself stays the
    // stateless unitHash projection.
    "sp_cluster_split" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
        val clusters = Dedup.nearDupClusters(pairs)
        val withRep = docs.select(col("doc_id"))
          .join(clusters, col("doc_id") === col("node"), "left")
          .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("rep"))
        graft.operators.Sampling.hashSplit(withRep, "rep",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("rep").as("n_clusters"),
            sum("doc_id").cast("long").as("id_checksum"))
          .orderBy("split")
      },
      s"""WITH RECURSIVE ${duckMinhashCtes()},
         |np AS (
         |  SELECT j.id_a AS a, j.id_b AS b
         |  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
         |  WHERE j.jaccard >= 0.8),
         |edges AS (SELECT a, b FROM np UNION SELECT b AS a, a AS b FROM np),
         |comp(node, label) AS (
         |  SELECT DISTINCT a AS node, a AS label FROM edges
         |  UNION
         |  SELECT e.a, c.label FROM edges e JOIN comp c ON c.node = e.b),
         |cl AS (SELECT node, min(label) AS cluster FROM comp GROUP BY node),
         |r AS (
         |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN cl ON cl.node = d.doc_id),
         |h AS (
         |  SELECT doc_id, rep,
         |    (((${duckHash("CAST(rep AS VARCHAR)")})*1315423911 + 2654435761)
         |      % 1000000007)*1.0/1000000007 AS u
         |  FROM r)
         |SELECT CASE WHEN u < 0.8 THEN 'train'
         |            WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, count(DISTINCT rep) AS n_clusters,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
    ),

    // ---- sequence packing: docs → fixed-token-budget training sequences
    // ---- length-bucketed batch assembly ---------------------------------
    // The dynamic-batching padding report: within each source shard, docs
    // band by 16-token length bands, 16-doc batches form in (length, id)
    // order, and waste_ppm measures the padding a rectangular batch
    // tensor throws away. Windows partition on (source, band) — no
    // corpus-sized partitions.
    "sp_length_batching" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long"))
        graft.operators.Packing.lengthBatchedWaste(docs, "doc_id",
            "n_tokens", "source", bandWidth = 16L, batchSize = 16)
          .orderBy("source", "band")
      },
      s"""WITH d AS (
         |  SELECT doc_id, source, len($duckToks) AS nt FROM documents),
         |r AS (SELECT *, nt // 16 AS band,
         |    (row_number() OVER (PARTITION BY source, nt // 16
         |      ORDER BY nt, doc_id) - 1) // 16 AS batch
         |  FROM d),
         |b AS (SELECT source, band, batch, count(*) AS n, max(nt) AS mx,
         |    sum(nt) AS toks
         |  FROM r GROUP BY 1, 2, 3)
         |SELECT source, CAST(band AS BIGINT) AS band,
         |  count(*) AS n_batches, CAST(sum(n) AS BIGINT) AS n_docs,
         |  CAST(((sum(mx * n) - sum(toks)) * 1000000) // sum(mx * n)
         |    AS BIGINT) AS waste_ppm
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),

    "sp_sequence_packing" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
          .withColumn("bucket", (col("doc_id") % 8).cast("int"))
        graft.operators.Packing.packSequences(docs, "doc_id", "n_tokens", "bucket", 2000L)
          .groupBy("bucket", "seq")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("seq_tokens"))
          .orderBy("bucket", "seq")
      },
      s"""WITH d AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS bucket,
         |    len($duckToks) AS nt
         |  FROM documents),
         |c AS (
         |  SELECT *, coalesce(sum(nt) OVER (
         |    PARTITION BY bucket ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM d)
         |SELECT bucket, CAST(cum//2000 AS BIGINT) AS seq,
         |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS seq_tokens
         |FROM c GROUP BY bucket, seq ORDER BY bucket, seq""".stripMargin
    ),

    // ---- flagship curation pipeline: the end-to-end composition a
    // training-data run actually executes — quality gate → language gate →
    // exact prefix dedup → MinHash near-dup removal (keep-lowest-id) →
    // per-language corpus stats. Every stage is the REAL operator; the
    // oracle rebuilds the whole chain from the already-verified fragments.
    "pipeline_corpus_curation" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val gated = docs.filter(
          TextAnalysis.qualityScore(col("text")) >= 0.5 &&
            TextAnalysis.langId(col("text")) === "en")
        val exact = Dedup.exactFirstWins(
          gated.withColumn("pkey", Dedup.prefixKey(col("text"), 10)),
          Seq("pkey"), Seq("doc_id")).drop("pkey")
        val nearDupIds = Dedup.minhashLshPairs(exact, "doc_id", "text",
            n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
          .select(col("id_b").as("doc_id")).distinct()
        val survivors = exact.join(nearDupIds, Seq("doc_id"), "left_anti")
        survivors
          .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").cast("long").as("total_tokens"),
            round(avg("n_tokens"), 2).as("avg_tokens"))
          .orderBy("lang")
      },
      {
        val stop = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        val scoreCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          val in = ms.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(ts, t -> t IN ($in))) AS s_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
        s"""WITH metrics AS (
           |  SELECT doc_id, lang, text, $duckToks AS ts,
           |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
           |    length(regexp_replace(regexp_replace(text, '\\s', '', 'g'), '[a-zA-Z0-9]', '', 'g')) AS n_punct
           |  FROM documents),
           |scored AS (
           |  SELECT doc_id, lang, text, ts, $scoreCols,
           |    round((least(len(ts)/50.0, 1.0)
           |         + greatest(0.0, 1.0 - round(n_punct*1.0/greatest(n_nonspace,1), 4)*4)
           |         + least(round(len(list_filter(ts, t -> t IN ($stop)))*1.0/greatest(len(ts),1), 4)*5, 1.0)) / 3.0, 4) AS quality
           |  FROM metrics),
           |lang_best AS (SELECT *, $best AS best FROM scored),
           |gated AS (
           |  SELECT doc_id, lang, text, ts FROM lang_best
           |  WHERE quality >= 0.5 AND (CASE $cases ELSE 'und' END) = 'en'),
           |exact AS (
           |  SELECT doc_id, lang, text FROM (
           |    SELECT doc_id, lang, text, row_number() OVER (
           |      PARTITION BY array_to_string(ts[1:10], ' ') ORDER BY doc_id) AS rn
           |    FROM gated) WHERE rn = 1),
           |${duckMinhashCtes("exact")},
           |near AS (
           |  SELECT DISTINCT j.id_b AS doc_id
           |  FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
           |  WHERE j.jaccard >= 0.8),
           |surv AS (
           |  SELECT e.lang, len($duckToks) AS n_tokens
           |  FROM exact e
           |  WHERE e.doc_id NOT IN (SELECT doc_id FROM near))
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |  round(avg(n_tokens), 2) AS avg_tokens
           |FROM surv GROUP BY lang ORDER BY lang""".stripMargin
      }
    ),

    // ---- Gopher-style repetition quality signals -----------------------
    "tx_repetition" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.topTokenFraction(col("text")).as("top_word_frac"),
          TextAnalysis.dupNgramFraction(col("text"), 2).as("dup_2gram_frac"),
          TextAnalysis.dupNgramFraction(col("text"), 3).as("dup_3gram_frac"),
          TextAnalysis.repetitive(col("text")).as("repetitive"))
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |g AS (SELECT doc_id, ts,
         |  [array_to_string(ts[i:i+1],' ') for i in range(1, len(ts))] AS g2,
         |  [array_to_string(ts[i:i+2],' ') for i in range(1, len(ts)-1)] AS g3
         |  FROM toks),
         |m AS (SELECT doc_id,
         |  round(list_max(list_transform(list_distinct(ts),
         |    w -> len(list_filter(ts, t -> t = w))))*1.0/greatest(len(ts),1), 4)
         |    AS top_word_frac,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE round(1.0 - len(list_distinct(g2))*1.0/len(g2), 4) END
         |    AS dup_2gram_frac,
         |  CASE WHEN len(g3) = 0 THEN 0.0
         |       ELSE round(1.0 - len(list_distinct(g3))*1.0/len(g3), 4) END
         |    AS dup_3gram_frac
         |  FROM g)
         |SELECT doc_id, top_word_frac, dup_2gram_frac, dup_3gram_frac,
         |  (top_word_frac > 0.3 OR dup_2gram_frac > 0.3) AS repetitive
         |FROM m ORDER BY doc_id""".stripMargin
    ),

    // ---- PII redaction (emails / phones / IPv4) ------------------------
    // PII-bearing contact strings are synthesized deterministically from
    // customer keys (the slim TPC-H customer carries no free-text column),
    // then pushed through the REAL redaction operators; Spark and DuckDB
    // build byte-identical raw strings, so the oracle checks the regex
    // machinery itself.
    "tx_pii_redact" -> QuerySpec(
      (s, dir) => {
        val k = col("c_custkey")
        val email = concat(lower(col("c_mktsegment")), k.cast("string"),
          lit("@ex"), (k % 7).cast("string"), lit(".org"))
        val phone = concat(lit("555-"),
          lpad((k * 7 % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((k * 13 % 10000).cast("string"), 4, "0"))
        val ip = concat(lit("10."), (k % 256).cast("string"), lit("."),
          (k * 3 % 256).cast("string"), lit("."), (k * 7 % 100).cast("string"))
        val raw = concat_ws(" ", col("c_name"), lit("contact"), email,
          lit("call"), phone, lit("from"), ip, col("c_mktsegment"))
        t(s, dir, "customer").select(
          col("c_custkey"),
          TextAnalysis.redactPii(raw).as("redacted"),
          TextAnalysis.piiCount(raw, TextAnalysis.EmailRe).as("n_emails"),
          TextAnalysis.piiCount(raw, TextAnalysis.PhoneRe).as("n_phones"),
          TextAnalysis.piiCount(raw, TextAnalysis.Ipv4Re).as("n_ips"))
          .orderBy("c_custkey")
      },
      s"""WITH r AS (
         |  SELECT c_custkey, concat_ws(' ', c_name, 'contact',
         |    lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) || '@ex' ||
         |      CAST(c_custkey % 7 AS VARCHAR) || '.org',
         |    'call',
         |    '555-' || lpad(CAST(c_custkey*7 % 1000 AS VARCHAR), 3, '0') ||
         |      '-' || lpad(CAST(c_custkey*13 % 10000 AS VARCHAR), 4, '0'),
         |    'from',
         |    '10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
         |      CAST(c_custkey*3 % 256 AS VARCHAR) || '.' ||
         |      CAST(c_custkey*7 % 100 AS VARCHAR),
         |    c_mktsegment) AS raw
         |  FROM customer)
         |SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(raw,
         |    '[A-Za-z0-9][A-Za-z0-9.+_-]*@[A-Za-z0-9-]+\\.[A-Za-z0-9.]+',
         |    '<EMAIL>', 'g'),
         |    '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
         |    '<IP>', 'g') AS redacted,
         |  len(regexp_extract_all(raw,
         |    '[A-Za-z0-9][A-Za-z0-9.+_-]*@[A-Za-z0-9-]+\\.[A-Za-z0-9.]+'))
         |    AS n_emails,
         |  len(regexp_extract_all(raw, '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b'))
         |    AS n_phones,
         |  len(regexp_extract_all(raw,
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
         |    AS n_ips
         |FROM r ORDER BY c_custkey""".stripMargin
    ),

    // ---- benchmark-contamination n-gram overlap ------------------------
    "tx_contamination" -> QuerySpec(
      (s, dir) =>
        Contamination.ngramOverlapSplit(t(s, dir, "documents"),
          col("source") === "src0", "doc_id", "text", n = 5)
          .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, source, $duckToks AS ts FROM documents),
         |g AS (SELECT doc_id, source, unnest(list_distinct(
         |  [array_to_string(ts[i:i+4],' ') for i in range(1, len(ts)-3)])) AS s
         |  FROM toks),
         |gh AS (SELECT doc_id, source, ${duckHash("s")} AS h FROM g),
         |bench AS (SELECT DISTINCT h FROM gh WHERE source = 'src0'),
         |corp AS (SELECT doc_id, h FROM gh WHERE source <> 'src0'),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY 1),
         |con AS (SELECT doc_id, count(*) AS n_cont FROM corp
         |  WHERE h IN (SELECT h FROM bench) GROUP BY 1)
         |SELECT t.doc_id, t.n_grams,
         |  CAST(coalesce(c.n_cont, 0) AS BIGINT) AS n_contaminated,
         |  round(coalesce(c.n_cont, 0)*1.0/t.n_grams, 4) AS contamination_frac,
         |  coalesce(c.n_cont, 0) > 0 AS contaminated
         |FROM tot t LEFT JOIN con c ON t.doc_id = c.doc_id
         |ORDER BY t.doc_id""".stripMargin
    ),

    // ---- decontamination: corpus minus flagged docs --------------------
    "tx_decontaminate" -> QuerySpec(
      (s, dir) =>
        Contamination.decontaminate(t(s, dir, "documents"),
          col("source") === "src0", "doc_id", "text", n = 5, maxFrac = 0.05)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, source, $duckToks AS ts FROM documents),
         |g AS (SELECT doc_id, source, unnest(list_distinct(
         |  [array_to_string(ts[i:i+4],' ') for i in range(1, len(ts)-3)])) AS s
         |  FROM toks),
         |gh AS (SELECT doc_id, source, ${duckHash("s")} AS h FROM g),
         |bench AS (SELECT DISTINCT h FROM gh WHERE source = 'src0'),
         |corp AS (SELECT doc_id, h FROM gh WHERE source <> 'src0'),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY 1),
         |con AS (SELECT doc_id, count(*) AS n_cont FROM corp
         |  WHERE h IN (SELECT h FROM bench) GROUP BY 1),
         |flagged AS (
         |  SELECT t.doc_id FROM tot t LEFT JOIN con c ON t.doc_id = c.doc_id
         |  WHERE round(coalesce(c.n_cont, 0)*1.0/t.n_grams, 4) > 0.05)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.source <> 'src0'
         |  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
         |ORDER BY d.doc_id""".stripMargin
    ),

    // ---- C4-style duplicate-span removal (chunk dedup + reassembly) ----
    "dd_chunk_dedup" -> QuerySpec(
      (s, dir) =>
        Dedup.chunkDedup(t(s, dir, "documents"), "doc_id", "text", 10)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |ch AS (
         |  SELECT doc_id, CAST(u.ci AS INTEGER) AS ci, u.chunk AS chunk FROM (
         |    SELECT doc_id, unnest(
         |      [{'ci': i, 'chunk': array_to_string(ts[i*10+1 : i*10+10], ' ')}
         |       for i in range(0, CAST(ceil(len(ts)/10.0) AS BIGINT))]) AS u
         |    FROM toks WHERE len(ts) > 0)),
         |win AS (SELECT *, row_number() OVER (
         |  PARTITION BY chunk ORDER BY doc_id, ci) AS rn FROM ch),
         |kept AS (SELECT doc_id, ci, chunk FROM win WHERE rn = 1),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(chunk, ' ' ORDER BY ci) AS cleaned FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
         |SELECT t.doc_id, t.n_chunks,
         |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(r.cleaned, '') AS cleaned
         |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
         |ORDER BY t.doc_id""".stripMargin
    ),

    // ---- MLM masking (BERT 15% / 80-10-10, deterministic) ----------------
    // Every draw is the portable hash of (doc, pos, salt); the random-
    // token branch indexes the code-point-ordered vocab, which the
    // oracle rebuilds with row_number — masks, replacements, and the
    // loss-label channel all hash-gated. Restricted to doc_id % 7 = 0
    // to keep the oracle row bounded.
    "tx_mlm_masks" -> QuerySpec(
      (s, dir) =>
        graft.operators.TextAnalysis.mlmMask(
            t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
            "doc_id", "text", maskPct = 15)
          .select(col("doc").as("doc_id"), col("pos"), col("token"),
            col("out_token"), col("is_masked"), col("label"))
          .orderBy("doc_id", "pos"),
      s"""WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
         |tk AS (SELECT doc_id, unnest(range(len(ts))) AS pos, unnest(ts) AS token
         |  FROM (SELECT doc_id, $duckToks AS ts FROM src)),
         |tf AS (SELECT * FROM tk WHERE token <> ''),
         |voc AS (SELECT token AS vt,
         |  row_number() OVER (ORDER BY token) - 1 AS vid
         |  FROM (SELECT DISTINCT token FROM tf)),
         |vn AS (SELECT count(*) AS nv FROM voc),
         |d AS (SELECT doc_id, pos, token,
         |  (${duckHash("CAST(doc_id AS VARCHAR)||':'||CAST(pos AS VARCHAR)||':m'")}) % 100 < 15 AS masked,
         |  (${duckHash("CAST(doc_id AS VARCHAR)||':'||CAST(pos AS VARCHAR)||':t'")}) % 10 AS branch,
         |  (${duckHash("CAST(doc_id AS VARCHAR)||':'||CAST(pos AS VARCHAR)||':r'")}) AS rh
         |  FROM tf)
         |SELECT d.doc_id, CAST(d.pos AS INTEGER) AS pos, d.token,
         |  CASE WHEN NOT masked THEN d.token
         |    WHEN branch <= 7 THEN '[MASK]'
         |    WHEN branch = 8 THEN v.vt
         |    ELSE d.token END AS out_token,
         |  masked AS is_masked,
         |  CASE WHEN masked THEN d.token END AS label
         |FROM d CROSS JOIN vn LEFT JOIN voc v ON v.vid = d.rh % vn.nv
         |ORDER BY doc_id, pos""".stripMargin
    ),

    // ---- script detection (multilingual routing gate) -------------------
    // Code points bucketed into Unicode-block counts + a fixed-precedence
    // dominant-script argmax; injected Cyrillic/CJK/Arabic fixtures give
    // every branch coverage on the ASCII parquet corpus.
    "tx_script_detect" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val src = t(s, dir, "documents").select("doc_id", "text")
          .unionByName(Seq(
            (-11L, "это полностью русский текст без латиницы"),
            (-12L, "这是一段完全中文的文本内容"),
            (-13L, "هذا نص عربي بالكامل"),
            (-14L, "12345 67890 !!!"),
            (-15L, "mixed латиница and кириллица here"))
            .toDF("doc_id", "text"))
        graft.operators.TextAnalysis.scriptProfile(src, "doc_id", "text")
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id")
      },
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT -11, 'это полностью русский текст без латиницы'
        |  UNION ALL SELECT -12, '这是一段完全中文的文本内容'
        |  UNION ALL SELECT -13, 'هذا نص عربي بالكامل'
        |  UNION ALL SELECT -14, '12345 67890 !!!'
        |  UNION ALL SELECT -15, 'mixed латиница and кириллица here'),
        |cp AS (SELECT doc_id, unicode(c) AS u FROM (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM src)
        |  WHERE c <> ''),
        |cnt AS (SELECT doc_id,
        |  sum(CASE WHEN (u BETWEEN 65 AND 90) OR (u BETWEEN 97 AND 122)
        |    OR (u BETWEEN 192 AND 591) THEN 1 ELSE 0 END) AS n_latin,
        |  sum(CASE WHEN u BETWEEN 1024 AND 1279 THEN 1 ELSE 0 END) AS n_cyrillic,
        |  sum(CASE WHEN u BETWEEN 19968 AND 40959 THEN 1 ELSE 0 END) AS n_cjk,
        |  sum(CASE WHEN u BETWEEN 1536 AND 1791 THEN 1 ELSE 0 END) AS n_arabic,
        |  sum(CASE WHEN u BETWEEN 48 AND 57 THEN 1 ELSE 0 END) AS n_digit,
        |  sum(CASE WHEN u IN (32, 9, 10, 13) THEN 1 ELSE 0 END) AS n_space,
        |  sum(CASE WHEN NOT ((u BETWEEN 65 AND 90) OR (u BETWEEN 97 AND 122)
        |    OR (u BETWEEN 192 AND 591) OR (u BETWEEN 1024 AND 1279)
        |    OR (u BETWEEN 19968 AND 40959) OR (u BETWEEN 1536 AND 1791)
        |    OR (u BETWEEN 48 AND 57) OR u IN (32, 9, 10, 13))
        |    THEN 1 ELSE 0 END) AS n_other
        |  FROM cp GROUP BY doc_id),
        |fl AS (SELECT s.doc_id,
        |  CAST(coalesce(n_latin, 0) AS BIGINT) AS n_latin,
        |  CAST(coalesce(n_cyrillic, 0) AS BIGINT) AS n_cyrillic,
        |  CAST(coalesce(n_cjk, 0) AS BIGINT) AS n_cjk,
        |  CAST(coalesce(n_arabic, 0) AS BIGINT) AS n_arabic,
        |  CAST(coalesce(n_digit, 0) AS BIGINT) AS n_digit,
        |  CAST(coalesce(n_space, 0) AS BIGINT) AS n_space,
        |  CAST(coalesce(n_other, 0) AS BIGINT) AS n_other
        |  FROM src s LEFT JOIN cnt USING (doc_id))
        |SELECT *,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_cjk = 0
        |      AND n_arabic = 0 THEN 'none'
        |    WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
        |      AND n_latin >= n_arabic THEN 'latin'
        |    WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |    WHEN n_cjk >= n_arabic THEN 'cjk'
        |    ELSE 'arabic' END AS dominant
        |FROM fl ORDER BY doc_id""".stripMargin
    ),

    // ---- distinct-n diversity (generated-corpus quality metric) ---------
    // distinct-1/2/3 = |distinct n-grams| / |n-grams| per source — the Li
    // et al. 2016 diversity metric a synthetic-data pipeline gates on
    // (mode collapse shows as distinct-n cratering). Ratios in exact ppm.
    "tx_distinct_ngrams" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // unigram/bigram/trigram grams via the relational shingle shape
        // (lead windows per doc — the shingleIndex plan, grams kept
        // per-occurrence, not distinct, since the metric needs totals)
        import org.apache.spark.sql.expressions.Window
        val byDoc = Window.partitionBy("source", "__doc").orderBy("p")
        val toks2 = docs.select(col("source"), col("doc_id").as("__doc"),
            posexplode(Fns.tokens(col("text"))).as(Seq("p", "w")))
          .filter(col("w") =!= "")
        def gramsOf(n: Int) = {
          val parts = (0 until n).map(k =>
            if (k == 0) col("w") else lead("w", k).over(byDoc))
          toks2.withColumn("g",
              when(parts.last.isNotNull, concat_ws(" ", parts: _*)))
            .filter(col("g").isNotNull)
            .groupBy("source")
            .agg(count(lit(1)).as("total"), count_distinct(col("g")).as("uniq"))
            .select(col("source"), lit(n).as("n"), col("total"), col("uniq"),
              expr("(uniq * 1000000) div total").as("distinct_ppm"))
        }
        gramsOf(1).unionByName(gramsOf(2)).unionByName(gramsOf(3))
          .orderBy("source", "n")
      },
      s"""WITH tk AS (
         |  SELECT source, doc_id, unnest(range(len(ts))) AS p, unnest(ts) AS w
         |  FROM (SELECT source, doc_id, $duckToks AS ts FROM documents)),
         |tf AS (SELECT * FROM tk WHERE w <> ''),
         |g AS (SELECT source, n.n,
         |  CASE n.n WHEN 1 THEN w
         |    WHEN 2 THEN CASE WHEN lead(w, 1) OVER win IS NOT NULL
         |      THEN w || ' ' || lead(w, 1) OVER win END
         |    ELSE CASE WHEN lead(w, 2) OVER win IS NOT NULL
         |      THEN w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win END
         |  END AS gram
         |  FROM tf, (VALUES (1), (2), (3)) n(n)
         |  WINDOW win AS (PARTITION BY n.n, source, doc_id ORDER BY p))
         |SELECT source, CAST(n AS INTEGER) AS n,
         |  count(gram) AS total, count(DISTINCT gram) AS uniq,
         |  (count(DISTINCT gram) * 1000000) // count(gram) AS distinct_ppm
         |FROM g WHERE gram IS NOT NULL
         |GROUP BY source, n ORDER BY source, n""".stripMargin
    ),

    // ---- incremental near-dup gate (batch vs existing corpus) -----------
    // The ingest shape: new docs (doc_id < 100) checked against the
    // standing corpus (doc_id ≥ 100) via a band join against the
    // corpus's (prebuilt, in deployment) band table, exact-Jaccard
    // verified; survivors pass. Cross-set candidates only.
    "dd_incremental_neardup" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.incrementalNearDup(
            docs.filter(col("doc_id") < 100),
            docs.filter(col("doc_id") >= 100),
            "doc_id", "text",
            n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
          .select("doc_id")
          .orderBy("doc_id")
      },
      s"""WITH ${duckMinhashCtes()},
         |x AS (SELECT c.id_a, c.id_b, j.jaccard
         |  FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
         |  WHERE j.jaccard >= 0.8),
         |dup AS (SELECT id_a AS d FROM x WHERE id_a < 100 AND id_b >= 100
         |  UNION SELECT id_b FROM x WHERE id_b < 100 AND id_a >= 100)
         |SELECT doc_id FROM documents
         |WHERE doc_id < 100 AND doc_id NOT IN (SELECT d FROM dup)
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- content-defined chunking + dedup (shift-robust) ----------------
    // FastCDC/rsync gear-hash boundaries over tokens: chunk edges are a
    // function of CONTENT (rolling 4-token hash, mask 2^3), so a one-token
    // insertion early in a near-dup doc leaves all later chunks identical
    // and the first-wins pass removes them — what fixed-width chunking
    // (dd_chunk_dedup) structurally cannot do.
    "dd_cdc_chunks" -> QuerySpec(
      (s, dir) =>
        Dedup.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text",
            window = 4, maskBits = 3)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH tk AS (
         |  SELECT doc_id AS doc, unnest(range(len(ts))) AS p, unnest(ts) AS w0
         |  FROM (SELECT doc_id, $duckToks AS ts FROM documents)),
         |tf AS (SELECT doc, p, w0, ${duckHash("w0")} AS h FROM tk WHERE w0 <> ''),
         |g AS (SELECT doc, p, w0,
         |  (h + 31*lag(h, 1, 0) OVER w + 961*lag(h, 2, 0) OVER w
         |     + 29791*lag(h, 3, 0) OVER w) % 1000000007 AS gear
         |  FROM tf WINDOW w AS (PARTITION BY doc ORDER BY p)),
         |f AS (SELECT doc, p, w0,
         |  CASE WHEN gear % 8 = 0 THEN 1 ELSE 0 END AS b FROM g),
         |ci AS (SELECT doc, p, w0,
         |  coalesce(sum(b) OVER (PARTITION BY doc ORDER BY p
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
         |  FROM f),
         |ch AS (SELECT doc, ci, string_agg(w0, ' ' ORDER BY p) AS chunk
         |  FROM ci GROUP BY doc, ci),
         |win AS (SELECT *, row_number() OVER (
         |  PARTITION BY chunk ORDER BY doc, ci) AS rn FROM ch),
         |kept AS (SELECT doc, ci, chunk FROM win WHERE rn = 1),
         |reb AS (SELECT doc, count(*) AS n_kept,
         |  string_agg(chunk, ' ' ORDER BY ci) AS cleaned FROM kept GROUP BY doc),
         |tot AS (SELECT doc, count(*) AS n_chunks FROM ch GROUP BY doc)
         |SELECT t.doc AS doc_id, t.n_chunks,
         |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(r.cleaned, '') AS cleaned
         |FROM tot t LEFT JOIN reb r ON t.doc = r.doc
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- keep-best-per-key dedup (longest doc per source+lang) ---------
    "dd_keep_best_source" -> QuerySpec(
      (s, dir) =>
        Dedup.keepBestPerKey(t(s, dir, "documents"),
          keyCols = Seq("source", "lang"),
          rankCols = Seq(-col("n_chars"), col("doc_id")),
          payloadCols = Seq("doc_id", "n_chars"))
          .orderBy("source", "lang"),
      s"""SELECT source, lang, doc_id, n_chars FROM (
         |  SELECT source, lang, doc_id, n_chars, row_number() OVER (
         |    PARTITION BY source, lang ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents) WHERE rn = 1 ORDER BY source, lang""".stripMargin
    ),

    // ---- Gopher quality rule battery -----------------------------------
    "tx_gopher_quality" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          TextAnalysis.meanWordLength(col("text")).as("mean_word_len"),
          TextAnalysis.alphaWordFraction(col("text")).as("alpha_frac"),
          TextAnalysis.gopherPass(col("text")).as("gopher_pass"))
          .orderBy("doc_id"),
      {
        val stop = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        s"""WITH m AS (
           |  SELECT doc_id, $duckToks AS ts,
           |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
           |    length(regexp_replace(regexp_replace(text, '\\s', '', 'g'),
           |      '[a-zA-Z0-9]', '', 'g')) AS n_punct
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, len(ts) AS n_words,
           |    round(list_reduce(list_transform(ts, w -> len(w)), (a, b) -> a + b)
           |      * 1.0 / greatest(len(ts), 1), 4) AS mean_word_len,
           |    round(len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
           |      * 1.0 / greatest(len(ts), 1), 4) AS alpha_frac,
           |    round(n_punct * 1.0 / greatest(n_nonspace, 1), 4) AS punct_ratio,
           |    len(list_filter(ts, t -> t IN ($stop))) AS stop_hits
           |  FROM m)
           |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len,
           |  alpha_frac,
           |  (n_words BETWEEN 50 AND 100000
           |    AND mean_word_len BETWEEN 3.0 AND 10.0
           |    AND punct_ratio < 0.1 AND alpha_frac > 0.8
           |    AND stop_hits >= 2) AS gopher_pass
           |FROM r ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- deterministic global training-order shuffle -------------------
    "sp_global_shuffle" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.globalShuffle(
          t(s, dir, "documents").select("doc_id"), "doc_id", seed = 42L)
          .select("doc_id", "pos")
          .orderBy("doc_id"),
      s"""SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY md5('42' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
         |FROM documents ORDER BY doc_id""".stripMargin
    ),

    // ---- k-NN self-join (similarity graph over the whole corpus) -------
    "ann_knn_join" -> QuerySpec(
      (s, dir) =>
        Ann.knnJoin(t(s, dir, "embeddings"), "vec_id", "embedding",
          numPlanes = 6, k = 2)
          .orderBy("query_id", "rank"),
      s"""WITH dims AS (
         |  SELECT vec_id AS vid, unnest(range(len(embedding))) AS d,
         |    unnest(embedding::DOUBLE[]) AS x
         |  FROM embeddings),
         |proj AS (
         |  SELECT vid, p.p AS p,
         |    sum(CASE WHEN ((p.p*1315423911 + d*2654435761) % 1000000007) % 2 = 0
         |        THEN x ELSE -x END) AS sv
         |  FROM dims, range(6) p(p) GROUP BY vid, p.p),
         |buck AS (SELECT vid, string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM proj GROUP BY vid),
         |sc AS (
         |  SELECT qa.vid AS query_id, cb.vid AS neighbor_id, $duckCosine AS cos
         |  FROM buck qa JOIN buck cb ON qa.bucket = cb.bucket AND cb.vid <> qa.vid
         |  JOIN embeddings a ON a.vec_id = qa.vid
         |  JOIN embeddings b ON b.vec_id = cb.vid),
         |r AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(cos, 4) AS cos
         |FROM r WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- NN-descent k-NN graph (graph-based ANN build primitive) --------
    // Dong et al. 2011: deterministic ring init, then 2 rounds of
    // "neighbor-of-neighbor" candidate generation (edges ∪ reverses ∪
    // two-hop), exact scoring, per-node top-k. The oracle unrolls both
    // rounds; every comparison is over the same IEEE cosine fold.
    "ann_nndescent" -> QuerySpec(
      (s, dir) =>
        Ann.nnDescent(t(s, dir, "embeddings"), "vec_id", "embedding",
            k = 4, iters = 2)
          .orderBy("query_id", "rank"),
      {
        def round(r: Int) =
          s"""g$r AS (SELECT src, dst FROM e${r - 1}
             |  UNION ALL SELECT dst, src FROM e${r - 1}
             |  UNION ALL SELECT x.src, y.dst FROM e${r - 1} x
             |    JOIN e${r - 1} y ON x.dst = y.src),
             |c$r AS (SELECT DISTINCT src, dst FROM g$r WHERE src <> dst),
             |s$r AS (SELECT c.src, c.dst, $duckCosine AS cos
             |  FROM c$r c JOIN embeddings a ON a.vec_id = c.src
             |    JOIN embeddings b ON b.vec_id = c.dst),
             |e$r AS MATERIALIZED (SELECT src, dst FROM (
             |  SELECT src, dst, row_number() OVER (
             |    PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM s$r)
             |  WHERE rn <= 4)""".stripMargin
        s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
           |e0 AS MATERIALIZED (
           |  SELECT a.vec_id AS src, CAST((a.vec_id + j.j) % nn.n AS BIGINT) AS dst
           |  FROM embeddings a, range(1, 5) j(j), nn
           |  WHERE (a.vec_id + j.j) % nn.n <> a.vec_id),
           |${round(1)},
           |${round(2)},
           |sf AS (SELECT c.src, c.dst, $duckCosine AS cos
           |  FROM e2 c JOIN embeddings a ON a.vec_id = c.src
           |    JOIN embeddings b ON b.vec_id = c.dst)
           |SELECT src AS query_id,
           |  CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst)
           |    AS INTEGER) AS rank,
           |  dst AS neighbor_id, round(cos, 4) AS cos
           |FROM sf ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- vocabulary building: top-k tokens (tokenizer-training input) --
    "tx_vocab_topk" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.topTokens(t(s, dir, "documents"), "text", 100),
      s"""SELECT token, count(*) AS cnt FROM (
         |  SELECT unnest($duckToks) AS token FROM documents)
         |WHERE token <> ''
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin
    ),

    // ---- BPE merge candidates: top-k adjacent token pairs --------------
    "tx_bpe_pairs" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.topPairs(t(s, dir, "documents"), "doc_id", "text", 50),
      s"""SELECT pair, count(*) AS cnt FROM (
         |  SELECT unnest(
         |    [array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]) AS pair
         |  FROM (SELECT $duckToks AS ts FROM documents))
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin
    ),

    // ---- streaming near-dup's batch replica (first-claimant rule) -------
    // The batch dual of StreamingCuration.nearDupDocumentStream: a doc is
    // kept iff it is the earliest claimant of EVERY one of its MinHash-LSH
    // band buckets (event-time = doc_id here). StreamingSpec proves the
    // stream emits exactly this set on a common corpus; this row gates
    // the replica's semantics against the oracle.
    "dd_stream_neardup_batch" -> QuerySpec(
      (s, dir) =>
        graft.streaming.StreamingCuration.nearDupBatchReplica(
            t(s, dir, "documents").withColumn("__et", col("doc_id")),
            "__et", n = 3, numHashes = 8, bandSize = 2)
          .orderBy("doc_id"),
      {
        val sigs = (0 until 8).map(i =>
          s"min(${duckPermute("h", i)}) AS s$i").mkString(", ")
        val bands = (0 until 4).map(b =>
          s"'$b|'||s${2 * b}||'|'||s${2 * b + 1}").mkString(", ")
        s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
           |sh AS (SELECT doc_id, unnest(
           |    [array_to_string(ts[i:i+2],' ') for i in range(1, len(ts)-1)]) AS s
           |  FROM toks),
           |hv AS (SELECT doc_id, ${duckHash("s")} AS h FROM sh),
           |sig AS (SELECT doc_id, $sigs FROM hv GROUP BY doc_id),
           |bk AS (SELECT doc_id, unnest([$bands]) AS bucket FROM sig),
           |first AS (SELECT bucket, min(doc_id) AS first_doc FROM bk GROUP BY bucket),
           |kept AS (SELECT bk.doc_id FROM bk JOIN first USING (bucket)
           |  GROUP BY bk.doc_id
           |  HAVING min(CASE WHEN bk.doc_id = first_doc THEN 1 ELSE 0 END) = 1)
           |SELECT doc_id FROM kept
           |UNION ALL SELECT doc_id FROM toks WHERE len(ts) < 3
           |ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- skip-gram pair generation (word2vec training prep) -------------
    // Deletion-subsampling (deterministic hash draw, the published
    // keep-probability formula) then (center, context) pairs from ONE
    // doc-partitioned lag/lead window over the compacted stream — no
    // self-join. The oracle replays the identical IEEE arithmetic.
    "tx_skipgram_pairs" -> QuerySpec(
      (s, dir) =>
        graft.operators.SkipGram.skipgramPairs(
            t(s, dir, "documents"), "doc_id", "text", window = 2)
          .orderBy("center", "context"),
      s"""WITH $duckSkipgramCtes
         |SELECT center, context, count(*) AS cnt FROM pr
         |WHERE context IS NOT NULL
         |GROUP BY 1, 2 ORDER BY center, context""".stripMargin
    ),

    // ---- deterministic negative DRAWS (full word2vec minibatch shape) ---
    // For every (center, context) pair type, numNeg=2 negatives drawn by
    // hashing into the slot table's cumulative ranges — the draw is a
    // broadcast binary search per row (vocabulary table is driver-
    // bounded); the oracle replays it as a range join over the windowed
    // cumulative sums.
    "tx_negative_draws" -> QuerySpec(
      (s, dir) =>
        graft.operators.SkipGram.negativeDraws(
            t(s, dir, "documents"), "doc_id", "text",
            window = 2, numNeg = 2, minCount = 5L)
          .orderBy("center", "context", "j"),
      s"""WITH $duckSkipgramCtes,
         |pairs AS (SELECT center, context FROM pr
         |  WHERE context IS NOT NULL GROUP BY 1, 2),
         |nc AS (SELECT token, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest($duckToks) AS token FROM documents)
         |  WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
         |nw AS (SELECT token,
         |  CAST(floor(sqrt(sqrt(CAST(cnt AS DOUBLE)*cnt*cnt))*1000) AS BIGINT) AS wi
         |  FROM nc),
         |tw AS (SELECT CAST(sum(wi) AS BIGINT) AS W FROM nw),
         |nt AS (SELECT token, CAST((wi * 1000000) // W AS BIGINT) AS slots
         |  FROM nw, tw),
         |cum AS (SELECT token, slots, CAST(sum(slots) OVER (ORDER BY token
         |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi FROM nt),
         |rng AS (SELECT token, hi - slots AS lo, hi FROM cum),
         |tots AS (SELECT CAST(sum(slots) AS BIGINT) AS s FROM nt),
         |dr AS (SELECT center, context, j.j AS j,
         |  (${duckHash("center||'|'||context||'|'||CAST(j.j AS VARCHAR)")}) % tots.s AS d
         |  FROM pairs, range(0, 2) j(j), tots)
         |SELECT d.center, d.context, CAST(d.j AS INTEGER) AS j,
         |  r.token AS neg_token
         |FROM dr d JOIN rng r ON d.d >= r.lo AND d.d < r.hi
         |ORDER BY center, context, j""".stripMargin
    ),

    // ---- GloVe distance-weighted co-occurrence ---------------------------
    // Context at distance d contributes 1/d, kept integer as ppm
    // (1e6 div d, summed — exact and order-independent). Full stream,
    // no subsampling (GloVe's contract), one doc-partitioned window.
    "tx_glove_cooc" -> QuerySpec(
      (s, dir) =>
        graft.operators.SkipGram.gloveCooccurrence(
            t(s, dir, "documents"), "doc_id", "text", window = 3)
          .orderBy("center", "context"),
      s"""WITH tok AS (SELECT doc_id AS doc, unnest(range(len(ts))) AS pos,
         |    unnest(ts) AS token
         |  FROM (SELECT doc_id, $duckToks AS ts FROM documents)),
         |tk AS (SELECT * FROM tok WHERE token <> ''),
         |win AS (SELECT token AS center,
         |  [{'c': lag(token,1) OVER w, 'wppm': 1000000},
         |   {'c': lead(token,1) OVER w, 'wppm': 1000000},
         |   {'c': lag(token,2) OVER w, 'wppm': 500000},
         |   {'c': lead(token,2) OVER w, 'wppm': 500000},
         |   {'c': lag(token,3) OVER w, 'wppm': 333333},
         |   {'c': lead(token,3) OVER w, 'wppm': 333333}] AS ctx
         |  FROM tk WINDOW w AS (PARTITION BY doc ORDER BY pos)),
         |pr AS (SELECT center, unnest(ctx) AS x FROM win)
         |SELECT center, x.c AS context, count(*) AS cnt,
         |  CAST(sum(x.wppm) AS BIGINT) AS weight_ppm
         |FROM pr WHERE x.c IS NOT NULL
         |GROUP BY 1, 2 ORDER BY center, context""".stripMargin
    ),

    // ---- fastText subword n-gram hashing ---------------------------------
    // Boundary-marked char n-grams (3..6) of each DISTINCT token, hashed
    // into 2000 subword buckets — vocabulary-grain, never per-occurrence.
    "tx_subword_ngrams" -> QuerySpec(
      (s, dir) =>
        graft.operators.SkipGram.subwordNgrams(
            t(s, dir, "documents"), "text", minN = 3, maxN = 6, buckets = 2000)
          .orderBy("token", "ng"),
      s"""WITH tok AS (SELECT DISTINCT unnest($duckToks) AS token
         |  FROM documents),
         |m AS (SELECT token, '<'||token||'>' AS mk FROM tok WHERE token <> ''),
         |g AS (SELECT token, unnest(flatten(
         |    [[mk[i:i+n-1] for i in range(1, length(mk)-n+2)]
         |     for n in range(3, 7)])) AS ng
         |  FROM m)
         |SELECT token, ng, ${duckHash("ng")} % 2000 AS bucket,
         |  count(*) AS cnt
         |FROM g GROUP BY 1, 2, 3 ORDER BY token, ng""".stripMargin
    ),

    // ---- log-histogram quantile sketch (DDSketch-class, integer-exact) --
    // Bounded-state mergeable quantiles: per event_type, the value-cents
    // stream folds into ≤64·16 log buckets (order-independent SUMS, so
    // partitioning-invariant — the property KLL-style compaction can't
    // give); p50/90/99 read off as the covering bucket's integer lower
    // bound. The oracle rebuilds the identical bucket ids relationally.
    "agg_log_quantiles" -> QuerySpec(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val ev = t(s, dir, "events").select(col("event_type"),
          floor(col("value") * 100).cast("long").as("v"))
        val sk = ev.groupBy("event_type")
          .agg(graft.functions.Fns.logHistogram(col("v"), 4).as("h"),
            count(col("v")).as("n"))
        val w = Window.partitionBy("event_type").orderBy("b")
        val cum = sk.select(col("event_type"), col("n"), explode(col("h")).as("e"))
          .select(col("event_type"), col("n"), col("e.b").as("b"),
            col("e.n").as("cnt"))
          .withColumn("cum", sum("cnt").over(w))
          .withColumn("prev", col("cum") - col("cnt"))
        cum.join(broadcast(Seq(50, 90, 99).toDF("q")),
            expr("prev < (q * n + 99) div 100 AND cum >= (q * n + 99) div 100"))
          .select(col("event_type"), col("q"), col("n"),
            when(col("b") === -1, lit(-1L))
              .when(col("b") < 32, col("b"))
              .otherwise(expr(
                "shiftleft(CAST(16 + (b - 32) % 16 AS BIGINT), CAST((b - 32) div 16 - 4 AS INT))"))
              .as("est"))
          .orderBy("event_type", "q")
      },
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |bk AS (SELECT event_type,
        |  CASE WHEN v < 0 THEN -1 WHEN v < 32 THEN v
        |    ELSE 32 + (length(bin(v)) - 1) * 16
        |      + ((v >> (length(bin(v)) - 1 - 4)) - 16) END AS b
        |  FROM ev),
        |h AS (SELECT event_type, b, count(*) AS cnt FROM bk GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1),
        |c AS (SELECT h.event_type, n.n, h.b, h.cnt,
        |  CAST(sum(h.cnt) OVER (PARTITION BY h.event_type ORDER BY h.b
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM h JOIN n USING (event_type)),
        |cc AS (SELECT *, cum - cnt AS prev FROM c)
        |SELECT event_type, q.q AS q, n,
        |  CAST(CASE WHEN b = -1 THEN -1 WHEN b < 32 THEN b
        |    ELSE (16 + (b - 32) % 16) << ((b - 32) // 16 - 4) END AS BIGINT) AS est
        |FROM cc, (VALUES (50), (90), (99)) q(q)
        |WHERE prev < (q.q * n + 99) // 100 AND cum >= (q.q * n + 99) // 100
        |ORDER BY event_type, q""".stripMargin
    ),

    // ---- hierarchical-softmax Huffman codes -------------------------------
    // word2vec's other training-prep half: Huffman code per vocab word
    // (leaves numbered by (cnt, token), queue merges two smallest by
    // (weight, id), smaller takes '0'). The oracle replays the exact
    // greedy merge sequence as ONE recursive CTE, then a second
    // recursion walks each leaf's parent chain to assemble the code.
    "tx_huffman_codes" -> QuerySpec(
      (s, dir) =>
        graft.operators.SkipGram.huffmanCodes(
            t(s, dir, "documents"), "text", minCount = 5L)
          .orderBy("token"),
      s"""WITH RECURSIVE c AS (
         |  SELECT token, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest($duckToks) AS token FROM documents)
         |  WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
         |lv AS MATERIALIZED (SELECT token, cnt,
         |  row_number() OVER (ORDER BY cnt, token) - 1 AS id FROM c),
         |vv AS (SELECT count(*) AS v FROM lv),
         |st AS (
         |  SELECT 0 AS it, 'q' AS kind, id, cnt AS w,
         |    NULL::BIGINT AS l, NULL::BIGINT AS r FROM lv
         |  UNION ALL
         |  (WITH prev AS (SELECT * FROM st),
         |   cur AS (SELECT max(it) AS it FROM prev),
         |   q AS (SELECT id, w, row_number() OVER (ORDER BY w, id) AS rn
         |     FROM prev WHERE kind = 'q'),
         |   nid AS (SELECT (SELECT v FROM vv) + (SELECT it FROM cur) AS nid),
         |   nq AS (
         |     SELECT (SELECT it + 1 FROM cur) AS it, 'q' AS kind, id, w,
         |       NULL::BIGINT AS l, NULL::BIGINT AS r FROM q WHERE rn > 2
         |     UNION ALL
         |     SELECT (SELECT it + 1 FROM cur), 'q', nid.nid,
         |       (SELECT w FROM q WHERE rn = 1) + (SELECT w FROM q WHERE rn = 2),
         |       NULL, NULL
         |     FROM nid),
         |   m AS (
         |     SELECT (SELECT it + 1 FROM cur) AS it, 'm' AS kind, nid.nid AS id,
         |       (SELECT w FROM q WHERE rn = 1) + (SELECT w FROM q WHERE rn = 2) AS w,
         |       (SELECT id FROM q WHERE rn = 1) AS l,
         |       (SELECT id FROM q WHERE rn = 2) AS r
         |     FROM nid)
         |   SELECT * FROM nq WHERE (SELECT count(*) FROM q) > 1
         |   UNION ALL SELECT * FROM m WHERE (SELECT count(*) FROM q) > 1
         |  )),
         |merges AS MATERIALIZED (SELECT id, l, r FROM st WHERE kind = 'm'),
         |par AS (SELECT l AS child, id AS parent, '0' AS bit FROM merges
         |  UNION ALL SELECT r, id, '1' FROM merges),
         |root AS (SELECT max(id) AS rid FROM merges),
         |walk AS (
         |  SELECT lv.id AS leaf, lv.token, lv.cnt, p.parent AS node,
         |    p.bit AS code
         |  FROM lv JOIN par p ON p.child = lv.id
         |  UNION ALL
         |  SELECT w.leaf, w.token, w.cnt, p.parent, p.bit || w.code
         |  FROM walk w JOIN par p ON p.child = w.node)
         |SELECT token, cnt, code, CAST(length(code) AS INTEGER) AS depth
         |FROM walk, root WHERE node = rid ORDER BY token""".stripMargin
    ),

    // ---- unigram^(3/4) negative-sampling table ---------------------------
    // The ¾ power as two exactly-rounded sqrts (libm pow is not
    // bit-portable; sqrt is), floored to integer weights so the
    // normalizing sum is exact integer addition — order-independent.
    "tx_negative_table" -> QuerySpec(
      (s, dir) =>
        graft.operators.SkipGram.negativeTable(
            t(s, dir, "documents"), "text", minCount = 5L)
          .orderBy("token"),
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM (
         |    SELECT unnest($duckToks) AS token FROM documents)
         |  WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
         |w AS (SELECT token, cnt,
         |  CAST(floor(sqrt(sqrt(CAST(cnt AS DOUBLE)*cnt*cnt))*1000) AS BIGINT) AS wi
         |  FROM c),
         |t AS (SELECT CAST(sum(wi) AS BIGINT) AS W FROM w)
         |SELECT token, cnt, CAST((wi * 1000000) // W AS BIGINT) AS neg_slots
         |FROM w, t ORDER BY token""".stripMargin
    ),

    // ---- BPE merge training: 8 rounds of top-pair merge -----------------
    // The oracle unrolls each (count pairs → argmax → apply merge) round
    // into chained CTEs; merge application is the same literal
    // double-space-delimited replace the Spark operator uses, so greedy
    // left-to-right semantics match by construction.
    "tx_bpe_train" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.bpeTrain(t(s, dir, "documents"), "text", 8)
          .orderBy("merge_rank"),
      duckBpeSql(8)
    ),

    // ---- BYTE-level BPE training (GPT-2-style byte alphabet) ------------
    // Merges learned over UTF-8 BYTES: tokens byte-map to the arithmetic
    // byte alphabet (Vocab.ByteCpBase) so non-Latin/emoji input has no
    // OOV symbol. Same merge loop/tie-breaks as tx_bpe_train; the oracle
    // replays the byte map as pure code-point arithmetic and the corpus
    // carries injected 2-/3-/4-byte UTF-8 fixtures.
    "tx_bbpe_train" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.bbpeTrain(
            bbpeSparkSrc(t(s, dir, "documents")), "text", 12)
          .orderBy("merge_rank"),
      duckBpeSql(12, bbpeDuckSrc, duckByteMap("token"))
    ),

    // ---- BYTE-level BPE encode (+ decode round-trip flag) ---------------
    // Train 12 byte-level merges, then encode every token: pieces are
    // byte symbols whose concatenation must equal the mapped token — the
    // encode→decode identity on arbitrary UTF-8 (the roundtrip column
    // asserts it row by row; byteUnmapString recovers the surface form).
    "tx_bbpe_encode" -> QuerySpec(
      (s, dir) => {
        val src = bbpeSparkSrc(t(s, dir, "documents"))
        val merges = graft.operators.Vocab.bbpeTrain(src, "text", 12)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bbpeEncode(src, "doc_id", "text", merges)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            col("mapped"),
            array_join(col("pieces"), " ").as("pieces"),
            size(col("pieces")).as("n_pieces"),
            (array_join(col("pieces"), "") === col("mapped")).as("roundtrip"))
          .orderBy("doc_id", "token_idx")
      },
      duckBbpeEncodeSql(12)
    ),

    // ---- BYTE-level BPE, INCREMENTAL driver tier (nMerges > 64) ---------
    // 200 merges cross the MaxJobPerMergeRounds dispatch into
    // bpeTrainIncremental over the BYTE alphabet — the production path
    // (GPT-2 ships 50k byte-level merges). Oracle: the same recursive
    // CTE as tx_bpe_train_large with the byte-map token expression.
    "tx_bbpe_train_large" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.bbpeTrain(
            bbpeSparkSrc(t(s, dir, "documents")), "text", 200)
          .orderBy("merge_rank"),
      duckBpeTrainRecursiveSql(200, bbpeDuckSrc, duckByteMap("token"))
    ),

    // ---- GPT-2 regex pre-tokenization (the byte-BPE fidelity gap) -------
    // Per-token parity of the pre-token stream itself: contraction
    // suffixes, leading-space attachment, the `\s+(?!\S)` interior-run
    // split (RE2-emulated with a sentinel — see duckPretokList), tabs,
    // digits, preserved case.
    "tx_bbpe_pretok" -> QuerySpec(
      (s, dir) =>
        pretokSparkSrc(t(s, dir, "documents"))
          .select(col("doc_id"),
            posexplode(graft.operators.Vocab.gpt2PreTokens(col("text")))
              .as(Seq("token_idx", "pretok")))
          .orderBy("doc_id", "token_idx"),
      s"""WITH p AS (SELECT doc_id, $duckPretokList AS ts FROM $pretokDuckSrc),
         |u AS (SELECT doc_id, unnest(range(len(ts))) AS token_idx,
         |  unnest(ts) AS pretok FROM p)
         |SELECT doc_id, CAST(token_idx AS INTEGER) AS token_idx, pretok
         |FROM u ORDER BY doc_id, token_idx""".stripMargin
    ),

    // ---- pre-token exact-partition identity ------------------------------
    // The alternation covers every character, so concatenating the
    // pre-tokens reconstructs the document byte-for-byte — the property
    // the whole-document encode round-trip leans on. Both engines assert
    // it per doc.
    "tx_bbpe_pretok_identity" -> QuerySpec(
      (s, dir) =>
        pretokSparkSrc(t(s, dir, "documents"))
          .select(col("doc_id"),
            graft.operators.Vocab.gpt2PreTokens(col("text")).as("ts"),
            col("text"))
          .select(col("doc_id"), size(col("ts")).as("n_pretoks"),
            (array_join(col("ts"), "") === col("text")).as("reconstructed"))
          .orderBy("doc_id"),
      s"""WITH p AS (SELECT doc_id, text, $duckPretokList AS ts
         |  FROM $pretokDuckSrc)
         |SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_pretoks,
         |  array_to_string(ts, '') = text AS reconstructed
         |FROM p ORDER BY doc_id""".stripMargin
    ),

    // ---- byte-BPE trained at pre-token grain -----------------------------
    // Merges never cross pre-token boundaries: on the contraction-heavy
    // fixture the whitespace-split trainer merges across the apostrophe
    // while this table cannot (Round13OpsSpec pins the difference); the
    // oracle replays the identical loop over the pre-token word types.
    "tx_bbpe_pretok_train" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.bbpeTrainPretok(
            pretokSparkSrc(t(s, dir, "documents")), "text", 12)
          .orderBy("merge_rank"),
      duckBpeSql(12, pretokDuckSrc, duckByteMap("token"), duckPretokList)
    ),

    // ---- byte-BPE encode at pre-token grain (+ round-trip flag) ----------
    "tx_bbpe_pretok_encode" -> QuerySpec(
      (s, dir) => {
        val src = pretokSparkSrc(t(s, dir, "documents"))
        val merges = graft.operators.Vocab.bbpeTrainPretok(src, "text", 12)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bbpeEncodePretok(src, "doc_id", "text", merges)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            col("mapped"),
            array_join(col("pieces"), " ").as("pieces"),
            size(col("pieces")).as("n_pieces"),
            (array_join(col("pieces"), "") === col("mapped")).as("roundtrip"))
          .orderBy("doc_id", "token_idx")
      },
      duckBbpeEncodeSql(12, pretokDuckSrc, duckPretokList)
    ),

    // ---- BPE training, INCREMENTAL driver tier (nMerges > 64) -----------
    // 500 merges provably cross the MaxJobPerMergeRounds dispatch into
    // bpeTrainIncremental (pair-delta driver loop). The oracle evaluates
    // the identical loop sequentially as ONE recursive CTE; the hash
    // fingerprint source keeps both engines' cost SF-invariant.
    "tx_bpe_train_large" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.bpeTrain(
            bpeLargeSparkSrc(t(s, dir, "documents")), "text", 500)
          .orderBy("merge_rank"),
      duckBpeTrainRecursiveSql(500, bpeLargeDuckSrc)
    ),

    // ---- WordPiece vocab TRAINING: likelihood-ratio merges --------------
    // Same loop shape as tx_bpe_train but the argmax criterion is
    // fp/(fl*fr) — the WordPiece objective. The score is a double of
    // exact integer counts, IEEE-identical across engines, so the full
    // 8-round merge table hash-matches.
    "tx_wordpiece_train" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.wordpieceTrain(t(s, dir, "documents"), "text", 8)
          .orderBy("merge_rank"),
      {
        val out = (1 to 8).map(r =>
          s"SELECT CAST($r AS INTEGER) AS merge_rank, l AS lhs, r2 AS rhs, merged, fp AS freq FROM b$r")
          .mkString("\nUNION ALL\n")
        s"""WITH ${duckWpCtes(8)}
           |SELECT * FROM (
           |$out
           |) ORDER BY merge_rank""".stripMargin
      }
    ),

    // ---- Unigram-LM vocab TRAINING (Kudo 2018, Viterbi hard-EM) ---------
    // Completes the tokenizer-training matrix (BPE frequency, WordPiece
    // likelihood-ratio, unigram-LM probabilistic). The oracle replays the
    // full loop — substring seed, two Viterbi EM rounds, count prune,
    // final recount — with per-word dp as a recursive CTE; every carried
    // quantity is an exact BIGINT, so the 60-piece vocab hash-matches.
    "tx_unigram_train" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.unigramTrain(t(s, dir, "documents"), "text",
          vocabSize = 60, seedSize = 200, maxPieceLen = 5, emIters = 2),
      duckUnigramTrainSql(60, 200, 5, 2, "documents")
    ),

    // ---- Unigram-LM ENCODE: Viterbi decoding under a fixed vocab --------
    // The inference half: max-probability segmentation per token. Oracle
    // segments token TYPES once and joins back to the positional stream.
    "tx_unigram_encode" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.unigramEncode(t(s, dir, "documents"),
            "doc_id", "text", unigramFixedVocab, maxPieceLen = 4)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("pieces"), " ").as("pieces"))
          .orderBy("doc_id", "token_idx"),
      duckUnigramEncodeSql(4)
    ),

    // ---- Unigram ids: Viterbi pieces → tensor-ready id stream -----------
    // unigramEncode output feeds the SAME piecesToIds projection the BPE
    // path uses (ids from rank order over the fixed vocab; [UNK] → -1).
    "tx_unigram_encode_ids" -> QuerySpec(
      (s, dir) => {
        val ordered = unigramFixedVocab.sortWith {
          case ((p1, c1), (p2, c2)) => if (c1 != c2) c1 > c2 else p1 < p2
        }.map(_._1)
        graft.operators.Vocab.piecesToIds(
            graft.operators.Vocab.unigramEncode(t(s, dir, "documents"),
              "doc_id", "text", unigramFixedVocab, maxPieceLen = 4),
            ordered)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("ids"), " ").as("ids"))
          .orderBy("doc_id", "token_idx")
      },
      duckUnigramEncodeIdsSql(4)
    ),

    // ---- Decode: ids → pieces → surface text, the round-trip gate -------
    // The full tensor path encode → piecesToIds → decodeIds; `roundtrip`
    // asserts decoded = token for every covered token ([UNK] stays a
    // sentinel). The oracle maps ids back through the SAME vid rank table
    // (piece → id → piece), so an id-assignment bug cannot cancel out.
    "tx_ids_decode_roundtrip" -> QuerySpec(
      (s, dir) => {
        val ordered = unigramFixedVocab.sortWith {
          case ((p1, c1), (p2, c2)) => if (c1 != c2) c1 > c2 else p1 < p2
        }.map(_._1)
        graft.operators.Vocab.decodeIds(
            graft.operators.Vocab.piecesToIds(
              graft.operators.Vocab.unigramEncode(t(s, dir, "documents"),
                "doc_id", "text", unigramFixedVocab, maxPieceLen = 4),
              ordered),
            ordered)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("pieces"), " ").as("pieces"), col("decoded"),
            (col("decoded") === col("token")).as("roundtrip"))
          .orderBy("doc_id", "token_idx")
      },
      duckIdsDecodeSql(4)
    ),

    // ---- BPE encode: apply the learned merges to the corpus -------------
    // Train (driver-bounded merge table) then tokenize: the encode side
    // folds all 8 merges into ONE composed projection over the exploded
    // token stream — zero shuffles/joins; the plan-shape lock pins it.
    "tx_bpe_encode" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Vocab.bpeTrain(docs, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bpeEncode(docs, "doc_id", "text", merges)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("pieces"), " ").as("pieces"),
            size(col("pieces")).as("n_pieces"))
          .orderBy("doc_id", "token_idx")
      },
      duckBpeEncodeSql(8)
    ),

    // ---- BPE-dropout encode (subword regularization) --------------------
    // Each merge skipped per (token, rank) with p=0.3 via the
    // deterministic portable hash — the oracle replays the identical
    // conditional replace chain; roundtrip (concat pieces == token)
    // holds for EVERY sampled segmentation.
    "tx_bpe_dropout" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Vocab.bpeTrain(docs, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bpeEncodeDropout(docs, "doc_id", "text",
            merges, dropPpm = 300000L)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("pieces"), " ").as("pieces"),
            size(col("pieces")).as("n_pieces"),
            (array_join(col("pieces"), "") === col("token")).as("roundtrip"))
          .filter(col("doc_id") % 5 === 0)
          .orderBy("doc_id", "token_idx")
      },
      {
        val applies = (1 to 8).map { r =>
          s"""t$r AS (SELECT doc_id, token_idx, token,
             |  CASE WHEN (${duckHash(s"token||'#$r'")}) % 1000000 >= 300000
             |    THEN replace(t.t, ' '||b.l||'  '||b.r2||' ', ' '||b.l||b.r2||' ')
             |    ELSE t.t END AS t
             |  FROM t${r - 1} t CROSS JOIN b$r b)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckBpeCtes(8)},
           |tok AS (SELECT doc_id, unnest(range(len(ts))) AS token_idx,
           |    unnest(ts) AS token
           |  FROM (SELECT doc_id, $duckToks AS ts FROM documents)),
           |t0 AS (SELECT doc_id, token_idx, token,
           |  '  ' || regexp_replace(token, '(.)', '\\1  ', 'g') AS t
           |  FROM tok WHERE len(token) > 0),
           |$applies
           |SELECT doc_id, CAST(token_idx AS INTEGER) AS token_idx, token,
           |  array_to_string(string_split(trim(t), '  '), ' ') AS pieces,
           |  CAST(len(string_split(trim(t), '  ')) AS INTEGER) AS n_pieces,
           |  array_to_string(string_split(trim(t), '  '), '') = token AS roundtrip
           |FROM t8 WHERE doc_id % 5 = 0 ORDER BY doc_id, token_idx""".stripMargin
      }
    ),

    // ---- BPE vocab artifact: subword frequencies after encoding ---------
    // The second half of what a BPE tokenizer ships (merges + vocab):
    // encode the corpus with the learned merges, count piece occurrences,
    // bounded top-k (TakeOrderedAndProject — the topTokens contract).
    "tx_bpe_vocab" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Vocab.bpeTrain(docs, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bpeEncode(docs, "doc_id", "text", merges)
          .select(explode(col("pieces")).as("piece"))
          .groupBy("piece").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("piece"))
          .limit(100)
      },
      s"""WITH ${duckBpeCtes(8)},
         |${duckBpeApplyCtes(8)}
         |SELECT piece, count(*) AS cnt FROM (
         |  SELECT unnest(string_split(trim(t), '  ')) AS piece FROM t8)
         |GROUP BY piece ORDER BY cnt DESC, piece LIMIT 100""".stripMargin
    ),

    // ---- BPE ids: the tensor-ready token-id stream ----------------------
    // Train → derive the rank-ordered vocab (full distinct piece set,
    // frequency-descending — driver-bounded by |chars|+nMerges) → encode →
    // map pieces to integer ids as a literal-map projection.
    "tx_bpe_encode_ids" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Vocab.bpeTrain(docs, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val encoded = graft.operators.Vocab.bpeEncode(docs, "doc_id", "text", merges)
        val vocab = encoded.select(explode(col("pieces")).as("piece"))
          .groupBy("piece").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("piece"))
          .collect().map(_.getString(0)).toSeq
        graft.operators.Vocab.piecesToIds(encoded, vocab)
          .filter(col("doc") % 10 === 0)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("ids"), " ").as("ids"))
          .orderBy("doc_id", "token_idx")
      },
      s"""WITH ${duckBpeCtes(8)},
         |${duckBpeApplyCtes(8)},
         |pc AS (SELECT piece, count(*) AS cnt FROM (
         |  SELECT unnest(string_split(trim(t), '  ')) AS piece FROM t8)
         |  GROUP BY piece),
         |v AS (SELECT piece,
         |  row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS id FROM pc),
         |pp AS (SELECT doc_id, token_idx, token,
         |  unnest(string_split(trim(t), '  ')) AS piece,
         |  unnest(range(len(string_split(trim(t), '  ')))) AS pidx
         |  FROM t8 WHERE doc_id % 10 = 0)
         |SELECT doc_id, CAST(token_idx AS INTEGER) AS token_idx, token,
         |  string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY pidx) AS ids
         |FROM pp JOIN v ON pp.piece = v.piece
         |GROUP BY doc_id, token_idx, token
         |ORDER BY doc_id, token_idx""".stripMargin
    ),

    // ---- tokenizer fertility by language ---------------------------------
    // THE tokenizer-fit metric (pieces per token / per char, by lang):
    // high fertility on a language means the vocab under-serves it. Same
    // 8-merge BPE encode as tx_bpe_encode, one extra keyed aggregation.
    "tx_tokenizer_fertility" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = graft.operators.Vocab.bpeTrain(docs, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bpeEncode(docs, "doc_id", "text", merges)
          .join(docs.select(col("doc_id").as("doc"), col("lang")), "doc")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(size(col("pieces")).cast("long")).as("n_pieces"),
            sum(length(col("token")).cast("long")).as("n_chars"))
          .select(col("lang"), col("n_tokens"), col("n_pieces"),
            round(col("n_pieces") / col("n_tokens").cast("double"), 4)
              .as("pieces_per_token"),
            round(col("n_pieces") / col("n_chars").cast("double"), 4)
              .as("pieces_per_char"))
          .orderBy("lang")
      },
      s"""WITH ${duckBpeCtes(8)},
         |${duckBpeApplyCtes(8)},
         |enc AS (SELECT t.doc_id, d.lang,
         |  len(string_split(trim(t.t), '  ')) AS np, length(t.token) AS nc
         |  FROM t8 t JOIN documents d USING (doc_id)),
         |agg AS (SELECT lang, count(*) AS n_tokens,
         |  CAST(sum(np) AS BIGINT) AS n_pieces,
         |  CAST(sum(nc) AS BIGINT) AS n_chars FROM enc GROUP BY lang)
         |SELECT lang, n_tokens, n_pieces,
         |  round(n_pieces / CAST(n_tokens AS DOUBLE), 4) AS pieces_per_token,
         |  round(n_pieces / CAST(n_chars AS DOUBLE), 4) AS pieces_per_char
         |FROM agg ORDER BY lang""".stripMargin
    ),

    // ---- flagship: full training-data prep ------------------------------
    // The END-TO-END chain a pretraining run executes: quality gate →
    // exact dedup → BPE tokenization (train on the deduped corpus, then
    // encode it) → fixed-budget sequence packing → per-bucket accounting.
    // Every stage is the real, individually-verified operator; the oracle
    // replays the entire chain.
    "pipeline_training_prep" -> QuerySpec(
      (s, dir) => {
        val gated = t(s, dir, "documents").filter(col("n_chars") >= 200)
        val deduped = Dedup.exactFirstWins(
          gated.withColumn("pkey", Dedup.prefixKey(col("text"), 10)),
          Seq("pkey"), Seq("doc_id")).drop("pkey")
        val merges = graft.operators.Vocab.bpeTrain(deduped, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val tokenized = graft.operators.Vocab
          .bpeEncode(deduped, "doc_id", "text", merges)
          .groupBy("doc")
          .agg(sum(size(col("pieces"))).cast("long").as("n_tokens"))
          .select(col("doc").as("doc_id"), col("n_tokens"),
            (col("doc") % 8).cast("int").as("bucket"))
        graft.operators.Packing
          .packSequences(tokenized, "doc_id", "n_tokens", "bucket", 4000L)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("seq")).as("n_seqs"),
            sum("n_tokens").cast("long").as("total_tokens"))
          .orderBy("bucket")
      },
      s"""WITH gated AS (SELECT * FROM documents WHERE n_chars >= 200),
         |ded AS (SELECT * FROM gated WHERE doc_id IN (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY array_to_string(($duckToks)[1:10], ' ')
         |      ORDER BY doc_id) AS rn
         |    FROM gated) WHERE rn = 1)),
         |${duckBpeCtes(8, "ded")},
         |${duckBpeApplyCtes(8, "ded")},
         |nt AS (SELECT doc_id,
         |  CAST(sum(len(string_split(trim(t), '  '))) AS BIGINT) AS nt
         |  FROM t8 GROUP BY doc_id),
         |d AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS bucket, nt FROM nt),
         |c AS (SELECT *, coalesce(sum(nt) OVER (
         |  PARTITION BY bucket ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM d)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(count(DISTINCT cum//4000) AS BIGINT) AS n_seqs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens
         |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin
    ),

    // ---- flagship: tokenizer-training pipeline --------------------------
    // Quality gate → BPE train on the gated corpus → encode the gated
    // corpus with the learned merges → per-source token/piece accounting.
    // The full arc a tokenizer team runs, chained through the real
    // operators; counts only (no ratio column — a cross-engine
    // round(double) of a rational is the one hazard this table avoids).
    "pipeline_tokenizer_training" -> QuerySpec(
      (s, dir) => {
        val gated = t(s, dir, "documents").filter(col("n_chars") >= 200)
        val merges = graft.operators.Vocab.bpeTrain(gated, "text", 8)
          .orderBy("merge_rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Vocab.bpeEncode(gated, "doc_id", "text", merges)
          .join(gated.select(col("doc_id"), col("source")),
            col("doc") === col("doc_id"))
          .groupBy("source")
          .agg(countDistinct(col("doc")).as("n_docs"),
            count(lit(1)).as("n_tokens"),
            sum(size(col("pieces"))).cast("long").as("total_pieces"))
          .orderBy("source")
      },
      s"""WITH gated AS (SELECT * FROM documents WHERE n_chars >= 200),
         |${duckBpeCtes(8, "gated")},
         |${duckBpeApplyCtes(8, "gated")}
         |SELECT g.source, count(DISTINCT e.doc_id) AS n_docs,
         |  count(*) AS n_tokens,
         |  CAST(sum(len(string_split(trim(e.t), '  '))) AS BIGINT) AS total_pieces
         |FROM t8 e JOIN gated g ON g.doc_id = e.doc_id
         |GROUP BY g.source ORDER BY g.source""".stripMargin
    ),

    // ---- vocabulary coverage / OOV rate ---------------------------------
    // What fraction of corpus token occurrences a top-100 vocab covers —
    // the metric that sizes a tokenizer vocabulary.
    "tx_oov_rate" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.vocabCoverage(t(s, dir, "documents"), "text", 100),
      s"""WITH tok AS (
         |  SELECT token FROM (SELECT unnest($duckToks) AS token FROM documents)
         |  WHERE token <> ''),
         |v AS (SELECT token FROM (
         |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
         |  ORDER BY cnt DESC, token LIMIT 100))
         |SELECT CAST(100 AS INTEGER) AS vocab_size,
         |  count(*) AS total_tokens,
         |  CAST(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS covered_tokens,
         |  round(1.0 - sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*)::DOUBLE, 4) AS oov_rate
         |FROM tok LEFT JOIN v ON tok.token = v.token""".stripMargin
    ),

    // ---- WordPiece inference: greedy longest-match segmentation ---------
    // The fixed subword vocab (starts + ##continuations + single chars)
    // forces real multi-piece segmentations of the corpus words; the
    // oracle replays greedy longest-match-first as a recursive CTE over
    // token positions with a LATERAL longest-prefix probe (at most one
    // vocab raw of each length can match a given position, so the
    // ORDER BY len DESC LIMIT 1 is deterministic). Docs subsetted %20 to
    // bound the oracle's recursion fan-out.
    "tx_wordpiece" -> QuerySpec(
      (s, dir) =>
        graft.operators.Vocab.wordpieceEncode(
          t(s, dir, "documents").filter(col("doc_id") % 20 === 0),
          "doc_id", "text", wpVocab)
          .select(col("doc").as("doc_id"), col("token_idx"), col("token"),
            array_join(col("pieces"), " ").as("pieces"))
          .orderBy("doc_id", "token_idx"),
      s"""WITH RECURSIVE
         |vraw AS (SELECT unnest([${wpVocab.map(p => s"'$p'").mkString(",")}]) AS piece),
         |v AS (SELECT piece,
         |    CASE WHEN piece LIKE '##%' THEN substr(piece,3) ELSE piece END AS raw,
         |    (piece LIKE '##%') AS cont FROM vraw),
         |toks AS (SELECT doc_id, $duckToks AS ts FROM documents WHERE doc_id % 20 = 0),
         |tok AS (SELECT doc_id, unnest(range(len(ts))) AS token_idx, unnest(ts) AS token
         |  FROM toks),
         |enc AS (
         |  SELECT doc_id, token_idx, token, 0 AS pos, CAST([] AS VARCHAR[]) AS pieces
         |  FROM tok WHERE len(token) > 0
         |  UNION ALL
         |  SELECT e.doc_id, e.token_idx, e.token,
         |    CASE WHEN b.piece IS NULL THEN len(e.token) ELSE e.pos + len(b.raw) END AS pos,
         |    CASE WHEN b.piece IS NULL THEN ['[UNK]']
         |         ELSE list_append(e.pieces, b.piece) END AS pieces
         |  FROM enc e
         |  LEFT JOIN LATERAL (
         |    SELECT piece, raw FROM v
         |    WHERE cont = (e.pos > 0)
         |      AND substr(e.token, e.pos + 1, len(raw)) = raw
         |    ORDER BY len(raw) DESC, piece LIMIT 1
         |  ) b ON true
         |  WHERE e.pos < len(e.token))
         |SELECT doc_id, CAST(token_idx AS INTEGER) AS token_idx, token,
         |  array_to_string(pieces, ' ') AS pieces
         |FROM enc WHERE pos >= len(token) ORDER BY doc_id, token_idx""".stripMargin
    ),

    // ---- tokenizer fertility by language -------------------------------
    // The tokenizer-quality metric multilingual work reports (pieces per
    // word; Rust et al. 2021 "How Good is Your Tokenizer?"): encode the
    // %20 doc subset with the fixed WordPiece vocab, join language back,
    // and aggregate integer-exact per-lang fertility (ppm fixed point)
    // plus the UNK-word count — high fertility / UNK rates are how a
    // vocab mismatch for a language shows up in practice.
    "tx_fertility" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        graft.operators.Vocab.wordpieceEncode(docs, "doc_id", "text", wpVocab)
          .join(docs.select(col("doc_id").as("doc"), col("lang")), "doc")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(size(col("pieces"))).as("n_pieces"),
            sum(when(array_contains(col("pieces"), "[UNK]"), 1L)
              .otherwise(0L)).as("n_unk_words"))
          .withColumn("fertility_ppm", expr("(n_pieces * 1000000) div n_words"))
          .orderBy("lang")
      },
      s"""WITH RECURSIVE
         |vraw AS (SELECT unnest([${wpVocab.map(p => s"'$p'").mkString(",")}]) AS piece),
         |v AS (SELECT piece,
         |    CASE WHEN piece LIKE '##%' THEN substr(piece,3) ELSE piece END AS raw,
         |    (piece LIKE '##%') AS cont FROM vraw),
         |toks AS (SELECT doc_id, lang, $duckToks AS ts FROM documents
         |  WHERE doc_id % 20 = 0),
         |tok AS (SELECT doc_id, lang, unnest(range(len(ts))) AS token_idx,
         |    unnest(ts) AS token FROM toks),
         |enc AS (
         |  SELECT doc_id, lang, token_idx, token, 0 AS pos,
         |    CAST([] AS VARCHAR[]) AS pieces
         |  FROM tok WHERE len(token) > 0
         |  UNION ALL
         |  SELECT e.doc_id, e.lang, e.token_idx, e.token,
         |    CASE WHEN b.piece IS NULL THEN len(e.token) ELSE e.pos + len(b.raw) END AS pos,
         |    CASE WHEN b.piece IS NULL THEN ['[UNK]']
         |         ELSE list_append(e.pieces, b.piece) END AS pieces
         |  FROM enc e
         |  LEFT JOIN LATERAL (
         |    SELECT piece, raw FROM v
         |    WHERE cont = (e.pos > 0)
         |      AND substr(e.token, e.pos + 1, len(raw)) = raw
         |    ORDER BY len(raw) DESC, piece LIMIT 1
         |  ) b ON true
         |  WHERE e.pos < len(e.token)),
         |f AS (SELECT lang, pieces FROM enc WHERE pos >= len(token))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(pieces)) AS BIGINT) AS n_pieces,
         |  CAST(count(*) FILTER (WHERE list_contains(pieces, '[UNK]'))
         |    AS BIGINT) AS n_unk_words,
         |  CAST((sum(len(pieces)) * 1000000) // count(*) AS BIGINT)
         |    AS fertility_ppm
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin
    ),

    // ---- importance sampling: per-row continuous keep weight -----------
    "sp_importance_sample" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.importanceSample(t(s, dir, "documents"),
          "doc_id", least(col("n_chars") / lit(400.0), lit(1.0)))
          .select("doc_id", "n_chars")
          .orderBy("doc_id"),
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911 + 2654435761)
         |  % 1000000007)*1.0/1000000007 < least(n_chars/400.0, 1.0)
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- exact-k per-class sampling -------------------------------------
    // Exactly 10 docs per source (smallest-hash selection): the
    // exact-size eval-set primitive — deterministic AND monotone in k.
    "sp_exact_k_per_class" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.exactKPerStratum(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", 10)
          .orderBy("source", "doc_id"),
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |    ORDER BY (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911
         |      + 2654435761) % 1000000007)*1.0/1000000007, doc_id) AS rn
         |  FROM documents) WHERE rn <= 10
         |ORDER BY source, doc_id""".stripMargin
    ),

    // ---- domain-mixture resampling --------------------------------------
    "sp_domain_mix" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.domainMix(t(s, dir, "documents"), "doc_id",
          "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum("doc_id").cast("long").as("id_checksum"))
          .orderBy("source"),
      s"""WITH n AS (SELECT source, count(*) AS nd FROM documents GROUP BY source),
         |t AS (SELECT source, nd, CASE source WHEN 'src0' THEN 0.5
         |    WHEN 'src1' THEN 0.3 WHEN 'src2' THEN 0.2 END AS tf
         |  FROM n WHERE source IN ('src0', 'src1', 'src2')),
         |r AS (SELECT source, least(1.0, tf*(SELECT min(nd/tf) FROM t)/nd) AS rate
         |  FROM t),
         |k AS (SELECT d.source, d.doc_id FROM documents d JOIN r ON d.source = r.source
         |  WHERE (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911 + 2654435761)
         |    % 1000000007)*1.0/1000000007 < r.rate)
         |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM k GROUP BY source ORDER BY source""".stripMargin
    ),

    // ---- token-budget mixture schedule (LLaMA-style data recipe) -------
    // Plans the mix rather than executing it: per-lang token inventory vs
    // ppm target shares and a 3.5M-token budget -> whole epochs + the
    // fractional-pass sample rate, all integer-exact.
    "sp_mix_schedule" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.mixSchedule(
          t(s, dir, "documents"), "lang", col("n_chars"),
          Map("en" -> 400000L, "zh" -> 250000L, "de" -> 150000L,
            "es" -> 120000L, "fr" -> 80000L),
          budgetTokens = 3500000L)
          .orderBy("domain"),
      """WITH a AS (
        |  SELECT lang AS domain, CAST(sum(n_chars) AS BIGINT) AS tokens_have,
        |    count(*) AS n_docs
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT domain, tokens_have, n_docs,
        |    CAST(CASE domain WHEN 'en' THEN 400000 WHEN 'zh' THEN 250000
        |      WHEN 'de' THEN 150000 WHEN 'es' THEN 120000
        |      WHEN 'fr' THEN 80000 ELSE 0 END AS BIGINT) AS weight_ppm
        |  FROM a),
        |x AS (
        |  SELECT *, (3500000 * weight_ppm) // 1000000 AS tokens_wanted
        |  FROM w WHERE weight_ppm > 0 AND tokens_have > 0)
        |SELECT domain, tokens_have, CAST(n_docs AS BIGINT) AS n_docs,
        |  weight_ppm, CAST(tokens_wanted AS BIGINT) AS tokens_wanted,
        |  CAST(tokens_wanted // tokens_have AS BIGINT) AS full_epochs,
        |  CAST(((tokens_wanted % tokens_have) * 1000000) // tokens_have
        |    AS BIGINT) AS tail_rate_ppm,
        |  CAST((tokens_wanted * 1000000) // tokens_have AS BIGINT)
        |    AS repeat_ppm
        |FROM x ORDER BY domain""".stripMargin
    ),

    // ---- temperature-flattened domain mixing (mT5/XLM-R τ-sampling) ----
    // A skewed 60/30/10 domain split is synthesized on both engines so
    // τ=0.5 actually exercises the flattening; rate_d = sqrt(n_min/n_d)
    // (the Σ-free without-replacement form — see Sampling.temperatureMix).
    "sp_temperature_mix" -> QuerySpec(
      (s, dir) => {
        val dom = when(col("doc_id") % 10 < 6, lit("a"))
          .when(col("doc_id") % 10 < 9, lit("b")).otherwise(lit("c"))
        graft.operators.Sampling.temperatureMix(
            t(s, dir, "documents").withColumn("domain", dom),
            "doc_id", "domain", tau = 0.5)
          .groupBy("domain")
          .agg(count(lit(1)).as("n_kept"),
            sum("doc_id").cast("long").as("id_checksum"))
          .orderBy("domain")
      },
      s"""WITH d AS (
         |  SELECT doc_id, CASE WHEN doc_id % 10 < 6 THEN 'a'
         |    WHEN doc_id % 10 < 9 THEN 'b' ELSE 'c' END AS domain
         |  FROM documents),
         |n AS (SELECT domain, count(*) AS nd FROM d GROUP BY domain),
         |r AS (SELECT domain, sqrt((SELECT min(nd) FROM n)*1.0/nd) AS rate
         |  FROM n),
         |k AS (SELECT d.domain, d.doc_id FROM d JOIN r USING (domain)
         |  WHERE (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911 + 2654435761)
         |    % 1000000007)*1.0/1000000007 < r.rate)
         |SELECT domain, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM k GROUP BY domain ORDER BY domain""".stripMargin
    ),

    // ---- linear quality-classifier scoring ------------------------------
    "tx_quality_logit" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.qualityLogit(col("text")).as("logit"),
          (TextAnalysis.qualityLogit(col("text")) >= 0.5).as("keep"))
          .orderBy("doc_id"),
      {
        val stop = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        s"""WITH m AS (
           |  SELECT doc_id, $duckToks AS ts,
           |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
           |    length(regexp_replace(regexp_replace(text, '\\s', '', 'g'),
           |      '[a-zA-Z0-9]', '', 'g')) AS n_punct
           |  FROM documents),
           |f AS (
           |  SELECT doc_id,
           |    least(len(ts)/100.0, 1.0) AS f_len,
           |    round(len(list_filter(ts, t -> t IN ($stop)))
           |      * 1.0 / greatest(len(ts), 1), 4) AS stop_ratio,
           |    round(n_punct * 1.0 / greatest(n_nonspace, 1), 4) AS punct_ratio,
           |    round(len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
           |      * 1.0 / greatest(len(ts), 1), 4) AS alpha_frac,
           |    round(list_reduce(list_transform(ts, w -> len(w)), (a, b) -> a + b)
           |      * 1.0 / greatest(len(ts), 1), 4) AS mwl
           |  FROM m),
           |l AS (
           |  SELECT doc_id, CAST(
           |    CAST(-1.0 AS DECIMAL(18,6))
           |    + CAST(1.5 AS DECIMAL(18,6)) * CAST(f_len AS DECIMAL(18,6))
           |    + CAST(2.0 AS DECIMAL(18,6)) * CAST(stop_ratio AS DECIMAL(18,6))
           |    + CAST(-3.0 AS DECIMAL(18,6)) * CAST(punct_ratio AS DECIMAL(18,6))
           |    + CAST(1.0 AS DECIMAL(18,6)) * CAST(alpha_frac AS DECIMAL(18,6))
           |    + CAST(0.05 AS DECIMAL(18,6)) * CAST(mwl AS DECIMAL(18,6))
           |  AS DOUBLE) AS logit
           |  FROM f)
           |SELECT doc_id, logit, logit >= 0.5 AS keep
           |FROM l ORDER BY doc_id""".stripMargin
      }
    ),

    // ---- SemDeDup: k-means-clustered semantic dedup ---------------------
    // Second flagship composition: the IVF coarse quantizer, the cosine
    // kernel, and connected components chained into the SemDeDup
    // procedure; the oracle rebuilds the full chain from the verified
    // IVF-assignment and min-label-CC fragments.
    // nLists is pinned (=8) ONLY because the DuckDB oracle must rebuild the
    // identical quantizer; a production call sizes it from the corpus via
    // Dedup.semanticDedupNLists / semanticDedupAuto (nLists ≈ n/target, √n
    // default), and the operator's Σ(cluster²) guard refuses a call whose
    // within-cluster pair volume exceeds maxPairComparisons — see SCALE.md.
    "dd_semantic_dedup" -> QuerySpec(
      (s, dir) =>
        Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          nLists = 8, threshold = 0.4)
          .select(col("vid").as("vec_id"), col("centroid"))
          .orderBy("vec_id"),
      s"""WITH RECURSIVE ${duckIvfCtes(8)},
         |p AS (
         |  SELECT x.id AS id_a, y.id AS id_b
         |  FROM a3 x JOIN a3 y ON x.c = y.c AND x.id < y.id
         |  JOIN embeddings a ON a.vec_id = x.id
         |  JOIN embeddings b ON b.vec_id = y.id
         |  WHERE $duckCosine >= 0.4),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b AS a, id_a AS b FROM p),
         |comp(node, label) AS (
         |  SELECT DISTINCT a AS node, a AS label FROM edges
         |  UNION
         |  SELECT e.a, c.label FROM edges e JOIN comp c ON c.node = e.b),
         |dropped AS (
         |  SELECT node FROM comp GROUP BY node HAVING node <> min(label))
         |SELECT a3.id AS vec_id, CAST(a3.c AS INTEGER) AS centroid FROM a3
         |WHERE a3.id NOT IN (SELECT node FROM dropped)
         |ORDER BY vec_id""".stripMargin
    ),

    // ---- canonical text normalization ----------------------------------
    // documents.text is already clean, so the fixture synthesizes the
    // messy input (case noise + punctuation + whitespace runs) from
    // customer columns byte-identically in both engines — the oracle then
    // checks the normalization machinery itself (the tx_pii_redact
    // pattern).
    // ---- Markup stripping: HTML → text extraction gate ------------------
    // The markup is synthesized deterministically from document fields on
    // BOTH engines (tags, a comment, entities incl. the &amp;lt; double-
    // decode trap), so the oracle checks the strip chain, not the data.
    "tx_strip_markup" -> QuerySpec(
      (s, dir) => {
        val html = concat(
          lit("<!DOCTYPE html><html><body class=\"d"),
          (col("doc_id") % 7).cast("string"),
          lit("\"><!-- c --><h1>"), col("lang"),
          lit("</h1><p>"), substring(col("text"), 1, 120),
          lit(" &amp;lt; tied &quot;"), col("source"),
          lit("&quot; &#39;q&#39;&nbsp;&gt;</p><br/></body></html>"))
        t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.stripMarkup(html).as("text_clean"))
          .orderBy("doc_id")
      },
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '<!DOCTYPE html><html><body class="d' || CAST(doc_id % 7 AS VARCHAR) ||
         |    '"><!-- c --><h1>' || lang || '</h1><p>' || substr(text, 1, 120) ||
         |    ' &amp;lt; tied &quot;' || source ||
         |    '&quot; &#39;q&#39;&nbsp;&gt;</p><br/></body></html>' AS html
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, replace(replace(replace(replace(replace(replace(
         |    regexp_replace(html, '<[^>]*>', ' ', 'g'),
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&nbsp;', ' '), '&amp;', '&') AS dec
         |  FROM h)
         |SELECT doc_id, trim(regexp_replace(dec, '\\s+', ' ', 'g')) AS text_clean
         |FROM s ORDER BY doc_id""".stripMargin
    ),

    // ---- Main-content extraction (jusText-style boilerplate removal) ---
    // The block between stripMarkup and the quality gates: nav/footer
    // blocks die on link density, tiny blocks on length, and the context
    // pass re-admits short/neutral blocks SURROUNDED by good ones. The
    // fixture synthesizes a full page (nav with links, two real
    // paragraphs, a tiny inter-paragraph note, a legal footer) from
    // document fields byte-identically on both engines; the oracle
    // replays segmentation, ppm scoring, classification, and the context
    // window.
    "web_main_content" -> QuerySpec(
      (s, dir) => {
        val html = concat(
          lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/s\">"),
          col("source"),
          lit("</a> <a href=\"/m\">more links</a></div><p>"),
          substring(col("text"), 1, 200),
          lit("</p><p>tiny note</p><p>"),
          substring(col("text"), 201, 180),
          lit("</p><div class=\"ftr\">(c) 2026 legal <a href=\"/t\">Terms</a> <a href=\"/p\">Privacy</a></div></body></html>"))
        WebCuration.mainContent(
            t(s, dir, "documents").withColumn("html", html),
            "doc_id", "html")
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id")
      },
      {
        val stop = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        val blockTags =
          "p|div|h[1-6]|li|ul|ol|td|tr|table|blockquote|section|article|header|footer|nav|br"
        s"""WITH h AS (SELECT doc_id,
           |  '<html><body><div class="nav"><a href="/">Home</a> <a href="/s">' ||
           |  source || '</a> <a href="/m">more links</a></div><p>' ||
           |  substr(text, 1, 200) || '</p><p>tiny note</p><p>' ||
           |  substr(text, 201, 180) ||
           |  '</p><div class="ftr">(c) 2026 legal <a href="/t">Terms</a> <a href="/p">Privacy</a></div></body></html>'
           |    AS html
           |  FROM documents),
           |b AS (SELECT doc_id, unnest(range(len(bs))) AS bi, unnest(bs) AS raw
           |  FROM (SELECT doc_id, string_split(regexp_replace(html,
           |    '(?i)</?($blockTags)(>|[\\s/][^>]*>)', chr(1), 'g'), chr(1)) AS bs FROM h)),
           |st AS (SELECT doc_id, bi, raw,
           |  trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(raw, '<[^>]*>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           |      '&nbsp;', ' '), '&amp;', '&'),
           |    '\\s+', ' ', 'g')) AS text,
           |  coalesce(list_sum(list_transform(
           |    regexp_extract_all(raw, '<a[^>]*>([^<]*)</a>', 1),
           |    x -> length(x))), 0) AS link_chars
           |  FROM b),
           |m AS (SELECT doc_id, bi, text, link_chars, length(text) AS n_chars,
           |  string_split_regex(trim(lower(text)), '\\s+') AS ts
           |  FROM st WHERE text <> ''),
           |d AS (SELECT doc_id, bi, text, n_chars,
           |  CAST(floor(link_chars*1000000.0/greatest(n_chars, 1)) AS BIGINT)
           |    AS link_ppm,
           |  CAST(floor(len(list_filter(ts, t -> t IN ($stop)))*1000000.0
           |    /greatest(len(ts), 1)) AS BIGINT) AS stop_ppm
           |  FROM m),
           |c AS (SELECT *, CASE WHEN link_ppm > 200000 THEN 'bad'
           |  WHEN n_chars < 40 THEN 'short'
           |  WHEN stop_ppm >= 30000 AND n_chars >= 80 THEN 'good'
           |  ELSE 'neutral' END AS cls FROM d),
           |f AS (SELECT *, (cls = 'good' OR ((cls = 'short' OR cls = 'neutral')
           |  AND lag(cls) OVER w = 'good' AND lead(cls) OVER w = 'good')) AS keep
           |  FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY bi))
           |SELECT doc_id, count(*) AS n_blocks,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           |  coalesce(string_agg(text, ' ' ORDER BY bi) FILTER (WHERE keep), '')
           |    AS main_text
           |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }
    ),

    "tx_normalize" -> QuerySpec(
      (s, dir) => {
        val raw = concat_ws("  ", upper(col("c_name")), lit("!!"),
          col("c_mktsegment"), lit("(Extra,  Punct.)"),
          col("c_custkey").cast("string"))
        t(s, dir, "customer").select(
          col("c_custkey"),
          TextAnalysis.normalize(raw).as("normalized"),
          Fns.rollingHash(TextAnalysis.normalize(raw)).as("norm_key"))
          .orderBy("c_custkey")
      },
      s"""WITH r AS (
         |  SELECT c_custkey, concat_ws('  ', upper(c_name), '!!',
         |    c_mktsegment, '(Extra,  Punct.)',
         |    CAST(c_custkey AS VARCHAR)) AS raw
         |  FROM customer),
         |n AS (
         |  SELECT c_custkey, trim(regexp_replace(
         |    regexp_replace(lower(raw), '[^a-z0-9\\s]', '', 'g'),
         |    '\\s+', ' ', 'g')) AS normalized
         |  FROM r)
         |SELECT c_custkey, normalized,
         |  ${duckHash("normalized")} AS norm_key
         |FROM n ORDER BY c_custkey""".stripMargin
    ),

    // ---- corpus composition report --------------------------------------
    // The per-(language, length-band) histogram a curation run publishes:
    // doc counts, token mass, and char mass per cell — one map-side-
    // combined aggregation over per-row projections.
    "tx_corpus_stats" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            TextAnalysis.tokenCount(col("text")).as("nt"))
          .groupBy(col("lang"),
            (floor(col("nt") / 20) * 20).cast("long").as("tok_band"))
          .agg(count(lit(1)).as("n_docs"),
            sum("nt").cast("long").as("total_tokens"),
            sum("n_chars").cast("long").as("total_chars"))
          .orderBy("lang", "tok_band"),
      s"""SELECT lang, (len($duckToks)//20)*20 AS tok_band,
         |  count(*) AS n_docs,
         |  CAST(sum(len($duckToks)) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY 1, 2 ORDER BY lang, tok_band""".stripMargin
    ),

    // ---- cross-doc exact-substring duplication (Lee et al. 2022) --------
    // 5-token windows BY POSITION; a window is duplicated when the same
    // token sequence occurs in >= 2 distinct docs. Per-doc duplicated
    // fraction is MassiveText's "duplicate content fraction" gate signal.
    "dd_substring_dup" -> QuerySpec(
      (s, dir) =>
        Dedup.substringDupStats(t(s, dir, "documents"), "doc_id", "text", 5)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |wins AS (SELECT doc_id, unnest(
         |  [array_to_string(ts[i:i+4],' ') for i in range(1, len(ts)-3)]) AS s
         |  FROM toks),
         |dup AS (SELECT s FROM (
         |  SELECT s, count(DISTINCT doc_id) AS nd FROM wins GROUP BY s)
         |  WHERE nd >= 2)
         |SELECT w.doc_id, count(*) AS n_windows,
         |  CAST(sum(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_windows,
         |  round(sum(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*)::DOUBLE, 4) AS dup_frac
         |FROM wins w LEFT JOIN dup d ON w.s = d.s
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
    ),

    // ---- cross-doc exact-substring REMOVAL (Lee et al. 2022) ------------
    // All-but-first occurrences of every cross-doc-duplicated 5-token
    // window are cut; docs reassemble from surviving tokens. Winner =
    // globally-smallest (doc, position) — replayed in the oracle as a
    // row_number over the same ordering.
    // ---- flagship pipeline 4: web-corpus curation -----------------------
    // The round-8 operators chained end-to-end over synthesized HTML
    // pages: boilerplate line dedup → markup strip → token-count gate →
    // τ-flattened domain mix → per-domain accounting. Full-chain oracle:
    // every stage is replayed in SQL, so a drift anywhere in the chain
    // breaks the hash.
    "pipeline_web_curation" -> QuerySpec(
      (s, dir) => {
        val l = t(s, dir, "documents").select(col("doc_id"),
          concat(lit("<p class=\"l\">"), substring(col("text"), 1, 80),
            lit("&nbsp;&amp;lt;</p>")).as("l"))
        val pg = floor(col("doc_id") / 5)
        val mem = l.select(col("doc_id"), col("l"),
          explode(when(col("doc_id") % 5 < 2 && col("doc_id") >= 5,
            array(pg, pg - 1)).otherwise(array(pg))).as("page"))
        val pages = mem.groupBy("page").agg(
          concat_ws("\n", lit("<div id=\"hdr\">HEADER: boilerplate</div>"),
            array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("l")))),
              x => x.getField("l")), "\n"),
            lit("<div id=\"ftr\">FOOTER: (c) legal</div>")).as("html"))
        val deduped = Dedup.lineDedup(pages, "page", "html")
        // r13: main-content extraction replaces the indiscriminate
        // stripMarkup — the header/footer boilerplate blocks now die on
        // the jusText-style block classifier instead of surviving into
        // the gated text (lineDedup already removed their REPEATS; the
        // block scorer removes the first copies too)
        val main = WebCuration.mainContent(
            deduped.select(col("doc").as("page"), col("cleaned")),
            "page", "cleaned")
          .select(col("doc").as("page"), col("main_text").as("text_clean"))
        val gated = main
          .filter(TextAnalysis.tokenCount(col("text_clean")) >= 20)
        val dom = when(col("page") % 10 < 6, lit("a"))
          .when(col("page") % 10 < 9, lit("b")).otherwise(lit("c"))
        graft.operators.Sampling.temperatureMix(
            gated.withColumn("domain", dom), "page", "domain", tau = 0.5)
          .groupBy("domain")
          .agg(count(lit(1)).as("n_pages"),
            sum(TextAnalysis.tokenCount(col("text_clean"))).cast("long")
              .as("n_tokens"),
            sum(col("page")).cast("long").as("page_checksum"))
          .orderBy("domain")
      },
      s"""WITH l AS (SELECT doc_id,
         |  '<p class="l">' || substr(text, 1, 80) || '&nbsp;&amp;lt;</p>' AS l
         |  FROM documents),
         |mem AS (
         |  SELECT doc_id, l, doc_id // 5 AS page FROM l
         |  UNION ALL
         |  SELECT doc_id, l, doc_id // 5 - 1 FROM l
         |  WHERE doc_id % 5 < 2 AND doc_id >= 5),
         |pages AS (SELECT page,
         |  '<div id="hdr">HEADER: boilerplate</div>' || chr(10) ||
         |  string_agg(l, chr(10) ORDER BY doc_id, l) || chr(10) ||
         |  '<div id="ftr">FOOTER: (c) legal</div>' AS html
         |  FROM mem GROUP BY page),
         |lines AS (SELECT page, unnest(range(len(ls))) AS p, unnest(ls) AS line
         |  FROM (SELECT page, string_split(html, chr(10)) AS ls FROM pages)),
         |ne AS (SELECT * FROM lines WHERE length(trim(line)) > 0),
         |first AS (SELECT line, page, p FROM (
         |  SELECT line, page, p,
         |    row_number() OVER (PARTITION BY line ORDER BY page, p) AS rn
         |  FROM ne) WHERE rn = 1),
         |drops AS (SELECT ne.page, ne.p FROM ne JOIN first f USING (line)
         |  WHERE ne.page <> f.page OR ne.p <> f.p),
         |kept AS (SELECT li.* FROM lines li ANTI JOIN drops
         |  ON li.page = drops.page AND li.p = drops.p),
         |reb AS (SELECT page, string_agg(line, chr(10) ORDER BY p) AS cleaned
         |  FROM kept GROUP BY page),
         |blk AS (SELECT page, unnest(range(len(bs))) AS bi, unnest(bs) AS raw
         |  FROM (SELECT page, string_split(regexp_replace(cleaned,
         |    '(?i)</?(p|div|h[1-6]|li|ul|ol|td|tr|table|blockquote|section|article|header|footer|nav|br)(>|[\\s/][^>]*>)',
         |    chr(1), 'g'), chr(1)) AS bs FROM reb)),
         |bst AS (SELECT page, bi,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(raw, '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |      '&nbsp;', ' '), '&amp;', '&'),
         |    '\\s+', ' ', 'g')) AS text,
         |  coalesce(list_sum(list_transform(
         |    regexp_extract_all(raw, '<a[^>]*>([^<]*)</a>', 1),
         |    x -> length(x))), 0) AS link_chars
         |  FROM blk),
         |bm AS (SELECT page, bi, text, link_chars, length(text) AS n_chars,
         |  string_split_regex(trim(lower(text)), '\\s+') AS ts
         |  FROM bst WHERE text <> ''),
         |bd AS (SELECT page, bi, text, n_chars,
         |  CAST(floor(link_chars*1000000.0/greatest(n_chars, 1)) AS BIGINT)
         |    AS link_ppm,
         |  CAST(floor(len(list_filter(ts, t -> t IN (
         |    ${TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")})))
         |    *1000000.0/greatest(len(ts), 1)) AS BIGINT) AS stop_ppm
         |  FROM bm),
         |bc AS (SELECT *, CASE WHEN link_ppm > 200000 THEN 'bad'
         |  WHEN n_chars < 40 THEN 'short'
         |  WHEN stop_ppm >= 30000 AND n_chars >= 80 THEN 'good'
         |  ELSE 'neutral' END AS cls FROM bd),
         |bf AS (SELECT *, (cls = 'good' OR ((cls = 'short' OR cls = 'neutral')
         |  AND lag(cls) OVER bw = 'good' AND lead(cls) OVER bw = 'good')) AS keep
         |  FROM bc WINDOW bw AS (PARTITION BY page ORDER BY bi)),
         |strip AS (SELECT page,
         |  coalesce(string_agg(text, ' ' ORDER BY bi) FILTER (WHERE keep), '')
         |    AS text_clean
         |  FROM bf GROUP BY page),
         |gated AS (SELECT page, text_clean,
         |  len(string_split_regex(trim(lower(text_clean)), '\\s+')) AS n_toks,
         |  CASE WHEN page % 10 < 6 THEN 'a' WHEN page % 10 < 9 THEN 'b'
         |    ELSE 'c' END AS domain
         |  FROM strip
         |  WHERE len(string_split_regex(trim(lower(text_clean)), '\\s+')) >= 20),
         |n AS (SELECT domain, count(*) AS nd FROM gated GROUP BY domain),
         |r AS (SELECT domain, sqrt((SELECT min(nd) FROM n)*1.0/nd) AS rate
         |  FROM n),
         |mix AS (SELECT g.* FROM gated g JOIN r USING (domain)
         |  WHERE (((${duckHash("CAST(page AS VARCHAR)")})*1315423911 + 2654435761)
         |    % 1000000007)*1.0/1000000007 < r.rate)
         |SELECT domain, count(*) AS n_pages,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(page) AS BIGINT) AS page_checksum
         |FROM mix GROUP BY domain ORDER BY domain""".stripMargin
    ),

    // ---- corpus-wide line dedup (C4/CCNet boilerplate removal) ----------
    // Pages are synthesized on both engines: page p holds docs
    // [5p, 5p+6] (docs with doc_id%5<2 overlap onto the previous page →
    // cross-page duplicate lines) plus a shared HEADER/FOOTER line on
    // every page — exactly the boilerplate the operator must strip from
    // all but the first page. SF-invariant: no corpus-size constants.
    // ---- distributed suffix array (prefix doubling) --------------------
    // The full suffix permutation over every doc, pinned in #docs rows via
    // a per-doc position-weighted rank checksum mod 1e9+7 — the oracle
    // materializes every suffix string and window-sorts it (fine at gate
    // scale), the engine never materializes any suffix (the scale story).
    // Ties between byte-identical suffixes (the corpus plants exact
    // copies) break by (doc, pos) in BOTH engines.
    "dd_suffix_array" -> QuerySpec(
      (s, dir) => SuffixArray.rankChecksum(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id").orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
        |s AS (SELECT doc_id, text, unnest(range(0, len(text))) AS pos FROM d),
        |sf AS (SELECT doc_id, pos,
        |  substr(text, CAST(pos + 1 AS INTEGER)) AS sfx FROM s),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (ORDER BY sfx, doc_id, pos) - 1 AS sa FROM sf)
        |SELECT doc_id, count(*) AS n_suffixes,
        |  CAST(min(sa) AS BIGINT) AS min_rank,
        |  CAST(max(sa) AS BIGINT) AS max_rank,
        |  CAST(sum((sa % 1000000007) * ((pos + 1) % 1000000007)
        |    % 1000000007) % 1000000007 AS BIGINT) AS rank_checksum
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ),

    // ---- exact duplicated-substring spans over the suffix array --------
    // Lee et al. 2022 exact-substring dedup signal: a position starts a
    // ≥20-char EXACT repeat iff its LCP with a rank-adjacent suffix is
    // ≥20 (adjacency maximizes LCP, so the two neighbors are sufficient).
    // The corpus's planted near-copies carry long shared spans, so dup
    // mass is real, not degenerate. LCPs cap at 64 in both engines.
    "dd_dup_substrings" -> QuerySpec(
      (s, dir) => SuffixArray.dupSpans(t(s, dir, "documents"), "doc_id", "text",
          minLen = 20, cap = 64)
        .withColumnRenamed("doc", "doc_id").orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
        |s AS (SELECT doc_id, text, unnest(range(0, len(text))) AS pos FROM d),
        |sf AS (SELECT doc_id, pos,
        |  substr(text, CAST(pos + 1 AS INTEGER), 64) AS pfx,
        |  substr(text, CAST(pos + 1 AS INTEGER)) AS sfx FROM s),
        |r AS (SELECT doc_id, pos, pfx,
        |  row_number() OVER (ORDER BY sfx, doc_id, pos) - 1 AS sa FROM sf),
        |e AS (SELECT a.sa AS sa,
        |  -- substr past end-of-string returns the whole string, so the
        |  -- prefix test must ALSO require i <= both lengths or identical
        |  -- short suffixes would count as cap-length matches
        |  CAST(len(list_filter(range(1, 65),
        |    i -> i <= least(len(a.pfx), len(b.pfx))
        |     AND substr(a.pfx, 1, CAST(i AS INTEGER))
        |       = substr(b.pfx, 1, CAST(i AS INTEGER)))) AS INTEGER) AS lcp
        |  FROM r a JOIN r b ON b.sa = a.sa + 1),
        |p AS (SELECT r.doc_id,
        |  greatest(coalesce(en.lcp, 0), coalesce(ep.lcp, 0)) AS dup_len
        |  FROM r LEFT JOIN e en ON en.sa = r.sa
        |         LEFT JOIN e ep ON ep.sa = r.sa - 1)
        |SELECT doc_id, count(*) AS n_suffixes,
        |  CAST(sum(CASE WHEN dup_len >= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_pos,
        |  CAST(max(dup_len) AS INTEGER) AS max_dup_len
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ),

    // ---- exact-substring dedup APPLY (span removal) ---------------------
    // The missing half of dd_dup_substrings: non-first duplicated spans
    // (SA-predecessor shares ≥ 20 chars) are CUT, overlaps merged, text
    // reassembled from the surviving segments — the Lee et al. 2022
    // ExactSubstr removal. The oracle replays the whole pipeline
    // (naive SA + lag LCP + gaps-and-islands + string_agg reassembly);
    // cleaned text compares as md5 so the result stays row-compact.
    "dd_substring_removal" -> QuerySpec(
      (s, dir) => SuffixArray.removeDupSpans(t(s, dir, "documents"),
          "doc_id", "text", minLen = 20, cap = 64)
        .withColumnRenamed("doc", "doc_id").orderBy("doc_id"),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
        |s AS (SELECT doc_id, text, unnest(range(0, len(text))) AS pos FROM d),
        |sf AS (SELECT doc_id, pos,
        |  substr(text, CAST(pos + 1 AS INTEGER), 64) AS pfx,
        |  substr(text, CAST(pos + 1 AS INTEGER)) AS sfx FROM s),
        |r AS (SELECT doc_id, pos, pfx,
        |  row_number() OVER (ORDER BY sfx, doc_id, pos) - 1 AS sa FROM sf),
        |l AS (SELECT doc_id, pos, pfx, lag(pfx) OVER (ORDER BY sa) AS pp FROM r),
        |lc AS (SELECT doc_id, pos,
        |  CASE WHEN pp IS NULL THEN 0 ELSE
        |    CAST(len(list_filter(range(1, 65),
        |      i -> i <= least(len(pfx), len(pp))
        |       AND substr(pfx, 1, CAST(i AS INTEGER))
        |         = substr(pp, 1, CAST(i AS INTEGER)))) AS INTEGER) END AS lcp
        |  FROM l),
        |iv AS (SELECT doc_id, pos AS s, pos + lcp AS e FROM lc WHERE lcp >= 20),
        |im AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax FROM iv),
        |isl AS (SELECT *, sum(CASE WHEN runmax IS NULL OR s > runmax
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM im),
        |mg AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
        |  FROM isl GROUP BY 1, 2),
        |mid AS (SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS st,
        |    s AS en FROM mg),
        |tl AS (SELECT mg.doc_id, max(e) AS st FROM mg GROUP BY 1),
        |tailseg AS (SELECT t.doc_id, t.st, len(d.text) AS en
        |  FROM tl t JOIN d ON d.doc_id = t.doc_id),
        |unc AS (SELECT d.doc_id, 0 AS st, len(d.text) AS en FROM d
        |  LEFT JOIN (SELECT DISTINCT doc_id FROM mg) m ON d.doc_id = m.doc_id
        |  WHERE m.doc_id IS NULL),
        |segs AS (SELECT * FROM mid UNION ALL SELECT * FROM tailseg
        |  UNION ALL SELECT * FROM unc),
        |ps AS (SELECT g.doc_id, st, en - st AS plen,
        |    substr(d.text, CAST(st + 1 AS INTEGER), CAST(en - st AS INTEGER))
        |      AS piece
        |  FROM segs g JOIN d ON d.doc_id = g.doc_id WHERE en > st),
        |ag AS (SELECT doc_id, string_agg(piece, '' ORDER BY st) AS kept,
        |    sum(plen) AS kept_len FROM ps GROUP BY 1),
        |ns AS (SELECT doc_id, count(*) AS n_spans FROM mg GROUP BY 1)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS orig_len,
        |  CAST(coalesce(ag.kept_len, 0) AS BIGINT) AS kept_len,
        |  CAST(coalesce(ns.n_spans, 0) AS BIGINT) AS n_spans_cut,
        |  md5(coalesce(ag.kept, '')) AS cleaned_md5
        |FROM d LEFT JOIN ag ON ag.doc_id = d.doc_id
        |LEFT JOIN ns ON ns.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin
    ),

    "dd_line_dedup" -> QuerySpec(
      (s, dir) => {
        val l = t(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 100).as("l"))
        val pg = floor(col("doc_id") / 5)
        val mem = l.select(col("doc_id"), col("l"),
          explode(when(col("doc_id") % 5 < 2 && col("doc_id") >= 5,
              array(pg, pg - 1)).otherwise(array(pg))).as("page"))
        val pages = mem.groupBy("page").agg(
          concat_ws("\n", lit("HEADER: shared boilerplate"),
            array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("l")))),
              x => x.getField("l")), "\n"),
            lit("FOOTER: (c) legal text")).as("text"))
        Dedup.lineDedup(pages, "page", "text").orderBy("doc")
      },
      s"""WITH l AS (SELECT doc_id, substr(text, 1, 100) AS l FROM documents),
         |mem AS (
         |  SELECT doc_id, l, doc_id // 5 AS page FROM l
         |  UNION ALL
         |  SELECT doc_id, l, doc_id // 5 - 1 FROM l
         |  WHERE doc_id % 5 < 2 AND doc_id >= 5),
         |pages AS (SELECT page,
         |  'HEADER: shared boilerplate' || chr(10) ||
         |  string_agg(l, chr(10) ORDER BY doc_id, l) || chr(10) ||
         |  'FOOTER: (c) legal text' AS text
         |  FROM mem GROUP BY page),
         |lines AS (SELECT page, unnest(range(len(ls))) AS p, unnest(ls) AS line
         |  FROM (SELECT page, string_split(text, chr(10)) AS ls FROM pages)),
         |ne AS (SELECT * FROM lines WHERE length(trim(line)) > 0),
         |first AS (SELECT line, page, p FROM (
         |  SELECT line, page, p,
         |    row_number() OVER (PARTITION BY line ORDER BY page, p) AS rn
         |  FROM ne) WHERE rn = 1),
         |drops AS (SELECT ne.page, ne.p FROM ne JOIN first f USING (line)
         |  WHERE ne.page <> f.page OR ne.p <> f.p),
         |kept AS (SELECT li.* FROM lines li ANTI JOIN drops
         |  ON li.page = drops.page AND li.p = drops.p),
         |reb AS (SELECT page, count(*) AS n_kept,
         |  string_agg(line, chr(10) ORDER BY p) AS cleaned
         |  FROM kept GROUP BY page),
         |tot AS (SELECT page, count(*) AS n_lines FROM lines GROUP BY page)
         |SELECT tot.page AS doc, tot.n_lines,
         |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(reb.cleaned, '') AS cleaned
         |FROM tot LEFT JOIN reb USING (page)
         |ORDER BY doc""".stripMargin
    ),

    "dd_substring_dedup" -> QuerySpec(
      (s, dir) =>
        Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text", 5)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(range(1, len(ts)+1)) AS p FROM toks),
         |wins AS (SELECT doc_id, unnest(range(1, len(ts)-3)) AS p, unnest(
         |  [array_to_string(ts[i:i+4],' ') for i in range(1, len(ts)-3)]) AS s
         |  FROM toks),
         |dupkeys AS (SELECT s FROM (
         |  SELECT s, count(DISTINCT doc_id) AS nd FROM wins GROUP BY s)
         |  WHERE nd >= 2),
         |occ AS (SELECT w.doc_id, w.p, row_number() OVER (
         |  PARTITION BY w.s ORDER BY w.doc_id, w.p) AS rn
         |  FROM wins w JOIN dupkeys d ON w.s = d.s),
         |cov AS (SELECT DISTINCT doc_id, cp FROM (
         |  SELECT doc_id, unnest(range(p, p+5)) AS cp FROM occ WHERE rn > 1)),
         |kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
         |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
         |  WHERE c.cp IS NULL),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY p) AS cleaned FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  coalesce(reb.n_kept, 0) AS n_kept,
         |  coalesce(reb.cleaned, '') AS cleaned
         |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id
         |ORDER BY t.doc_id""".stripMargin
    ),

    // ---- exact-substring removal, ANY-repeat scope ----------------------
    // crossDocOnly=false: within-doc repeats count too (full Lee et al.
    // semantics) — gate is total occurrences >= 2 instead of >= 2 docs.
    "dd_substring_dedup_all" -> QuerySpec(
      (s, dir) =>
        Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text", 5,
          crossDocOnly = false)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(range(1, len(ts)+1)) AS p FROM toks),
         |wins AS (SELECT doc_id, unnest(range(1, len(ts)-3)) AS p, unnest(
         |  [array_to_string(ts[i:i+4],' ') for i in range(1, len(ts)-3)]) AS s
         |  FROM toks),
         |dupkeys AS (SELECT s FROM (
         |  SELECT s, count(*) AS nd FROM wins GROUP BY s)
         |  WHERE nd >= 2),
         |occ AS (SELECT w.doc_id, w.p, row_number() OVER (
         |  PARTITION BY w.s ORDER BY w.doc_id, w.p) AS rn
         |  FROM wins w JOIN dupkeys d ON w.s = d.s),
         |cov AS (SELECT DISTINCT doc_id, cp FROM (
         |  SELECT doc_id, unnest(range(p, p+5)) AS cp FROM occ WHERE rn > 1)),
         |kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
         |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
         |  WHERE c.cp IS NULL),
         |reb AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY p) AS cleaned FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  coalesce(reb.n_kept, 0) AS n_kept,
         |  coalesce(reb.cleaned, '') AS cleaned
         |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id
         |ORDER BY t.doc_id""".stripMargin
    ),

    // ---- RAG-style sliding-window token chunking ------------------------
    // 64-token chunks, stride 48 (16-token overlap); trailing partial
    // chunk kept. Pure projection + generator, zero shuffles.
    "tx_chunk_split" -> QuerySpec(
      (s, dir) =>
        TextAnalysis.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 48)
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id", "chunk_idx"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |n AS (SELECT doc_id, ts,
         |  CAST(ceil(greatest(len(ts) - 64, 0) / 48.0) AS INTEGER) + 1 AS nc
         |  FROM toks WHERE len(ts) > 0)
         |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |  array_to_string(ts[i*48+1:i*48+64], ' ') AS chunk_text,
         |  CAST(len(ts[i*48+1:i*48+64]) AS INTEGER) AS n_tokens
         |FROM n, unnest(range(0, nc)) r(i)
         |ORDER BY doc_id, chunk_idx""".stripMargin
    ),

    // ---- class-balanced downsampling ------------------------------------
    // Every label down-sampled to the smallest label's size in
    // expectation, deterministic hash keep.
    "sp_class_balance" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.balanceClasses(
          t(s, dir, "embeddings"), "vec_id", "label")
          .select("vec_id", "label")
          .orderBy("vec_id"),
      s"""WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
         |m AS (SELECT min(n) AS mn FROM c)
         |SELECT vec_id, label FROM embeddings e
         |JOIN c USING (label) CROSS JOIN m
         |WHERE (((${duckHash("CAST(vec_id AS VARCHAR)")})*1315423911 + 2654435761)
         |  % 1000000007)*1.0/1000000007 < mn*1.0/n
         |ORDER BY vec_id""".stripMargin
    ),

    // ---- dedup audit: cluster-size histogram ----------------------------
    // Sizes an exact-dedup pass BEFORE running it: for each cluster size,
    // #clusters and #docs under the 10-token prefix key (the
    // dd_exact_dedup key).
    "dd_cluster_histogram" -> QuerySpec(
      (s, dir) =>
        Dedup.dupClusterHistogram(
          t(s, dir, "documents")
            .withColumn("pkey", Dedup.prefixKey(col("text"), 10)),
          Seq("pkey"))
          .orderBy("cluster_size"),
      s"""SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM (
         |  SELECT count(*) AS cluster_size FROM documents
         |  GROUP BY array_to_string(($duckToks)[1:10], ' '))
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin
    ),

    // ---- dedup audit: duplicate rate by source --------------------------
    "dd_dup_rate_by_source" -> QuerySpec(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("pkey", Dedup.prefixKey(col("text"), 10))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("pkey")).as("n_unique"))
          .select(col("source"), col("n_docs"), col("n_unique"),
            round(lit(1.0) - col("n_unique") / col("n_docs").cast("double"), 4)
              .as("dup_rate"))
          .orderBy("source"),
      s"""SELECT source, count(*) AS n_docs,
         |  count(DISTINCT array_to_string(($duckToks)[1:10], ' ')) AS n_unique,
         |  round(1.0 - count(DISTINCT array_to_string(($duckToks)[1:10], ' '))
         |    / count(*)::DOUBLE, 4) AS dup_rate
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    ),

    // ---- corpus-trained bigram-LM quality score (CCNet-style) -----------
    "tx_lm_bigram_score" -> QuerySpec(
      (s, dir) =>
        TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("doc", "doc_id")
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |bi AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1,
         |  unnest(ts[2:len(ts)]) AS w2 FROM toks WHERE len(ts) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM (
         |  SELECT unnest(ts) AS w1 FROM toks) GROUP BY 1),
         |big AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         |v AS (SELECT count(DISTINCT w1) AS v FROM (SELECT unnest(ts) AS w1 FROM toks)),
         |g AS (
         |  SELECT bi.doc_id, count(*) AS n_bigrams,
         |    CAST(sum(CAST(round(ln((big.c12 + 1.0) / (uni.c1 + v.v)), 6)
         |        AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS islp
         |  FROM bi JOIN big ON bi.w1 = big.w1 AND bi.w2 = big.w2
         |  JOIN uni ON bi.w1 = uni.w1 CROSS JOIN v
         |  GROUP BY bi.doc_id)
         |SELECT doc_id, n_bigrams,
         |  (CASE WHEN islp < 0 THEN -1 ELSE 1 END
         |    * ((2*abs(islp) + 100*n_bigrams) // (200*n_bigrams))) / 10000.0
         |    AS avg_logprob
         |FROM g ORDER BY doc_id""".stripMargin
    ),

    // ---- training-shard manifest ----------------------------------------
    // Deterministic uniform 16-way shard assignment + per-shard accounting
    // (docs, token mass, id checksum) — the bookkeeping half of sharded
    // corpus writes.
    "sp_shard_manifest" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.shardManifest(docs, "doc_id",
          TextAnalysis.tokenCount(col("text")), 16)
          .orderBy("shard")
      },
      s"""SELECT CAST((((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911
         |    + 2654435761) % 1000000007) * 16 // 1000000007 AS INTEGER) AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(len($duckToks)) AS BIGINT) AS total_tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin
    ),

    // ---- WebDataset-style shard byte layout ----------------------------
    // Tar-member arithmetic per record (one block header + payload
    // rounded up to a block) prefix-summed within each deterministic
    // shard: the seek index a multimodal shard reader needs. One
    // shard-partitioned window, integer-exact.
    "mm_shard_layout" -> QuerySpec(
      (s, dir) =>
        graft.operators.Packing.shardLayout(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", col("n_chars"), nShards = 8)
          .select("doc_id", "shard", "payload_bytes", "entry_bytes",
            "byte_offset")
          .orderBy("doc_id"),
      s"""WITH e AS (
         |  SELECT doc_id,
         |    CAST((((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911
         |      + 2654435761) % 1000000007) * 8 // 1000000007 AS INTEGER) AS shard,
         |    CAST(n_chars AS BIGINT) AS payload_bytes,
         |    CAST(((n_chars + 511) // 512) * 512 + 512 AS BIGINT) AS entry_bytes
         |  FROM documents)
         |SELECT doc_id, shard, payload_bytes, entry_bytes,
         |  CAST(coalesce(sum(entry_bytes) OVER (PARTITION BY shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) AS byte_offset
         |FROM e ORDER BY doc_id""".stripMargin
    ),

    // ---- DSIR importance weights (Xie et al. 2023) -----------------------
    // Hashed-n-gram (unigram+bigram, 512 buckets) importance log-weights
    // of the raw corpus toward the English-subset target distribution —
    // the published data-selection recipe. Integer-exact output
    // (logw_micro LONG via the round-6 DECIMAL ratio table), so the
    // engine comparison has no float surface.
    "sp_dsir_weights" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.dsirLogWeights(
            docs, docs.filter(col("lang") === "en"), "doc_id", "text", 512)
          .select(col("doc").as("doc_id"), col("n_feats"), col("logw_micro"))
          .orderBy("doc_id")
      },
      s"""WITH ${duckDsirCtes("documents", "(SELECT doc_id, text FROM documents WHERE lang = 'en')")}
         |SELECT doc AS doc_id, n_feats, logw_micro FROM w
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- DSIR at paper scale: 8192 hashed buckets ------------------------
    // Xie et al.'s published recipe uses 10k buckets, not the compact 512
    // of sp_dsir_weights; the ratio table stays driver-trivial (8192
    // rows, broadcast) and the corpus passes are bucket-count-invariant —
    // the row proves the engine holds its integer-exact contract at the
    // paper's resolution, where most buckets are sparse and the add-one
    // smoothing floor actually bites.
    "sp_dsir_weights_8k" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.dsirLogWeights(
            docs, docs.filter(col("lang") === "en"), "doc_id", "text", 8192)
          .select(col("doc").as("doc_id"), col("n_feats"), col("logw_micro"))
          .orderBy("doc_id")
      },
      s"""WITH ${duckDsirCtes("documents", "(SELECT doc_id, text FROM documents WHERE lang = 'en')", buckets = 8192)}
         |SELECT doc AS doc_id, n_feats, logw_micro FROM w
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- multi-target DSIR mixture weights --------------------------------
    // The data-MIXING use: every doc scored against THREE target domains
    // (en/de/fr subsets) from ONE corpus feature pass + one broadcast
    // (bucket, domain, ratio) table; is_best is the argmax-domain
    // assignment a mixing router uses (logw desc, domain asc ties).
    "sp_dsir_mixture" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        def tgt(l: String) =
          docs.filter(col("lang") === l).select("doc_id", "text")
        graft.operators.Sampling.dsirMixtureWeights(
            docs, Seq("en" -> tgt("en"), "de" -> tgt("de"),
              "fr" -> tgt("fr")), "doc_id", "text", buckets = 512)
          .select(col("doc").as("doc_id"), col("domain"), col("n_feats"),
            col("logw_micro"), col("is_best"))
          .orderBy("doc_id", "domain")
      },
      {
        def tgtSql(l: String) =
          s"(SELECT doc_id, text FROM documents WHERE lang = '$l')"
        s"""WITH ${duckDsirMixtureCtes("documents",
            Seq("en" -> tgtSql("en"), "de" -> tgtSql("de"),
              "fr" -> tgtSql("fr")))}
           |SELECT doc AS doc_id, domain, n_feats, logw_micro,
           |  row_number() OVER (PARTITION BY doc
           |    ORDER BY logw_micro DESC, domain) = 1 AS is_best
           |FROM mixw ORDER BY doc_id, domain""".stripMargin
      }
    ),

    // ---- DSIR Gumbel-top-k resample ---------------------------------------
    // The paper's sampling-without-replacement, deterministic: Gumbel
    // noise from the engine's key hash, micro-unit LONG selection keys,
    // bounded map-side-combined global top-k (never a full corpus sort).
    "sp_dsir_resample" -> QuerySpec(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.dsirResample(
            docs, docs.filter(col("lang") === "en"), "doc_id", "text",
            k = 100, buckets = 512)
          .select(col("doc").as("doc_id"), col("key_micro"))
          .orderBy(col("key_micro").desc, col("doc_id"))
      },
      s"""WITH ${duckDsirCtes("documents", "(SELECT doc_id, text FROM documents WHERE lang = 'en')")},
         |sel AS (SELECT doc, logw_micro + CAST(floor(-ln(-ln(
         |    ((${duckHash("CAST(doc AS VARCHAR)")} * 1315423911 + 2654435761)
         |      % 1000000007 + 0.5) / 1000000007.0)) * 1000000.0) AS BIGINT)
         |  AS key_micro FROM w)
         |SELECT doc AS doc_id, key_micro FROM (
         |  SELECT doc, key_micro, row_number() OVER (
         |    ORDER BY key_micro DESC, doc) AS rn FROM sel)
         |WHERE rn <= 100 ORDER BY key_micro DESC, doc_id""".stripMargin
    ),

    // ---- END-TO-END pretrain-data curation funnel ------------------------
    // The flagship composition a pretraining-data user actually runs,
    // chained from individually-verified stages: Gopher quality gate →
    // exact-text dedup (first-wins) → MinHash-LSH near-dup
    // removal (verified pairs, id_b drops) → DSIR selection toward the
    // English target. Output is the funnel: one row per stage with
    // surviving doc and token counts — the number a curation report
    // quotes. Every stage is the library operator, not a re-derivation;
    // the oracle chains the same verified CTE fragments.
    "pipeline_pretrain_funnel" -> QuerySpec(
      (s, dir) => {
        // each stage feeds BOTH the next stage and its own funnel
        // aggregate (plus LSH/DSIR hang two consumers off `exact`/`nd`):
        // checkpoint-cut every stage so the chain executes once, not
        // once per consumer (measured at sf0.1: 10.2 s uncut -> 5.2 s).
        // r16 (VERDICT r15 #1): the five stage aggregates each summed
        // tokenCount over their own corpus copy — up to five regex
        // tokenize passes, the ~2.8 s unpriced tail the stage rows
        // exposed (composite 6.3 vs stage4 3.5 in one window). Tokenize
        // ONCE, materialize the tokenized corpus, and carry `__toks`
        // through the chain: every stage aggregate sums the
        // already-computed column and the DSIR target reads the same
        // materialized corpus. (A/B'd against tokenize-at-quality with
        // no corpus checkpoint: 6.24 s vs 4.75 — the one-time
        // materialization beats re-scanning parquet + re-tokenizing in
        // the three extra consumers.) Identical results (same texts →
        // same counts).
        val docs = Cuts.cut(t(s, dir, "documents")
          .withColumn("__toks",
            TextAnalysis.tokenCount(col("text")).cast("long")))
        val quality = Cuts.cut(docs.filter(TextAnalysis.gopherPass(col("text"))))
        // exact stage keys its shuffles on xxhash64(text) — the 8-byte
        // discipline of Dedup.incrementalDedup — NOT on the text itself:
        // keyed on full text, every surviving corpus byte crosses the
        // exchange twice (groupBy + join back), which at 100 TB is the
        // whole corpus through the wire twice for a first-wins count.
        // Counts are identical under xxhash64's no-collision regime
        // (64-bit keys; the library-wide substringDedup contract), and
        // the oracle keeps PARTITION BY text — same survivors either way.
        val fp = quality.withColumn("fp", xxhash64(col("text")))
        val exact = Cuts.cut(fp.join(
            fp.groupBy("fp").agg(min("doc_id").as("keep")), "fp")
          .filter(col("doc_id") === col("keep"))
          .select(docs.columns.map(col): _*))
        val dupB = Dedup.minhashLshPairs(exact, "doc_id", "text",
            n = 3, numHashes = NumHashes, bandSize = BandSize, threshold = 0.8)
          .select(col("id_b").as("doc_id")).distinct()
        val nd = Cuts.cut(exact.join(dupB, Seq("doc_id"), "left_anti"))
        val sel = graft.operators.Sampling.dsirResample(
            nd, docs.filter(col("lang") === "en"), "doc_id", "text",
            k = 150, buckets = 512)
          .select(col("doc").as("doc_id"))
        val selected = nd.join(sel, Seq("doc_id"), "left_semi")
        def stage(name: String, idx: Int,
            df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("__toks")), lit(0L)).as("n_tokens"))
            .select(lit(name).as("stage"), lit(idx).as("stage_idx"),
              col("n_docs"), col("n_tokens"))
        stage("raw", 1, docs)
          .unionByName(stage("quality", 2, quality))
          .unionByName(stage("exact_dedup", 3, exact))
          .unionByName(stage("near_dup", 4, nd))
          .unionByName(stage("dsir_select", 5, selected))
          .orderBy("stage_idx")
      },
      {
        val stop = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        s"""WITH gm AS (SELECT doc_id, text, $duckToks AS ts,
           |    length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
           |    length(regexp_replace(regexp_replace(text, '\\s', '', 'g'),
           |      '[a-zA-Z0-9]', '', 'g')) AS n_punct
           |  FROM documents),
           |q1 AS MATERIALIZED (SELECT doc_id, text, len(ts) AS n_toks FROM gm
           |  WHERE len(ts) BETWEEN 50 AND 100000
           |    AND list_reduce(list_transform(ts, w -> len(w)), (a, b) -> a + b)
           |      * 1.0 / greatest(len(ts), 1) BETWEEN 3 AND 10
           |    AND n_punct * 1.0 / greatest(n_nonspace, 1) < 0.1
           |    AND len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
           |      * 1.0 / greatest(len(ts), 1) > 0.8
           |    AND len(list_filter(ts, t -> t IN ($stop))) >= 2),
           |e1 AS MATERIALIZED (SELECT doc_id, text, n_toks FROM (
           |  SELECT doc_id, text, n_toks, row_number() OVER (
           |    PARTITION BY text ORDER BY doc_id) AS rn
           |  FROM q1) WHERE rn = 1),
           |${duckMinhashCtes("e1")},
           |dupb AS (SELECT DISTINCT c.id_b FROM cand c
           |  JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
           |  WHERE j.jaccard >= 0.8),
           |nd AS MATERIALIZED (SELECT doc_id, text, n_toks FROM e1
           |  WHERE doc_id NOT IN (SELECT id_b FROM dupb)),
           |${duckDsirCtes("nd", "(SELECT doc_id, text FROM documents WHERE lang = 'en')")},
           |sel AS (SELECT doc FROM (
           |  SELECT doc, row_number() OVER (ORDER BY logw_micro +
           |    CAST(floor(-ln(-ln(((${duckHash("CAST(doc AS VARCHAR)")}
           |      * 1315423911 + 2654435761) % 1000000007 + 0.5)
           |      / 1000000007.0)) * 1000000.0) AS BIGINT) DESC, doc) AS rn
           |  FROM w) WHERE rn <= 150),
           |fsel AS (SELECT nd.* FROM nd JOIN sel ON nd.doc_id = sel.doc),
           |rawc AS (SELECT doc_id,
           |  len($duckToks) AS n_toks FROM documents)
           |SELECT stage, CAST(stage_idx AS INTEGER) AS stage_idx,
           |  CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(n_tokens AS BIGINT) AS n_tokens FROM (
           |  SELECT 'raw' AS stage, 1 AS stage_idx, count(*) AS n_docs,
           |    sum(n_toks) AS n_tokens FROM rawc
           |  UNION ALL SELECT 'quality', 2, count(*), sum(n_toks) FROM q1
           |  UNION ALL SELECT 'exact_dedup', 3, count(*), sum(n_toks) FROM e1
           |  UNION ALL SELECT 'near_dup', 4, count(*), sum(n_toks) FROM nd
           |  UNION ALL SELECT 'dsir_select', 5, count(*), sum(n_toks) FROM fsel)
           |ORDER BY stage_idx""".stripMargin
      }
    ),

    // ---- END-TO-END multimodal curation funnel ---------------------------
    // The image-corpus mirror of pipeline_pretrain_funnel (VERDICT r13
    // #6), chained from individually-verified stages: decode-audit gate
    // (corrupt payloads quarantined, mm_phash_dedup's fixture) →
    // exact-perceptual dedup (keep-best per aHash via the ONE-aggregation
    // keepBestPerKey — key is two LONGs, never pixels) → caption quality
    // gate (the paired documents text, token floor) → shard layout
    // (padded entry accounting, mm_shard_layout's formula). One row per
    // stage with surviving item count and pixel mass; the final stage
    // reports the laid-out shard-file byte mass (entries padded to
    // 512-byte blocks) — encoded payload bytes are never oracled
    // (encoder-version-dependent), pixel and layout arithmetic is.
    // Stages are checkpoint-cut so each executes once (the
    // pipeline_pretrain_funnel discipline).
    "pipeline_multimodal_funnel" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val g = expr("doc_id div 3")
        val specs = docs.select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(16) + (g % 12) * 2).cast("int").as("w"),
          (lit(16) + (g % 9) * 2).cast("int").as("h"),
          ((g * 19) % 250 + col("doc_id") % 3).cast("int").as("shade")
        ).as[Multimodal.PatternImageSpec]
        val bin = Multimodal.synthesizePatternImages(s, specs)
          .select(col("doc_id"),
            when(col("doc_id") % 17 === 5, col("payload").substr(1, 20))
              .otherwise(col("payload")).as("payload"))
        val hashed = Cuts.cut(Multimodal.perceptualHash(s, bin).toDF())
        val ok = hashed.filter(col("status") === "ok")
        val deduped = Cuts.cut(Dedup.keepBestPerKey(ok,
            Seq("ahash_hi", "ahash_lo"), Seq(col("doc_id")),
            Seq("doc_id", "in_w", "in_h")))
        val captioned = Cuts.cut(deduped
          .join(docs.select(col("doc_id"), col("text")), "doc_id")
          .filter(TextAnalysis.tokenCount(col("text")) >= 60))
        val sharded = graft.operators.Packing.shardLayout(
          captioned.withColumn("n_px",
            (col("in_w").cast("long") * col("in_h"))),
          "doc_id", col("n_px"), nShards = 8)
        def stage(name: String, idx: Int,
            df: org.apache.spark.sql.DataFrame,
            px: org.apache.spark.sql.Column) =
          df.agg(count(lit(1)).as("n_items"),
            coalesce(sum(px.cast("long")), lit(0L)).as("n_px"))
            .select(lit(name).as("stage"), lit(idx).as("stage_idx"),
              col("n_items"), col("n_px"))
        stage("raw", 1, specs.toDF(), col("w") * col("h"))
          .unionByName(stage("decode_ok", 2, ok,
            col("in_w") * col("in_h")))
          .unionByName(stage("phash_dedup", 3, deduped,
            col("in_w") * col("in_h")))
          .unionByName(stage("caption_gate", 4, captioned,
            col("in_w") * col("in_h")))
          .unionByName(stage("shard_layout", 5, sharded,
            col("entry_bytes")))
          .orderBy("stage_idx")
      },
      """WITH s AS (
        |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS rep,
        |    doc_id % 17 = 5 AS bad
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, bad,
        |    16 + (g % 12) * 2 AS w, 16 + (g % 9) * 2 AS h,
        |    (g * 19) % 250 + rep AS shade
        |  FROM s),
        |px AS (SELECT doc_id, w, h, shade, unnest(range(0, w)) AS x
        |  FROM d WHERE NOT bad),
        |pxy AS (SELECT *, unnest(range(0, h)) AS y FROM px),
        |v AS (SELECT doc_id,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS idx,
        |    (x * 7 + y * 13 + shade) % 256 AS gval
        |  FROM pxy),
        |tot AS (SELECT doc_id, sum(gval) AS ts, count(*) AS tn
        |  FROM v GROUP BY 1),
        |cell AS (SELECT doc_id, idx, sum(gval) AS bs, count(*) AS cn
        |  FROM v GROUP BY 1, 2),
        |bits AS (SELECT c.doc_id, c.idx,
        |    CASE WHEN c.bs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS b
        |  FROM cell c JOIN tot t USING (doc_id)),
        |hs AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN idx < 32
        |      THEN b * (CAST(1 AS BIGINT) << (31 - idx)) ELSE 0 END)
        |      AS BIGINT) AS ahash_hi,
        |    CAST(sum(CASE WHEN idx >= 32
        |      THEN b * (CAST(1 AS BIGINT) << (63 - idx)) ELSE 0 END)
        |      AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1),
        |okk AS MATERIALIZED (SELECT d.doc_id, d.w, d.h, h.ahash_hi, h.ahash_lo
        |  FROM d JOIN hs h USING (doc_id) WHERE NOT d.bad),
        |ddp AS MATERIALIZED (SELECT doc_id, w, h FROM (
        |  SELECT doc_id, w, h, row_number() OVER (
        |    PARTITION BY ahash_hi, ahash_lo ORDER BY doc_id) AS rn
        |  FROM okk) WHERE rn = 1),
        |cap AS MATERIALIZED (SELECT ddp.doc_id, ddp.w, ddp.h
        |  FROM ddp JOIN documents dd ON dd.doc_id = ddp.doc_id
        |  WHERE len(string_split_regex(trim(lower(dd.text)), '\s+')) >= 60),
        |sh AS (SELECT doc_id, w * h AS npx,
        |  ((w * h + 511) // 512) * 512 + 512 AS entry_bytes FROM cap)
        |SELECT stage, CAST(stage_idx AS INTEGER) AS stage_idx,
        |  CAST(n_items AS BIGINT) AS n_items, CAST(n_px AS BIGINT) AS n_px
        |FROM (
        |  SELECT 'raw' AS stage, 1 AS stage_idx, count(*) AS n_items,
        |    sum(w * h) AS n_px FROM d
        |  UNION ALL SELECT 'decode_ok', 2, count(*), sum(w * h) FROM okk
        |  UNION ALL SELECT 'phash_dedup', 3, count(*), sum(w * h) FROM ddp
        |  UNION ALL SELECT 'caption_gate', 4, count(*), sum(w * h) FROM cap
        |  UNION ALL SELECT 'shard_layout', 5, count(*), sum(entry_bytes) FROM sh)
        |ORDER BY stage_idx""".stripMargin
    ),

    // ---- CCNet-style perplexity-band sampling ---------------------------
    // Band docs by the corpus-trained LM score (head/middle/tail), keep
    // head fully, sample middle at 50%, tail at 10% — deterministic hash
    // keep, so the kept set is reproducible and monotone in rate.
    "sp_perplexity_bands" -> QuerySpec(
      (s, dir) =>
        graft.operators.Sampling.qualityBandSample(
          TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text"),
          "doc", "avg_logprob", headCut = -3.39, tailCut = -3.42,
          rates = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1))
          .select(col("doc").as("doc_id"), col("band"), col("avg_logprob"))
          .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
         |bi AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1,
         |  unnest(ts[2:len(ts)]) AS w2 FROM toks WHERE len(ts) >= 2),
         |uni AS (SELECT w1, count(*) AS c1 FROM (
         |  SELECT unnest(ts) AS w1 FROM toks) GROUP BY 1),
         |big AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         |v AS (SELECT count(DISTINCT w1) AS v FROM (SELECT unnest(ts) AS w1 FROM toks)),
         |g AS (
         |  SELECT bi.doc_id, count(*) AS n_bigrams,
         |    CAST(sum(CAST(round(ln((big.c12 + 1.0) / (uni.c1 + v.v)), 6)
         |        AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS islp
         |  FROM bi JOIN big ON bi.w1 = big.w1 AND bi.w2 = big.w2
         |  JOIN uni ON bi.w1 = uni.w1 CROSS JOIN v
         |  GROUP BY bi.doc_id),
         |sc AS (
         |  SELECT doc_id,
         |    (CASE WHEN islp < 0 THEN -1 ELSE 1 END
         |      * ((2*abs(islp) + 100*n_bigrams) // (200*n_bigrams))) / 10000.0
         |      AS avg_logprob
         |  FROM g),
         |b AS (SELECT doc_id, avg_logprob,
         |  CASE WHEN avg_logprob >= -3.39 THEN 'head'
         |       WHEN avg_logprob >= -3.42 THEN 'middle'
         |       ELSE 'tail' END AS band FROM sc)
         |SELECT doc_id, band, avg_logprob FROM b
         |WHERE (((${duckHash("CAST(doc_id AS VARCHAR)")})*1315423911 + 2654435761)
         |  % 1000000007)*1.0/1000000007
         |  < CASE band WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5 ELSE 0.1 END
         |ORDER BY doc_id""".stripMargin
    ),

    // ---- ANN recall@k: IVF(nprobe=3) vs brute-force ground truth --------
    // ---- Matryoshka truncation recall -----------------------------------
    // MRL-style prefix truncation (Kusupati et al. 2022): rank by cosine
    // over the FIRST 16 of 64 dims and measure recall@5 against the
    // full-dim exact ranking — the "how much cheaper can serving be"
    // dial for prefix-truncatable embeddings. Same broadcast-queries
    // corpus scan; truncation is a pure projection (slice).
    "ann_matryoshka_recall" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val emb16 = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
        val q = emb.filter(col("vec_id") < 10)
        val q16 = emb16.filter(col("vec_id") < 10)
        Ann.recallEval(
          Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
          Ann.bruteForceTopK(emb16, q16, "vec_id", "embedding", 5), 5)
          .orderBy("query_id")
      },
      {
        val cos16 = "list_dot_product(a.v16, b.v16) / " +
          "(sqrt(list_dot_product(a.v16, a.v16)) * " +
          "sqrt(list_dot_product(b.v16, b.v16)))"
        s"""WITH t16 AS (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v16
           |  FROM embeddings),
           |bsc AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
           |  FROM embeddings a JOIN embeddings b
           |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
           |bru AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bsc)
           |  WHERE rank <= 5),
           |tsc AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cos16 AS cos
           |  FROM t16 a JOIN t16 b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
           |m16 AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM tsc)
           |  WHERE rank <= 5)
           |SELECT b.query_id,
           |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hits,
           |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
           |    AS recall
           |FROM bru b LEFT JOIN m16 i
           |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
           |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin
      }
    ),

    "ann_recall_eval" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Ann.recallEval(
          Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
          Ann.ivfTopK(emb, q, "vec_id", "embedding",
            k = 5, nLists = 8, nprobe = 3), 5)
          .orderBy("query_id")
      },
      s"""WITH ${duckIvfCtes(8)},
         |cent AS (SELECT c, center FROM c2),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |qd AS (
         |  SELECT query_id, c,
         |    list_dot_product(qv, qv) + list_dot_product(center, center)
         |      - 2*list_dot_product(qv, center) AS dist
         |  FROM q CROSS JOIN cent),
         |probes AS (SELECT query_id, c FROM (
         |  SELECT query_id, c, row_number() OVER (PARTITION BY query_id ORDER BY dist, c) AS rn
         |  FROM qd) WHERE rn <= 3),
         |isc AS (
         |  SELECT p.query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
         |  FROM probes p
         |  JOIN a3 ON a3.c = p.c
         |  JOIN embeddings a ON a.vec_id = p.query_id
         |  JOIN embeddings b ON b.vec_id = a3.id
         |  WHERE a3.id <> p.query_id),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM isc)
         |  WHERE rank <= 5),
         |bsc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |bru AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bsc)
         |  WHERE rank <= 5)
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
         |    AS recall
         |FROM bru b LEFT JOIN ivf i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin
    ),

    // ---- graph-walk ANN serve (HNSW/NSW-style batched beam search) ------
    // The missing serve tier over the persisted nnDescent k-NN graph:
    // symmetrize the edges (the HNSW bidirectional-link rule — a directed
    // k-NN graph strands queries in in-degree deserts), then walk from
    // entry node 0, expanding the beam's out-edges each hop and keeping
    // the best `beam` exactly-scored nodes. Per-query cost is
    // O(beam·degree·hops) — corpus-size-independent, no corpus scan. The
    // oracle replays the identical walk round by round.
    "ann_graph_search" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val graph = flatServeGraph(s, dir)
        Ann.graphSearch(graph, emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", entryIds = Seq(0L),
            beamWidth = 16, hops = 3, topK = 5)
          .orderBy("query_id", "rank")
      },
      s"""WITH ${duckGraphSearchCtes(8, 16, 3)}
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
         |  round(cos, 4) AS cos
         |FROM (SELECT query_id, nid, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM b3 WHERE nid <> query_id)
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- graph-walk, the serve tiers' 2×2-hop round structure -----------
    // The production config (fewer round barriers, deeper per-round
    // expansion) oracle-gated, not just spec-gated: the DuckDB walk
    // chains the 2-hop frontier closure per round exactly like
    // graphSearch's expandHops loop.
    "ann_graph_search_deep" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val graph = flatServeGraph(s, dir)
        Ann.graphSearch(graph, emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", entryIds = Seq(0L),
            beamWidth = 16, hops = 2, topK = 5, expandHops = 2)
          .orderBy("query_id", "rank")
      },
      s"""WITH ${duckGraphSearchCtes(8, 16, 2, expandHops = 2)}
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
         |  round(cos, 4) AS cos
         |FROM (SELECT query_id, nid, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM b2 WHERE nid <> query_id)
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- graph-walk recall@5 vs exact cosine ----------------------------
    // The quality dial of the graph serve tier (same contract as
    // ann_recall_eval / ann_pq_recall): how much of the exact top-5 a
    // beam=16, hops=3 walk recovers.
    "ann_graph_recall" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 8)
        val graph = flatServeGraph(s, dir)
        Ann.recallEval(
            Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
            Ann.graphSearch(graph, emb, q, "vec_id", "embedding",
              entryIds = Seq(0L), beamWidth = 16, hops = 3, topK = 5),
            5)
          .orderBy("query_id")
      },
      s"""WITH ${duckGraphSearchCtes(8, 16, 3)},
         |ap AS (SELECT query_id, nid AS neighbor_id FROM (
         |  SELECT query_id, nid, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM b3 WHERE nid <> query_id) WHERE rn <= 5),
         |bsc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
         |bru AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bsc)
         |  WHERE rank <= 5)
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
         |    AS recall
         |FROM bru b LEFT JOIN ap i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin
    ),

    // ---- NSW incremental insert (graph maintenance without rebuild) -----
    // The graph tier's answer to "a new vector arrived": hold out the
    // last 8 vectors, build the standing graph on the rest, and insert
    // them by the NSW rule — each searches the EXISTING graph for its
    // top-4 members and links bidirectionally. The oracle replays the
    // held-out walk over the corpus-only graph and derives the same
    // edge set. Streaming ingest (StreamingAnn.graphIngestToParquet)
    // appends exactly these edges per micro-batch — stream ≡ batch-fold,
    // Round14GraphSpec.
    "ann_graph_insert" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val n = emb.count()
        val corpus = emb.filter(col("vec_id") < n - 8)
        val batch = emb.filter(col("vec_id") >= n - 8)
        // base graph is a session-shared fixture (VERDICT r15 #2: this
        // was the last mixed build+measure row — its bench floor moved
        // with build noise, not insert cost). Deterministic build, so
        // sharing is result-identical; bench reps 2+ now price the
        // insert walk alone, and the build has its own priced row
        // (ann_graph_build).
        val graph = FixtureCache.cached(s, s"insertBaseGraph|$dir") {
          Ann.serveGraph(
            Ann.nnDescent(corpus, "vec_id", "embedding", k = 4, iters = 2))
        }
        Ann.graphInsertEdges(graph, corpus, batch, "vec_id", "embedding",
            kLink = 4, entryIds = Seq(0L), beamWidth = 16, hops = 2,
            expandHops = 2)
          .orderBy("src", "dst")
      },
      s"""WITH ${duckBaseGraphCtes(0,
            corpusSql = "SELECT vec_id, embedding FROM embeddings " +
              "WHERE vec_id < (SELECT count(*) - 8 FROM embeddings)",
            querySql = "SELECT vec_id AS query_id, " +
              "embedding::DOUBLE[] AS qv FROM embeddings " +
              "WHERE vec_id >= (SELECT count(*) - 8 FROM embeddings)")},
         |${duckWalkRounds(16, 2, 2)},
         |tk AS (SELECT query_id, nid FROM (
         |  SELECT query_id, nid, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM b2 WHERE nid <> query_id) WHERE rn <= 4)
         |SELECT src, dst FROM (
         |  SELECT query_id AS src, nid AS dst FROM tk
         |  UNION SELECT nid AS src, query_id AS dst FROM tk)
         |ORDER BY src, dst""".stripMargin
    ),

    // ---- filtered graph serve (metadata predicate + over-fetch) ---------
    // "Vector search WHERE predicate": the walk navigates the
    // UNRESTRICTED graph (restricting navigation strands queries — the
    // filtered-HNSW folklore result) and the predicate lands as a keyed
    // semi-join on the final beam; the over-fetched beamWidth (32 for
    // topK=5 at 1/3 selectivity) is the caller's recall dial.
    "ann_graph_filtered" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val graph = flatServeGraph(s, dir)
        Ann.graphSearchWhere(graph, emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", entryIds = Seq(0L),
            allowed = emb.filter(col("vec_id") % 3 === 0),
            beamWidth = 32, hops = 3, topK = 5)
          .orderBy("query_id", "rank")
      },
      s"""WITH ${duckGraphSearchCtes(8, 32, 3)}
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
         |  round(cos, 4) AS cos
         |FROM (SELECT query_id, nid, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM b3 WHERE nid <> query_id AND nid % 3 = 0)
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- graph deletion with bridge repair ------------------------------
    // The third leg of graph-index maintenance (build/insert/DELETE):
    // tombstoned ids leave the adjacency, and each hole is bridged by
    // connecting the deleted node's surviving neighbors pairwise —
    // exact-scored, top-kLink per endpoint, symmetrized (the HNSW repair
    // rule; without it churn fragments the graph). Candidate volume is
    // Σ degree² per deletion, never corpus-wide.
    "ann_graph_delete" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val graph = flatServeGraph(s, dir)
        Ann.graphDelete(graph, emb, emb.filter(col("vec_id") % 7 === 0),
            "vec_id", "embedding", kLink = 4)
          .orderBy("src", "dst")
      },
      s"""WITH ${duckBaseGraphCtes(0)},
         |del AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0),
         |kept AS (SELECT src, dst FROM adj
         |  WHERE src NOT IN (SELECT vec_id FROM del)
         |    AND dst NOT IN (SELECT vec_id FROM del)),
         |nbr AS (SELECT src AS x, dst AS n FROM adj
         |  WHERE src IN (SELECT vec_id FROM del)
         |    AND dst NOT IN (SELECT vec_id FROM del)),
         |cand AS (SELECT DISTINCT p.n AS ca, r.n AS cb
         |  FROM nbr p JOIN nbr r ON p.x = r.x AND p.n <> r.n),
         |csc AS (SELECT c.ca, c.cb, $duckCosine AS cos
         |  FROM cand c JOIN corp a ON a.vec_id = c.ca
         |    JOIN corp b ON b.vec_id = c.cb),
         |br AS (SELECT ca AS src, cb AS dst FROM (
         |  SELECT ca, cb, row_number() OVER (
         |    PARTITION BY ca ORDER BY cos DESC, cb) AS rn FROM csc)
         |  WHERE rn <= 4)
         |SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM kept
         |  UNION ALL SELECT src, dst FROM br
         |  UNION ALL SELECT dst AS src, src AS dst FROM br)
         |ORDER BY src, dst""".stripMargin
    ),

    // ---- two-stage ADC serve with exact re-rank (FAISS IndexRefine) -----
    // PQ-ADC produces a 20-deep shortlist per query; ONLY those rows are
    // re-scored with exact cosine and re-ranked to top-5 — serving cost
    // = code-scan + |queries|·shortlist exact scores, recall → exact as
    // the shortlist grows (the quality/cost dial).
    "ann_pq_rerank" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = pqBooksFixture(s, dir)
        Ann.pqAdcRerank(Ann.pqEncode(emb, "vec_id", "embedding", books),
            books, k = 8, emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", shortlist = 20, topK = 5)
          .orderBy("query_id", "rank")
      },
      {
        val sub = 16
        val luts = (0 until 4).map { sp =>
          val lo = sp * sub + 1
          s"""ld_$sp AS (
             |  SELECT q.query_id, cc.c,
             |    list_reduce(list_transform(range(1, $sub+1),
             |      i -> ((q.qv)[$lo+i-1]-cc.center[i])*((q.qv)[$lo+i-1]-cc.center[i])),
             |      (a, x) -> a + x) AS t
             |  FROM q CROSS JOIN c2_$sp cc)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckPqCtes(4, 8, 64)},
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |$luts,
           |sc AS (
           |  SELECT d0.query_id, e0.id AS neighbor_id,
           |    d0.t + d1.t + d2.t + d3.t AS dist
           |  FROM a3_0 e0
           |  JOIN a3_1 e1 ON e1.id = e0.id
           |  JOIN a3_2 e2 ON e2.id = e0.id
           |  JOIN a3_3 e3 ON e3.id = e0.id
           |  JOIN ld_0 d0 ON d0.c = e0.c
           |  JOIN ld_1 d1 ON d1.query_id = d0.query_id AND d1.c = e1.c
           |  JOIN ld_2 d2 ON d2.query_id = d0.query_id AND d2.c = e2.c
           |  JOIN ld_3 d3 ON d3.query_id = d0.query_id AND d3.c = e3.c
           |  WHERE e0.id <> d0.query_id),
           |sl AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn FROM sc)
           |  WHERE rn <= 20),
           |ex AS (SELECT s.query_id, s.neighbor_id, $duckCosine AS cos
           |  FROM sl s JOIN embeddings a ON a.vec_id = s.query_id
           |    JOIN embeddings b ON b.vec_id = s.neighbor_id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
           |  round(cos, 4) AS cos
           |FROM (SELECT query_id, neighbor_id, cos, row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM ex)
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- nn-descent convergence telemetry --------------------------------
    // The quantity nnDescentAuto's Dong-et-al. stop rule watches —
    // per-round |edges_r \ edges_{r-1}| — exposed so an operator can SIZE
    // iters/delta for a corpus instead of guessing. The oracle recomputes
    // every round's edge set and the exact set-difference counts.
    "ann_nndescent_convergence" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.nnDescentConvergence(emb, "vec_id", "embedding",
            k = 4, iters = 3)
          .orderBy("round")
      },
      {
        def diff(a: String, b: String) =
          s"""(SELECT count(*) FROM $a x WHERE NOT EXISTS (
             |  SELECT 1 FROM $b p WHERE p.src = x.src AND p.dst = x.dst))""".stripMargin
        s"""WITH ${duckNnRounds(3)}
           |SELECT CAST(round AS INTEGER) AS round,
           |  CAST(n_changed AS BIGINT) AS n_changed FROM (
           |  SELECT 1 AS round, ${diff("e1", "e0")} AS n_changed
           |  UNION ALL SELECT 2, ${diff("e2", "e1")}
           |  UNION ALL SELECT 3, ${diff("e3", "e2")})
           |ORDER BY round""".stripMargin
      }
    ),

    // ---- HNSW layer assignment (deterministic geometric draw) -----------
    // The hierarchy's membership table: P(level >= l) = 4^-l via an LCG
    // mix of the node id (Malkov & Yashunin 2016 §4's level draw made
    // hash-deterministic). Levels are cumulative — this row pins the
    // draw itself; the descent row below pins what the layers buy.
    "ann_graph_layers" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        emb.select(col("vec_id"),
            Ann.layerLevel(col("vec_id"), p = 4, maxLevel = 2).as("level"))
          .groupBy("level")
          .agg(count(lit(1)).as("n_nodes"),
            min("vec_id").as("min_id"), max("vec_id").as("max_id"))
          .orderBy("level")
      },
      """WITH lv AS (SELECT vec_id,
        |  (vec_id * 1103515245 + 12345) % 2147483648 AS u FROM embeddings)
        |SELECT CAST(CASE WHEN u < 134217728 THEN 2
        |  WHEN u < 536870912 THEN 1 ELSE 0 END AS INTEGER) AS level,
        |  count(*) AS n_nodes, min(vec_id) AS min_id, max(vec_id) AS max_id
        |FROM lv GROUP BY 1 ORDER BY level""".stripMargin
    ),

    // ---- HNSW-style layered descent serve --------------------------------
    // The hierarchy at work: ONE merged round over the layer-1 graph
    // (entry ∪ its 2-hop closure, beam 12) localizes every query, and the
    // handed-down beam seeds ONE base round (2-hop closure, beam 16) —
    // 2 sequential rounds total versus ann_graph_search's 3, the
    // log-diameter descent that is HNSW's contribution over flat NSW.
    // The oracle replays the level draw, the densified layer-1
    // nn-descent, and both rounds exactly.
    "ann_graph_layered_search" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val layers = layeredIndex(s, dir, maxLevel = 1)
        Ann.layeredSearch(layers, emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", maxLevel = 1,
            entryId = Ann.layeredEntry(layers, 1),
            beamUpper = 12, beamBase = 16, hopsBase = 1, topK = 5,
            expandHops = 2, expandUpper = 2)
          .orderBy("query_id", "rank")
      },
      s"""WITH ${duckLayeredCtes(8, 12, 16)}
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
         |  round(cos, 4) AS cos
         |FROM (SELECT query_id, nid, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM bb WHERE nid <> query_id)
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- TWO-level descent (the full hierarchy recursion) ---------------
    // maxLevel=2: the ~n/16-node layer-2 graph localizes from its entry
    // in one merged round, hands down to layer 1 (pre-scored, one 2-hop
    // round over the ~n/4 slice), then the base round — 3 rounds total,
    // each over a geometrically larger slice: the log-diameter descent
    // at depth > 1, every handoff replayed in DuckDB.
    "ann_graph_layered2_search" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val layers = layeredIndex(s, dir, maxLevel = 2)
        Ann.layeredSearch(layers, emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", maxLevel = 2,
            entryId = Ann.layeredEntry(layers, 2),
            beamUpper = 12, beamBase = 16, hopsBase = 1, topK = 5,
            expandHops = 2, expandUpper = 2)
          .orderBy("query_id", "rank")
      },
      s"""WITH ${duckLayeredCtesL(8, 12, 16, maxLevel = 2)}
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
         |  round(cos, 4) AS cos
         |FROM (SELECT query_id, nid, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM bb WHERE nid <> query_id)
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- layered descent recall@5 vs exact cosine ------------------------
    // The quality dial of the descent (same contract as ann_graph_recall):
    // how much of the exact top-5 the 2-round layered walk recovers —
    // adjudicated against the flat 3-round walk in Round14GraphSpec.
    "ann_graph_layered_recall" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 8)
        val layers = layeredIndex(s, dir, maxLevel = 1)
        Ann.recallEval(
            Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
            Ann.layeredSearch(layers, emb, q, "vec_id", "embedding",
              maxLevel = 1, entryId = Ann.layeredEntry(layers, 1),
              beamUpper = 12, beamBase = 16, hopsBase = 1, topK = 5,
              expandHops = 2, expandUpper = 2),
            5)
          .orderBy("query_id")
      },
      s"""WITH ${duckLayeredCtes(8, 12, 16)},
         |ap AS (SELECT query_id, nid AS neighbor_id FROM (
         |  SELECT query_id, nid, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM bb WHERE nid <> query_id) WHERE rn <= 5),
         |bsc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $duckCosine AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
         |bru AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bsc)
         |  WHERE rank <= 5)
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4)
         |    AS recall
         |FROM bru b LEFT JOIN ap i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin
    ),

    // ---- ADC-scored graph walk + exact re-rank (DiskANN composition) ----
    // Navigate the standing graph scoring frontier nodes with PQ-ADC
    // code distances (m bytes per candidate instead of the raw vector),
    // exact-rerank only the final beam (IndexRefine). The oracle replays
    // the LUT build, every ADC-scored walk round, and the rerank.
    "ann_graph_adc_walk" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = pqBooksFixture(s, dir)
        Ann.graphSearchAdc(flatServeGraph(s, dir),
            Ann.pqEncode(emb, "vec_id", "embedding", books), books, k = 8,
            emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            entryIds = Seq(0L), beamWidth = 16, hops = 2, topK = 5,
            expandHops = 2)
          .orderBy("query_id", "rank")
      },
      duckAdcWalkSql(beam = 16)
    ),

    // ---- filtered ADC walk (predicate on the code-scored tier) ----------
    // "vector search WHERE predicate" on the DiskANN tier: navigation
    // unrestricted, predicate semi-join on the final beam BEFORE the
    // exact re-rank (disallowed candidates never read a raw vector);
    // beam over-fetched to 32 for topK=5 at 1/3 selectivity.
    "ann_graph_adc_filtered" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = pqBooksFixture(s, dir)
        Ann.graphSearchAdcWhere(flatServeGraph(s, dir),
            Ann.pqEncode(emb, "vec_id", "embedding", books), books, k = 8,
            emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            entryIds = Seq(0L),
            allowed = emb.filter(col("vec_id") % 3 === 0),
            beamWidth = 32, hops = 2, topK = 5, expandHops = 2)
          .orderBy("query_id", "rank")
      },
      duckAdcWalkSql(beam = 32, extraWhere = " AND b.nid % 3 = 0")
    ),

    // ---- matryoshka two-stage serve (MRL dim-prefix shortlist) ----------
    // The dimension-budget dual of ann_pq_rerank: stage 1 exact-scans
    // only the first 16 of 64 dims (a 4x cheaper scan; at scale the
    // prefix is its own thin column) to a 20-deep shortlist, stage 2
    // re-scores the shortlist with full-dimension cosine. No quantizer
    // to train; recall -> exact as the shortlist grows.
    "ann_matryoshka_rerank" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.matryoshkaTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", prefixDims = 16, shortlist = 20,
            topK = 5)
          .orderBy("query_id", "rank")
      },
      {
        val preCos =
          "list_dot_product((a.embedding::DOUBLE[])[1:16], (b.embedding::DOUBLE[])[1:16]) / " +
            "(sqrt(list_dot_product((a.embedding::DOUBLE[])[1:16], (a.embedding::DOUBLE[])[1:16])) * " +
            "sqrt(list_dot_product((b.embedding::DOUBLE[])[1:16], (b.embedding::DOUBLE[])[1:16])))"
        s"""WITH pre AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $preCos AS cos
           |  FROM embeddings a JOIN embeddings b
           |    ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
           |short AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM pre) WHERE rn <= 20),
           |sc AS (SELECT s.query_id, s.neighbor_id, $duckCosine AS cos
           |  FROM short s JOIN embeddings a ON a.vec_id = s.query_id
           |  JOIN embeddings b ON b.vec_id = s.neighbor_id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
           |  round(cos, 4) AS cos
           |FROM (SELECT *, row_number() OVER (
           |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM sc)
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
      }
    ),

    // ---- RNG prune: HNSW Alg. 4 diverse neighbor selection ---------------
    // The degree-budget refinement every production HNSW applies at
    // build: per node, keep a candidate out-edge only if the candidate
    // is closer to the node than to every already-kept neighbor —
    // same-direction redundancy dropped, serve-time per-hop candidate
    // volume (O(beam·degree^expand)) cut with navigability held. The
    // oracle replays the greedy unrolled by selection: s1 = rank-1,
    // s_t = min-rank candidate above s_{t-1} passing vs all selected.
    "ann_graph_rng_prune" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.rngPrune(flatServeGraph(s, dir), emb, "vec_id", "embedding",
            m = 3)
          .orderBy("src", "dst")
      },
      {
        val candCos = duckCosine // a = candidate row alias, b = other side
        def step(t: Int) =
          s"""p$t AS (SELECT c.src, c.dst, c.rk,
             |  min(CASE WHEN c.cosq > $candCos THEN 1 ELSE 0 END) AS pass,
             |  max(s.rk) AS last
             |  FROM rk c JOIN sel${t - 1} s ON s.src = c.src
             |  JOIN corp a ON a.vec_id = c.dst
             |  JOIN corp b ON b.vec_id = s.dst
             |  GROUP BY c.src, c.dst, c.rk),
             |n$t AS (SELECT src, min(rk) AS rk FROM p$t
             |  WHERE pass = 1 AND rk > last GROUP BY src),
             |sel$t AS (SELECT src, dst, rk FROM sel${t - 1}
             |  UNION ALL SELECT r.src, r.dst, r.rk
             |  FROM rk r JOIN n$t USING (src, rk))""".stripMargin
        s"""WITH ${duckBaseGraphCtes(0)},
           |rc AS (SELECT e.src, e.dst, $duckCosine AS cosq
           |  FROM adj e JOIN corp a ON a.vec_id = e.src
           |  JOIN corp b ON b.vec_id = e.dst),
           |rk AS (SELECT src, dst, cosq, row_number() OVER (
           |  PARTITION BY src ORDER BY cosq DESC, dst) AS rk FROM rc),
           |sel1 AS (SELECT src, dst, rk FROM rk WHERE rk = 1),
           |${step(2)},
           |${step(3)}
           |SELECT src, dst FROM sel3 ORDER BY src, dst""".stripMargin
      }
    ),

    // ---- filtered LAYERED serve (predicate on the descent's tier) -------
    // VERDICT r14 #5: predicate + churn must hit the SAME index. The
    // descent navigates every layer unrestricted; the predicate is one
    // keyed semi-join on the final base beam (over-fetched to 32 for
    // topK=5 at 1/3 selectivity — the post-filter contract, identical
    // economics to the flat ann_graph_filtered).
    "ann_graph_layered_filtered" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val layers = layeredIndex(s, dir, maxLevel = 1)
        Ann.layeredSearchWhere(layers, emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", maxLevel = 1,
            entryId = Ann.layeredEntry(layers, 1),
            allowed = emb.filter(col("vec_id") % 3 === 0),
            beamUpper = 12, beamBase = 32, hopsBase = 1, topK = 5,
            expandHops = 2, expandUpper = 2)
          .orderBy("query_id", "rank")
      },
      s"""WITH ${duckLayeredCtes(8, 12, 32)}
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, nid AS neighbor_id,
         |  round(cos, 4) AS cos
         |FROM (SELECT query_id, nid, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rn
         |  FROM bb WHERE nid <> query_id AND nid % 3 = 0)
         |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    ),

    // ---- LAYERED deletion with per-layer bridge repair -------------------
    // The full HNSW deletion rule: a tombstoned node leaves — and is
    // bridge-repaired in — EVERY layer it belongs to (cumulative
    // membership); ann_graph_delete's kernel applied per layer slice.
    // The oracle replays both layers' anti-join + neighbor-pair bridge
    // chains over the layered CTEs' adj / adj1.
    "ann_graph_layered_delete" -> QuerySpec(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Ann.layeredDelete(layeredIndex(s, dir, maxLevel = 1), emb,
            emb.filter(col("vec_id") % 7 === 0),
            "vec_id", "embedding", maxLevel = 1, kLink = 4)
          .orderBy("layer", "src", "dst")
      },
      {
        def layerDel(adj: String, i: Int) =
          s"""kept$i AS (SELECT src, dst FROM $adj
             |  WHERE src NOT IN (SELECT vec_id FROM del)
             |    AND dst NOT IN (SELECT vec_id FROM del)),
             |nbr$i AS (SELECT src AS x, dst AS n FROM $adj
             |  WHERE src IN (SELECT vec_id FROM del)
             |    AND dst NOT IN (SELECT vec_id FROM del)),
             |cand$i AS (SELECT DISTINCT p.n AS ca, r.n AS cb
             |  FROM nbr$i p JOIN nbr$i r ON p.x = r.x AND p.n <> r.n),
             |csc$i AS (SELECT c.ca, c.cb, $duckCosine AS cos
             |  FROM cand$i c JOIN corp a ON a.vec_id = c.ca
             |    JOIN corp b ON b.vec_id = c.cb),
             |br$i AS (SELECT ca AS src, cb AS dst FROM (
             |  SELECT ca, cb, row_number() OVER (
             |    PARTITION BY ca ORDER BY cos DESC, cb) AS rn FROM csc$i)
             |  WHERE rn <= 4),
             |rep$i AS (SELECT DISTINCT src, dst FROM (
             |  SELECT src, dst FROM kept$i
             |  UNION ALL SELECT src, dst FROM br$i
             |  UNION ALL SELECT dst AS src, src AS dst FROM br$i))""".stripMargin
        s"""WITH ${duckLayeredCtes(8, 12, 16)},
           |del AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0),
           |${layerDel("adj", 0)},
           |${layerDel("adj1", 1)}
           |SELECT CAST(layer AS INTEGER) AS layer, src, dst FROM (
           |  SELECT 0 AS layer, src, dst FROM rep0
           |  UNION ALL SELECT 1 AS layer, src, dst FROM rep1)
           |ORDER BY layer, src, dst""".stripMargin
      }
    )
  )
}
