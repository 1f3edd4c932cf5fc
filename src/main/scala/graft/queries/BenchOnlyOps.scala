package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.{Ann, Cuts}

/** Bench-only entries: perf-tracked surfaces with NO DuckDB oracle row —
  * they are deliberately NOT part of [[graft.SparkEntry.queries]] (the
  * correctness gate stays 100% oracle-paired); [[graft.Bench]] appends
  * them so the numbers a deployment cares about are tracked
  * round-over-round in the committed artifact, not just in SCALE.md.
  *
  * `ann_ivfpq_serve`: the 7 oracle ANN rows all pay index TRAINING
  * in-query (the oracle-harness shape). A 100 TB serving path builds the
  * IvfPqIndex once, materializes the coded corpus to parquet (raw vectors
  * gone from the serving scan), and pays only nprobe-pruned ADC per query
  * batch — ScaleBench measured that split at 47×; this entry pins the
  * serve-side number per round. The build is paid ONCE per session
  * (lazily, outside what the median of 3 reps reports) — exactly the
  * deployment cost model.
  */
object BenchOnlyOps {

  // Per-build temp dir: every cache below is keyed by corpus dir, so the
  // parquet each entry's lazy DataFrames read must be unique per entry —
  // a fixed path would be overwritten when a second sf dir is benched in
  // the same JVM, silently re-pointing the first entry at the wrong corpus.
  private def benchTmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // (sfDir -> served index) — one build per session per corpus; the
  // serve reps then measure pure batch-serving cost. Driver-side state
  // is bench-harness-only, not library surface.
  private val cache =
    scala.collection.mutable.HashMap.empty[String, Ann.IvfPqIndex]

  private def servedIndex(s: SparkSession, dir: String): Ann.IvfPqIndex =
    cache.synchronized {
      cache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_ivfpq")
        val idx = Ann.ivfPqBuild(t(s, dir, "embeddings"), "vec_id", "embedding",
          nLists = 64, m = 8, k = 16)
        idx.encoded.write.mode("overwrite").parquet(s"$d/encoded")
        idx.centroids.write.mode("overwrite").parquet(s"$d/centroids")
        Ann.IvfPqIndex(s.read.parquet(s"$d/encoded"),
          s.read.parquet(s"$d/centroids"), idx.books, idx.k, idx.byResidual)
      })
    }

  // r11: the other quantization tiers' build/serve splits — every oracle
  // row for int8/binary/flat-PQ/OPQ pays quantizer training in-query
  // (the harness shape); these rows pin the STEADY-STATE serving cost of
  // each tier against a pre-materialized code table, like ann_ivfpq_serve
  // did for IVF-PQ in r10.

  private case class Int8Table(coded: DataFrame,
      mins: Array[Double], ranges: Array[Double])
  private val int8Cache =
    scala.collection.mutable.HashMap.empty[String, Int8Table]
  private def servedInt8(s: SparkSession, dir: String): Int8Table =
    int8Cache.synchronized {
      int8Cache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_int8")
        val emb = t(s, dir, "embeddings")
        val (mins, rgs) = Ann.int8Ranges(emb, "vec_id", "embedding")
        Ann.quantizeInt8(emb, "vec_id", "embedding").select("id", "codes")
          .write.mode("overwrite").parquet(s"$d/codes")
        Int8Table(s.read.parquet(s"$d/codes"), mins, rgs)
      })
    }

  private val binCache =
    scala.collection.mutable.HashMap.empty[String, DataFrame]
  private def servedBinary(s: SparkSession, dir: String): DataFrame =
    binCache.synchronized {
      binCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_bin")
        Ann.binaryQuantize(t(s, dir, "embeddings"), "vec_id", "embedding")
          .write.mode("overwrite").parquet(s"$d/words")
        s.read.parquet(s"$d/words")
      })
    }

  private case class PqTable(encoded: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]])
  private val pqCache =
    scala.collection.mutable.HashMap.empty[String, PqTable]
  private def servedPq(s: SparkSession, dir: String): PqTable =
    pqCache.synchronized {
      pqCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_pq")
        val emb = t(s, dir, "embeddings")
        val books = Ann.pqCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)
        Ann.pqEncode(emb, "vec_id", "embedding", books)
          .write.mode("overwrite").parquet(s"$d/codes")
        PqTable(s.read.parquet(s"$d/codes"), books)
      })
    }

  private case class OpqTable(encoded: DataFrame, mu: Array[Double],
      rot: Array[Array[Double]], books: Seq[Seq[(Int, Seq[Double])]])
  private val opqCache =
    scala.collection.mutable.HashMap.empty[String, OpqTable]
  private def servedOpq(s: SparkSession, dir: String): OpqTable =
    opqCache.synchronized {
      opqCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_opq")
        val emb = t(s, dir, "embeddings")
        val (mu, rot, books) =
          Ann.opqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
        Ann.pqEncode(
            Ann.pcaProject(emb, "vec_id", "embedding", mu, rot)
              .select(col("vec_id"), col("rotated")),
            "vec_id", "rotated", books)
          .write.mode("overwrite").parquet(s"$d/codes")
        OpqTable(s.read.parquet(s"$d/codes"), mu, rot, books)
      })
    }

  // graph-walk serve tier: the symmetrized nnDescent k-NN graph persisted
  // to parquet once per corpus (the standing index the HNSW-style beam
  // search navigates); serve reps pay only the walk's frontier joins.
  // Random init + k=12/iters=5 is the measured quality knee (edge-recall
  // 0.73 → walk recall@10 0.98 at beam=64/hops=4 on the sf0.1 corpus).
  private val graphCache =
    scala.collection.mutable.HashMap.empty[String, (DataFrame, Seq[Long])]
  private def servedGraph(s: SparkSession, dir: String): (DataFrame, Seq[Long]) =
    graphCache.synchronized {
      graphCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_knngraph")
        val emb = t(s, dir, "embeddings")
        Ann.serveGraph(Ann.nnDescent(emb, "vec_id", "embedding",
            k = 12, iters = 5, randomInit = true))
          .write.mode("overwrite").parquet(s"$d/adj")
        (s.read.parquet(s"$d/adj"), Ann.spreadEntries(emb.count()))
      })
    }

  // RNG-pruned serve tier: servedGraph's adjacency (degree ≤ 24 after
  // symmetrized k=12) pruned by HNSW Alg. 4 to a 6-out-edge diverse
  // budget and re-symmetrized — the standing index the degree-budget
  // serve row walks. Built once per corpus, like every serve fixture.
  private val rngCache =
    scala.collection.mutable.HashMap.empty[String, (DataFrame, Seq[Long])]
  private def servedRngGraph(s: SparkSession, dir: String): (DataFrame, Seq[Long]) =
    rngCache.synchronized {
      rngCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_rnggraph")
        val (adj, entries) = servedGraph(s, dir)
        val emb = t(s, dir, "embeddings")
        val pruned = graft.operators.Ann.rngPrune(adj, emb,
          "vec_id", "embedding", m = 6)
        pruned.unionByName(
            pruned.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .write.mode("overwrite").parquet(s"$d/adj")
        (s.read.parquet(s"$d/adj"), entries)
      })
    }

  // layered (HNSW-style) graph serve tier: the multi-layer adjacency
  // persisted partitioned BY LAYER (the descent prunes to one layer's
  // slice per round) plus the descent entry, computed once at build.
  // Same base protocol as servedGraph (random init, k=12/iters=5);
  // p=4/maxLevel=1 puts ~n/4 nodes in the upper layer.
  private val layeredCache =
    scala.collection.mutable.HashMap.empty[String, (DataFrame, Long)]
  private def servedLayered(s: SparkSession, dir: String): (DataFrame, Long) =
    layeredCache.synchronized {
      layeredCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_layeredgraph")
        val emb = t(s, dir, "embeddings")
        Ann.layeredBuild(emb, "vec_id", "embedding",
            k = 12, iters = 5, p = 4, maxLevel = 1, randomInit = true)
          .write.mode("overwrite").partitionBy("layer").parquet(s"$d/adj")
        val layers = s.read.parquet(s"$d/adj")
        (layers, Ann.layeredEntry(layers, 1))
      })
    }

  // streaming graph-ingest fixtures: the 90% base graph + corpus
  // parquet-materialized once per corpus dir, and the 10% insert set
  // staged as an NDJSON drop — each bench rep copies the index and
  // replays the stream fresh
  private val graphIngestCache =
    scala.collection.mutable.HashMap.empty[String, (String, String, String, Seq[Long])]
  private def servedGraphIngest(s: SparkSession, dir: String)
      : (String, String, String, Seq[Long]) =
    graphIngestCache.synchronized {
      graphIngestCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_graph_ingest")
        val emb = t(s, dir, "embeddings")
        val n = emb.count()
        val corpus = emb.filter(col("vec_id") < (n * 9) / 10)
        Ann.serveGraph(Ann.nnDescent(corpus, "vec_id", "embedding",
            k = 12, iters = 5, randomInit = true))
          .write.mode("overwrite").parquet(s"$d/adj")
        corpus.select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
          .write.mode("overwrite").parquet(s"$d/corp")
        t(s, dir, "embeddings").filter(col("vec_id") >= (n * 9) / 10)
          .select(to_json(struct(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"),
            (lit(1700000000L) + col("vec_id")).as("ingest_ts"))).as("value"))
          .write.mode("overwrite").text(s"$d/staging")
        (s"$d/adj", s"$d/corp", s"$d/staging",
          Ann.spreadEntries((n * 9) / 10))
      })
    }

  private val lexCache =
    scala.collection.mutable.HashMap.empty[String, graft.operators.Retrieval.LexIndex]
  private def servedLex(s: SparkSession, dir: String)
      : graft.operators.Retrieval.LexIndex =
    lexCache.synchronized {
      lexCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_lex")
        val idx = graft.operators.Retrieval.lexIndexBuild(
          t(s, dir, "documents"), "doc_id", "text")
        idx.positional.write.mode("overwrite").parquet(s"$d/positional")
        idx.postings.write.mode("overwrite").parquet(s"$d/postings")
        idx.idf.write.mode("overwrite").parquet(s"$d/idf")
        graft.operators.Retrieval.LexIndex(
          s.read.parquet(s"$d/positional"),
          s.read.parquet(s"$d/postings"),
          s.read.parquet(s"$d/idf"))
      })
    }

  def specs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lexical-index serving: phrase + TF-IDF batches against the
    // pre-materialized LexIndex (oracle rows tx_phrase_search /
    // tx_tfidf_topk pay tokenize+index build per query — same phrase /
    // query sets here so the serve delta is read off directly)
    // ---- build-stage pricing (VERDICT r14 #4) ------------------------
    // The oracle graph/quantizer rows share a session-cached standing
    // index since r15 (FixtureCache), so their bench numbers price the
    // WALK; these rows price the BUILD alone, fresh every rep — a build
    // regression lands here with a name instead of hiding inside a
    // mixed build+walk row behind a "scheduler window" attribution.
    "ann_graph_build" -> ((s, dir) =>
      Ann.serveGraph(Ann.nnDescent(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2))),
    "ann_layered_build" -> ((s, dir) =>
      Ann.layeredBuild(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2, p = 4, maxLevel = 1)),
    "ann_ivfpq_build" -> ((s, dir) =>
      Ann.ivfPqBuild(t(s, dir, "embeddings"), "vec_id", "embedding",
        nLists = 8, m = 4, k = 8).encoded),

    "tx_phrase_serve" -> ((s, dir) =>
      graft.operators.Retrieval.phraseSearch(servedLex(s, dir),
        Map(1 -> "table hash", 2 -> "slow key", 3 -> "key agg row",
          4 -> "a a"))),
    "tx_tfidf_serve" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0, "slow"), (0, "key"),
        (1, "table"), (1, "hash"), (1, "merge"),
        (2, "vector"), (2, "zzz_absent")).toDF("query_id", "term")
      graft.operators.Retrieval.tfIdfTopK(servedLex(s, dir), queries, k = 5)
    }),

    "ann_ivfpq_serve" -> ((s, dir) =>
      Ann.ivfPqSearch(servedIndex(s, dir),
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", nprobe = 8, topK = 10)),

    // graph-walk serve: a 100-query batch beam-searched over the
    // persisted symmetrized k-NN graph — per-query cost is
    // O(beam·degree·hops), corpus-size-independent (the HNSW property);
    // batching amortizes the hop rounds' scheduler latency across the
    // whole query set, which is where the dataflow variant wins
    // (beam=48, 2 rounds × 2-hop expansion) is the measured knee: round
    // barriers dominate serve latency, so fewer+deeper rounds beat
    // 4×1-hop at BOTH grains (single p50 1888→963 ms, batch 2257→1705 ms)
    // at recall@10 1.00 on the sf0.1 corpus
    "ann_graph_serve" -> ((s, dir) => {
      val (adj, entries) = servedGraph(s, dir)
      Ann.graphSearch(adj, t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", entryIds = entries,
        beamWidth = 48, hops = 2, topK = 10, expandHops = 2)
    }),

    // layered (HNSW-style) descent serve: the same 100-query batch as
    // ann_graph_serve, but ONE merged round over the ~n/4-node upper
    // layer localizes every query and ONE base round finishes — 2
    // sequential rounds, with the upper round joining a quarter-size
    // adjacency slice (partition-pruned on `layer`). Measured at this
    // config (sf0.1): recall@10 0.999 vs the flat tier's 1.000
    // (ProfLayered sweep; beamUpper drives the knee: 16→0.937,
    // 32→0.987, 48→0.994, 64→0.999)
    "ann_graph_serve_layered" -> ((s, dir) => {
      val (layers, entry) = servedLayered(s, dir)
      Ann.layeredSearch(layers, t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", maxLevel = 1, entryId = entry,
        beamUpper = 64, beamBase = 48, hopsBase = 1, topK = 10,
        expandHops = 2, expandUpper = 2)
    }),

    // filtered graph serve: the ann_graph_serve batch under a 1/3-
    // selectivity id predicate with a 2× over-fetched beam (the
    // post-filter contract) — prices what "vector search WHERE
    // predicate" costs over the same standing index
    "ann_graph_serve_filtered" -> ((s, dir) => {
      val (adj, entries) = servedGraph(s, dir)
      val emb = t(s, dir, "embeddings")
      Ann.graphSearchWhere(adj, emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", entryIds = entries,
        allowed = emb.filter(col("vec_id") % 3 === 0),
        beamWidth = 96, hops = 2, topK = 10, expandHops = 2)
    }),

    // pipeline_pretrain_funnel per-stage pricing (r15: the composite
    // row's floor moved 3.2→4.8 s across contended windows with zero
    // code delta — these rows pin each stage separately so any future
    // growth lands on a named stage instead of re-flagging the chain).
    // Each row runs the chain THROUGH its stage (the chain is the cost
    // model — stages feed forward), so stage cost = row minus previous
    // row.
    "funnel_stage1_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(graft.operators.TextAnalysis.gopherPass(col("text")))),
    "funnel_stage2_exact" -> ((s, dir) => {
      val q = Cuts.cut(t(s, dir, "documents")
        .filter(graft.operators.TextAnalysis.gopherPass(col("text"))))
      val fp = q.withColumn("fp", xxhash64(col("text")))
      fp.join(fp.groupBy("fp").agg(min("doc_id").as("keep")), "fp")
        .filter(col("doc_id") === col("keep"))
    }),
    "funnel_stage3_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = Cuts.cut(
        docs.filter(graft.operators.TextAnalysis.gopherPass(col("text"))))
      val fp = q.withColumn("fp", xxhash64(col("text")))
      val exact = Cuts.cut(
        fp.join(fp.groupBy("fp").agg(min("doc_id").as("keep")), "fp")
          .filter(col("doc_id") === col("keep"))
          .select(docs.columns.map(col): _*))
      val dupB = graft.operators.Dedup.minhashLshPairs(exact, "doc_id",
          "text", n = 3, numHashes = 32, bandSize = 4, threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      exact.join(dupB, Seq("doc_id"), "left_anti")
    }),

    "funnel_stage4_dsir" -> ((s, dir) => {
      // chain through the DSIR selection (VERDICT r15 #1: the composite's
      // only unpriced remainder was the resample + per-stage aggregate
      // tail; composite − stage4 now isolates the aggregates alone)
      val docs = t(s, dir, "documents")
      val q = Cuts.cut(
        docs.filter(graft.operators.TextAnalysis.gopherPass(col("text"))))
      val fp = q.withColumn("fp", xxhash64(col("text")))
      val exact = Cuts.cut(
        fp.join(fp.groupBy("fp").agg(min("doc_id").as("keep")), "fp")
          .filter(col("doc_id") === col("keep"))
          .select(docs.columns.map(col): _*))
      val dupB = graft.operators.Dedup.minhashLshPairs(exact, "doc_id",
          "text", n = 3, numHashes = 32, bandSize = 4, threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      val nd = Cuts.cut(exact.join(dupB, Seq("doc_id"), "left_anti"))
      val sel = graft.operators.Sampling.dsirResample(
          nd, docs.filter(col("lang") === "en"), "doc_id", "text",
          k = 150, buckets = 512)
        .select(col("doc").as("doc_id"))
      nd.join(sel, Seq("doc_id"), "left_semi")
    }),

    // RNG-pruned serve (HNSW Alg. 4 at build): the ann_graph_serve
    // batch over the SAME standing graph pruned to a 6-out-edge diverse
    // budget and re-symmetrized — prices what the degree cut buys at
    // serve time (per-hop candidate volume O(beam·degree^expand));
    // recall parity pinned in Round15GraphSpec
    "ann_graph_serve_rng" -> ((s, dir) => {
      val (adj, entries) = servedRngGraph(s, dir)
      Ann.graphSearch(adj, t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", entryIds = entries,
        beamWidth = 48, hops = 2, topK = 10, expandHops = 2)
    }),

    // DiskANN-composition serve: the ann_graph_serve batch navigated
    // with PQ-ADC code scoring over the standing graph + the standing
    // code table (servedPq), exact rerank on the final beam only —
    // prices the code-rate navigation working set against the
    // raw-vector walk above (r15)
    "ann_graph_serve_adc" -> ((s, dir) => {
      val (adj, entries) = servedGraph(s, dir)
      val tbl = servedPq(s, dir)
      val emb = t(s, dir, "embeddings")
      Ann.graphSearchAdc(adj, tbl.encoded, tbl.books, k = 16, emb,
        emb.filter(col("vec_id") < 100), "vec_id", "embedding",
        entryIds = entries, beamWidth = 48, hops = 2, topK = 10,
        expandHops = 2)
    }),

    // filtered LAYERED serve: the ann_graph_serve_layered batch under
    // the same 1/3-selectivity predicate + 2× over-fetch as the flat
    // filtered row — prices "vector search WHERE predicate" on the
    // descent tier (r15; predicate semi-join lands on the base beam,
    // upper rounds untouched)
    "ann_graph_serve_layered_filtered" -> ((s, dir) => {
      val (layers, entry) = servedLayered(s, dir)
      val emb = t(s, dir, "embeddings")
      Ann.layeredSearchWhere(layers, emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", maxLevel = 1, entryId = entry,
        allowed = emb.filter(col("vec_id") % 3 === 0),
        beamUpper = 64, beamBase = 96, hopsBase = 1, topK = 10,
        expandHops = 2, expandUpper = 2)
    }),

    // batch-insert serve, flat tier (VERDICT r15 #2: ann_graph_insert
    // was the last mixed build+measure row): a 10% vector batch linked
    // into the PRE-BUILT 90% standing graph by the NSW insert rule —
    // one bounded walk + the bidirectional edge emission, no build, no
    // stream machinery (stream_graph_ingest prices the same kernel
    // plus micro-batch barriers; the delta is the streaming tax)
    "ann_graph_insert_serve" -> ((s, dir) => {
      val (adjSrc, corpSrc, _, entries) = servedGraphIngest(s, dir)
      val emb = t(s, dir, "embeddings")
      val n = emb.count()
      Ann.graphInsertEdges(s.read.parquet(adjSrc), s.read.parquet(corpSrc),
        emb.filter(col("vec_id") >= (n * 9) / 10), "vec_id", "embedding",
        kLink = 12, entryIds = entries, beamWidth = 32, hops = 2,
        expandHops = 2)
    }),

    // batch-insert serve, LAYERED tier: a 1% batch level-drawn and
    // linked into every layer ≤ level of the pre-built hierarchy —
    // prices the maintenance walk the layered tier pays per insert
    // batch (same decomposition discipline as the flat row above)
    "ann_layered_insert_serve" -> ((s, dir) => {
      val (layers, _) = servedLayered(s, dir)
      val emb = t(s, dir, "embeddings")
      Ann.layeredInsertEdges(layers, emb,
        emb.filter(col("vec_id") % 100 === 1), "vec_id", "embedding",
        maxLevel = 1, p = 4, kLink = 12, beamWidth = 32, hops = 2,
        expandHops = 2)
    }),

    // LAYERED deletion serve: 1%-of-corpus tombstone batch against the
    // persisted hierarchy — per-layer anti-joins + Σ degree² bridge
    // repair; prices the maintenance op the flat tier lacks a layered
    // counterpart for (r15)
    "ann_layered_delete_serve" -> ((s, dir) => {
      val (layers, _) = servedLayered(s, dir)
      val emb = t(s, dir, "embeddings")
      Ann.layeredDelete(layers, emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", maxLevel = 1, kLink = 12)
    }),

    // two-stage ADC + exact re-rank serve (FAISS IndexRefine): ADC scan
    // of the standing code table to a 40-deep shortlist, exact cosine
    // over shortlist rows only — prices the refine stage against the
    // raw ADC tier above
    "ann_pq_rerank_serve" -> ((s, dir) => {
      val tbl = servedPq(s, dir)
      Ann.pqAdcRerank(tbl.encoded, tbl.books, k = 16,
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", shortlist = 40, topK = 10)
    }),

    // IVF-PQ append: incremental index maintenance — a 10% batch is
    // assigned + PQ-coded against the FROZEN quantizers and unioned with
    // the materialized code table (the FAISS add() shape). The measured
    // scan = one cheap codes-parquet read of the old rows + the encode
    // projection of the batch; no retrain, no shuffle of old rows.
    "ann_ivfpq_append" -> ((s, dir) =>
      Ann.ivfPqAppend(servedIndex(s, dir),
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding").encoded),

    // int8 serve: corpus scan reads 1-byte codes, dequantizes as a
    // projection, exact cosine against the raw 100-query batch
    "emb_int8_serve" -> ((s, dir) => {
      val tbl = servedInt8(s, dir)
      val deq = Ann.int8Dequantize(tbl.coded, tbl.mins, tbl.ranges)
        .select(col("id").as("vec_id"), col("deq").as("embedding"))
      Ann.bruteForceTopK(deq,
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", 10)
    }),

    // Hamming serve: corpus scan reads 8 bytes/vector; the query batch
    // re-packs per call (sign bits — no trained state)
    "ann_hamming_serve" -> ((s, dir) => {
      val words = servedBinary(s, dir)
      val q = Ann.binaryQuantize(
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding")
      Ann.hammingTopK(words, q, d = 64, k = 10)
    }),

    // flat-PQ ADC serve: LUT per query + m lookups per corpus vector
    // against the materialized (id, codes) table
    "ann_pq_adc_serve" -> ((s, dir) => {
      val tbl = servedPq(s, dir)
      Ann.pqAdcTopK(tbl.encoded, tbl.books, k = 16,
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", topK = 10)
    }),

    // OPQ-ADC serve: rotate the query batch with the LEARNED rotation,
    // then flat ADC against the rotated-space code table
    "ann_opq_adc_serve" -> ((s, dir) => {
      val tbl = servedOpq(s, dir)
      val q = Ann.pcaProject(
          t(s, dir, "embeddings").filter(col("vec_id") < 100),
          "vec_id", "embedding", tbl.mu, tbl.rot)
        .select(col("vec_id"), col("rotated"))
      Ann.pqAdcTopK(tbl.encoded, tbl.books, k = 16, q, "vec_id", "rotated",
        topK = 10)
    }),

    // ANN serve LATENCY percentiles: the number a serving deployment
    // actually quotes — per-query-batch wall latency for the six serve
    // tiers (int8, Hamming, flat-PQ ADC, IVF-PQ ADC, flat graph walk,
    // layered HNSW-style descent) against
    // the pre-materialized tables, sampled over SPARK_GRAFT_LAT_BATCHES
    // (default 8) sequential single-query batches each. p99 at n ≤ 100
    // samples is the interpolation-free upper order statistic (= max at
    // n=8). Returns the percentile table (also dumped to
    // /tmp/ann_serve_latency.json for the round artifact); the row's own
    // bench seconds track total serve throughput round-over-round.
    "ann_serve_latency" -> ((s, dir) => {
      import s.implicits._
      // Fixture lifecycle (VERDICT r15 missing #1): by sorted-name order
      // every FixtureCache user (the oracle ann_* rows) has already run —
      // only ann_topk_bruteforce follows in this family — so the oracle
      // fixtures' retained checkpoint blocks are pure storage-memory
      // pressure here (sf1 full-session: 295 s vs 51.5 s solo). Evict
      // them and nudge the ContextCleaner so the percentile batches run
      // under the same memory conditions as a solo capture. The serve
      // tiers below read parquet-backed tables (served*), not the cache.
      if (FixtureCache.evict(s) > 0) System.gc()
      val nBatches = sys.env.getOrElse("SPARK_GRAFT_LAT_BATCHES", "8").toInt
      def oneQuery(i: Int) =
        t(s, dir, "embeddings").filter(col("vec_id") === i % 100)
      val tiers: Seq[(String, Int => DataFrame)] = Seq(
        "int8" -> { i =>
          val tbl = servedInt8(s, dir)
          val deq = Ann.int8Dequantize(tbl.coded, tbl.mins, tbl.ranges)
            .select(col("id").as("vec_id"), col("deq").as("embedding"))
          Ann.bruteForceTopK(deq, oneQuery(i), "vec_id", "embedding", 10)
        },
        "hamming" -> { i =>
          Ann.hammingTopK(servedBinary(s, dir),
            Ann.binaryQuantize(oneQuery(i), "vec_id", "embedding"),
            d = 64, k = 10)
        },
        "pq_adc" -> { i =>
          val tbl = servedPq(s, dir)
          Ann.pqAdcTopK(tbl.encoded, tbl.books, k = 16, oneQuery(i),
            "vec_id", "embedding", topK = 10)
        },
        "ivfpq_adc" -> { i =>
          Ann.ivfPqSearch(servedIndex(s, dir), oneQuery(i),
            "vec_id", "embedding", nprobe = 8, topK = 10)
        },
        "graph_walk" -> { i =>
          val (adj, entries) = servedGraph(s, dir)
          Ann.graphSearch(adj, t(s, dir, "embeddings"),
            oneQuery(i), "vec_id", "embedding", entryIds = entries,
            beamWidth = 48, hops = 2, topK = 10, expandHops = 2)
        },
        "graph_layered" -> { i =>
          val (layers, entry) = servedLayered(s, dir)
          Ann.layeredSearch(layers, t(s, dir, "embeddings"),
            oneQuery(i), "vec_id", "embedding", maxLevel = 1,
            entryId = entry, beamUpper = 64, beamBase = 48, hopsBase = 1,
            topK = 10, expandHops = 2, expandUpper = 2)
        },
        // r15 tiers: degree-budget pruned walk and the DiskANN
        // (code-scored + exact-rerank) walk — same single-query grain
        "graph_rng" -> { i =>
          val (adj, entries) = servedRngGraph(s, dir)
          Ann.graphSearch(adj, t(s, dir, "embeddings"),
            oneQuery(i), "vec_id", "embedding", entryIds = entries,
            beamWidth = 48, hops = 2, topK = 10, expandHops = 2)
        },
        "graph_adc" -> { i =>
          val (adj, entries) = servedGraph(s, dir)
          val tbl = servedPq(s, dir)
          Ann.graphSearchAdc(adj, tbl.encoded, tbl.books, k = 16,
            t(s, dir, "embeddings"), oneQuery(i), "vec_id", "embedding",
            entryIds = entries, beamWidth = 48, hops = 2, topK = 10,
            expandHops = 2)
        })
      val rows = tiers.map { case (tier, mk) =>
        val ms = (0 until nBatches).map { i =>
          val t0 = System.nanoTime()
          mk(i).count()
          (System.nanoTime() - t0) / 1e6
        }.sorted
        val p50 = ms(nBatches / 2)
        val p99 = ms(math.min(nBatches - 1, math.ceil(nBatches * 0.99).toInt - 1))
        (tier, nBatches, math.round(p50 * 10) / 10.0, math.round(p99 * 10) / 10.0)
      }
      val json = rows.map { case (tr, n, p50, p99) =>
        s"""{"tier":"$tr","n":$n,"p50_ms":$p50,"p99_ms":$p99}"""
      }.mkString("[", ",", "]")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("/tmp/ann_serve_latency.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      rows.toDF("tier", "n_batches", "p50_ms", "p99_ms")
    }),

    // incremental near-dup SERVE shape: the corpus band table + shingle
    // index are prebuilt and parquet-materialized once per session (the
    // deployment's standing index); each rep pays only the batch-side
    // signatures, the band probe join, and pair verification — the
    // steady-state ingest-gate cost (the oracle row dd_incremental_neardup
    // rebuilds the corpus side in-query, the harness shape).
    "dd_incr_neardup_serve" -> ((s, dir) => {
      val (bandsPq, shPq, metaPq) = servedNearDupIndex(s, dir)
      val batch = t(s, dir, "documents").filter(col("doc_id") < 100)
      graft.operators.Dedup.incrementalNearDupServeChecked(
        batch, bandsPq, shPq, metaPq, "doc_id", "text",
        n = 3, numHashes = 32, bandSize = 4, threshold = 0.8)
    }),

    // streaming IVF-PQ ingest, end to end: the full embeddings corpus
    // replayed as an NDJSON drop through the frozen-quantizer code
    // projection and the parquet append sink — the throughput number an
    // always-on embedding ingest quotes. The index build is paid once
    // per session (servedIndex); each rep replays the stream fresh.
    "stream_ivfpq_ingest" -> ((s, dir) => {
      val idx = servedIndex(s, dir)
      val staging = stagedEmb(s, dir)
      val out = benchTmp("graft_bench_ivfpq_ingest")
      val q = graft.streaming.StreamingAnn.ivfPqIngestToParquet(
        s, staging, idx, s"$out/idx", s"$out/ckpt")
      try { q.processAllAvailable() } finally q.stop()
      s.read.parquet(s"$out/idx")
    }),

    // streaming NSW graph ingest, end to end: a 10% vector drop replayed
    // as NDJSON through the insert rule — per micro-batch ONE bounded
    // graph walk against the standing adjacency plus two parquet appends.
    // The 90% base graph is built once per corpus (servedGraphIngest);
    // each rep copies it into a fresh index dir and replays the stream,
    // so the timed work is the steady-state maintenance cost.
    "stream_graph_ingest" -> ((s, dir) => {
      val (adjSrc, corpSrc, staging, entries) = servedGraphIngest(s, dir)
      val root = benchTmp("graft_bench_graph_ingest_rep")
      val adjDir = s"$root/adj"
      val corpDir = s"$root/corp"
      s.read.parquet(adjSrc).write.parquet(adjDir)
      s.read.parquet(corpSrc).write.parquet(corpDir)
      val q = graft.streaming.StreamingAnn.graphIngestToParquet(
        s, staging, adjDir, corpDir, s"$root/ckpt",
        kLink = 12, entryIds = entries, beamWidth = 32, hops = 2,
        expandHops = 2)
      try { q.processAllAvailable() } finally q.stop()
      s.read.parquet(adjDir)
    }),

    // streaming near-dup dedup, end to end: the full documents corpus
    // replayed as an NDJSON drop through nearDupDocumentStream's
    // signature projection + band state store + append aggregation — the
    // throughput number an always-on ingest deployment quotes. Staging is
    // written once per corpus; each rep runs a FRESH query over all of
    // it (per-microbatch state work is what's being measured; the late
    // flusher doc advances the watermark so the final windows emit).
    "stream_neardup_dedup" -> ((s, dir) => {
      val staging = stagedDocs(s, dir)
      val name = "bench_neardup_" + benchRunSeq.incrementAndGet()
      val q = graft.streaming.StreamingCuration
        .nearDupDocumentStream(s, staging, watermark = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      s.table(name)
    })
  )

  private val benchRunSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // corpus-side near-dup index (band table + shingle index), parquet-
  // materialized once per corpus — the standing ingest-gate state
  private val nearDupCache =
    scala.collection.mutable.HashMap.empty[String, (DataFrame, DataFrame, DataFrame)]
  private def servedNearDupIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    nearDupCache.synchronized {
      nearDupCache.getOrElseUpdate(dir, {
        // per-corpus temp dir: a fixed path would be overwritten when a
        // second sf dir is benched in the same JVM, silently re-pointing
        // the first dir's cached lazy DataFrames at the wrong corpus
        val d = java.nio.file.Files
          .createTempDirectory("graft_bench_neardup_idx").toString
        val corpus = t(s, dir, "documents").filter(col("doc_id") >= 100)
        graft.operators.Dedup
          .nearDupBandTable(corpus, "doc_id", "text", 3, 32, 4)
          .write.mode("overwrite").parquet(s"$d/bands")
        graft.operators.Dedup.shingleIndex(corpus, "doc_id", "text", 3)
          .write.mode("overwrite").parquet(s"$d/shingles")
        graft.operators.Dedup.nearDupIndexMeta(s, 3, 32, 4)
          .write.mode("overwrite").parquet(s"$d/meta")
        (s.read.parquet(s"$d/bands"), s.read.parquet(s"$d/shingles"),
          s.read.parquet(s"$d/meta"))
      })
    }

  // embeddings → NDJSON staging drop (once per corpus dir) for the
  // streaming IVF-PQ ingest row
  private val embStagingCache =
    scala.collection.mutable.HashMap.empty[String, String]
  private def stagedEmb(s: SparkSession, dir: String): String =
    embStagingCache.synchronized {
      embStagingCache.getOrElseUpdate(dir, {
        val d = benchTmp("graft_bench_emb_staging")
        t(s, dir, "embeddings")
          .select(to_json(struct(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"),
            (lit(1700000000L) + col("vec_id")).as("ingest_ts"))).as("value"))
          .write.mode("overwrite").text(d)
        d
      })
    }

  // documents → NDJSON staging drop (once per corpus dir), with a late
  // watermark-flusher row so append-mode windows emit within the run
  private val stagingCache =
    scala.collection.mutable.HashMap.empty[String, String]
  private def stagedDocs(s: SparkSession, dir: String): String =
    stagingCache.synchronized {
      stagingCache.getOrElseUpdate(dir, {
        val d = java.nio.file.Files
          .createTempDirectory("graft_bench_neardup").toString
        t(s, dir, "documents")
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"),
            (lit(1700000000L) + col("doc_id")).as("ingest_ts"))).as("value"))
          .write.mode("overwrite").text(d)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, "zz_flusher.json"),
          s"""{"doc_id":-1,"text":"late watermark flusher","lang":"en","source":"s0","ingest_ts":${1700000000L + 100000000L}}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        d
      })
    }
}
