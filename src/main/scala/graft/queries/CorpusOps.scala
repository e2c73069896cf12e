package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Chunking, Contamination, Curation, Dedup, InvertedIndex, Packing, Prefilter, Retrieval, Similarity, TextAnalysis}

/** Round-3 corpus-pipeline surface: sequence packing, passage-level
  * exact dedup, within-doc repetition filters, benchmark decontamination,
  * PII scanning, Bloom-prefiltered semi-joins, and domain mixing.
  *
  * Oracle notes: same determinism discipline as CurationOps — integer
  * arithmetic with one final double division, md5 in place of RNG,
  * decimal accumulation for double sums, RE2-portable regexes.
  */
object CorpusOps {

  /** ONE oracle for both ingest-guard gates: q166 (batch projection)
    * and q167 (streaming route through the quarantine/train journals,
    * StreamOps) share this WITH-block verbatim — a single definition so
    * a change to the shingle rule cannot drift the two gates apart
    * (exactly the cross-path drift the guard queries exist to catch).
    */
  private[queries] val ingestGuardOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
      |         || ' ' || w[i+4])) AS s
      |  FROM toks WHERE len(w) >= 5),
      |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
      |       WHERE doc_id % 17 = 0),
      |hits AS (
      |  SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh) x
      |  JOIN ev USING (shingle) GROUP BY x.doc_id)
      |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_hits,
      |  coalesce(h.n, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Order-independent exact sum of a double column — THE shared
    * definition ([[Relational.dsum]]), aliased so call sites stay
    * short; a second copy here previously risked the two drifting on
    * the rounding discipline.
    */
  private def dsum(c: Column, scale: Int = 2): Column =
    Relational.dsum(c, scale)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q164: fixed-k seeded sample per source — the eval/labeling
    // draw ("give me 20 uniform docs from every feed"). q50's pct
    // stratified sample must rank every stratum row (any percentage
    // selection does); a FIXED k doesn't: TopKAgg keeps a k-bounded
    // mergeable buffer, so only k rows per (partition, source) cross
    // the exchange and no stratum is ever sorted — at 100 TB this is a
    // scan + k-entry heaps, not a corpus shuffle. Order key: first 12
    // md5 hex chars as a number (48 bits — exact in the aggregate's
    // Double score; fixed-width lowercase hex makes the oracle's
    // lexicographic ORDER BY the same order), ties to the smaller id.
    "q164_source_sample" -> { (s, d) =>
      import s.implicits._
      val tk = graft.functions.TopKAgg.topK(20)
      Tables.documents(s, d)
        .select($"source", $"doc_id",
          (-conv(substring(md5(concat(lit("smp42:"), $"doc_id".cast("string"))),
            1, 12), 16, 10).cast("double")).as("v"))
        .groupBy($"source").agg(tk($"v", $"doc_id").as("top"))
        .select($"source", posexplode($"top"))
        .select($"source", ($"pos" + 1).cast("int").as("rk"),
          $"col.id".as("doc_id"))
    },

    // ---- q165: late-interaction (ColBERT-style) maxsim retrieval —
    // per query token, the best-matching doc token; summed; top-k.
    // Deterministic 16-bit token signatures stand in for model token
    // vectors (integer sim = 16 − 2·hamming, oracle-exact); the PLAN
    // — token explode, broadcast query sigs, two map-side aggs,
    // k-bounded top-k, no corpus sort — is the real 100-TB shape.
    "q165_maxsim_retrieval" -> { (s, d) =>
      import s.implicits._
      Retrieval.maxSimTopK(Tables.documents(s, d), $"doc_id", $"text",
        Seq("stream", "window", "merge"), k = 10)
    },

    // ---- q166: EXACT ingest-time contamination guard (the per-message
    // Validator analog, reference message/interfaces.go:143-145) run as
    // a batch gate: every doc tagged with its distinct eval-shingle hit
    // count via a broadcast sorted array of eval-set shingle hashes. A
    // stateless projection — no shuffle, corpus scanned once — whose
    // counts equal q57's broadcast-join scan by construction. Eval
    // docs self-hit (routed by stream, not tag).
    "q166_ingest_guard_exact" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val evalSet = Contamination.evalShingleSet(
        Dedup.docShingles(docs.filter($"doc_id" % 17 === 0),
          $"doc_id", $"text", 5))
      Contamination.ingestGuardExact(docs, evalSet, n = 5)
        .select($"doc_id", $"n_eval_hits".cast("long").as("n_eval_hits"),
          $"contaminated")
    },

    // ---- q54: sequence packing (concat-and-chunk, 512-token budget,
    // 8 shards): each doc's span in its shard's packed token stream.
    // The window partitions by shard — no global sort at any scale.
    "q54_seq_packing" -> { (s, d) =>
      import s.implicits._
      Packing.packSequences(Tables.documents(s, d), $"doc_id", $"text",
        budget = 512, shards = 8)
    },

    // ---- q133: windowed co-occurrence lift — top-50 token pairs by
    // PMI-style lift within a 5-token window (skip-gram association
    // statistics). Pair generation is a narrow flat map (no self-join);
    // the global top-k plans as TakeOrderedAndProject. Log-free: lift
    // ranks identically to PMI and stays bit-reproducible.
    "q133_cooccurrence_lift" -> { (s, d) =>
      import s.implicits._
      TextAnalysis.cooccurrenceLift(Tables.documents(s, d), $"text",
        window = 5, minPairCount = 5L, k = 50)
    },

    // ---- q55: passage-level exact dedup (10-token windows, C4-style):
    // per-doc keep ratio under global first-occurrence dedup by md5.
    "q55_passage_dedup" -> { (s, d) =>
      import s.implicits._
      Dedup.passageDedupStats(Tables.documents(s, d), $"doc_id", $"text",
        window = 10)
    },

    // ---- q56: within-doc repetition metrics (Gopher filters):
    // duplicate-3-gram ratio + most-frequent-2-gram share.
    "q56_repetition" -> { (s, d) =>
      import s.implicits._
      TextAnalysis.repetitionStats(Tables.documents(s, d), $"doc_id", $"text")
    },

    // ---- q57: benchmark decontamination — training docs sharing word
    // 5-grams with the eval slice (doc_id % 17 == 0), via the hashed
    // shingle broadcast join.
    "q57_contamination" -> { (s, d) =>
      import s.implicits._
      val sh = Dedup.docShingles(Tables.documents(s, d), $"doc_id", $"text", 5)
      Contamination.ngramOverlap(sh, id => id % 17 === 0)
    },

    // ---- q58: PII scan over deterministically-dirtied text (e-mail /
    // phone / IPv4 injected per doc_id residue so every branch of the
    // detector fires). Counts per doc.
    "q58_pii_scan" -> { (s, d) =>
      import s.implicits._
      val dirty = concat($"text",
        when($"doc_id" % 2 === 0,
          concat(lit(" Contact user"), $"doc_id", lit("@mail.example.com")))
          .otherwise(lit("")),
        when($"doc_id" % 3 === 0,
          concat(lit(" call 415-555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" from 10."), ($"doc_id" % 256).cast("string"),
            lit(".0."), ($"doc_id" % 100).cast("string")))
          .otherwise(lit("")))
      val (em, ph, ip) = TextAnalysis.piiCounts(dirty)
      Tables.documents(s, d).select($"doc_id",
        em.cast("long").as("n_email"), ph.cast("long").as("n_phone"),
        ip.cast("long").as("n_ip"))
    },

    // ---- q59: Bloom-prefiltered semi-join — lineitems of high-value
    // orders. The Bloom broadcast (~1.2B/key) discards non-matching fact
    // rows pre-shuffle; the exact semi-join removes false positives, so
    // the result is exactly the IN-subquery oracle.
    "q59_bloom_semijoin" -> { (s, d) =>
      import s.implicits._
      val dim = Tables.orders(s, d).filter($"o_totalprice" > 400000.0)
      Prefilter.bloomSemiJoin(Tables.lineitem(s, d), $"l_orderkey",
          dim, $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
    },

    // ---- q60: domain mixing — per-language keep rates (en 90 / fr 60 /
    // de 40 / rest 20 pct) applied as a deterministic hash threshold;
    // per-language kept counts and volume.
    "q60_domain_mix" -> { (s, d) =>
      import s.implicits._
      val w = when($"lang" === "en", 90).when($"lang" === "fr", 60)
        .when($"lang" === "de", 40).otherwise(20)
      Tables.documents(s, d)
        .filter(Curation.weightedKeep($"doc_id", w, "mix42"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("sum_chars"))
    },

    // ---- q93: temperature-scaled domain mixing (T=2, 50% budget):
    // w_d ∝ sqrt(n_d) flattens the domain distribution — big domains
    // down-sample toward budget, small ones keep everything. Kept
    // counts + the per-domain ppm rate, all integer/sqrt-exact.
    "q93_temperature_mix" -> { (s, d) =>
      import s.implicits._
      Curation.temperatureMix(Tables.documents(s, d), $"lang", $"doc_id",
          budgetPct = 50, salt = "tmix42")
        .groupBy($"lang", $"__ppm".as("ppm"))
        .agg(count(lit(1)).as("n_kept"))
    },

    // ---- q111: DSIR-style importance reweighting — score every doc
    // by the log-likelihood ratio of a hashed-unigram LM fit on the
    // target slice (lang='en') vs the full corpus (Xie et al. 2023).
    // The ONLY gate query using ln(): safe here because just 256
    // distinct bucket LLR values are ever evaluated, each formed in a
    // fixed double-op order and rounded to 1e-6 before the exact
    // decimal per-doc sum — a trans-engine ulp difference would have
    // to land within 5e-7 of a rounding boundary on one of 256 values
    // to diverge. md5-prefix bucketing keeps the feature hash
    // replayable in DuckDB.
    "q111_dsir_weights" -> { (s, d) =>
      import s.implicits._
      graft.operators.Dsir.weights(Tables.documents(s, d), $"doc_id",
        $"text", isTarget = $"lang" === "en", buckets = 256)
    },

    // ---- q94: best-fit-decreasing whole-document bin packing
    // (512-token budget, 32 shards): per-doc bin assignment, final bin
    // fill, and the oversize flag. The oracle replays the exact greedy
    // (sorted by (-tokens, doc_id); best fit = fullest bin that still
    // fits, tie → lowest bin id) as a DuckDB recursive CTE carrying the
    // per-shard fill list — sequential per shard by construction, but
    // shards advance in lockstep so recursion depth is docs/shards
    // (which is also why 32 shards: oracle depth, and one packing task
    // per core — at 100 TB, shards = cluster parallelism).
    "q94_bin_packing" -> { (s, d) =>
      import s.implicits._
      Packing.packBestFit(Tables.documents(s, d), $"doc_id", $"text",
        budget = 512, shards = 32)
    },

    // ---- q97: exact phrase search over the positional inverted
    // index: docs containing consecutive tokens "value table" with the
    // match count. Work is the phrase terms' posting lists only (the
    // per-term filters reach the scan); the oracle checks the adjacency
    // arithmetic against a direct token-array walk.
    "q97_phrase_search" -> { (s, d) =>
      import s.implicits._
      val post = InvertedIndex.postings(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text")
      InvertedIndex.phraseSearch(post, Seq("value", "table"))
    },

    // ---- q89: per-document mean in-corpus bigram likelihood — the
    // scoring side of the n-gram LM (q74 builds the table); a
    // CCNet-style fluency/quality filter. Log-free on purpose: each
    // term is one IEEE division of exact counts, so the score is
    // bit-reproducible by the oracle (a log-domain perplexity would
    // inherit libm differences).
    "q89_bigram_likelihood" -> { (s, d) =>
      import s.implicits._
      TextAnalysis.bigramLikelihood(Tables.documents(s, d), $"doc_id", $"text")
    },

    // ---- q102: BM25 ranking over the inverted index — the scoring
    // layer above q97's postings. Work ∝ the query terms' posting
    // lists (term filter before any shuffle; 1-row corpus stats +
    // ≤|query|-row df both broadcast). Log-free odds idf for oracle
    // bit-reproducibility (see Retrieval scaladoc).
    "q102_bm25" -> { (s, d) =>
      import s.implicits._
      Retrieval.bm25TopK(Tables.documents(s, d), $"doc_id", $"text",
        Seq("stream", "window", "merge"), k = 10)
    },

    // ---- q103: hybrid retrieval — reciprocal-rank fusion of the BM25
    // list (q102's shape) and the exact cosine list for probe vec 0
    // (q27's shape), 1/(60+rank) each side. Both inputs are
    // top-50-bounded, so the fuse join is broadcast-scale no matter
    // the corpus size.
    "q103_rrf_fusion" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(docs, $"doc_id", $"text",
        Seq("stream", "window", "merge"), k = 50)
      val vec = Similarity.bruteTopK(emb, emb.filter($"vec_id" === 0), k = 50)
        .select($"vec_id".as("doc_id"), $"rank")
      Retrieval.rrfFuse(lex, vec, "doc_id", k = 10)
    },

    // ---- q119: exact duplicated-span detection (8-token windows,
    // stride 1, corpus-wide): per-doc maximal duplicated spans — the
    // exact-substring dedup report (Lee et al. 2022) that catches the
    // boundary-straddling duplicates q55's fixed passages miss.
    "q119_dup_spans" -> { (s, d) =>
      import s.implicits._
      graft.operators.SpanDedup.spanStats(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text", width = 8)
    },

    // ---- q121: hashed-bigram linear classifier inference — the
    // fasttext-style quality-filter scoring pass (CCNet/RedPajama),
    // deterministic placeholder weights, production plumbing.
    "q121_quality_classifier" -> { (s, d) =>
      import s.implicits._
      Curation.classifierScore(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text", buckets = 1024, salt = "qc42")
    },

    // ---- q122: distributed BPE vocabulary training (10 merges): per
    // round one map-side-combined pair count, a 1-row argmax pull, and
    // a narrow greedy rewrite fold over the cached corpus. The oracle
    // unrolls the identical 10 rounds as chained CTEs (list_reduce
    // replays the left-to-right merge fold).
    "q122_bpe_train" -> { (s, d) =>
      import s.implicits._
      graft.operators.Bpe.trainMerges(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text", rounds = 10)
    },

    // ---- q123: BPE encoding (train once, apply everywhere): the 10
    // learned merges compose into ONE narrow projection — per-doc
    // compression report. Shares the training chain with q122.
    "q123_bpe_encode" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val merges = graft.operators.Bpe
        .trainMerges(docs, $"doc_id", $"text", rounds = 10)
        .orderBy($"r").collect()
        .map(row => (row.getString(1), row.getString(2))).toSeq
      graft.operators.Bpe.encodeStats(docs, $"doc_id", $"text", merges)
    },

    // ---- q124: content-defined chunking (rolling-hash cut points,
    // expected 16-token chunks): boundaries follow content, so an
    // edit changes only its own chunk's hash — the dedup-store /
    // incremental-sync chunker. One narrow projection, no shuffle.
    "q124_cdc_chunking" -> { (s, d) =>
      import s.implicits._
      graft.operators.CdcChunking.chunk(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text", divisor = 16)
    },

    // ---- q104: sliding-window chunking (32-token chunks, stride 24 →
    // 25% overlap) with provenance and a content hash per chunk — the
    // RAG / context-window preprocessing map. One narrow projection,
    // no shuffle at any scale; repartitioned first because the corpus
    // arrives as one parquet file (see Chunking scaladoc).
    "q104_chunking" -> { (s, d) =>
      import s.implicits._
      Chunking.chunkTokens(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text", width = 32, stride = 24)
    },

    // ---- q135: CCNet-style LM head/middle/tail buckets — mean
    // quantized unigram surprisal per doc, per-source third-cuts from
    // the SCORE HISTOGRAM (never an ntile window over the corpus).
    // Integer log2 via binary-string length keeps both engines
    // bit-identical (see TextAnalysis.surprisalBuckets scaladoc).
    "q135_surprisal_buckets" -> { (s, d) =>
      import s.implicits._
      TextAnalysis.surprisalBuckets(Tables.documents(s, d),
        $"doc_id", $"text", $"source")
    },

    // ---- q137: n-gram novelty — fraction of each doc's distinct
    // trigrams first seen (by smallest doc_id) in that doc. The
    // "how much new content does this doc add" curation signal;
    // two shingle-keyed shuffles, no self-join.
    "q137_ngram_novelty" -> { (s, d) =>
      import s.implicits._
      Dedup.ngramNovelty(Tables.documents(s, d), $"doc_id", $"text", n = 3)
    },

    // ---- q146: T5-style span corruption — masked-span (input, target)
    // pairs with <X_k> sentinels, every masking decision a pure
    // function of (doc_id, position) (md5 residues: ~5% span starts ×
    // mean length 3 ≈ 15% masked). ONE fused narrow map, no shuffle;
    // the oracle replays it with range joins + gaps-and-islands.
    "q146_span_corruption" -> { (s, d) =>
      import s.implicits._
      graft.operators.SpanCorruption.corrupt(
        Tables.documents(s, d), $"doc_id", $"text")
    },

    // ---- q147: fill-in-the-middle (PSM) transformation — half the
    // corpus (md5-deterministic) reordered to <PRE> p <SUF> s <MID> m
    // at md5-derived cuts, half passed through: the FIM preprocessing
    // that buys infilling ability. Pure column form — array slices in
    // whole-stage codegen, no UDF, no shuffle.
    "q147_fim_transform" -> { (s, d) =>
      import s.implicits._
      graft.operators.SpanCorruption.fim(
        Tables.documents(s, d), $"doc_id", $"text")
    },

    // ---- q141: classifier calibration audit — q121's scores bucketed
    // into deciles vs the quality-heuristic pseudo-label: the
    // reliability-diagram table a pipeline checks before trusting a
    // filter threshold. Two narrow scoring maps, one bins-row agg.
    "q141_calibration_bins" -> { (s, d) =>
      import s.implicits._
      Curation.calibrationBins(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        $"doc_id", $"text", bins = 10)
    },

    // ---- q149: capped proportional token-budget allocation
    // (waterfilling) — target mixture weights w = 1 + srcnum % 5, 60%
    // corpus budget: high-weight sources hit their caps (saturate) and
    // the surplus splits by weight among the rest, all in exact
    // integer arithmetic. One corpus aggregate, then |sources|-row
    // window math.
    "q149_token_waterfill" -> { (s, d) =>
      import s.implicits._
      Curation.waterfillBudget(Tables.documents(s, d), $"source",
        TextAnalysis.tokenCount($"text"),
        src => lit(1) + substring(src, 4, 10).cast("int") % 5,
        budgetPct = 60)
    },

    // ---- q154: the q149 plan EXECUTED — per source, documents in the
    // seeded pseudo-random order until the waterfilled token budget is
    // reached: the manifest a training run actually reads. The running
    // sum is the two-phase prefix form (a PARTITION BY source window
    // would put each source's corpus under one reducer).
    "q154_mixture_execute" -> { (s, d) =>
      import s.implicits._
      // r11: tokenize ONCE — the plan aggregate, the range-sampling
      // pass, and the prefix exchange each re-evaluate the tokens
      // column (regexp over full text) when handed the raw expression;
      // a pinned (doc_id, source, n_tokens) projection feeds all of
      // them the cached count. Same values, same manifest.
      val tokd = Tables.documents(s, d)
        .select($"doc_id", $"source",
          TextAnalysis.tokenCount($"text").as("n_tokens"))
        .persist()
      val plan = Curation.waterfillBudget(tokd, $"source", $"n_tokens",
        src => lit(1) + substring(src, 4, 10).cast("int") % 5,
        budgetPct = 60)
      val out = Curation.executeMixturePlan(tokd, $"doc_id", $"source",
        $"n_tokens", plan, seed = "mix42")
      tokd.unpersist() // out is pinned by executeMixturePlan
      out
    },

    // ---- q155: upsampling mixture — the waterfill ceiling is
    // cap × 3 epochs, so small high-weight sources REPEAT (full passes
    // + a seeded partial pass) to reach their share. Steeper weights
    // (1..41) than q149/q154 so several sources actually cross 1×cap.
    "q155_epoch_upsample" -> { (s, d) =>
      import s.implicits._
      // r11: tokenize once (q154's rationale) — executeEpochPlan's
      // full-pass leg, partial-pass leg, and plan pin each re-read the
      // tokens column.
      val tokd = Tables.documents(s, d)
        .select($"doc_id", $"source",
          TextAnalysis.tokenCount($"text").as("n_tokens"))
        .persist()
      val plan = Curation.waterfillBudgetEpochs(tokd, $"source",
        $"n_tokens",
        src => lit(1) + (substring(src, 4, 10).cast("int") % 5) * lit(10),
        budgetPct = 80, maxEpochs = 3)
      val out = Curation.executeEpochPlan(tokd, $"doc_id", $"source",
        $"n_tokens", plan, seed = "ep42")
      tokd.unpersist() // out is pinned by executeEpochPlan
      out
    },

    // ---- q157: manifest diff — the recipe-iteration report. Same
    // budget and seed, weights steepened 1..5 → 1..9: per source, how
    // many documents/tokens the reweight added, removed, and kept.
    // Same seed ⇒ each source's selection is a prefix cut at a new
    // point, so the per-source delta is one-sided; across sources the
    // report shows the actual reallocation.
    "q157_manifest_diff" -> { (s, d) =>
      import s.implicits._
      // r11: tokenize once — two plans + two manifests each re-ran
      // the tokens regexp over the corpus (≈6 passes); the pinned
      // projection feeds all four from cache (q154's rationale).
      val tokd = Tables.documents(s, d)
        .select($"doc_id", $"source",
          TextAnalysis.tokenCount($"text").as("n_tokens"))
        .persist()
      val p1 = Curation.waterfillBudget(tokd, $"source", $"n_tokens",
        src => lit(1) + substring(src, 4, 10).cast("int") % 5, budgetPct = 60)
      val p2 = Curation.waterfillBudget(tokd, $"source", $"n_tokens",
        src => lit(1) + (substring(src, 4, 10).cast("int") % 5) * lit(2),
        budgetPct = 60)
      // The two manifests are independent eager pipelines — build them
      // from two driver threads so one's prefix-pass tail back-fills
      // the other's idle executor slots (guide §2.6). tokd is pinned
      // first so neither thread races its materialization.
      //
      // r12 (ADVICE r11): daemon threads + unbounded await (a hard
      // 600 s ceiling failed legitimately slow runs with the sibling
      // still running); on failure the sibling's jobs are cancelled
      // via the shared group and any manifest it already pinned is
      // released, so nothing MEMORY_AND_DISK-persisted is stranded.
      tokd.count()
      val sc = s.sparkContext
      val group = s"q157-manifests-${java.util.UUID.randomUUID}"
      val tf = new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"q157-manifest-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2, tf)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      def buildManifest(plan: org.apache.spark.sql.DataFrame) =
        scala.concurrent.Future {
          org.apache.spark.sql.SparkSession.setActiveSession(s)
          sc.setJobGroup(group, "q157 manifest build",
            interruptOnCancel = false)
          try Curation.executeMixturePlan(tokd, $"doc_id", $"source",
            $"n_tokens", plan, seed = "mix42")
          finally sc.clearJobGroup()
        }
      val m1F = buildManifest(p1)
      val m2F = buildManifest(p2)
      val (m1, m2) =
        try {
          val inf = scala.concurrent.duration.Duration.Inf
          val r = (scala.concurrent.Await.result(m1F, inf),
            scala.concurrent.Await.result(m2F, inf))
          pool.shutdown()
          r
        } catch { case t: Throwable =>
          try sc.cancelJobGroup(group) catch { case _: Exception => () }
          // Let the sibling wind down, then release whatever manifest
          // it managed to pin before propagating the original error.
          Seq(m1F, m2F).foreach { f =>
            try scala.concurrent.Await.ready(f,
              scala.concurrent.duration.Duration(60, "s"))
            catch { case _: Exception => () }
            f.value match {
              case Some(scala.util.Success(m)) =>
                try m.unpersist() catch { case _: Exception => () }
              case _ => ()
            }
          }
          pool.shutdownNow()
          throw t
        }
      tokd.unpersist() // both manifests pinned
      val out = Curation.manifestDiff(m1, m2).persist()
      out.count() // pin the |sources|-row report, release the manifests
      m1.unpersist(); m2.unpersist()
      out
    },

    // ---- q158: incremental manifest extension — the corpus grows
    // (the doc_id%5==0 fifth "arrives"), the plan is re-solved on the
    // full corpus, and ONLY the new docs fill each source's headroom
    // above the frozen base manifest. Nothing from the base deal moves.
    "q158_manifest_extend" -> { (s, d) =>
      import s.implicits._
      // r11: tokenize once (q154's rationale); base/new slices filter
      // the same pinned projection.
      val tokd = Tables.documents(s, d)
        .select($"doc_id", $"source",
          TextAnalysis.tokenCount($"text").as("n_tokens"))
        .persist()
      val w = (src: org.apache.spark.sql.Column) =>
        lit(1) + substring(src, 4, 10).cast("int") % 5
      val base = tokd.filter($"doc_id" % 5 =!= 0)
      val p1 = Curation.waterfillBudget(base, $"source", $"n_tokens", w,
        budgetPct = 60)
      val m1 = Curation.executeMixturePlan(base, $"doc_id", $"source",
        $"n_tokens", p1, seed = "mix42")
      val p2 = Curation.waterfillBudget(tokd, $"source", $"n_tokens", w,
        budgetPct = 60)
      val out = Curation.extendManifest(m1, tokd.filter($"doc_id" % 5 === 0),
        $"doc_id", $"source", $"n_tokens", p2, seed = "ext1")
      tokd.unpersist() // extension pinned by extendManifest
      m1.unpersist() // folded into the materialized extension
      out
    },

    // ---- q159: weighted stride interleave — the deterministic
    // data-loader order whose every prefix matches the target mix
    // (vs the seeded shuffle's multinomial batch noise; compare with
    // q156). vt is the integer virtual-time sort key.
    "q159_stride_interleave" -> { (s, d) =>
      import s.implicits._
      Curation.interleaveByWeight(Tables.documents(s, d), $"doc_id",
        $"source",
        src => lit(1) + substring(src, 4, 10).cast("int") % 5,
        seed = "il7")
    }
  )

  /** Shared q135 CTE chain ending in bucketed(doc_id, source, n_tok,
    * sum_bits, mean_bits, bucket) — mirrors
    * [[graft.operators.TextAnalysis.surprisalBuckets]]; reused by the
    * q140 curriculum oracle.
    */
  private[queries] val surprisalCtes =
    """toks AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
      |  FROM documents),
      |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
      |bits AS (
      |  SELECT t, CAST(length(bin(CAST(total // c AS BIGINT))) - 1 AS BIGINT)
      |    AS b
      |  FROM cnt CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, source, count(*) AS n_tok,
      |    CAST(sum(b) AS BIGINT) AS sum_bits,
      |    floor(CAST(sum(b) AS DOUBLE) / count(*) * 10000.0 + 0.5)
      |      / 10000.0 AS mean_bits
      |  FROM toks JOIN bits USING (t) GROUP BY doc_id, source),
      |hist AS (
      |  SELECT source, mean_bits, count(*) AS k FROM scored GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, mean_bits,
      |    sum(k) OVER (PARTITION BY source ORDER BY mean_bits
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(k) OVER (PARTITION BY source) AS n
      |  FROM hist),
      |cuts AS (
      |  SELECT source,
      |    min(CASE WHEN 3 * cum >= n THEN mean_bits END) AS c1,
      |    min(CASE WHEN 3 * cum >= 2 * n THEN mean_bits END) AS c2
      |  FROM cum GROUP BY 1),
      |bucketed AS (
      |  SELECT s.doc_id, s.source, s.n_tok, s.sum_bits, s.mean_bits,
      |    CASE WHEN s.mean_bits <= c.c1 THEN 'head'
      |         WHEN s.mean_bits <= c.c2 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM scored s JOIN cuts c USING (source))""".stripMargin

  /** BM25 CTE chain shared by q102/q103. Every non-integer constant is
    * CAST to DOUBLE: DuckDB parses `2.2` as DECIMAL(2,1), and
    * BIGINT·DECIMAL arithmetic is exact where Spark's double
    * arithmetic is not — the cast forces the identical IEEE operation
    * sequence (COVERAGE.md rulebook).
    */
  private val bm25Cte =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
      |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
      |       FROM dl),
      |tf AS (
      |  SELECT doc_id, t AS term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
      |  WHERE t IN ('stream', 'window', 'merge') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
      |contribs AS (
      |  SELECT tf.doc_id,
      |    floor((((st.n_docs - df.dfc + CAST(0.5 AS DOUBLE))
      |           / (df.dfc + CAST(0.5 AS DOUBLE)))
      |      * ((tf.tf * CAST(2.2 AS DOUBLE))
      |         / (tf.tf + CAST(1.2 AS DOUBLE)
      |            * (CAST(0.25 AS DOUBLE)
      |               + CAST(0.75 AS DOUBLE) * dl.dl
      |                 / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))) * 1000000.0 + 0.5) / 1000000.0
      |      AS contrib
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_terms_hit,
      |    CAST(sum(CAST(contrib AS DECIMAL(28,6))) AS DOUBLE) AS score
      |  FROM contribs GROUP BY 1),
      |lex AS (
      |  SELECT doc_id, n_terms_hit, score,
      |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM scored)""".stripMargin

  /** q122/q123 oracle: the BPE rounds unrolled as chained CTEs. Round
    * r: p_r = corpus-wide adjacent-pair counts (>= 2 — a singleton
    * pair is not a vocab merge), b_r = lexicographically tie-broken
    * argmax, t_r = the greedy left-to-right rewrite via list_reduce
    * over singleton lists (the first symbol seeds the accumulator, so
    * the fold equals the engine's empty-seeded one).
    */
  private def bpeCte(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """c0 AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS syms
        |  FROM documents),
        |t0 AS (SELECT doc_id, syms FROM c0 WHERE len(syms) >= 2),
        |""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s"""p$r AS (
           |  SELECT u.p[1] AS lhs, u.p[2] AS rhs, count(*) AS cnt FROM (
           |    SELECT unnest(list_transform(range(1, len(syms)),
           |      i -> [syms[i], syms[i+1]])) AS p
           |    FROM t${r - 1}) u
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |b$r AS (SELECT lhs, rhs, cnt FROM p$r
           |  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
           |t$r AS (
           |  SELECT t.doc_id,
           |    list_reduce(list_transform(t.syms, s -> [s]),
           |      (acc, x) -> CASE WHEN acc[-1] = b.lhs AND x[1] = b.rhs
           |        THEN list_append(acc[1:len(acc)-1], b.lhs || ' ' || b.rhs)
           |        ELSE list_append(acc, x[1]) END) AS syms
           |  FROM t${r - 1} t CROSS JOIN b$r b)""".stripMargin)
      sb.append(if (r < rounds) ",\n" else "")
    }
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    // Same md5-signature maxsim, integer arithmetic end-to-end; ties
    // resolve (score desc, doc_id asc) on both sides.
    "q165_maxsim_retrieval" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        |  FROM documents),
        |sigs AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(tok), 1, 4))::BIGINT AS dsig FROM toks),
        |qs AS (
        |  SELECT qtok, ('0x' || substr(md5(qtok), 1, 4))::BIGINT AS qsig
        |  FROM (SELECT unnest(['stream', 'window', 'merge']) AS qtok)),
        |per AS (
        |  SELECT doc_id, qtok,
        |    max(16 - 2 * bit_count(xor(dsig, qsig))) AS best
        |  FROM sigs CROSS JOIN qs GROUP BY 1, 2),
        |sc AS (
        |  SELECT doc_id, CAST(sum(best) AS BIGINT) AS score_num
        |  FROM per GROUP BY 1)
        |SELECT CAST(rk AS INT) AS rk, doc_id, score_num FROM (
        |  SELECT doc_id, score_num, row_number() OVER (
        |    ORDER BY score_num DESC, doc_id ASC) AS rk FROM sc) t
        |WHERE rk <= 10""".stripMargin,

    "q166_ingest_guard_exact" -> ingestGuardOracleSql,

    // Fixed-width lowercase hex: lexicographic prefix order ==
    // the Spark side's numeric-prefix order; doc_id breaks ties.
    "q164_source_sample" ->
      """SELECT source, rk, doc_id FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5('smp42:' || CAST(doc_id AS VARCHAR)), 1, 12) ASC,
        |               doc_id ASC) AS INT) AS rk
        |  FROM documents) t
        |WHERE rk <= 20""".stripMargin,

    "q133_cooccurrence_lift" ->
      """WITH toks AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents),
        |os AS (SELECT unnest([1, 2, 3, 4]) AS o),
        |pr AS (
        |  SELECT unnest(list_transform(range(1, len(w) - o + 1),
        |           i -> least(w[i], w[i+o]))) AS a,
        |         unnest(list_transform(range(1, len(w) - o + 1),
        |           i -> greatest(w[i], w[i+o]))) AS b
        |  FROM toks, os WHERE len(w) > o),
        |uni AS (SELECT unnest(w) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |tt AS (SELECT count(*) AS tt FROM uni),
        |pc AS (SELECT a, b, count(*) AS c_ab FROM pr GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |tp AS (SELECT count(*) AS tp FROM pr)
        |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
        |  floor(((CAST(c_ab AS DOUBLE) / CAST(tp.tp AS DOUBLE)) /
        |        ((CAST(ua.c AS DOUBLE) / CAST(tt.tt AS DOUBLE)) *
        |         (CAST(ub.c AS DOUBLE) / CAST(tt.tt AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM pc JOIN uc ua ON pc.a = ua.tok
        |        JOIN uc ub ON pc.b = ub.tok, tp, tt
        |ORDER BY lift DESC, a ASC, b ASC
        |LIMIT 50""".stripMargin,

    "q122_bpe_train" -> {
      val rows = (1 to 10)
        .map(r => s"SELECT $r AS r, lhs, rhs, cnt FROM b$r")
        .mkString("\nUNION ALL ")
      s"""WITH ${bpeCte(10)},
         |m AS (
         |$rows)
         |SELECT CAST(r AS INT) AS r, lhs, rhs, CAST(cnt AS BIGINT) AS freq
         |FROM m""".stripMargin
    },

    "q123_bpe_encode" ->
      s"""WITH ${bpeCte(10)}
         |SELECT c.doc_id, CAST(len(c.syms) AS BIGINT) AS n_base,
         |  CAST(coalesce(len(t.syms), len(c.syms)) AS BIGINT) AS n_bpe,
         |  CASE WHEN len(c.syms) > 0
         |    THEN floor(coalesce(len(t.syms), len(c.syms))
         |      / CAST(len(c.syms) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    ELSE 1.0 END AS ratio
         |FROM c0 c LEFT JOIN t10 t USING (doc_id)""".stripMargin,
    // Same window hashing (md5 of the space-joined 8-token slice; list
    // slicing is inclusive on both ends), same corpus-wide occurrence
    // count, same strictly-after island split (i > prev + 8).
    "q119_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM toks),
        |wins AS (SELECT doc_id, unnest(range(0, n - 8 + 1)) AS i, w
        |         FROM base WHERE n >= 8),
        |h AS (SELECT doc_id, i, md5(array_to_string(w[i+1:i+8], ' ')) AS h
        |      FROM wins),
        |marked AS (SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS cnt
        |           FROM h),
        |d AS (SELECT doc_id, i FROM marked WHERE cnt > 1),
        |brk AS (
        |  SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER win IS NULL
        |           OR i > lag(i) OVER win + 8 THEN 1 ELSE 0 END AS b
        |  FROM d WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |isl AS (SELECT doc_id, i,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
        |        FROM brk),
        |sp AS (SELECT doc_id, g, max(i) + 8 - min(i) AS len
        |       FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |          CAST(sum(len) AS BIGINT) AS dup_tokens
        |        FROM sp GROUP BY 1)
        |SELECT b.doc_id, b.n AS n_tokens,
        |  coalesce(a.n_spans, 0) AS n_spans,
        |  coalesce(a.dup_tokens, 0) AS dup_tokens,
        |  CASE WHEN b.n > 0
        |    THEN floor(coalesce(a.dup_tokens, 0) / CAST(b.n AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS dup_ratio
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Same salt-prefixed md5 feature hash, same integer weight
    // numerators (2b - 1023) summed exactly, one double division.
    "q121_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM toks WHERE len(w) >= 2),
        |f AS (SELECT doc_id,
        |        ('0x' || substr(md5('qc42' || g), 1, 8))::BIGINT % 1024 AS b
        |      FROM bg),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |        CAST(sum(2 * b - 1023) AS BIGINT) AS sw
        |      FROM f GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats,
        |  CASE WHEN s.sw IS NULL THEN 0.0
        |    ELSE floor(CAST(s.sw AS DOUBLE) / (2048.0 * s.n_feats)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS score,
        |  coalesce(s.sw > 0, false) AS positive
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,

    // Same residue-class cut rule, same inclusive list slicing; ends =
    // cut positions (excluding the last token) + the document end.
    "q124_cdc_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        |e AS (
        |  SELECT doc_id, w, list_append(list_filter(range(1, n + 1),
        |    i -> ('0x' || substr(md5(w[i]), 1, 8))::BIGINT % 16 = 0
        |         AND i < n), n) AS ends
        |  FROM base),
        |c AS (SELECT doc_id, w, ends,
        |        unnest(range(1, len(ends) + 1)) AS j
        |      FROM e)
        |SELECT doc_id, CAST(j - 1 AS INT) AS chunk_id,
        |  CAST(CASE WHEN j = 1 THEN 0 ELSE ends[j-1] END AS BIGINT)
        |    AS start_tok,
        |  CAST(ends[j] - (CASE WHEN j = 1 THEN 0 ELSE ends[j-1] END)
        |    AS BIGINT) AS n_toks,
        |  md5(array_to_string(
        |    w[(CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END):ends[j]], ' '))
        |    AS chunk_hash
        |FROM c""".stripMargin,

    "q102_bm25" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, n_terms_hit, score, rank FROM lex
         |WHERE rank <= 10""".stripMargin,

    // Replays bruteTopK for probe 0 (q27's oracle form) and the BM25
    // list above, then fuses: 1/(60+rank) per side, absent rank → 0,
    // both divisions on exact integer operands.
    "q103_rrf_fusion" ->
      s"""WITH $bm25Cte,
         |vec AS (
         |  SELECT vec_id AS doc_id, rank FROM (
         |    SELECT c.vec_id,
         |      row_number() OVER (
         |        ORDER BY floor((list_cosine_similarity(
         |            CAST(p.embedding AS DOUBLE[]),
         |            CAST(c.embedding AS DOUBLE[]))) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |          c.vec_id ASC) AS rank
         |    FROM embeddings p JOIN embeddings c
         |      ON p.vec_id = 0 AND c.vec_id <> 0) t
         |  WHERE rank <= 50),
         |lex50 AS (SELECT doc_id, rank FROM lex WHERE rank <= 50),
         |fused AS (
         |  SELECT coalesce(a.doc_id, b.doc_id) AS id,
         |    a.rank AS rank_a, b.rank AS rank_b,
         |    floor((coalesce(CAST(1.0 AS DOUBLE) / (60 + a.rank),
         |                   CAST(0.0 AS DOUBLE))
         |        + coalesce(CAST(1.0 AS DOUBLE) / (60 + b.rank),
         |                   CAST(0.0 AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS rrf
         |  FROM lex50 a FULL OUTER JOIN vec b ON a.doc_id = b.doc_id)
         |SELECT id, rank_a, rank_b, rrf, rank FROM (
         |  SELECT id, rank_a, rank_b, rrf,
         |    row_number() OVER (ORDER BY rrf DESC, id ASC) AS rank
         |  FROM fused) g
         |WHERE rank <= 10""".stripMargin,

    // Same integer chunk arithmetic (// is floor division on BIGINT),
    // same md5 of the space-joined token slice; list_slice's end is
    // inclusive.
    "q104_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
        |         FROM toks WHERE len(w) > 0),
        |c AS (SELECT doc_id, w, n,
        |        unnest(range(0, (greatest(n - 32, 0) + 23) // 24 + 1)) AS cid
        |      FROM base)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id, cid * 24 AS start_tok,
        |  least(32, n - cid * 24) AS n_toks,
        |  md5(array_to_string(list_slice(w, cid * 24 + 1,
        |    least(cid * 24 + 32, n)), ' ')) AS chunk_hash
        |FROM c""".stripMargin,

    // Direct token-array adjacency walk — equivalent to the positional
    // postings join by construction.
    "q97_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(range(1, len(w))) AS i, w FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM p WHERE w[i] = 'value' AND w[i+1] = 'table'
        |GROUP BY doc_id""".stripMargin,

    // Replays packBestFit's greedy exactly: same processing order, same
    // best-fit choice (max fill f with f + n <= budget and f < budget —
    // i.e. least remaining room that fits, never a full or over-budget
    // bin), tie broken to the lowest bin id (list_position returns the
    // first occurrence). Over-budget docs open singleton bins.
    "q94_bin_packing" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id % 32 AS shard,
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, shard, n,
        |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id) AS rk
        |  FROM t),
        |steps(shard, rk, doc_id, n, bin, fills) AS (
        |  SELECT shard, rk, doc_id, n, 0 AS bin, [n] AS fills FROM r WHERE rk = 1
        |  UNION ALL
        |  SELECT shard, rk, doc_id, n,
        |    CASE WHEN newbin THEN len(fills) ELSE pos END AS bin,
        |    CASE WHEN newbin THEN list_append(fills, n)
        |         ELSE list_transform(range(1, len(fills) + 1),
        |           j -> CASE WHEN j - 1 = pos THEN fills[j] + n ELSE fills[j] END)
        |    END AS fills
        |  FROM (
        |    SELECT r.shard, r.rk, r.doc_id, r.n, s.fills,
        |      (r.n > 512 OR len(c.cand) = 0) AS newbin,
        |      list_position(s.fills, list_max(c.cand)) - 1 AS pos
        |    FROM steps s
        |    JOIN r ON r.shard = s.shard AND r.rk = s.rk + 1
        |    CROSS JOIN LATERAL (SELECT list_filter(s.fills,
        |      f -> f + r.n <= 512 AND f < 512) AS cand) c))
        |SELECT doc_id, shard, n AS n_tokens, CAST(bin AS INT) AS bin,
        |  CAST(sum(n) OVER (PARTITION BY shard, bin) AS BIGINT) AS bin_fill,
        |  n > 512 AS oversize
        |FROM steps""".stripMargin,

    "q93_temperature_mix" ->
      """WITH n AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
        |w AS (SELECT lang, nd, floor((sqrt(nd)) * 1000000.0 + 0.5) / 1000000.0 AS wd FROM n),
        |t AS (SELECT CAST(sum(CAST(wd AS DECIMAL(38,6))) AS DOUBLE) AS sw,
        |             CAST(sum(nd) AS BIGINT) AS total FROM w),
        |r AS (SELECT lang,
        |  CAST(floor(least(1.0, ((total * 50) // 100) * wd / (sw * nd))
        |       * 1000000) AS BIGINT) AS ppm
        |  FROM w, t)
        |SELECT d.lang, r.ppm, count(*) AS n_kept
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5('tmix42' || d.doc_id::VARCHAR), 1, 8))::UBIGINT
        |    % 1000000 < r.ppm
        |GROUP BY 1, 2""".stripMargin,

    // Same md5-prefix bucketing, same smoothing-op order, per-term
    // round(…,6) then exact decimal sum (see the query comment for
    // the ln() hazard analysis).
    "q111_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents),
        |tb AS (
        |  SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS b,
        |    count(*) AS r_b,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_b
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT sum(r_b) AS r_tot, sum(t_b) AS t_tot FROM tb),
        |llr AS (
        |  SELECT b, floor(ln(
        |      ((CAST(t_b AS DOUBLE) + 1) * (CAST(r_tot AS DOUBLE) + 256)) /
        |      ((CAST(t_tot AS DOUBLE) + 256) * (CAST(r_b AS DOUBLE) + 1)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS v
        |  FROM tb, tot),
        |d AS (
        |  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS b
        |  FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  floor((CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS dsir_llr
        |FROM d JOIN llr USING (b)
        |GROUP BY doc_id""".stripMargin,

    "q89_bigram_likelihood" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS p,
        |    unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS c
        |  FROM toks WHERE len(w) >= 2),
        |cb AS (SELECT p, c, count(*) AS cb FROM bi GROUP BY 1, 2),
        |cp AS (SELECT p, count(*) AS cp FROM bi GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v
        |      FROM (SELECT unnest(w) AS t FROM toks)),
        |terms AS (
        |  SELECT b.doc_id,
        |    CAST(floor(((cb.cb + 1.0) / (cp.cp + v.v)) * 100000000.0 + 0.5) / 100000000.0 AS DECIMAL(28,8)) AS term
        |  FROM bi b JOIN cb ON b.p = cb.p AND b.c = cb.c
        |            JOIN cp ON b.p = cp.p
        |            CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bi,
        |  floor((CAST(sum(term) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM terms GROUP BY doc_id""".stripMargin,

    "q54_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS end_tok
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
        |  CAST((end_tok - n_tokens) // 512 AS BIGINT) AS seq_first,
        |  CAST(CASE WHEN n_tokens = 0 THEN (end_tok - n_tokens) // 512
        |       ELSE (end_tok - 1) // 512 END AS BIGINT) AS seq_last
        |FROM c""".stripMargin,

    "q55_passage_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |nz AS (
        |  SELECT doc_id, w, CAST(ceil(len(w) / 10.0) AS BIGINT) AS nc
        |  FROM base WHERE len(w) > 0),
        |chunks AS (
        |  SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, nc),
        |      c -> md5(array_to_string(w[c*10+1 : c*10+10], ' ')))) AS h
        |    FROM nz) x),
        |fst AS (SELECT h, min(doc_id) AS first_doc FROM chunks GROUP BY 1)
        |SELECT c.doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN f.first_doc = c.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  floor(CAST(sum(CASE WHEN f.first_doc = c.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS keep_ratio
        |FROM chunks c JOIN fst f USING (h)
        |GROUP BY c.doc_id""".stripMargin,

    "q56_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |pd AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS t3,
        |    CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(
        |      range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) ELSE 0 END AS d3,
        |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1]) ELSE []::VARCHAR[] END AS g2
        |  FROM base),
        |t2t AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(g2) AS g FROM pd) x GROUP BY 1, 2),
        |top2 AS (SELECT doc_id, max(c) AS maxc, sum(c) AS t2 FROM t2t GROUP BY 1)
        |SELECT pd.doc_id, pd.n_tokens,
        |  CASE WHEN pd.t3 > 0
        |    THEN floor((1.0 - CAST(pd.d3 AS DOUBLE) / pd.t3)
        |      * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS dup3_ratio,
        |  CASE WHEN coalesce(top2.t2, 0) > 0
        |    THEN floor(CAST(top2.maxc AS DOUBLE) / top2.t2
        |      * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS top2_frac
        |FROM pd LEFT JOIN top2 USING (doc_id)""".stripMargin,

    "q57_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |         || ' ' || w[i+4])) AS s
        |  FROM toks WHERE len(w) >= 5),
        |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |ev AS (SELECT doc_id AS eval_doc, shingle FROM ex WHERE doc_id % 17 = 0),
        |tr AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 17 <> 0)
        |SELECT tr.doc_id,
        |  CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
        |  CAST(count(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY tr.doc_id""".stripMargin,

    "q58_pii_scan" ->
      """WITH dirty AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN ' Contact user' || doc_id::VARCHAR || '@mail.example.com'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.'
        |              || (doc_id % 100)::VARCHAR
        |         ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
        |    AS n_ip
        |FROM dirty""".stripMargin,

    "q59_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  floor((CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY l_returnflag""".stripMargin,

    "q60_domain_mix" ->
      """SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE ('0x' || substr(md5('mix42' || doc_id::VARCHAR), 1, 8))::UBIGINT
        |    % 100
        |  < CASE lang WHEN 'en' THEN 90 WHEN 'fr' THEN 60 WHEN 'de' THEN 40
        |    ELSE 20 END
        |GROUP BY lang""".stripMargin,

    // Quantized surprisal = length(bin(total // c)) - 1 — integer
    // floor(log2), identical in both engines (no libm). Threshold
    // cuts come from the per-source score histogram; ties land in the
    // lower bucket on both sides by the `<=` comparisons.
    "q135_surprisal_buckets" ->
      s"""WITH $surprisalCtes
         |SELECT doc_id, source, n_tok, sum_bits, mean_bits, bucket
         |FROM bucketed""".stripMargin,

    // Shingles replayed as space-joined strings where the engine
    // hashes them (FNV-64) — identical absent collisions, the q24/q25
    // oracle convention.
    "q137_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM toks WHERE len(w) >= 3),
        |first AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  floor(CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS novelty
        |FROM sh JOIN first USING (s) GROUP BY doc_id""".stripMargin,

    // Masking replay: md5-residue span starts, BETWEEN-range union,
    // gaps-and-islands for maximal masked runs, ORDER BY string_agg
    // rebuilds (NULL CASE arms drop swallowed positions).
    "q146_span_corruption" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) >= 1),
        |pos AS (SELECT doc_id, unnest(range(1, n + 1)) AS i FROM base),
        |h AS (SELECT doc_id, i,
        |        ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR),
        |          1, 8))::UBIGINT AS r
        |      FROM pos),
        |starts AS (
        |  SELECT doc_id, i AS s,
        |    i + CAST(2 + (r // 20) % 3 AS BIGINT) - 1 AS e
        |  FROM h WHERE r % 20 = 0),
        |masked AS (
        |  SELECT DISTINCT p.doc_id, p.i
        |  FROM pos p JOIN starts st ON p.doc_id = st.doc_id
        |    AND p.i BETWEEN st.s AND st.e),
        |isl AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
        |  FROM masked),
        |islands AS (
        |  SELECT doc_id, g, min(i) AS si,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY min(i)) AS k
        |  FROM isl GROUP BY doc_id, g),
        |mi AS (
        |  SELECT isl.doc_id, isl.i, islands.k, isl.i = islands.si AS is_start
        |  FROM isl JOIN islands ON isl.doc_id = islands.doc_id
        |    AND isl.g = islands.g),
        |inp AS (
        |  SELECT p.doc_id,
        |    string_agg(
        |      CASE WHEN mi.i IS NULL THEN b.w[p.i]
        |           WHEN mi.is_start THEN '<X_' || mi.k || '>'
        |           ELSE NULL END, ' ' ORDER BY p.i) AS input
        |  FROM pos p
        |  JOIN base b ON b.doc_id = p.doc_id
        |  LEFT JOIN mi ON mi.doc_id = p.doc_id AND mi.i = p.i
        |  GROUP BY p.doc_id),
        |tgt AS (
        |  SELECT mi.doc_id,
        |    string_agg(
        |      CASE WHEN mi.is_start THEN '<X_' || mi.k || '> ' || b.w[mi.i]
        |           ELSE b.w[mi.i] END, ' ' ORDER BY mi.i) AS target
        |  FROM mi JOIN base b ON b.doc_id = mi.doc_id
        |  GROUP BY mi.doc_id),
        |spanc AS (SELECT doc_id, count(*) AS n_spans FROM islands GROUP BY 1),
        |maskc AS (SELECT doc_id, count(*) AS n_masked FROM masked GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tok,
        |  CAST(coalesce(spanc.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(maskc.n_masked, 0) AS BIGINT) AS n_masked,
        |  inp.input, coalesce(tgt.target, '') AS target
        |FROM base b
        |LEFT JOIN spanc USING (doc_id)
        |LEFT JOIN maskc USING (doc_id)
        |LEFT JOIN inp USING (doc_id)
        |LEFT JOIN tgt USING (doc_id)""".stripMargin,

    // Inclusive list slices replay Spark's (start, length) slices;
    // out-of-range slices collapse to empty lists on both engines.
    "q147_fim_transform" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
        |         FROM toks WHERE len(w) >= 1),
        |keyed AS (
        |  SELECT doc_id, w, n,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':fim0'), 1, 8))::UBIGINT
        |      % 2 = 0 AS use_fim,
        |    CAST(('0x' || substr(md5(doc_id::VARCHAR || ':fim1'), 1, 8))
        |      ::UBIGINT % (n + 1) AS BIGINT) AS a,
        |    CAST(('0x' || substr(md5(doc_id::VARCHAR || ':fim2'), 1, 8))
        |      ::UBIGINT % (n + 1) AS BIGINT) AS b
        |  FROM base),
        |cut AS (SELECT doc_id, w, n, use_fim,
        |          least(a, b) AS lo, greatest(a, b) AS hi
        |        FROM keyed)
        |SELECT doc_id, n AS n_tok, use_fim AS fim,
        |  CASE WHEN use_fim THEN lo ELSE -1 END AS cut_lo,
        |  CASE WHEN use_fim THEN hi ELSE -1 END AS cut_hi,
        |  CASE WHEN use_fim THEN array_to_string(
        |    ['<PRE>'] || w[1:lo] || ['<SUF>'] || w[hi+1:n] || ['<MID>']
        |      || w[lo+1:hi], ' ')
        |  ELSE array_to_string(w, ' ') END AS psm
        |FROM cut""".stripMargin,

    // q121's classifier CTEs + the quality pseudo-label, bucketed into
    // score deciles; the bin index forms from the rounded score so the
    // floor is identical on both engines.
    "q141_calibration_bins" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |    i -> w[i] || ' ' || w[i+1])) AS g
         |  FROM toks WHERE len(w) >= 2),
         |f AS (SELECT doc_id,
         |        ('0x' || substr(md5('qc42' || g), 1, 8))::BIGINT % 1024 AS b
         |      FROM bg),
         |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |        CAST(sum(2 * b - 1023) AS BIGINT) AS sw
         |      FROM f GROUP BY 1),
         |sc AS (
         |  SELECT d.doc_id,
         |    CASE WHEN s.sw IS NULL THEN 0.0
         |      ELSE floor(CAST(s.sw AS DOUBLE) / (2048.0 * s.n_feats)
         |        * 1000000.0 + 0.5) / 1000000.0
         |    END AS score
         |  FROM documents d LEFT JOIN s USING (doc_id)),
         |lbl AS (SELECT doc_id, ${PipelineOps.qualitySqlExpr} >= 0.5 AS label
         |        FROM documents)
         |SELECT CAST(least(floor((sc.score + 0.5) * 10), 9) AS INT) AS bin,
         |  count(*) AS n,
         |  floor(CAST(sum(CAST(sc.score AS DECIMAL(38,6))) AS DOUBLE)
         |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_score,
         |  floor(CAST(sum(CASE WHEN lbl.label THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS pos_rate
         |FROM sc JOIN lbl USING (doc_id)
         |GROUP BY 1""".stripMargin,

    // Waterfilling replayed with the same integer spec: scaled-ratio
    // scan order (cap*1000)//w, exact cross-product saturation test,
    // integer proportional split of the post-saturation remainder.
    "q149_token_waterfill" ->
      s"""WITH $waterfillCtes
        |SELECT source, cap, CAST(w AS BIGINT) AS w,
        |  CAST(CASE WHEN sat THEN 1 ELSE 0 END AS INT) AS saturated,
        |  alloc
        |FROM walloc""".stripMargin,

    // The q149 plan executed: per source, the seeded-order document
    // prefix whose cumulative tokens fit the waterfilled allocation.
    "q154_mixture_execute" ->
      s"""WITH $waterfillCtes,
        |toks AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |sel AS (
        |  SELECT source, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY md5('o:mix42:' || doc_id::VARCHAR), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks)
        |SELECT s.source, s.doc_id, s.n_tokens,
        |  CAST(s.cum AS BIGINT) AS cum_tokens
        |FROM sel s JOIN walloc a USING (source)
        |WHERE s.cum <= a.alloc""".stripMargin,

    // Upsampling mixture: waterfill against a cap×3 ceiling, then per
    // source k_full = alloc // cap FULL epochs plus a seeded-prefix
    // partial epoch fitting the remainder.
    "q155_epoch_upsample" ->
      s"""WITH ${epochWaterfillCtes(budgetPct = 80, maxEpochs = 3,
             wSql = "1 + (CAST(substr(source, 4) AS INT) % 5) * 10")},
        |k AS (
        |  SELECT source, cap, alloc,
        |    alloc // cap AS k_full, alloc % cap AS rem
        |  FROM ewalloc WHERE cap > 0),
        |toks AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |epochs AS (
        |  SELECT source, unnest(range(k_full)) AS epoch
        |  FROM k WHERE k_full > 0),
        |fullp AS (
        |  SELECT t.source, t.doc_id, t.n_tokens, e.epoch
        |  FROM toks t JOIN epochs e USING (source)),
        |psel AS (
        |  SELECT t.source, t.doc_id, t.n_tokens, k.k_full, k.rem,
        |    sum(t.n_tokens) OVER (PARTITION BY t.source
        |      ORDER BY md5('o:ep42:' || k.k_full::VARCHAR || ':'
        |          || t.doc_id::VARCHAR), t.doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks t JOIN k USING (source) WHERE k.rem > 0)
        |SELECT source, doc_id, n_tokens, CAST(epoch AS BIGINT) AS epoch
        |FROM fullp
        |UNION ALL
        |SELECT source, doc_id, n_tokens, CAST(k_full AS BIGINT) AS epoch
        |FROM psel WHERE cum <= rem""".stripMargin,

    // Two prefixed waterfill chains (old weights x_, steepened y_),
    // one shared seeded order, full-outer diff keyed (source, doc_id).
    "q157_manifest_diff" ->
      s"""WITH ${epochWaterfillCtes(budgetPct = 60, maxEpochs = 1,
             wSql = "1 + CAST(substr(source, 4) AS INT) % 5", p = "x_")},
        |${epochWaterfillCtes(budgetPct = 60, maxEpochs = 1,
             wSql = "1 + (CAST(substr(source, 4) AS INT) % 5) * 2", p = "y_")},
        |toks AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))
        |      AS BIGINT) AS n_tokens,
        |    sum(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))
        |      AS BIGINT)) OVER (PARTITION BY source
        |      ORDER BY md5('o:mix42:' || doc_id::VARCHAR), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents),
        |sela AS (
        |  SELECT t.source, t.doc_id, t.n_tokens
        |  FROM toks t JOIN x_ewalloc a USING (source) WHERE t.cum <= a.alloc),
        |selb AS (
        |  SELECT t.source, t.doc_id, t.n_tokens
        |  FROM toks t JOIN y_ewalloc a USING (source) WHERE t.cum <= a.alloc),
        |j AS (
        |  SELECT coalesce(a.source, b.source) AS source,
        |    a.n_tokens AS na, b.n_tokens AS nb
        |  FROM sela a FULL JOIN selb b
        |    ON a.source = b.source AND a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN na IS NOT NULL AND nb IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
        |  CAST(sum(CASE WHEN nb IS NOT NULL AND na IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_added,
        |  CAST(sum(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
        |  CAST(coalesce(sum(CASE WHEN nb IS NULL THEN na END), 0)
        |    AS BIGINT) AS tokens_removed,
        |  CAST(coalesce(sum(CASE WHEN na IS NULL THEN nb END), 0)
        |    AS BIGINT) AS tokens_added,
        |  CAST(coalesce(sum(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
        |    THEN nb END), 0) AS BIGINT) AS tokens_kept
        |FROM j GROUP BY source""".stripMargin,

    // Base plan over the 4/5 corpus (x_), re-plan over the full
    // corpus (y_); the base deal (seed mix42) freezes, new docs fill
    // each source's clamped headroom in the ext1 deal.
    "q158_manifest_extend" ->
      s"""WITH ${epochWaterfillCtes(budgetPct = 60, maxEpochs = 1,
             wSql = "1 + CAST(substr(source, 4) AS INT) % 5", p = "x_",
             docsWhere = "doc_id % 5 <> 0")},
        |${epochWaterfillCtes(budgetPct = 60, maxEpochs = 1,
             wSql = "1 + CAST(substr(source, 4) AS INT) % 5", p = "y_")},
        |toks AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))
        |      AS BIGINT) AS n_tokens,
        |    doc_id % 5 = 0 AS isnew
        |  FROM documents),
        |btoks AS (
        |  SELECT source, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY md5('o:mix42:' || doc_id::VARCHAR), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks WHERE NOT isnew),
        |selb AS (
        |  SELECT t.source, t.doc_id, t.n_tokens, t.cum
        |  FROM btoks t JOIN x_ewalloc a USING (source)
        |  WHERE t.cum <= a.alloc),
        |used AS (
        |  SELECT source, sum(n_tokens) AS u FROM selb GROUP BY source),
        |rem AS (
        |  SELECT a.source,
        |    greatest(a.alloc - coalesce(u.u, 0), 0) AS headroom,
        |    coalesce(u.u, 0) AS off
        |  FROM y_ewalloc a LEFT JOIN used u USING (source)),
        |ntoks AS (
        |  SELECT source, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY md5('o:ext1:' || doc_id::VARCHAR), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM toks WHERE isnew)
        |SELECT source, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        |FROM selb
        |UNION ALL
        |SELECT n.source, n.doc_id, n.n_tokens,
        |  CAST(n.cum + r.off AS BIGINT) AS cum_tokens
        |FROM ntoks n JOIN rem r USING (source)
        |WHERE r.headroom > 0 AND n.cum <= r.headroom""".stripMargin,

    // Stride scheduling: the k-th doc of source s (seeded per-source
    // order) at integer virtual time ((2k+1)·2^20) // w_s.
    "q159_stride_interleave" ->
      """WITH idx AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('o:il7:' || doc_id::VARCHAR), doc_id) AS k1,
        |    CAST(1 + CAST(substr(source, 4) AS INT) % 5 AS BIGINT) AS w
        |  FROM documents)
        |SELECT source, doc_id, CAST(k1 - 1 AS BIGINT) AS k,
        |  CAST(((2 * k1 - 1) * 1048576) // w AS BIGINT) AS vt
        |FROM idx""".stripMargin
  )

  /** Epoch-ceiling variant of [[waterfillCtes]]: ceilings are
    * `cap·maxEpochs`, the budget base stays physical Σcap, and the
    * weight SQL is a parameter. Ends in
    * `ewalloc(source, cap, w, sat, alloc)` — mirrors
    * [[graft.operators.Curation.waterfillBudgetEpochs]].
    */
  private[queries] def epochWaterfillCtes(budgetPct: Int, maxEpochs: Int,
      wSql: String, p: String = "", docsWhere: String = "TRUE"): String =
    s"""${p}caps AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT) AS cap,
      |    CAST($wSql AS BIGINT) AS w
      |  FROM documents WHERE $docsWhere GROUP BY source),
      |${p}ecaps AS (SELECT source, cap, w, cap * $maxEpochs AS ecap FROM ${p}caps),
      |${p}staged AS (
      |  SELECT source, cap, w, ecap,
      |    CAST(coalesce(sum(ecap) OVER (ORDER BY (ecap * 1000) // w, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before,
      |    CAST(sum(w) OVER (ORDER BY (ecap * 1000) // w, source
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |      AS w_from,
      |    CAST(sum(cap) OVER () AS BIGINT) AS total
      |  FROM ${p}ecaps),
      |${p}flagged AS (
      |  SELECT *, (total * $budgetPct) // 100 AS budget,
      |    ecap * w_from <= ((total * $budgetPct) // 100 - cum_before) * w AS sat
      |  FROM ${p}staged),
      |${p}fin AS (
      |  SELECT *,
      |    CAST(coalesce(sum(CASE WHEN sat THEN ecap END) OVER (), 0)
      |      AS BIGINT) AS sat_cap,
      |    CAST(coalesce(sum(CASE WHEN NOT sat THEN w END) OVER (), 0)
      |      AS BIGINT) AS unsat_w
      |  FROM ${p}flagged),
      |${p}ewalloc AS (
      |  SELECT source, cap, w, sat,
      |    CAST(CASE WHEN sat OR unsat_w = 0 THEN ecap
      |      ELSE least(ecap, ((budget - sat_cap) * w) // unsat_w)
      |      END AS BIGINT) AS alloc
      |  FROM ${p}fin)"""
      .stripMargin

  /** Shared q149 waterfill CTE chain ending in
    * `walloc(source, cap, w, sat, alloc)` — mirrors
    * [[graft.operators.Curation.waterfillBudget]]; reused by the q154
    * executor oracle.
    */
  private[queries] val waterfillCtes: String =
    s"""${epochWaterfillCtes(budgetPct = 60, maxEpochs = 1,
           wSql = "1 + CAST(substr(source, 4) AS INT) % 5")},
      |walloc AS (SELECT * FROM ewalloc)""".stripMargin
}
