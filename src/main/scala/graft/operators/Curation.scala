package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators for training-data pipelines: near-dup
  * cluster resolution (connected components), deterministic dataset
  * splits and stratified sampling, TF-IDF keyword extraction, rare-token
  * scoring, and text cleaning.
  *
  * Scale design (100 TB):
  *  - connected components is the iterative min-label propagation over
  *    the near-dup PAIR table (tiny relative to the corpus — pairs only
  *    exist for near-dups), each iteration two hash shuffles; converges
  *    in O(cluster diameter) rounds, and near-dup clusters are shallow.
  *  - splits/sampling hash doc ids — narrow maps, no shuffle (sampling
  *    adds one window shuffle per stratum key, proportional to strata
  *    cardinality, not corpus size).
  *  - every formula is ANSI-SQL-mirrorable for the DuckDB oracle:
  *    rational arithmetic instead of ln() (whose last-ulp behavior
  *    differs across libm implementations), md5 instead of seeded RNG.
  */
object Curation {

  /** THE divergence-free 6-decimal round for derived doubles
    * (oracle-dialect rule 9): `floor(x·1e6 + 0.5) / 1e6`, mirrored in
    * DuckDB as `floor(x * 1000000.0 + 0.5) / 1000000.0` — the
    * bit-identical IEEE chain both engines compute, where plain
    * `round(x, 6)` splits them on shortest-repr half-ulp boundaries
    * (caught live at sf1 on q121/q127). One definition so conversions
    * cannot transpose the chain; driver-side twin: `Takedown.f6`.
    */
  private[graft] def floorRound6(c: Column): Column = floorRound(c, 6)

  /** 4-decimal sibling of [[floorRound6]] (same rule-9 rationale). */
  private[graft] def floorRound4(c: Column): Column = floorRound(c, 4)

  /** General rule-9 round for derived DOUBLES: `floor(x·10^d + 0.5) /
    * 10^d`, mirrored verbatim in DuckDB — the round-8 exhaustive
    * migration target for every gate epilogue that previously used
    * `round(x, d)` on a double (the divergence fires whenever a value's
    * shortest decimal repr lands on a half-ulp boundary; Spark rounds
    * the REPR HALF_UP, DuckDB rounds the BINARY value). Only for
    * doubles: decimal-typed rounds are exact on both engines and must
    * stay `round`.
    */
  private[graft] def floorRound(c: Column, digits: Int): Column =
    // Native single-evaluation form (graft.functions.FloorRound):
    // NaN/±Inf pass through untouched (math.floor preserves them,
    // where Spark's floor(double) EXPRESSION returns LONG — NaN→0,
    // +Inf→Long.MaxValue — which is why the old Column-composite
    // needed an explicit when() guard; DuckDB's floor preserves
    // non-finites, so the kernel matches the oracle by construction).
    // NULL propagates via nullSafeEval. The composite also referenced
    // `c` five times — q120's distTo paid the fused cosine repeatedly
    // (1.25 s vs 0.78 s measured at sf0.1).
    graft.functions.F.floor_round(c, digits)

  /** Connected components by iterative min-label propagation: every
    * vertex's label converges to the smallest vertex id reachable from
    * it. `edges` must carry long columns (`a`, `b`) (undirected, any
    * orientation); returns (id, comp).
    *
    * Each round: every vertex adopts min(own label, neighbors' labels).
    * Rounds needed = graph diameter; near-dup clusters are near-cliques
    * (diameter ~1-3). The per-round convergence check is one count on
    * the changed-set — driver-side loop, executor-side data, nothing
    * collected. For HIGH-diameter graphs (chains, lattices) use
    * [[connectedComponentsStars]] — O(log n) rounds, same result.
    *
    * The rounds run through [[IterLoop.rounds]], which rebases the
    * label table each round. Carrying the previous label in the
    * materialized row makes the convergence check a filter-count on
    * the cache, not a self-join.
    *
    * Why not Spark 4's `WITH RECURSIVE` (the DuckDB oracle's form):
    * Spark supports only UNION ALL in the recursive member
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, verified on 4.1.2), and
    * without row dedup a transitive closure over a cyclic graph never
    * terminates — avoiding revisits requires carrying the visited-path
    * array, which enumerates simple paths and goes exponential exactly
    * where near-dup graphs are dense (near-cliques). The driver-looped
    * min-label propagation converges in diameter rounds regardless of
    * density, so it stays the scale shape.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sym = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .unionAll(edges.select(col("b").cast("long").as("a"), col("a").cast("long").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 1 is fused into the initial labels; each later round
    // carries the previous label as `prev`, so the changed-set count
    // is a filter on the round's own cache.
    val (last, converged) = try IterLoop.rounds("cc", sym.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("comp"))
        .withColumnRenamed("a", "id"), maxIter - 1) { (cur, _) =>
      val labels = cur.select(col("id"), col("comp"))
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("id")).agg(min(col("comp")).as("cand"))
      labels.as("l")
        .join(nbrMin.as("n"), col("l.id") === col("n.id"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("n.cand"), col("l.comp"))).as("comp"),
          col("l.comp").as("prev"))
    } { (next, _, _) =>
      next.filter(col("comp") < col("prev")).count() == 0
    } finally sym.unpersist()
    requireConverged(last, converged, s"connectedComponents did not converge in " +
      s"$maxIter rounds — component diameter exceeds the bound; raise maxIter")
    // The returned frame reads the final round's MEMORY_AND_DISK cache
    // (dropping it would recompute the whole loop). Long-lived sessions
    // should consume the labels (write/aggregate) and then clearCache(),
    // as the bench harness does per rep; gate queries run once so the
    // cost is bounded.
    last.select(col("id"), col("comp"))
  }

  /** The connected-components loops' failure path: release the loop's
    * last frame (the caller owns it) before failing. */
  private def requireConverged(last: DataFrame, converged: Boolean,
      msg: => String): Unit = {
    if (!converged) last.unpersist()
    require(converged, msg)
  }

  /** Connected components by alternating large-star/small-star
    * rounds (the published MapReduce-scale algorithm — Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    * converges in O(log n) rounds regardless of diameter, where
    * [[connectedComponents]]' min-label propagation needs
    * O(diameter) rounds — chains and lattices (passage-overlap
    * graphs, citation paths) defeat the diameter bound, near-clique
    * dedup graphs don't. Same contract and same result: (id, comp)
    * with comp = the component's smallest vertex id; singletons
    * absent.
    *
    * Shape per round: large-star = one groupBy-min over the symmetric
    * orientation + a per-edge join (no collect_list — the star
    * center's neighbor set is never materialized in one task);
    * small-star = the same over the to-larger-endpoint orientation;
    * then canonicalize + distinct. Fixed point is an exact anti-join
    * emptiness test; the rounds run through [[IterLoop.rounds]], which
    * rebases the edge set each round.
    */
  def connectedComponentsStars(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct()
    // |cur| of the round's input, carried from the previous round's
    // count, so the convergence test below can usually skip its join
    // outright.
    var curCount = 0L
    val (last, converged) = IterLoop.rounds("cc-stars", canon(edges.select(
        col("a").cast("long").as("a"), col("b").cast("long").as("b"))),
        maxIter) { (cur, round) =>
      // Round 1 counts the canonical edge set first, which also
      // materializes it before the round's plan reads it three times.
      if (round == 1) curCount = cur.count()
      // Large-star: every node u links its LARGER neighbors to
      // m = min(Γ(u) ∪ {u}).
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      val minsL = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // sym.filter(v > u) ≡ cur itself (cur is canonical a < b, so
      // exactly its first orientation survives the filter) — read the
      // cache once instead of re-filtering the two-branch union (r12).
      val large = cur.select(col("a").as("u"), col("b").as("v"))
        .join(minsL, "u").select(col("v").as("a"), col("m").as("b"))
      // Small-star: orient each edge to its larger endpoint u; u and
      // all its smaller neighbors link to m = min(Γ≤(u)).
      //
      // r12: large needs NO canon and NO distinct exchange here —
      // m ≤ u < v per row, so a = v > b = m holds already (canonical,
      // no self-loops), and the duplicates an explicit distinct would
      // drop (two u's linking the same v to the same m) are absorbed
      // by minsS's min and the final canon(small) distinct anyway:
      // same `next` set, one full exchange less per round. |large| is
      // exactly |cur| rows, so the rows the dropped distinct leaves in
      // flight are bounded by the edge count, never more.
      val e2 = large
        .select(col("a").as("u"), col("b").as("v")) // u > v by the above
      val minsS = e2.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(e2.join(minsS, "u").select(col("v").as("a"), col("m").as("b"))
        .unionAll(minsS.select(col("u").as("a"), col("m").as("b"))))
    } { (next, cur, _) =>
      // Convergence = set equality of two DISTINCT edge sets. One
      // count materializes `next`; when the cardinality moved, the sets
      // provably differ and both r11 anti-join jobs are skipped; when it
      // matched, ONE anti-join decides (|next| = |cur| ∧ next∖cur = ∅
      // ⇒ cur∖next = ∅ too, since |cur∖next| = |cur| − |cur∩next| = 0).
      // Typical rounds pay 1 job here instead of 2-3.
      val nextCount = next.count()
      val same = nextCount == curCount &&
        next.join(cur, Seq("a", "b"), "left_anti").isEmpty
      curCount = nextCount
      same
    }
    requireConverged(last, converged,
      s"connectedComponentsStars did not converge in $maxIter rounds")
    // Fixed point is a star per component; canon puts the center
    // (= component min) in `a`.
    last.select(col("b").as("id"), col("a").as("comp"))
      .unionAll(last.select(col("a").as("id"), col("a").as("comp")))
      .distinct()
  }

  /** Near-dup cluster resolution: MinHash-LSH pairs → connected
    * components → (doc_id, canonical_id) for every clustered doc, where
    * canonical = smallest doc_id in the cluster (the survivor a dedup
    * keeps). Docs in no cluster are absent (they survive trivially).
    */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.85): DataFrame = {
    val pairs = Dedup.minhashLshPairs(docs, threshold)
    connectedComponents(pairs.select(col("da").as("a"), col("db").as("b")))
      .select(col("id").as("doc_id"), col("comp").as("canonical_id"))
  }

  /** Keep-best survivor selection per near-dup cluster — the epilogue a
    * real dedup pipeline runs after [[dedupClusters]]: instead of
    * "keep the smallest id", keep the member with the highest
    * [[TextAnalysis.qualityScore]] (ties to the smaller doc_id). Output
    * is one row per cluster: (cluster, survivor, n_members,
    * best_quality).
    *
    * Scale shape: clusters come from the LSH + connected-components
    * path (no n² stage); the survivor argmax is max(struct(quality,
    * -doc_id)) — a MERGEABLE aggregate with map-side partial combine,
    * not a per-cluster sort. The quality join is doc-keyed.
    */
  /** Per-cluster winner aggregate — the ONE survivor rule
    * (best quality, ties to the smaller id), shared by
    * [[canonicalDocs]], [[dedupSurvivors]], and [[funnelAudit]] so the
    * three views of a dedup decision can never drift. `quality` is
    * (doc_id, quality); returns (canonical_id, n_members, m) with
    * `m = max(struct(quality, -doc_id))` — callers unpack the winner
    * id as `-m.nid`. A mergeable max(struct) with map-side partial
    * combine, not a per-cluster sort.
    */
  private def clusterWinners(clusters: DataFrame,
      quality: DataFrame): DataFrame =
    clusters.join(quality, "doc_id")
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("m"))

  def canonicalDocs(docs: DataFrame, id: Column, text: Column,
                    threshold: Double = 0.85): DataFrame = {
    val clusters = dedupClusters(Dedup.docShingles(docs, id, text, 3), threshold)
    val quality = docs.select(id.cast("long").as("doc_id"),
      TextAnalysis.qualityScore(text).as("quality"))
    clusterWinners(clusters, quality)
      .select(col("canonical_id").as("cluster"), (-col("m.nid")).as("survivor"),
        col("n_members"), col("m.quality").as("best_quality"))
  }

  /** Dedup survivor filter: drop every clustered near-dup EXCEPT each
    * cluster's best-quality member (ties to the smaller id); docs in no
    * cluster pass through. Returns `docs` filtered, all columns kept —
    * the "apply the dedup decision" step between [[canonicalDocs]]'
    * audit view and the rest of the pipeline.
    *
    * One LSH + connected-components pass; the winner argmax is the
    * same mergeable max(struct) as [[canonicalDocs]]; losers anti-join
    * out by doc id.
    */
  def dedupSurvivors(docs: DataFrame, id: Column, text: Column,
                     threshold: Double = 0.85): DataFrame = {
    val clusters = dedupClusters(Dedup.docShingles(docs, id, text, 3), threshold)
    val quality = docs.select(id.cast("long").as("doc_id"),
      TextAnalysis.qualityScore(text).as("quality"))
    val winners = clusterWinners(clusters, quality)
      .select((-col("m.nid")).as("doc_id"))
    val losers = clusters.select(col("doc_id"))
      .join(winners, Seq("doc_id"), "left_anti")
    docs.join(losers.withColumnRenamed("doc_id", "__loser_id"),
      id.cast("long") === col("__loser_id"), "left_anti")
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * land in the SAME split, or evaluation leaks training content (the
    * classic dedup-across-splits failure: a test doc whose near-dup
    * sits in train scores as memorization, not generalization). Each
    * doc is keyed by its near-dup cluster's canonical id (its own id
    * when unclustered) and the [[hashSplit]] band is computed from
    * THAT key — whole clusters move atomically, and the split remains
    * a pure function of content ids (stable under corpus growth,
    * reshuffling, and re-runs).
    *
    * Scale shape: one LSH + connected-components pass (the q47/q128
    * machinery — pair table is tiny relative to the corpus), one
    * doc-keyed left join to attach cluster keys, then the narrow
    * md5-band map. Returns (doc_id, split_key, split).
    */
  def leakSafeSplit(docs: DataFrame, id: Column, text: Column, salt: String,
      trainPct: Int, valPct: Int, threshold: Double = 0.85): DataFrame = {
    val clusters = dedupClusters(Dedup.docShingles(docs, id, text, 3), threshold)
    docs.select(id.cast("long").as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("split_key"))
      .withColumn("split", hashSplit(col("split_key"), salt, trainPct, valPct))
  }

  /** Deterministic hash split: md5(salt || id) mod 100 → named split by
    * percentile bands (train < trainPct <= val < trainPct+valPct <= test).
    * Stable under corpus growth and reshuffling — membership depends
    * only on the id. Narrow map, no shuffle, no RNG state.
    */
  def hashSplit(id: Column, salt: String, trainPct: Int, valPct: Int): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val h = conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 100
    // A NULL id makes h NULL, both when() predicates NULL (false), and
    // otherwise() fire — an entire dirty-id stratum silently landing
    // 100% in the evaluation split. Refuse loudly instead (the
    // weightedSample try_cast-and-drop discipline, but a split must
    // not silently drop rows either).
    when(id.isNull, raise_error(lit("hashSplit: null id — the row would " +
        "silently land in the test split; clean or filter ids first")))
      .when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic weighted keep for domain mixing: keep a row iff
    * md5(salt || id) mod 100 < weightPct, where weightPct is a per-row
    * column (e.g. joined from a per-source/per-language mixture table).
    * The standard "sample source s at rate w_s" corpus-mixing step, with
    * RNG replaced by the id hash: membership is reproducible, stable
    * under corpus growth, and consistent across pipeline stages that
    * re-derive it. Narrow map, no shuffle, no RNG state.
    */
  def weightedKeep(id: Column, weightPct: Column, salt: String): Column = {
    val h = conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 100
    h < weightPct
  }

  /** Weighted sampling WITHOUT replacement, k per group, inclusion
    * probability ∝ `weight` (Efraimidis & Spirakis 2006): each row
    * draws a deterministic uniform u from its id hash and competes
    * with key u^(1/w) — equivalently ln(u)/w, the exponential-race
    * form used here — and the k largest keys per group win. The
    * standard quality-weighted data-mixing sampler (pick k docs per
    * domain, longer/higher-quality docs proportionally more likely),
    * reproducible across pipeline stages because the "randomness" is
    * the md5 of the id.
    *
    * Scale shape: a narrow map derives the key, then ONE map-side-
    * combined [[graft.functions.TopKAgg]] per group — k-bounded
    * buffers, no per-group sort, only k rows per (partition, group)
    * cross the shuffle. The window row_number form would sort every
    * group in full.
    *
    * Determinism: u ∈ (0, 1] from the first 8 md5 hex chars (never 0,
    * so ln is finite); ties in the race key break to the smaller id
    * inside TopKAgg. The ln/division ulp hazard only matters when two
    * race keys collide to ~1e-16 relative — negligible, and the
    * DuckDB oracle replays the identical formula.
    */
  def weightedSample(df: DataFrame, group: Column, id: Column,
                     weight: Column, k: Int, salt: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8),
      16, 10).cast("double") + lit(1.0)) / lit(4294967296.0)
    val key = log(u) / weight.try_cast("double")
    val tk = graft.functions.TopKAgg.topK(k)
    // Efraimidis-Spirakis requires w > 0: log(u) <= 0, so a negative
    // weight would FLIP its key positive and beat every valid row.
    // Zero/negative/null weights mean "never sample" — drop them.
    // Null/uncastable ids drop (manifestKeyed's rule): a null id would
    // yield a null race key and crash TopKAgg's non-nullable Entry
    // encoder, and under ANSI a plain cast of a non-numeric string id
    // would itself throw — either way a job kill for one dirty row.
    // try_cast makes both shapes a silent drop.
    val idL = id.try_cast("long")
    df.filter(weight.try_cast("double") > 0 && idL.isNotNull)
      .select(group.as("g"), idL.as("id"), key.as("key"))
      .groupBy(col("g"))
      .agg(tk(col("key"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("id"))
  }

  /** Linear text-classifier INFERENCE over hashed bigram features —
    * the fasttext-style quality-filter scoring step of CCNet/RedPajama
    * pipelines, with the model reduced to its serving form: a
    * `buckets`-wide weight vector indexed by feature hash. Weights here
    * are the deterministic placeholder w_b = (2b − (buckets−1)) /
    * (2·buckets) ∈ (−0.5, 0.5) — a real model would broadcast-join its
    * trained vector; every other part (tokenize → bigram → hash →
    * gather → mean → threshold) is the production shape.
    *
    * Scale design (100 TB): tokenize+hash is a narrow fused map (the
    * bigram text never leaves the projection — only its bucket id);
    * the per-doc score is ONE map-side-combined aggregation keyed by
    * doc_id; docs with < 2 tokens are restored by a doc_id-keyed left
    * join. No UDF, no driver state.
    *
    * Determinism: integer weight numerators sum exactly in Long (max
    * |per-feature| < buckets, so overflow needs > 2^52 features/doc);
    * ONE double division at the end, rounded to 1e-6; `positive` is
    * sum > 0 — all replayable in ANSI SQL via the md5-prefix hash.
    *
    * @return (doc_id, n_feats, score, positive)
    */
  def classifierScore(docs: DataFrame, id: Column, text: Column,
      buckets: Int = 1024, salt: String = "qc42"): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val w = TextAnalysis.wordTokens(text)
    val base = docs.select(id.cast("long").as("doc_id"), w.as("w"))
    val feats = base.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => concat(element_at(col("w"), i), lit(" "),
          element_at(col("w"), i + 1)))).as("g"))
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit(salt), col("g")).cast("binary")), 1, 8),
          16, 10).cast("long") % buckets).as("b"))
    val scored = feats.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("b") * 2L - (buckets - 1).toLong).as("sw"))
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        when(col("sw").isNull, lit(0.0))
          // floorRound6: plain round() split Spark/DuckDB on a
          // half-ulp boundary — observed live at sf1 on this epilogue.
          .otherwise(floorRound6(col("sw").cast("double")
            / (lit(2.0 * buckets) * col("n_feats")))).as("score"),
        coalesce(col("sw") > 0, lit(false)).as("positive"))
  }

  /** Per-source curation funnel audit: how many of each source's
    * documents survive each pipeline stage — dedup (keep-best per
    * near-dup cluster), the quality floor, the length floor — as ONE
    * cumulative-stage count table. The ops dashboard behind every
    * corpus release note ("source X lost 40% at dedup, source Y at
    * quality"): it localizes WHERE a feed's yield collapses before
    * anyone re-tunes thresholds.
    *
    * Scale shape: one LSH + connected-components pass for the loser
    * set (the q47/q128 machinery), one doc-keyed left join to flag
    * losers, then ONE source-keyed aggregate of conditional counts —
    * stages are flags in a single pass, never a job per stage.
    */
  def funnelAudit(docs: DataFrame, id: Column, text: Column, source: Column,
      threshold: Double = 0.85, minQuality: Double = 0.5,
      minTokens: Int = 40): DataFrame = {
    val clusters = dedupClusters(Dedup.docShingles(docs, id, text, 3), threshold)
    // ONE scored projection feeds both the winners argmax and the
    // funnel aggregate — persisted because Spark has no cross-branch
    // plan reuse, and the 4-regex quality score dominates the cost.
    val scored = docs.select(id.cast("long").as("doc_id"),
        source.cast("string").as("source"),
        TextAnalysis.qualityScore(text).as("quality"),
        size(TextAnalysis.wordTokens(text)).as("n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners = clusterWinners(clusters,
        scored.select(col("doc_id"), col("quality")))
      .select((-col("m.nid")).as("doc_id"))
    val losers = clusters.select(col("doc_id"))
      .join(winners, Seq("doc_id"), "left_anti")
      .withColumn("is_loser", lit(true))
    val out = scored
      .join(losers, Seq("doc_id"), "left")
      .withColumn("kept", col("is_loser").isNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("kept") && col("quality") >= minQuality, 1L)
          .otherwise(0L)).as("n_quality"),
        sum(when(col("kept") && col("quality") >= minQuality
            && col("n_tok") >= minTokens, 1L).otherwise(0L)).as("n_final"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // sources-row result; forcing it releases the projection
    scored.unpersist()
    out
  }

  /** Per-source quality threshold for a target retention rate — the
    * knob-setting pass of a CCNet-style filter: instead of one global
    * cutoff (which over-prunes weak sources and under-prunes strong
    * ones), each source keeps its own top `targetPct`% by quality, and
    * this computes the per-source score cutoff that achieves it. The
    * threshold is the LARGEST observed quality value whose
    * keep-from-top count reaches the target (ties keep slightly more,
    * never less).
    *
    * Scale-safe quantile: quality scores are rounded (1e-4), so the
    * per-source SCORE HISTOGRAM is bounded by score resolution, not
    * corpus size — the q135 trick. Cumulative counts over that small
    * table (window over the histogram) yield the cutoff; no per-source
    * corpus sort anywhere. Returns (source, threshold, n_total,
    * n_kept, keep_ratio).
    */
  def retentionThreshold(docs: DataFrame, id: Column, text: Column,
      source: Column, targetPct: Int): DataFrame = {
    require(targetPct >= 1 && targetPct <= 100,
      s"targetPct must be in [1, 100], got $targetPct")
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(source.cast("string").as("source"),
      TextAnalysis.qualityScore(text).as("quality"))
    val hist = q.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("k"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("k")).over(wTop))
      .withColumn("n", sum(col("k")).over(Window.partitionBy(col("source"))))
    cum.filter(col("cum") * 100 >= col("n") * targetPct)
      // The qualifying row with the highest quality IS the cutoff; its
      // cum is the kept count. struct max keys on quality (distinct
      // per source by construction of the histogram groupBy).
      .groupBy(col("source"))
      .agg(max(struct(col("quality").as("q"), col("cum"), col("n"))).as("m"))
      .select(col("source"), col("m.q").as("threshold"),
        col("m.n").as("n_total"), col("m.cum").as("n_kept"),
        floorRound4(col("m.cum").cast("double") / col("m.n")).as("keep_ratio"))
  }

  /** Classifier calibration audit (reliability-diagram table): bucket
    * [[classifierScore]]'s bounded score (−0.5, 0.5) into `bins` equal
    * intervals and report, per bin, the doc count, mean score, and the
    * observed positive rate against a reference label — here the
    * heuristic [[TextAnalysis.qualityScore]] ≥ 0.5, standing in for
    * human labels the way CCNet validates its fasttext filter against
    * Wikipedia. The eval step a quality-filter pipeline runs before
    * trusting a threshold: a well-calibrated filter's pos_rate climbs
    * monotonically with the bin's mean score.
    *
    * Scale shape: two narrow scoring maps (classifier features, quality
    * heuristic) joined doc-keyed, then ONE bins-row aggregate —
    * map-side combined, bins rows total. Decimal accumulation keeps
    * the mean order-independent.
    */
  def calibrationBins(docs: DataFrame, id: Column, text: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val sc = classifierScore(docs, id, text)
    val lbl = docs.select(id.cast("long").as("doc_id"),
      (TextAnalysis.qualityScore(text) >= 0.5).as("label"))
    sc.join(lbl, "doc_id")
      .withColumn("bin",
        least(floor((col("score") + 0.5) * bins), lit((bins - 1).toLong))
          .cast("int"))
      .groupBy(col("bin"))
      // floorRound6 (rule 9): both are DERIVED ratios, the class the
      // sf1 sweep caught on q121/q127.
      .agg(count(lit(1)).as("n"),
        floorRound6(sum(col("score").cast("decimal(38,6)")).cast("double")
          / count(lit(1))).as("mean_score"),
        floorRound6(sum(when(col("label"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("pos_rate"))
  }

  /** Temperature-scaled domain mixing at T = 2 (the standard LLM
    * data-recipe reweighting, domain weight ∝ n^(1/T)): big domains
    * are down-sampled toward the target budget while small domains
    * keep (up to) everything — the flattening Gopher/Llama-style
    * recipes apply before training. T is fixed at 2 because sqrt is
    * the one fractional power IEEE-754 computes correctly rounded on
    * every platform — `pow(x, 1/T)` for other T differs in the last
    * ulp across libms and would break oracle bit-identity.
    *
    * Per domain d: w_d = round(sqrt(n_d), 6); rate_d =
    * min(1, B·w_d / (Σw·n_d)) with B = total·budgetPct div 100;
    * membership = md5(salt‖id) mod 10⁶ < floor(rate_d·10⁶) — the
    * [[weightedKeep]] hash at ppm resolution (rates from sqrt need
    * finer steps than percent). Σw accumulates in decimal so the sum
    * is domain-order-independent. Deterministic end to end: stable
    * under corpus growth within a domain's rate, reproducible across
    * stages, no RNG.
    *
    * Scale shape: one map-side-combined count per domain (domain-
    * cardinality rows), a 1-row totals broadcast, and a narrow hash
    * filter over the corpus — no corpus shuffle.
    *
    * Returns the kept rows with `__ppm` attached (callers drop it or
    * report it; the gate query aggregates per domain).
    */
  def temperatureMix(df: DataFrame, domain: Column, id: Column,
      budgetPct: Int, salt: String): DataFrame = {
    require(budgetPct > 0 && budgetPct <= 100, s"budgetPct in (0,100], got $budgetPct")
    // Null-domain rows are excluded up front: the final equi-join can
    // never match them (null === null is null), so counting them into
    // __total would inflate the budget base while silently dropping
    // the rows — the realized sample could then never reach budgetPct.
    val in = df.filter(domain.isNotNull)
    val n = in.groupBy(domain.as("__dom")).agg(count(lit(1)).as("__nd"))
    val w = n.withColumn("__wd", graft.operators.Curation.floorRound(sqrt(col("__nd")), 6))
    val t = w.agg(
      sum(col("__wd").cast("decimal(38,6)")).cast("double").as("__sw"),
      sum(col("__nd")).as("__total"))
    val r = w.crossJoin(broadcast(t))
      .withColumn("__ppm",
        floor(least(lit(1.0),
          (expr(s"(__total * $budgetPct) div 100") * col("__wd")) /
            (col("__sw") * col("__nd"))) * 1000000).cast("long"))
      .select(col("__dom"), col("__ppm"))
    val h = conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000000
    in.join(broadcast(r), domain === col("__dom"))
      .filter(h < col("__ppm"))
      .drop("__dom")
  }

  /** Capped proportional token-budget allocation (waterfilling): give
    * each source `min(cap_s, λ·w_s)` tokens where λ is the largest rate
    * for which the total stays within `budgetPct` of the corpus —
    * the planning step that turns target mixture WEIGHTS into an
    * achievable per-source token plan when small sources can't fill
    * their share (they saturate at cap; the surplus flows to the rest).
    * Complements [[temperatureMix]]: that down-samples by a smoothed
    * count heuristic, this solves the constrained allocation exactly.
    *
    * All arithmetic is integer so the oracle replays bit-for-bit:
    * sources are scanned in ascending `(cap·1000) div w` (the scaled
    * water-level ratio — the scan-order SPEC; 1000 keeps cap·1000
    * within Long past 10^15 tokens), a source saturates iff filling
    * the remaining budget at proportional rate would overflow its cap
    * (`cap·W_from ≤ R_before·w`, exact cross-products), and the
    * unsaturated remainder splits by integer proportion. Saturation is
    * prefix-monotone in this order, so per-row flags compose into the
    * global split without iteration.
    *
    * Scale shape: ONE map-side-combined per-source aggregate over the
    * corpus; everything after runs on |sources| rows in a single
    * window partition. No corpus shuffle, no driver loop.
    *
    * @param weight integer target weight as a function of the source
    *               column (applied post-aggregate, |sources| rows)
    */
  def waterfillBudget(df: DataFrame, source: Column, tokens: Column,
      weight: Column => Column, budgetPct: Int): DataFrame =
    waterfillImpl(df, source, tokens, weight, budgetPct, maxEpochs = 1)

  /** [[waterfillBudget]] with upsampling: each source's ceiling is
    * `cap·maxEpochs` instead of `cap` — a small high-weight source may
    * be allocated MORE tokens than it physically has, to be satisfied
    * by repeating it for up to `maxEpochs` passes (the standard
    * low-resource-corpus move in LLM data recipes). The budget base is
    * still the PHYSICAL corpus (`budgetPct` of Σcap); only the
    * per-source saturation ceiling scales. `maxEpochs = 1` is exactly
    * [[waterfillBudget]]. Execute with [[executeEpochPlan]].
    */
  def waterfillBudgetEpochs(df: DataFrame, source: Column, tokens: Column,
      weight: Column => Column, budgetPct: Int, maxEpochs: Int): DataFrame =
    waterfillImpl(df, source, tokens, weight, budgetPct, maxEpochs)

  private def waterfillImpl(df: DataFrame, source: Column, tokens: Column,
      weight: Column => Column, budgetPct: Int, maxEpochs: Int): DataFrame = {
    require(budgetPct > 0 && budgetPct <= 100, s"budgetPct in (0,100], got $budgetPct")
    require(maxEpochs >= 1, s"maxEpochs >= 1, got $maxEpochs")
    val caps = df.groupBy(source.as("source"))
      .agg(sum(tokens).cast("long").as("cap"))
      .withColumn("w", weight(col("source")).cast("long"))
      // Non-positive/null weight = "this source is not in the plan":
      // excluded from the allocation AND from the budget base (its cap
      // would otherwise inflate __total). Mirrors weightedSample's
      // w > 0 contract; a zero weight would also divide-by-zero the
      // scan-order ratio under ANSI.
      .filter(col("w") > 0)
      // The fill ceiling: physical cap × allowed epochs. Everything in
      // the scan (order ratio, saturation test, satCap, final least)
      // uses the ceiling; only the budget BASE (__total) stays physical.
      .withColumn("__ecap", col("cap") * lit(maxEpochs.toLong))
      // decimal(38,0) before the ×1000: the scan-order ratio's product
      // is __ecap·1000 = cap·maxEpochs·1000, which wraps a Long past
      // ~9.2e15/maxEpochs tokens — a wrapped (negative) key silently
      // reorders the saturation scan (DuckDB computes the same product
      // in HUGEINT; the __sat cross-products below were already
      // hardened the same way).
      .withColumn("__r", expr("(cast(__ecap as decimal(38,0)) * 1000) div w"))
    val ord = Window.orderBy(col("__r"), col("source"))
    val whole = Window.partitionBy()
    // decimal(38,0) before the budget product: total·budgetPct wraps
    // Long past ~9e16 tokens. `div` on decimals yields BIGINT again.
    val budgetSql = s"((cast(__total as decimal(38,0)) * $budgetPct) div 100)"
    val staged = caps
      .withColumn("__cumBefore", coalesce(sum(col("__ecap"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__wFrom", sum(col("w"))
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__total", sum(col("cap")).over(whole))
      // decimal(38,0) cross-products: cap·W_from can pass 2^63 when
      // source count (hence ΣW) is large — DuckDB computes the same
      // products in HUGEINT, so Long wraparound here would silently
      // flip flags at extreme scale (q78's overflow discipline).
      .withColumn("__sat",
        col("__ecap").cast("decimal(38,0)") * col("__wFrom") <=
          (expr(budgetSql) - col("__cumBefore")).cast("decimal(38,0)") * col("w"))
    // Global split of the flagged set: saturated tokens come off the
    // budget, the rest shares by weight. least() guards the one-off
    // boundary where the scaled scan order ties across the water line.
    staged
      .withColumn("__satCap",
        coalesce(sum(when(col("__sat"), col("__ecap"))).over(whole), lit(0L)))
      .withColumn("__unsatW",
        coalesce(sum(when(!col("__sat"), col("w"))).over(whole), lit(0L)))
      .select(col("source"), col("cap"), col("w"),
        col("__sat").cast("int").as("saturated"),
        when(col("__sat") || col("__unsatW") === 0L, col("__ecap"))
          // same decimal(38,0) discipline as the saturation test: the
          // remainder·w product can pass 2^63 when weights are large.
          .otherwise(least(col("__ecap"),
            expr(s"(cast($budgetSql - __satCap as decimal(38,0)) * w) div __unsatW")))
          .cast("long").as("alloc"))
  }

  /** Execute a [[waterfillBudget]] plan: per source, walk documents in
    * the seeded pseudo-random order (md5("o:" seed ":" id) — the same
    * RNG-free convention as [[EpochShuffle]]) and keep the prefix whose
    * cumulative token count stays within that source's allocation. The
    * step that turns the mixture PLAN into an actual document manifest;
    * re-running with the same seed over the same corpus reproduces it
    * exactly. (Corpus growth re-deals: a new document's order key
    * interleaves anywhere, shifting the prefix — pin a manifest by
    * materializing it, not by replaying the selection.)
    *
    * Scale shape: the per-source running sum is the two-phase prefix
    * form (range exchange on (source, okey) + partition-local sums +
    * a (partition × source)-row offset collect/broadcast) — a
    * window `PARTITION BY source` would put each source's whole corpus
    * under one reducer task. The allocation table is |sources| rows and
    * broadcasts. Same replay hazard as the two-phase ranks: offsets are
    * valid for the materialization they were counted from; the result
    * is returned cached (callers unpersist when done).
    */
  def executeMixturePlan(docs: DataFrame, id: Column, source: Column,
      tokens: Column, alloc: DataFrame, seed: String): DataFrame = {
    val keyed = manifestKeyed(docs, id, source, tokens)
      .withColumn("okey", EpochShuffle.orderKeyOf(col("doc_id"), seed))
    seededPrefix(keyed,
      Some(alloc.select(col("source"), col("alloc").as("__budget"))))
  }

  /** Shared manifest-input projection: null text counts as a
    * zero-token doc and null id/source rows drop (Packing's
    * convention — they would otherwise crash [[seededPrefix]]'s
    * primitive-tuple encoder and kill the job, where the rest of the
    * text surface degrades gracefully on nulls). `tokens` must be
    * non-negative: the prefix machinery's partition totals are
    * `max(running sum)`, which only equals the partition sum when the
    * running sum is monotone.
    */
  private def manifestKeyed(docs: DataFrame, id: Column, source: Column,
      tokens: Column): DataFrame =
    docs.select(source.cast("string").as("source"),
        id.cast("long").as("doc_id"),
        coalesce(tokens.cast("long"), lit(0L)).as("n_tokens"))
      .filter(col("doc_id").isNotNull && col("source").isNotNull)

  /** Execute a [[waterfillBudgetEpochs]] plan as a repeat-aware
    * manifest `(source, doc_id, n_tokens, epoch)`: a source allocated
    * `alloc` tokens contributes `alloc div cap` FULL passes (epochs
    * 0..k−1, every document) plus, for epoch k, the seeded-order
    * prefix fitting the `alloc mod cap` remainder — the per-epoch
    * order key is md5("o:" seed ":" epoch ":" id) so the partial pass
    * re-deals rather than replaying epoch 0's prefix. Selection only;
    * intra-epoch training ORDER is [[EpochShuffle]]'s job downstream.
    * Note the epoch-tagged key means an E=1 plan executed here picks a
    * DIFFERENT (equally valid) prefix than [[executeMixturePlan]]'s
    * untagged md5("o:" seed ":" id) at the same seed — pick one
    * executor per manifest and stay with it.
    *
    * Scale shape: full epochs never touch the prefix machinery — they
    * are a broadcast join against the |sources|-row plan plus an
    * `explode(sequence(...))` (row amplification ≤ maxEpochs, no
    * shuffle); only ONE corpus pass (sources with a nonzero remainder)
    * flows through [[seededPrefix]]'s range exchange. The result is
    * returned cached (callers unpersist when done).
    */
  def executeEpochPlan(docs: DataFrame, id: Column, source: Column,
      tokens: Column, plan: DataFrame, seed: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Pin the plan with ONE bounded |sources|-row collect: four
    // branches below broadcast it, and Spark re-runs an unpinned
    // plan's whole corpus aggregate per branch (no cross-branch
    // common-subexpression reuse). cap = 0 sources (allocated nothing,
    // and `div` would trap under ANSI) drop out of the manifest.
    val k = spark.createDataset(plan.filter(col("cap") > 0)
        .select(col("source"), expr("alloc div cap").as("k_full"),
          expr("alloc % cap").as("rem"))
        .as[(String, Long, Long)].collect().toSeq)
      .toDF("source", "k_full", "rem")
    val keyed = manifestKeyed(docs, id, source, tokens)
    val fullLeg = keyed
      .join(broadcast(k.filter(col("k_full") > 0).select("source", "k_full")),
        "source")
      .select(col("source"), col("doc_id"), col("n_tokens"),
        explode(expr("sequence(0L, k_full - 1L)")).as("epoch"))
    val partKeyed = keyed
      .join(broadcast(k.filter(col("rem") > 0).select("source", "k_full")),
        "source")
      .withColumn("okey", md5(concat(lit("o:" + seed + ":"),
        col("k_full").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("okey"))
    val pref = seededPrefix(partKeyed,
      Some(k.filter(col("rem") > 0).select(col("source"), col("rem").as("__budget"))))
    val partLeg = pref
      .join(broadcast(k.select("source", "k_full")), "source")
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("k_full").as("epoch"))
    val out = fullLeg.unionByName(partLeg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    pref.unpersist() // seededPrefix's cache, folded into `out` now
    out
  }

  /** Incrementally extend a frozen mixture manifest when the corpus
    * grows: NEW documents (only) are selected, per source, in the
    * seeded pseudo-random order into the headroom `alloc − used` that
    * a RE-PLANNED allocation leaves above the manifest's spent tokens.
    * Existing manifest rows are returned untouched (append-only — the
    * trainer already consumed them); if the new plan shrank a source
    * below its spend, the headroom clamps to 0 and that source
    * receives NOTHING (zero-headroom sources are excluded before the
    * prefix pass, so even zero-token docs — whose cum would satisfy
    * `<= 0` — cannot slip in). Use a fresh `seed` per extension
    * generation so the new docs deal independently of the base deal.
    *
    * Scale shape: one per-source aggregate over the manifest (spent
    * tokens), the |sources|-row headroom table pinned with one bounded
    * collect (two branches broadcast it), and ONE [[seededPrefix]]
    * pass over the new docs only — the base corpus is never rescanned.
    */
  def extendManifest(manifest: DataFrame, newDocs: DataFrame, id: Column,
      source: Column, tokens: Column, plan: DataFrame,
      seed: String): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val used = manifest.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("__used"))
    val rem = spark.createDataset(
        plan.select(col("source"), col("alloc"))
          .join(used, Seq("source"), "left")
          .select(col("source"),
            greatest(col("alloc") - coalesce(col("__used"), lit(0L)),
              lit(0L)).as("__budget"),
            coalesce(col("__used"), lit(0L)).as("__off"))
          .as[(String, Long, Long)].collect().toSeq)
      .toDF("source", "__budget", "__off")
    // Delegate the selection to executeMixturePlan: the headroom table
    // IS a mixture plan for the new docs (same seed convention, same
    // prefix machinery — one definition of the deal, not two).
    val pref = executeMixturePlan(newDocs, id, source, tokens,
      rem.filter(col("__budget") > 0)
        .select(col("source"), col("__budget").as("alloc")), seed)
    val added = pref
      .join(broadcast(rem.select(col("source"), col("__off"))), "source")
      .select(col("source"), col("doc_id"), col("n_tokens"),
        (col("cum_tokens") + col("__off")).as("cum_tokens"))
    val out = manifest
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .unionByName(added)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    pref.unpersist() // seededPrefix's cache, folded into `out` now
    out
  }

  /** Deterministic weighted-stride interleave of sources — the
    * data-loader ORDER that makes every prefix match the target mix
    * exactly (up to ±1 doc per source), unlike the seeded uniform
    * shuffle whose batches carry multinomial sampling noise (measure
    * both with [[EpochShuffle.batchMixAudit]]). Classic stride
    * scheduling: the k-th document of source s (k = its dense index in
    * the seeded per-source order) runs at virtual time
    * `vt = ((2k+1)·2^20) div w_s` — sources emit at rates proportional
    * to their weights, interleaved fairly from the first row.
    *
    * Returns (source, doc_id, k, vt): `vt` (ties → source, doc_id) IS
    * the total order — range-partition on it to consume in order, or
    * rank it densely with [[EpochShuffle]]'s machinery if positions
    * are needed. Integer-exact and replayable; headroom: vt stays in
    * Long past 10^12 docs per source. The result is returned cached
    * (callers unpersist when done).
    *
    * Scale shape: ONE [[seededPrefix]] pass (range exchange +
    * partition-local indexes + bounded offset collect) — no per-source
    * global window, no second rank pass.
    */
  def interleaveByWeight(docs: DataFrame, id: Column, source: Column,
      weight: Column => Column, seed: String): DataFrame = {
    val keyed = manifestKeyed(docs, id, source, lit(1L))
      .withColumn("okey", EpochShuffle.orderKeyOf(col("doc_id"), seed))
    // Unbounded prefix: the cum over n_tokens = 1 is the dense 1-based
    // per-source index — no budget table, no extra corpus pass.
    val pref = seededPrefix(keyed, None)
    val out = pref
      .withColumn("w", weight(col("source")).cast("long"))
      .filter(col("w") > 0)
      .select(col("source"), col("doc_id"),
        (col("cum_tokens") - 1).as("k"),
        expr("((2 * cum_tokens - 1) * 1048576) div w").as("vt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    pref.unpersist() // re-cached as the projection above (a bare
    // Project over the cache would make the corpus-sized entry
    // unreleasable — the EpochShuffle.order lesson)
    out
  }

  /** Per-source delta between two mixture manifests keyed on
    * (source, doc_id) — the recipe-iteration report: what a reweight /
    * budget change actually did to the corpus, source by source.
    * Inputs are [[executeMixturePlan]]-shaped
    * (source, doc_id, n_tokens, …); reduce an [[executeEpochPlan]]
    * manifest to distinct (source, doc_id, n_tokens) first (or diff
    * one epoch at a time). `a` is the old manifest, `b` the new:
    * "removed" = in a only, "added" = in b only. Shared docs are
    * assumed to agree on `n_tokens` (manifests cut from the same
    * token counter); a doc present in BOTH with a CHANGED count
    * reports the new count under tokens_kept and no add/remove delta
    * — diff re-tokenized corpora on (source, doc_id, n_tokens) as the
    * key upstream if that distinction matters.
    *
    * Scale shape: one full-outer equi-join on (source, doc_id) + one
    * map-side-combined per-source aggregate; output is |sources| rows.
    */
  def manifestDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.select(col("source"), col("doc_id"), col("n_tokens").as("__na"))
    val bb = b.select(col("source"), col("doc_id"), col("n_tokens").as("__nb"))
    aa.join(bb, Seq("source", "doc_id"), "full_outer")
      .groupBy(col("source"))
      .agg(
        sum(when(col("__na").isNotNull && col("__nb").isNull, 1L)
          .otherwise(0L)).as("docs_removed"),
        sum(when(col("__nb").isNotNull && col("__na").isNull, 1L)
          .otherwise(0L)).as("docs_added"),
        sum(when(col("__na").isNotNull && col("__nb").isNotNull, 1L)
          .otherwise(0L)).as("docs_kept"),
        coalesce(sum(when(col("__nb").isNull, col("__na"))), lit(0L))
          .as("tokens_removed"),
        coalesce(sum(when(col("__na").isNull, col("__nb"))), lit(0L))
          .as("tokens_added"),
        coalesce(sum(when(col("__na").isNotNull && col("__nb").isNotNull,
          col("__nb"))), lit(0L)).as("tokens_kept"))
  }

  /** Two-phase per-source seeded-prefix selection: range-exchange
    * `keyed` on (source, okey, doc_id), running-sum n_tokens within
    * partitions, collect the (partition × source) totals (P·|sources|
    * rows — the only driver traffic), broadcast the per-source running
    * offsets back, and keep rows whose global cumulative stays within
    * the source's broadcast `__budget` (None = unbounded: emit every
    * row's cumulative with no budget join at all). Returns
    * (source, doc_id, n_tokens, cum_tokens), persisted — the offsets
    * are only valid for the materialization they were counted from.
    */
  private[operators] def seededPrefix(keyed: DataFrame,
      budget: Option[DataFrame]): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val local = keyed
      .repartitionByRange(parts, col("source"), col("okey"), col("doc_id"))
      .sortWithinPartitions(col("source"), col("okey"), col("doc_id"))
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var cum = 0L
        it.map { case (src, d, n) =>
          if (src != cur) { cur = src; cum = 0L }
          cum += n
          (pid, src, d, n, cum) // inclusive partition-local prefix
        }
      }.toDF("pid", "source", "doc_id", "n_tokens", "lcum")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (partition × source) totals to the driver; running offsets per
    // source across ascending pids broadcast back.
    val totals = local.groupBy(col("pid"), col("source"))
      .agg(max(col("lcum")).as("t"))
      .as[(Int, String, Long)].collect()
    val offsets = totals.groupBy(_._2).iterator.flatMap { case (src, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.map(_._1).zip(sorted.map(_._3).scanLeft(0L)(_ + _))
        .map { case (pid, off) => (pid, src, off) }
    }.toSeq
    val offDf = spark.createDataFrame(offsets).toDF("pid", "source", "off")
    val withCum = local.join(broadcast(offDf), Seq("pid", "source"))
      .withColumn("cum_tokens", col("off") + col("lcum"))
    val limited = budget match {
      case Some(b) => withCum.join(broadcast(b), "source")
        .filter(col("cum_tokens") <= col("__budget"))
      case None => withCum
    }
    val out = limited
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    local.unpersist()
    out
  }

  /** Deterministic stratified sample: within each stratum, rank rows by
    * md5(salt || id) and keep the first ceil(count·pct/100). Exact
    * per-stratum proportions (unlike Bernoulli sampleBy) and fully
    * reproducible. One window shuffle on the stratum key.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column,
      salt: String, pct: Int): DataFrame = {
    require(pct > 0 && pct <= 100, s"pct must be in (0,100], got $pct")
    val w = Window.partitionBy(stratum)
    val ord = w.orderBy(md5(concat(lit(salt), id.cast("string"))).asc, id.asc)
    df.withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(w))
      // ceil(n·pct/100) via (n·pct + 99) div 100: both engines floor the
      // same exact double (n·pct+99 < 2^53; /100 lands ≥0.01 from the
      // next integer except when exact) — float ceil(n·0.01·pct) would
      // instead hinge on 0.01's representation error at boundaries.
      .filter(col("__rn") <= floor((col("__n") * pct + lit(99)) / 100).cast("long"))
      .drop("__rn", "__n")
  }

  /** Top-k keywords per document by TF-IDF (log-free rational variant):
    * score(t, d) = tf(t,d) · N/df(t) = (cnt_td · N) / (len_d · df_t).
    * All-integer numerator/denominator with ONE double division, so the
    * score is bit-identical in any IEEE-754 engine — ln()-based idf
    * differs in the last ulp across libm implementations and would
    * flip rank ties. Monotone in tf and 1/df like the classic formula.
    *
    * Shuffles: token explode → (doc, token) count agg; df agg over
    * tokens; one join token→df (the df table is |vocab|, broadcastable
    * in practice); final per-doc window top-k.
    */
  def tfidfKeywords(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val spark = docs.sparkSession
    // Corpus size from the raw id column only — a metadata-cheap count
    // that does NOT tokenize (select(text) would).
    val n = docs.select(id).count()
    val base = docs.select(id.cast("long").as("doc_id"),
      TextAnalysis.wordTokens(text).as("toks"))
    val tokens = base.select(col("doc_id"), size(col("toks")).as("len"),
      explode(col("toks")).as("token"))
    // tf feeds BOTH the df aggregation and the scoring join; without
    // materialization the tokenize+explode+agg pipeline runs twice
    // (Spark has no cross-branch plan reuse). The returned frame reads
    // this cache lazily, so release is the caller's (or the harness
    // cache clear's) job — eager force-and-release here would pay a
    // full extra pass for a corpus-sized result.
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"), max(col("len")).as("len")) // len constant per doc
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "token")
      .select(col("doc_id"), col("token"),
        // floorRound6 (rule 9): a derived ratio of integer products.
        floorRound6((col("cnt") * lit(n)).cast("double")
          / (col("len") * col("df"))).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Rare-token ratio: fraction of a document's word tokens whose GLOBAL
    * occurrence count is <= maxCount. High ratio = likely noise/garbage
    * (OCR junk, random ids); a standard curation signal. Integer counts
    * + one double division — oracle-exact.
    */
  def rareTokenRatio(docs: DataFrame, id: Column, text: Column,
      maxCount: Long): DataFrame = {
    val tokens = docs.select(id.cast("long").as("doc_id"),
        explode(TextAnalysis.wordTokens(text)).as("token"))
    val global = tokens.groupBy(col("token")).agg(count(lit(1)).as("g"))
    tokens.join(global, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("g") <= maxCount, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"),
        // floorRound6 (rule 9): a derived count ratio.
        floorRound6(col("n_rare").cast("double") / col("n_tokens"))
          .as("rare_ratio"))
  }

  private val Ws = " \\t\\n\\x0B\\f\\r" // Java \s spelled portably (RE2 \s lacks \x0B)

  /** Text cleaning for web-scraped corpora: strip HTML tags, redact
    * URLs and e-mail addresses, collapse whitespace, trim. Pure column
    * expressions (whole-stage codegen, narrow map). Regexes avoid
    * Java-only constructs so the oracle runs them verbatim in RE2.
    */
  def cleanText(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val noUrls = regexp_replace(noTags, s"https?://[^$Ws]+", "<URL>")
    val noMail = regexp_replace(noUrls,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    trim(regexp_replace(noMail, s"[$Ws]+", " "))
  }

  /** Cross-source duplication matrix: how many near-dup pairs exist
    * between each pair of sources (src_a <= src_b lexicographically) —
    * the audit that tells a corpus curator which feeds plagiarize or
    * mirror each other before mixing weights are chosen.
    *
    * Scale shape: pairs come from the banded MinHash-LSH path (no n²
    * stage, pair table ∝ actual near-dups); the source lookup is two
    * doc-keyed joins against the (id, source) projection; the matrix
    * aggregate is map-side combined over ≤ |sources|² keys.
    */
  def crossSourceDupMatrix(docs: DataFrame, id: Column, text: Column,
                           source: Column, threshold: Double = 0.85): DataFrame = {
    val pairs = Dedup.minhashLshPairs(
      Dedup.docShingles(docs, id, text, 3), threshold)
    val src = docs.select(id.cast("long").as("doc_id"),
      source.cast("string").as("src"))
    pairs
      .join(src.select(col("doc_id").as("da"), col("src").as("sa")), "da")
      .join(src.select(col("doc_id").as("db"), col("src").as("sb")), "db")
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-source token-distribution drift vs the whole corpus, as the
    * squared Hellinger distance H²(P_s, Q) = ½·Σ_t (√p_t − √q_t)² —
    * the mixture-audit statistic ("which feed's language looks least
    * like the blend?") a domain-mixing step consults next to the
    * temperature weights (q93).
    *
    * Hellinger, not KL/JS, on purpose: √ is correctly-rounded IEEE so
    * both engines produce bit-identical terms from the same counts,
    * where ln()'s last-ulp behavior differs across libm
    * implementations (same rationale as the rational idf). Each term
    * is rounded to 1e-9 and summed in decimal — order-independent.
    *
    * Shape: one tokenize pass → (source, token) counts (map-side
    * combined); source totals and the corpus total derive from that
    * table (≤ |sources| and 1 row, broadcast); the token-level grid is
    * |vocab|·|sources| rows — vocabulary-bounded, never corpus-sized.
    */
  def hellingerBySource(docs: DataFrame, source: Column, text: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(source.cast("string").as("src"), text.cast("string").as("text"))
      .repartition(spark.sparkContext.defaultParallelism) // CPU-bound tokenize
      .as[(String, String)]
      .flatMap { case (s, t) => TextAnalysis.tokenize(t).map(w => (s, w)) }
      .toDF("src", "w")
    // (src, token) counts feed the corpus totals, the source totals,
    // and the grid join — three consumers, no cross-branch plan reuse.
    // Vocab-sized (not corpus-sized); released by the harness cache
    // clear, same contract as tfidfKeywords' tf.
    val cst = toks.groupBy($"src", $"w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ct = cst.groupBy($"w").agg(sum($"c").as("ctot"))
    val ts = cst.groupBy($"src").agg(sum($"c").as("stot"))
    val tt = cst.agg(sum($"c").as("ttot"))
    val grid = ct.crossJoin(broadcast(ts))
      .join(cst, Seq("src", "w"), "left")
      .crossJoin(broadcast(tt))
    val term = grid.select($"src", {
      val p = coalesce($"c", lit(0L)).cast("double") / $"stot".cast("double")
      val q = $"ctot".cast("double") / $"ttot".cast("double")
      val dlt = sqrt(p) - sqrt(q)
      graft.operators.Curation.floorRound(dlt * dlt * 0.5, 9).as("t")
    })
    term.groupBy($"src")
      .agg(graft.operators.Curation.floorRound(sum($"t".cast("decimal(38,9)")).cast("double"), 6).as("hellinger2"))
  }
}
