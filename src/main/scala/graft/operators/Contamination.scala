package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: find training
  * documents sharing word n-grams with a held-out evaluation set — the
  * standard n-gram-overlap contamination check (GPT-3 appendix C /
  * PaLM-style 8-gram scans, here parameterized).
  *
  * Scale design (100 TB): the eval set is tiny relative to the corpus,
  * so its exploded (shingle → eval_doc) table broadcast-joins against
  * the training side's exploded shingles — the training corpus is
  * scanned once, never shuffled on shingle. Shingles are 64-bit hashes
  * (Dedup.docShingles), so the broadcast table is fixed-width longs.
  */
object Contamination {

  /** Per-training-doc contamination report against `evalPred`-selected
    * docs: (doc_id, n_shared_shingles, n_eval_docs) for every training
    * doc sharing at least one n-gram with any eval doc.
    *
    * `docs` must be (doc_id, sh) from [[Dedup.docShingles]]; rows where
    * `evalPred(doc_id)` holds form the eval set and are excluded from
    * the report.
    */
  def ngramOverlap(docs: DataFrame, evalPred: Column => Column): DataFrame = {
    // NULL-proof split: a predicate evaluating NULL would fail BOTH
    // filters, silently excluding the doc from the eval set AND the
    // training report — a decontamination gap. NULL counts as "not
    // eval", keeping every doc on exactly one side.
    val isEval = coalesce(evalPred(col("doc_id")), lit(false))
    // Both filter branches read `docs` — typically docShingles' fused
    // tokenize+shingle+hash pipeline — and Spark has no cross-branch
    // plan reuse: unpersisted, the dominant tokenize cost runs TWICE.
    // This cache is CORPUS-sized (every doc's shingle array), too big
    // to leave pinned for a harness cache clear: materialize the
    // report-sized result and release it HERE (the bm25ProbeIndex
    // pattern — a bare lazy return would make the cache unreleasable,
    // unpersist on a derived frame being a sameResult no-op). The
    // RETURNED frame is cached; callers done with it unpersist().
    val cached = docs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalSh = cached.filter(isEval)
      .select(col("doc_id").as("eval_doc"), explode(col("sh")).as("h"))
      .distinct()
    val trainSh = cached.filter(!isEval)
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val out = trainSh.join(broadcast(evalSh), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_shingles"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    cached.unpersist()
    out
  }

  /** Exact broadcastable eval-set shingle table for [[ingestGuardExact]]:
    * the distinct 64-bit shingle hashes of the eval docs, collected and
    * sorted for binary-search probing. 8 bytes per distinct shingle
    * (~80 MB at a 10M-shingle eval set); the exact set buys
    * determinism (zero false positives, hit counts identical to
    * [[ngramOverlap]]'s by construction).
    * `evalSh` is (doc_id, sh) from [[Dedup.docShingles]].
    */
  def evalShingleSet(evalSh: DataFrame): Array[Long] = {
    val arr = evalSh.select(explode(col("sh")).as("h")).distinct()
      .collect().map(_.getLong(0))
    java.util.Arrays.sort(arr)
    arr
  }

  /** INGEST-TIME contamination guard — the streaming counterpart of
    * [[ngramOverlap]], and the engine's analog of the reference's
    * per-message Validator (message/interfaces.go:143-145): tag each
    * document BEFORE it lands in a journal, so contaminated docs can be
    * routed to quarantine at write time instead of discovered by the
    * next batch scan.
    *
    * A stateless projection (works identically on batch and streaming
    * frames, no shuffle, corpus scanned once): per doc, the
    * [[Dedup.shingleHashes]] kernel (the SAME tokenize/hash as the
    * batch path) probes a broadcast sorted array of the eval set's
    * distinct shingle hashes. Deterministic — `n_eval_hits` equals the
    * distinct shared shingle count the exact batch scan
    * ([[ngramOverlap]]) reports, and `contaminated` equals its tag set
    * restricted to training docs — so the guard is oracle-gated (q166,
    * and q167 end-to-end through the streaming quarantine/train
    * journal route).
    *
    * Deliberately a UDF, not a codegen'd Expression (round-9 decision,
    * measured): the kernel is tokenize+shingle-dominated — the exact
    * sorted-array probe ran within 20% of a Bloom-filter probe
    * end-to-end (33 K vs 28 K docs/s, PERF.md round-8 guard addendum),
    * so a codegen'd binary search could reclaim at most a slice of
    * that 20%, while the tokenizer itself is intrinsically procedural
    * and SHARED with the batch path (Dedup.shingleHashes — splitting
    * the kernel across an Expression boundary would let the two paths
    * drift, the exact bug class q166/q167 exist to prevent).
    */
  def ingestGuardExact(docs: DataFrame, evalShingles: Array[Long],
      n: Int, textCol: String = "text"): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(evalShingles)
    val hits = udf { t: String =>
      if (t == null) 0
      else {
        // shingleHashes returns DISTINCT hashes (its documented contract,
        // asserted in DedupSpec) — so this count is distinct-hit count.
        val hs = Dedup.shingleHashes(t, n)
        var c = 0
        var i = 0
        while (i < hs.length) {
          if (java.util.Arrays.binarySearch(bc.value, hs(i)) >= 0) c += 1
          i += 1
        }
        c
      }
    }
    docs.withColumn("n_eval_hits", hits(col(textCol)))
      .withColumn("contaminated", col("n_eval_hits") > 0)
  }
}
