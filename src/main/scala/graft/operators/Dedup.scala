package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash-shuffle on the fingerprint; Spark's
  *    partial aggregation dedups within partitions before the shuffle.
  *  - MinHash+LSH is the scale path for near-dup detection: cost is
  *    O(docs · shingles) for signatures plus a shuffle on (band, bucket)
  *    whose groups are tiny, then exact verification only on candidate
  *    pairs (joined back to shingle arrays).
  *  - the exhaustive shingle self-join (`jaccardPairsExact`) is the
  *    correctness baseline; its `maxShingleFreq` knob drops stop-shingles
  *    that would otherwise quadratically explode the join at scale.
  */
object Dedup {

  /** Exact dedup: keep the first row per key in `orders` order. */
  def exactDedup(df: DataFrame, keys: Seq[Column], orders: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys: _*).orderBy(orders.map(_.asc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** (id, shingles[]) per document. Repartitions to the session's
    * parallelism first: document corpora often arrive as few large
    * files, and the tokenize+shingle+hash pipeline is CPU-bound — the
    * cheap shuffle of raw text buys full-core scaling.
    *
    * Shingles are immediately hashed to 64-bit tokens (`sh` is
    * array<long>): every downstream operation — minhash, band buckets,
    * the shared-shingle join, intersect/union verification — runs on
    * fixed-width longs instead of re-comparing strings. Collision
    * probability at 64 bits is negligible for any real corpus
    * (~1e-13 for 10⁶ distinct shingles).
    */
  def docShingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // One fused JIT-compiled map per document: tokenize → shingle →
    // hash → dedupe. The equivalent column form
    // (array_distinct(transform(shingles(...), xxhash64))) evaluates
    // interpreted per element and is ~15× slower at corpus scale.
    df.select(id.cast("long").as("doc_id"), text.cast("string").as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val out = shingleHashes(t, n)
        if (out.isEmpty) None else Some((docId, out))
      }.toDF("doc_id", "sh")
  }

  /** The fused tokenize → n-gram shingle → hash → dedupe kernel of
    * [[docShingles]], per document — shared with the streaming ingest
    * guard ([[Contamination.ingestGuardExact]]) so the two paths cannot
    * drift on tokenization or hashing. Returns the DISTINCT shingle
    * hashes, empty when the text has fewer than `n` tokens.
    */
  private[graft] def shingleHashes(t: String, n: Int): Array[Long] = {
    val toks = TextAnalysis.tokenize(t)
    if (toks.length < n) Array.emptyLongArray
    else {
      val seen = new java.util.HashSet[java.lang.Long]()
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i + n <= toks.length) {
        // FNV-1a 64 over the space-joined shingle bytes: any stable
        // 64-bit hash works (collisions ~1e-13 at 1e6 shingles);
        // downstream jaccard/minhash/banding all consume the longs.
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) {
          if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
          val w = toks(i + j)
          var k = 0
          while (k < w.length) { h ^= w.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
          j += 1
        }
        if (seen.add(h)) out += h
        i += 1
      }
      out.toArray
    }
  }

  /** Exhaustive near-duplicate pairs with exact n-gram Jaccard >= threshold.
    * Shuffles: explode→join on shingle, then one aggregation. At scale,
    * set `maxShingleFreq` to drop ubiquitous shingles BEFORE pair
    * generation; the Jaccard is then computed over the FILTERED shingle
    * universe on both sides of the fraction (per-doc sizes are
    * recounted post-filter) — a well-defined restricted-universe
    * Jaccard, not the full-universe score with a skewed denominator.
    * Recall loss is limited to pairs whose similarity lives in the
    * dropped ubiquitous shingles.
    */
  def jaccardPairsExact(
      docs: DataFrame, // (doc_id, sh)
      threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    // Each exploded row carries its doc's shingle count, so the final
    // jaccard needs no join back to per-doc counts — the pipeline is
    // exactly two exchanges: by shingle (pair generation), by pair
    // (shared-count aggregation). The opt-in frequency filter adds two
    // window exchanges (shingle freq, then per-doc recount so c matches
    // the universe the shared count is computed in).
    val ex0 = docs.select(col("doc_id"), size(col("sh")).as("c"),
      explode(col("sh")).as("shingle"))
    val ex = maxShingleFreq match {
      case Some(f) =>
        import org.apache.spark.sql.expressions.Window
        ex0.withColumn("__f", count(lit(1)).over(
          Window.partitionBy(col("shingle")))).filter(col("__f") <= f).drop("__f")
          .withColumn("c", count(lit(1)).over(
            Window.partitionBy(col("doc_id"))).cast("int"))
      case None => ex0
    }
    // Pair generation via per-shingle (doc, count) lists: ONE shuffle of
    // the exploded rows (vs two + a join probe for a self-join), then a
    // local k·(k−1)/2 expansion per shingle group.
    val pairUdf = udf { ids: Seq[Row] =>
      val s = ids.map(r => (r.getLong(0), r.getInt(1))).sorted
      val out = Seq.newBuilder[(Long, Long, Int, Int)]
      var i = 0
      while (i < s.length) {
        var j = i + 1
        while (j < s.length) {
          out += ((s(i)._1, s(j)._1, s(i)._2, s(j)._2))
          j += 1
        }
        i += 1
      }
      out.result()
    }
    ex.groupBy(col("shingle"))
      .agg(collect_list(struct(col("doc_id"), col("c"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairUdf(col("ids"))).as("p"))
      .groupBy(col("p._1").as("da"), col("p._2").as("db"))
      .agg(count(lit(1)).as("shared"), first(col("p._3")).as("ca"), first(col("p._4")).as("cb"))
      .select(col("da"), col("db"),
        (col("shared").cast("double") /
          (col("ca") + col("cb") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** splitmix64 finalizer — the per-permutation hash family for MinHash
    * (public-domain mixing constants). Family choice is free: candidate
    * recall depends only on hash quality, and candidates are verified
    * with exact Jaccard afterwards.
    */
  private[operators] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The MinHash signature of one shingle set: `numHashes` permutations,
    * signature_i = min over shingles of mix64(shingle + gamma·(i+1)).
    * ONE copy of the permutation family, shared by [[minhashSignatures]]
    * and [[bandBuckets]] — buckets and signatures MUST come from the
    * same family or the banding recall formula silently breaks.
    */
  private[operators] def minhashSig(sh: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var h = 0
      while (h < numHashes) {
        val v = mix64(sh(i) + 0x9e3779b97f4a7c15L * (h + 1))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** MinHash signatures as a DataFrame. Computed in a single tight
    * typed-Dataset loop: Spark's higher-order array functions evaluate
    * interpreted (outside codegen), so 48 `array_min(transform(...))`
    * columns pay boxed per-element eval — the plain loop is ~free by
    * comparison and still a narrow, shuffle-less map.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("sh")).as[(Long, Array[Long])]
      .map { case (id, sh) => (id, minhashSig(sh, numHashes)) }
      .toDF("doc_id", "sig")
  }

  /** LSH candidate pairs: band the signature, bucket-join within bands,
    * then verify candidates with exact Jaccard over the shingle arrays.
    * With bands·rows = numHashes, P[candidate] = 1-(1-j^rows)^bands —
    * 12 bands × 4 rows gives >0.999996 recall at j=0.9.
    */
  /** Per-document LSH band buckets: signature + banding in ONE tight
    * loop per doc (a per-band union of selects would recompute the
    * signature per band; interpreted HOF columns would pay boxed eval).
    * Output (doc_id, band, bucket) — the joinable near-dup index rows.
    */
  def bandBuckets(docs: DataFrame, numHashes: Int = 48, bands: Int = 12): DataFrame = {
    // rows = 0 would make every bucket equal its band index — the LSH
    // join degenerates to all-pairs with no error; a non-divisible
    // numHashes would silently ignore trailing hashes, quietly lowering
    // the 1-(1-j^rows)^bands recall the scaladoc promises.
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes must be a positive multiple of bands; got numHashes=$numHashes bands=$bands")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("sh")).as[(Long, Array[Long])]
      .flatMap { case (id, sh) =>
        val sig = minhashSig(sh, numHashes)
        (0 until bands).map { b =>
          var acc = b.toLong
          var r = b * rows
          while (r < (b + 1) * rows) { acc = mix64(acc ^ sig(r)); r += 1 }
          (id, b, acc)
        }
      }.toDF("doc_id", "band", "bucket")
  }

  /** Skew guard for LSH candidate generation: drop bucket groups with
    * more than `max` members BEFORE the pair join. A single hot bucket
    * (duplicate-heavy corpora produce exactly this) fans out |B|²/2
    * candidate pairs — at 100 TB one million-row bucket is 5·10¹¹
    * pairs through the exchange, a job-killer no partitioning fixes
    * because the blow-up is in the OUTPUT. A bucket that hot at
    * near-dup thresholds means mass exact duplication: run exact dedup
    * first (its groups collapse map-side), then the capped buckets are
    * small again. Opt-in (`maxBucket=None` keeps every pair) so
    * oracle-gated results are unchanged unless asked for; the window
    * count rides the same (keys) hash partitioning the pair join
    * shuffles on anyway.
    */
  private[graft] def capBuckets(buckets: DataFrame, max: Option[Int],
      keys: String*): DataFrame = max match {
    case None => buckets
    case Some(m) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      buckets.withColumn("__bsz", count(lit(1)).over(w))
        .filter(col("__bsz") <= m).drop("__bsz")
  }

  def minhashLshPairs(
      docs: DataFrame, // (doc_id, sh)
      threshold: Double,
      numHashes: Int = 48,
      bands: Int = 12,
      maxBucket: Option[Int] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Cache: shingle arrays are re-read by the verification joins, and
    // cross-branch plan reuse does NOT exist — without materialization
    // every reference re-runs the tokenize+shingle pipeline.
    val d = docs.persist(StorageLevel.MEMORY_AND_DISK)
    // The bucket frame is persisted too: the self-join consumes it on
    // BOTH sides, and without this the signature loop — the dominant
    // O(docs·shingles·numHashes) CPU cost — runs twice over the cached
    // shingles (same reasoning as simhashPairs' hash-frame persist).
    val buckets = capBuckets(bandBuckets(d, numHashes, bands), maxBucket,
      "band", "bucket").persist(StorageLevel.MEMORY_AND_DISK)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    // Exact verification on candidates only.
    cand
      .join(d.select(col("doc_id"), col("sh").as("sha")), col("da") === col("doc_id")).drop("doc_id")
      .join(d.select(col("doc_id"), col("sh").as("shb")), col("db") === col("doc_id")).drop("doc_id")
      .select(col("da"), col("db"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus MinHash-LSH near-dup join: which documents of `a`
    * near-duplicate something in `b` (e.g. a fresh crawl against the
    * already-curated corpus — dedup against 100 TB of history without
    * self-joining the history). Band buckets are computed per side with
    * the SAME hash family, candidates are bucket-equal (a, b) pairs,
    * and every candidate is verified with exact Jaccard. Unlike the
    * self-join there is no ordering constraint — output keys are
    * (da from `a`, db from `b`).
    */
  def minhashLshJoin(
      a: DataFrame, // (doc_id, sh)
      b: DataFrame, // (doc_id, sh)
      threshold: Double,
      numHashes: Int = 48,
      bands: Int = 12,
      maxBucket: Option[Int] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val da = a.persist(StorageLevel.MEMORY_AND_DISK)
    val db = b.persist(StorageLevel.MEMORY_AND_DISK)
    // The cap applies to the HISTORY side (`b`) — the side whose hot
    // buckets dominate the fan-out; the fresh side is usually small.
    val cand = bandBuckets(da, numHashes, bands).as("x")
      .join(capBuckets(bandBuckets(db, numHashes, bands), maxBucket,
          "band", "bucket").as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    cand
      .join(da.select(col("doc_id"), col("sh").as("sha")), col("da") === col("doc_id")).drop("doc_id")
      .join(db.select(col("doc_id"), col("sh").as("shb")), col("db") === col("doc_id")).drop("doc_id")
      .select(col("da"), col("db"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup pairs by SimHash Hamming distance, found via banded
    * self-join instead of an O(n²) cross join: split the 64-bit hash
    * into `maxHamming+1` bands — by pigeonhole, any pair within
    * `maxHamming` differing bits agrees exactly on at least one band —
    * join on (band, value), then verify with bit_count. Exact (same
    * result set as the cross join) and scales as a hash join on small
    * buckets.
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Pigeonhole banding needs bands <= 64 one-bit-or-wider slices:
    // maxHamming >= 64 would make width 0 and every band's mask 0 —
    // 64+ full cross-joins of the corpus with no diagnostic; negative
    // values would divide by zero.
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val bands = maxHamming + 1
    val width = 64 / bands
    // Materialize the (expensive, 64-aggregate) simhash once: it is
    // referenced by both join sides and every band.
    val s = sims.persist(StorageLevel.MEMORY_AND_DISK)
    val banded = s.select(col("doc_id"), col("sim"),
      posexplode(array((0 until bands).map { b =>
        val lo = b * width
        val w = if (b == bands - 1) 64 - lo else width
        val mask = if (w >= 64) -1L else (1L << w) - 1L
        shiftrightunsigned(col("sim"), lo).bitwiseAND(mask)
      }: _*)).as(Seq("band", "bval")))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Typed fast path of [[simhash64]]: (doc_id, sim) per document with
    * one fused JIT loop — tokenize, FNV-1a-64 per token, 64 bit-sums,
    * sign. The 64-`aggregate` column form evaluates interpreted and
    * costs ~10× more per document; hash-family choice is free (SimHash
    * only needs a fixed high-quality per-token hash).
    */
  def simhashes(df: DataFrame, id: Column, text: Column): DataFrame =
    simhashWith(df, id, text) { () => (w: String) =>
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < w.length) { h ^= w.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
      mix64(h) // FNV output bits are weakly mixed; finalize
    }

  /** Shared simhash body over a pluggable per-token hash family
    * (instantiated once per partition — MD5 needs a MessageDigest).
    * Documents with ZERO tokens yield NO row: a signature over nothing
    * is meaningless, and emitting sim=0 would near-dup-match every
    * token-less doc against every other (and diverge from the SQL
    * oracle, whose unnest produces no rows for them).
    */
  private def simhashWith(df: DataFrame, id: Column, text: Column)(
      mkHash: () => String => Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("doc_id"), text.cast("string").as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        val hash = mkHash()
        it.flatMap { case (docId, t) =>
          val toks = TextAnalysis.tokenize(t)
          if (toks.isEmpty) None
          else {
            val sums = new Array[Int](64)
            var i = 0
            while (i < toks.length) {
              val h = hash(toks(i))
              var b = 0
              while (b < 64) {
                if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
                b += 1
              }
              i += 1
            }
            var sim = 0L
            var b = 0
            while (b < 64) { if (sums(b) > 0) sim |= (1L << b); b += 1 }
            Some((docId, sim))
          }
        }
      }.toDF("doc_id", "sim")
  }

  /** [[simhashes]] with an MD5 token-hash family: the per-token 64-bit
    * value is the first 8 bytes (big-endian) of md5(token) — bit-for-bit
    * `('0x' || substr(md5(w),1,16))::UBIGINT` in ANSI/DuckDB SQL, which
    * makes the whole simhash pipeline oracle-checkable. Hash-family
    * choice is free for SimHash (any fixed well-mixed hash); MD5 costs
    * ~2× FNV per token, still one fused narrow map.
    */
  def simhashesMd5(df: DataFrame, id: Column, text: Column): DataFrame =
    simhashWith(df, id, text) { () =>
      val md = java.security.MessageDigest.getInstance("MD5")
      (w: String) => {
        md.reset()
        val d = md.digest(w.getBytes("UTF-8"))
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
        h
      }
    }

  /** Passage-level exact dedup stats (C4-style): chop each document's
    * token stream into non-overlapping `window`-token passages, dedup
    * passages globally by content hash with the smallest doc_id as
    * survivor, and report per-document keep counts. A document whose
    * passages all first occur elsewhere is a pure copy; partial overlap
    * flags boilerplate spans near-dup methods miss (they score whole
    * documents).
    *
    * Shuffles: one hash-shuffle on the passage md5 (fixed-width keys,
    * never the passage text) for the first-occurrence agg, one join back,
    * one per-doc agg. Passage tables are |tokens|/window rows — at 100 TB
    * the md5 group-by is the same shape as exact doc dedup, just with a
    * ~window× larger key count; partial aggregation absorbs within-doc
    * repeats before the exchange.
    */
  def passageDedupStats(df: DataFrame, id: Column, text: Column,
      window: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val toks = TextAnalysis.wordTokens(text)
    val base = df.select(id.cast("long").as("doc_id"), toks.as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("nc", ceil(size(col("w")).cast("double") / window).cast("int"))
    val chunks = base.select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nc") - 1),
          c => md5(array_join(slice(col("w"), c * window + 1, lit(window)), " "))))
          .as("h"))
      .distinct() // within-doc repeats count once
    val first = chunks.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    chunks.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_passages"), col("n_kept"),
        Curation.floorRound6(col("n_kept").cast("double") / col("n_passages"))
          .as("keep_ratio"))
  }

  /** 64-bit SimHash over word tokens: bit b of the hash is the sign of
    * Σ_tokens (±1 per token's xxhash64 bit b). Near-dups have small
    * Hamming distance. One narrow map + no shuffle per document.
    */
  def simhash64(tokens: Column): Column = {
    val h = transform(tokens, t => xxhash64(t))
    val bitSums = (0 until 64).map { b =>
      aggregate(h, lit(0L),
        (acc, x) => acc + when(shiftright(x, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, b) =>
      when(s > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * word n-grams whose FIRST corpus occurrence (smallest doc_id) is
    * this document. The contribution-aware cousin of passage dedup:
    * passage dedup asks "how much of this doc survives global
    * first-occurrence dedup at passage granularity", novelty asks "how
    * much genuinely new n-gram content does this doc add" — the signal
    * curation uses to rank near-identical boilerplate (novelty → 0)
    * below original text (novelty → 1) without deleting either.
    *
    * Scale shape: [[docShingles]]'s fused tokenize→shingle→hash map
    * (narrow), ONE shingle-keyed aggregate for the first-occurrence
    * table, ONE shingle-keyed join back, ONE doc-keyed aggregate — the
    * same two-shuffle budget as passage dedup, no self-join. Documents
    * with fewer than n tokens have no n-grams and are excluded by
    * contract (they carry no evidence either way).
    *
    * Determinism: counts are exact; the only double is the final
    * rounded ratio. The oracle replays shingles as strings where this
    * side hashes them — identical results absent FNV-64 collisions
    * (~1e-13 at 1e6 shingles; the q24/q25 oracles already rely on this).
    */
  def ngramNovelty(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val sh = docShingles(df, id, text, n) // (doc_id, sh: array<long>), distinct per doc
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        Curation.floorRound6(col("n_novel").cast("double") / col("n_shingles"))
          .as("novelty"))
  }
}
