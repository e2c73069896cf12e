package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID heuristics, quality scoring, and document
  * fingerprinting. Single-regex scans are column expressions
  * (whole-stage codegen). Operators that need a document's tokens more
  * than once run the one JIT tokenizer ([[tokenize]]) in a typed map or
  * group kernel — never a regex inside a higher-order function's
  * lambda, which Catalyst evaluates again for every array element.
  * [[langIdFast]] is a UDF.
  *
  * Every formula is deliberately expressible in ANSI SQL so the DuckDB
  * oracle can mirror it term-for-term (see queries.PipelineOps).
  */
object TextAnalysis {

  /** Whitespace-delimited token count. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** Lowercase letter-run tokens — the reference word-count example's
    * tokenizer shape (examples/word-count/word_count.go:166-191).
    */
  def wordTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** JIT-compiled tokenizer matching [[wordTokens]] ([a-z]+ runs of the
    * lowercased text) for the typed fast paths. Single char scan — no
    * regex machinery, no toLowerCase copy of the document (regex +
    * copy measured ~2× slower; tokenization feeds every shingle/hash
    * kernel). ASCII uppercase folds inline; non-ASCII goes through
    * Character.toLowerCase, except U+0130 (İ), the one code point whose
    * full lowercase mapping is multi-char ("i" + combining U+0307):
    * Character.toLowerCase would emit a bare 'i' and wrongly merge the
    * adjacent letter runs, so it is handled explicitly — the 'i'
    * extends the current run, the implied combining mark then ends it,
    * matching String.toLowerCase + [a-z]+ and the DuckDB lower()
    * oracle.
    */
  def tokenize(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    val n = text.length
    while (i < n) {
      val c0 = text.charAt(i)
      if (c0 == 'İ') {
        sb.append('i')
        out += sb.toString; sb.setLength(0)
      } else {
        val c =
          if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar
          else if (c0 < 128) c0
          else Character.toLowerCase(c0)
        if (c >= 'a' && c <= 'z') sb.append(c)
        else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** All space-joined word n-grams of one document, in order and
    * non-distinct — the word-count example's n-gram stream
    * (word_count.go:158-217) over [[tokenize]]. Empty when the document
    * has fewer than `n` tokens.
    */
  def ngramIterator(text: String, n: Int): Iterator[String] = {
    val toks = tokenize(text)
    if (toks.length < n) Iterator.empty
    else (0 to toks.length - n).iterator.map { i =>
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      sb.toString
    }
  }

  /** GPT-2-style BPE pre-tokenizer regex, restricted to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB): no
    * lookahead, leftmost-first alternation, and whitespace spelled as
    * an explicit class — Java's `\s` includes U+000B but RE2's does
    * not, so `\s` itself is NOT portable. Splits contractions, letter
    * runs, digit runs, punctuation runs, and whitespace — the
    * pre-tokenization whose piece count upper-bounds (and tightly
    * tracks) real BPE token counts, which is what a training-data
    * pipeline budgets by.
    */
  val BpePattern: String = {
    val ws = " \\t\\n\\x0B\\f\\r" // Java \s, spelled portably
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$ws\\p{L}\\p{N}]+|[$ws]+"
  }

  /** Pre-token count under [[BpePattern]] (codegen'd column form). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Stopword hits: occurrences of any of `words` as standalone tokens. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  /** Heuristic quality score in [0,1]:
    * 0.5·min(1, tokens/50) + 0.3·(1 − punct/chars) + 0.2·min(1, 5·stopRatio).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChar = length(text).cast("double")
    val punct = size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))).cast("double")
    val stops = stopwordHits(text, Seq("the", "a", "and", "of", "to", "is")).cast("double")
    val lenScore = least(lit(1.0), nTok / 50.0)
    val punctScore = lit(1.0) - punct / greatest(nChar, lit(1.0))
    val stopScore = least(lit(1.0), stops / greatest(nTok, lit(1.0)) * 5.0)
    graft.operators.Curation.floorRound(lenScore * 0.5 + punctScore * 0.3 + stopScore * 0.2, 4)
  }

  /** Language-ID via per-language stopword-count argmax (ties resolved
    * in en > de > es > fr > zh priority order). An n-gram heuristic in
    * the fasttext spirit, trivially distributed.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "les", "est", "et", "une"),
    "zh" -> Seq("de", "shi", "le", "wo", "zai"))

  def langId(text: Column): Column = {
    val hits = langStopwords.map { case (l, ws) => l -> stopwordHits(text, ws) }
    // Argmax with fixed priority order on ties, as a nested CASE that the
    // oracle SQL mirrors term-for-term.
    val Seq(en, de, es, fr, zh) = hits.map(_._2)
    when(en >= de && en >= es && en >= fr && en >= zh, "en")
      .when(de >= es && de >= fr && de >= zh, "de")
      .when(es >= fr && es >= zh, "es")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  /** Document fingerprint: md5 over whitespace-normalized, lowercased,
    * trimmed text. Identical content → identical fingerprint regardless
    * of spacing, which makes it the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Winnowing fingerprints (the MOSS local document fingerprinting
    * algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every char
    * k-gram, slide a window of `w` consecutive hashes, keep each
    * window's minimum — guaranteeing any shared substring of length
    * >= k+w-1 yields a shared fingerprint. Hashes are the first 8 md5
    * bytes shifted right by one (63-bit), so signed (Spark) and
    * unsigned (SQL) minima agree. Returns the distinct fingerprint set;
    * empty when the doc has fewer than k+w-1 chars.
    *
    * K-grams are sliced by CODEPOINT, not UTF-16 code unit: DuckDB's
    * substr() (the q45 oracle) counts codepoints, and a code-unit slice
    * would split surrogate pairs (md5 of a replacement char) — the
    * shared-substring guarantee and oracle parity must hold beyond the
    * BMP.
    */
  def winnowFingerprints(md: java.security.MessageDigest, text: String,
      k: Int, w: Int): Array[Long] = {
    val cps = text.codePoints().toArray
    val n = cps.length - k + 1
    if (n < w) return Array.empty
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(new String(cps, i, k).getBytes("UTF-8"))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = h >>> 1
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j + w <= n) {
      var min = hs(j)
      var x = j + 1
      while (x < j + w) { if (hs(x) < min) min = hs(x); x += 1 }
      seen.add(min)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** Within-document repetition metrics (the Gopher/MassiveText
    * repetition filters, Rae et al. 2021 §A1.1): per document,
    *  - dup3_ratio: fraction of word 3-grams that are repeats of an
    *    earlier 3-gram in the same document (1 − distinct/total);
    *  - top2_frac: fraction of all word 2-grams taken by the single most
    *    frequent 2-gram.
    * High values flag boilerplate loops and degenerate generations.
    * Integer counts + one double division each — oracle-exact.
    *
    * Plan: one exchange on doc_id, then one [[repetitionCounts]] pass
    * per row (a single [[tokenize]] call yields all three counts), and
    * the ratios as column expressions over the integer counts. One
    * output row per input row, in any order:
    *  - n_tokens, dup3_ratio: that row's own text. Null text gives a
    *    null n_tokens and no n-grams.
    *  - top2_frac: rows that share a doc_id are one document to the
    *    2-gram mode — their 2-gram counts are pooled and every one of
    *    them carries the pooled mode. A null doc_id pools with nothing
    *    and gets 0.0.
    */
  def repetitionStats(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.cast("long").as("doc_id"), text.cast("string").as("text"))
      .as(repetitionIn)
      .groupByKey(_._1)(repetitionKey)
      .flatMapGroups { (docId, rows: Iterator[(Option[Long], String)]) =>
        val per = rows.map(r => Option(r._2).map(repetitionCounts)).toVector
        val pooled = scala.collection.mutable.HashMap.empty[String, Long]
        if (docId.isDefined)
          for (c <- per.flatten; (g, k) <- c._4) pooled(g) = pooled.getOrElse(g, 0L) + k
        val maxc = pooled.valuesIterator.foldLeft(0L)(math.max)
        val t2 = pooled.valuesIterator.sum
        per.map(c => (docId, c.map(_._1.toLong), c.fold(0L)(_._2.toLong),
          c.fold(0L)(_._3.toLong), maxc, t2))
      }(repetitionOut)
      .toDF("doc_id", "n_tokens", "t3", "d3", "maxc", "t2")
      .select(col("doc_id"), col("n_tokens"),
        when(col("t3") > 0,
          Curation.floorRound6(lit(1.0) - col("d3").cast("double") / col("t3")))
          .otherwise(0.0).as("dup3_ratio"),
        when(col("t2") > 0,
          Curation.floorRound6(col("maxc").cast("double") / col("t2")))
          .otherwise(0.0).as("top2_frac"))

  // `repetitionStats`' encoders, derived once per JVM: each derivation
  // is a Scala-reflection walk under a global lock.
  private lazy val repetitionIn = ExpressionEncoder[(Option[Long], String)]()
  private lazy val repetitionKey = ExpressionEncoder[Option[Long]]()
  private lazy val repetitionOut =
    ExpressionEncoder[(Option[Long], Option[Long], Long, Long, Long, Long)]()

  /** One document's [[repetitionStats]] counts from one [[tokenize]]
    * pass: (tokens, 3-grams, distinct 3-grams, count per distinct
    * 2-gram). N-grams are keyed by their space-joined words; tokens hold
    * no spaces, so equal keys are equal n-grams.
    */
  private[graft] def repetitionCounts(t: String)
      : (Int, Int, Int, scala.collection.mutable.HashMap[String, Int]) = {
    val toks = tokenize(t)
    val g3 = new java.util.HashSet[String]()
    val g2 = scala.collection.mutable.HashMap.empty[String, Int]
    var i = 0
    while (i + 1 < toks.length) {
      val bi = toks(i) + " " + toks(i + 1)
      g2(bi) = g2.getOrElse(bi, 0) + 1
      if (i + 2 < toks.length) g3.add(bi + " " + toks(i + 2))
      i += 1
    }
    (toks.length, math.max(toks.length - 2, 0), g3.size, g2)
  }

  /** PII pattern scan: per-document counts of e-mail addresses,
    * NANP-style phone numbers (ddd-ddd-dddd), and IPv4 dotted quads.
    * Pure regexp_extract_all counts — narrow map, codegen'd, and the
    * regexes avoid Java-only constructs so the oracle runs them verbatim
    * in RE2. The detection counts feed redaction (Curation.cleanText) and
    * filter thresholds; they deliberately over-match (e.g. 999.999.999.999
    * counts as an IP) — PII scans tune for recall.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiCounts(text: Column): (Column, Column, Column) = (
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))),
    size(regexp_extract_all(text, lit(PhonePattern), lit(0))),
    size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))))

  /** Per-document mean in-corpus bigram likelihood — the scoring side
    * of the n-gram LM whose table q74 builds (CCNet-style fluency /
    * quality signal: boilerplate and fluent text score high, shuffled
    * or rare-word noise scores low):
    *
    *   score(d) = avg over d's bigrams (p, c) of
    *              (count(p, c) + 1) / (count(p, ·) + V)
    *
    * add-one–smoothed conditional bigram probability, with V = corpus
    * vocabulary size. The mean is arithmetic, not geometric — log-free
    * on purpose: every term is one IEEE division of exact integer
    * counts (bit-reproducible by any SQL engine), where a log-domain
    * perplexity would inherit libm differences.
    *
    * Scale shape (100 TB): the count tables are map-side-combined
    * aggregations over the bigram stream (vocabulary-sized, not
    * corpus-sized); scoring joins hash on (p, c) and (p); V is a
    * 1-row broadcast. Per-term rounding to 8 dp + decimal accumulation
    * makes the per-doc sum order-independent.
    *
    * Output: (doc_id, n_bi, score), docs with ≥ 2 tokens.
    */
  def bigramLikelihood(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // One tokenize pass, persisted: the token arrays feed the bigram
    // stream, the vocabulary count, AND the per-doc scoring join.
    val toks = docs.select(id.cast("long").as("doc_id"), text.as("text"))
      .repartition(spark.sparkContext.defaultParallelism) // CPU-bound tokenize
      .as[(Long, String)]
      .map { case (i, t) => (i, tokenize(t).toSeq) }
      .toDF("doc_id", "w")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bi = toks.as[(Long, Seq[String])].flatMap { case (i, w) =>
      val out = Seq.newBuilder[(Long, String, String)]
      var j = 0
      while (j + 1 < w.length) { out += ((i, w(j), w(j + 1))); j += 1 }
      out.result()
    }.toDF("doc_id", "p", "c")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cb = bi.groupBy(col("p"), col("c")).agg(count(lit(1)).as("cb"))
    val cp = bi.groupBy(col("p")).agg(count(lit(1)).as("cp"))
    val vocab = toks.select(explode(col("w")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val out = bi
      .join(cb, Seq("p", "c"))
      .join(cp, Seq("p"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        graft.operators.Curation.floorRound((col("cb") + lit(1.0)) / (col("cp") + col("v")), 8)
          .cast("decimal(28,8)").as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"),
        graft.operators.Curation.floorRound((sum(col("term")).cast("double") / count(lit(1))), 6).as("score"))
    out
  }

  /** Single-pass language-ID: same formula as [[langId]] (per-language
    * stopword-hit argmax, priority-ordered ties) but one combined
    * `\b(w1|…|wN)\b` matcher pass per document instead of 25 regex
    * scans — the 25-regex column form also overflows the JIT method
    * budget and falls out of whole-stage codegen. Semantics identical:
    * word-boundary alternation matches exactly the per-word counts,
    * and shared stopwords (fr/zh "le") credit every owning language.
    */
  val langIdFast: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val words: Map[String, Seq[Int]] = {
      val m = scala.collection.mutable.Map.empty[String, List[Int]]
      for (((_, ws), li) <- langStopwords.zipWithIndex; w <- ws)
        m(w) = li :: m.getOrElse(w, Nil)
      m.toMap.map { case (k, v) => k -> v.toSeq }
    }
    val pattern = java.util.regex.Pattern.compile(
      "\\b(" + words.keys.toSeq.sorted.mkString("|") + ")\\b")
    udf { t: String =>
      val counts = new Array[Int](5)
      // Locale.ROOT: a Turkish-locale executor JVM would dot-fold "is"
      // -> "ıs" and lose stopword hits, diverging from the oracle's
      // locale-independent lower(). Null text classifies as "en" (all
      // counts zero) instead of NPEing the task.
      val low = if (t == null) "" else t.toLowerCase(java.util.Locale.ROOT)
      val m = pattern.matcher(low)
      while (m.find()) words(m.group(1)).foreach(li => counts(li) += 1)
      val Array(en, de, es, fr, zh) = counts
      if (en >= de && en >= es && en >= fr && en >= zh) "en"
      else if (de >= es && de >= fr && de >= zh) "de"
      else if (es >= fr && es >= zh) "es"
      else if (fr >= zh) "fr"
      else "zh"
    }
  }

  /** Windowed co-occurrence lift: the top-k unordered token pairs by
    * PMI-style lift p(a,b)/(p(a)·p(b)) within a `window`-token
    * neighborhood — the association-mining pass that feeds phrase
    * detection and embedding pre-training (word2vec-era skip-gram
    * statistics). LOG-FREE on purpose: PMI = ln(lift) is monotone in
    * lift, so ranking by the rational lift gives the identical top-k
    * while staying bit-reproducible across engines (no libm).
    *
    * Scale shape: pair generation is a NARROW flat map (each position
    * pairs with the next `window-1` positions — no self-join, no
    * shuffle before counting); pair and unigram counts are map-side-
    * combined aggregates over the pair/token vocabulary; the final
    * top-k is `orderBy().limit()` = TakeOrderedAndProject (per-
    * partition heap + driver k-row merge, never a global sort).
    *
    * Determinism: counts are exact longs; lift forms in a fixed
    * double-op order and is rounded to 1e-6 BEFORE ranking, with
    * (a, b) lexicographic tie-break, so the cutoff is stable.
    */
  def cooccurrenceLift(docs: DataFrame, text: Column, window: Int = 5,
                       minPairCount: Long = 5L, k: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(text.cast("string").as("text"))
      .repartition(spark.sparkContext.defaultParallelism) // CPU-bound tokenize
      .as[String]
      .map(tokenize(_).toSeq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = toks.flatMap { ws =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var i = 0
      while (i < ws.length) {
        var o = 1
        while (o < window && i + o < ws.length) {
          val x = ws(i); val y = ws(i + o)
          out += (if (x <= y) (x, y) else (y, x))
          o += 1
        }
        i += 1
      }
      out
    }.toDF("a", "b")
    val uni = toks.flatMap(identity).toDF("w")
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val totTok = uni.agg(sum($"c").as("tt"))
    val pc = pairs.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= minPairCount)
    val totPair = pairs.groupBy().agg(count(lit(1)).as("tp"))
    pc
      .join(uni.select($"w".as("a"), $"c".as("c_a")), "a")
      .join(uni.select($"w".as("b"), $"c".as("c_b")), "b")
      .crossJoin(broadcast(totPair)).crossJoin(broadcast(totTok))
      .select($"a", $"b", $"c_ab",
        graft.operators.Curation.floorRound(($"c_ab".cast("double") / $"tp".cast("double")) /
          (($"c_a".cast("double") / $"tt".cast("double")) *
           ($"c_b".cast("double") / $"tt".cast("double"))), 6).as("lift"))
      .orderBy($"lift".desc, $"a".asc, $"b".asc)
      .limit(k)
  }

  /** CCNet-style LM-score corpus partition: score every document by its
    * mean per-token surprisal under the corpus unigram model, then cut
    * each source's score distribution into head / middle / tail thirds
    * (Wenzek et al. 2019's perplexity buckets — the filter that keeps
    * "head" for LM pretraining). Documents with zero word tokens carry
    * no LM evidence and are excluded by contract.
    *
    * LIBM-FREE SURPRISAL on purpose: true surprisal -log2(c/total) is
    * quantized to floor(log2(total div c)) = length(bin(total div c))-1
    * — pure integer arithmetic that Spark and DuckDB both evaluate
    * bit-identically (`bin` has the same semantics in both engines),
    * where a double log2 could straddle an ulp at exact powers of two.
    * The quantization preserves the ranking granularity that matters
    * for third-cuts: scores still spread over the full [0, log2 total]
    * range at 0.25-bit-ish doc-mean resolution.
    *
    * SCALE-SAFE BUCKETING on purpose: ntile(3) OVER (PARTITION BY
    * source ORDER BY score) sorts every source's full corpus slice
    * under one window — single-reducer-per-source at 100 TB. Instead
    * the cutoffs come from the per-source SCORE HISTOGRAM (distinct
    * rounded scores × sources — bounded by score resolution, not
    * corpus size): cumulative counts over that small table yield the
    * 1/3 and 2/3 threshold scores, which broadcast-join back onto the
    * docs. CCNet itself buckets by threshold, not by exact ntile, so
    * ties land in the lower bucket on both engines by construction.
    *
    * Plan shape at 100 TB: tokenize+explode (narrow) → vocab-sized
    * unigram count (partial→final) → token-keyed join for per-doc sums
    * (the one data-sized shuffle) → doc-keyed aggregate → histogram
    * aggregate (tiny) → windows + cuts over the histogram → broadcast
    * cut join. Returns (doc_id, source, n_tok, sum_bits, mean_bits,
    * bucket).
    */
  def surprisalBuckets(docs: DataFrame, id: Column, text: Column,
      source: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(id.cast("long").as("doc_id"), source.cast("string").as("source"),
        explode(wordTokens(text)).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = toks.groupBy($"t").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum($"c").as("total"))
    // floor(log2(total/c)) via binary-string length: integer-exact.
    val bits = cnt.crossJoin(broadcast(tot))
      .select($"t", (length(bin(expr("total div c"))) - 1)
        .cast("long").as("b"))
    // Persisted: `scored` feeds BOTH the histogram/cut branch and the
    // final bucket join, and Spark has no cross-branch plan reuse —
    // unpersisted, the tokenize + count + join pipeline would run
    // twice (measured 2.7 s → 1.9 s on q140's composition). The
    // count() materializes it so the token table can release first.
    val scored = toks
      .join(bits, "t")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tok"), sum($"b").as("sum_bits"))
      // floorRound4 (rule 9): mean_bits feeds the histogram CUTS and
      // the bucket comparisons, so a Spark/DuckDB .5-boundary round
      // split would move whole docs (and potentially the cutoffs)
      // across head/middle/tail — a whole-row diff, not a 1e-4 wobble.
      .withColumn("mean_bits",
        Curation.floorRound4($"sum_bits".cast("double") / $"n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()
    toks.unpersist()
    // Histogram of rounded scores per source — small, windows are safe.
    val hist = scored.groupBy($"source", $"mean_bits")
      .agg(count(lit(1)).as("k"))
    val wCum = Window.partitionBy($"source").orderBy($"mean_bits")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"source")
    val cum = hist
      .withColumn("cum", sum($"k").over(wCum))
      .withColumn("n", sum($"k").over(wAll))
    val cuts = cum.groupBy($"source").agg(
      min(when($"cum" * 3 >= $"n", $"mean_bits")).as("c1"),
      min(when($"cum" * 3 >= $"n" * 2, $"mean_bits")).as("c2"))
    // Persist + force the result so `scored` can release (same
    // lifecycle as the token table above). The returned frame is
    // cached; callers done with the buckets may unpersist() it.
    val out = scored.join(broadcast(cuts), "source")
      .select($"doc_id", $"source", $"n_tok", $"sum_bits", $"mean_bits",
        when($"mean_bits" <= $"c1", "head")
          .when($"mean_bits" <= $"c2", "middle")
          .otherwise("tail").as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    scored.unpersist()
    out
  }
}
