package graft.operators

import graft.SparkSpec
import graft.functions.TopKAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  private def edges(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("a", "b")
  }

  test("connectedComponents labels every vertex with its component min") {
    // Components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle).
    val cc = Curation.connectedComponents(edges(
        (2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
        (20L, 21L), (21L, 22L), (22L, 20L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents handles a long chain (diameter > 2 rounds)") {
    // Path 0-1-2-...-12: min label must travel the full diameter.
    val chain = (0L until 12L).map(i => (i, i + 1))
    val cc = Curation.connectedComponents(edges(chain: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 13 && cc.values.forall(_ == 0L))
  }

  test("connectedComponents of empty edge set is empty") {
    assert(Curation.connectedComponents(edges()).count() == 0)
  }

  test("connectedComponentsStars: O(log n) rounds beat the diameter bound") {
    // A 100-node chain has diameter 99 — min-label propagation's
    // default 25-round bound fails it; the alternating algorithm
    // converges in a handful of rounds.
    val chain = (0L until 99L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      Curation.connectedComponents(edges(chain: _*))
    }
    val cc = Curation.connectedComponentsStars(edges(chain: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 100 && cc.values.forall(_ == 0L))
  }

  test("both connected-components variants release their caches when they fail to converge") {
    val chain = edges((0L until 12L).map(i => (i, i + 1)): _*)
    val variants = Seq[DataFrame => DataFrame](
      Curation.connectedComponents(_, maxIter = 1),
      Curation.connectedComponentsStars(_, maxIter = 1))
    for (cc <- variants) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[IllegalArgumentException](cc(chain))
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    }
  }

  test("connectedComponentsStars agrees with min-label propagation") {
    // Mixed components incl. a cycle and reversed orientations.
    val es = edges((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (31L, 30L), (31L, 32L))
    val a = Curation.connectedComponents(es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Curation.connectedComponentsStars(es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(Curation.connectedComponentsStars(edges()).count() == 0)
  }

  test("temperatureMix flattens a skewed corpus toward the budget") {
    import spark.implicits._
    // 9000 'en' docs vs 100 'yo': at T=2 and 50% budget the big
    // domain down-samples hard while the small one keeps everything.
    val docs = ((0 until 9000).map(i => (i.toLong, "en")) ++
      (9000 until 9100).map(i => (i.toLong, "yo"))).toDF("doc_id", "lang")
    val kept = Curation.temperatureMix(docs, $"lang", $"doc_id", 50, "t")
    val byLang = kept.groupBy($"lang")
      .agg(count(lit(1)).as("n"), first($"__ppm").as("ppm"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byLang("yo")._2 == 1000000L, "small domain must keep everything")
    assert(byLang("yo")._1 == 100L)
    // en rate = B·w_en/(Σw·n_en); hash keep is Bernoulli-ish around it.
    val enPpm = byLang("en")._2
    assert(enPpm < 600000L && enPpm > 300000L, s"en ppm $enPpm")
    val enKept = byLang("en")._1.toDouble
    assert(math.abs(enKept / 9000.0 - enPpm / 1e6) < 0.02)
    // Deterministic: same salt, same membership.
    val again = Curation.temperatureMix(docs, $"lang", $"doc_id", 50, "t")
      .select($"doc_id").as[Long].collect().toSet
    assert(again == kept.select($"doc_id").as[Long].collect().toSet)
  }

  test("dedupClusters groups planted near-dups under the smallest id") {
    import spark.implicits._
    def tok(p: String, i: Int) = s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val base = (1 to 60).map(tok("t", _)).mkString(" ")
    val nd1 = (1 to 59).map(tok("t", _)).mkString(" ") + " altx"
    val nd2 = (2 to 60).map(tok("t", _)).mkString(" ") + " alty"
    val other = (1 to 60).map(tok("u", _)).mkString(" ")
    val docs = Seq((7L, base), (3L, nd1), (9L, nd2), (5L, other))
      .toDF("doc_id", "text")
    val d = Dedup.docShingles(docs, $"doc_id", $"text", 3)
    val out = Curation.dedupClusters(d, 0.85)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3, 7, 9 form one cluster (canonical 3); 5 is unclustered (absent).
    assert(out == Map(3L -> 3L, 7L -> 3L, 9L -> 3L))
  }

  test("leakSafeSplit keeps near-dup clusters in one split") {
    import spark.implicits._
    def tok(p: String, i: Int) = s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val base = (1 to 60).map(tok("t", _)).mkString(" ")
    val nd1 = (1 to 59).map(tok("t", _)).mkString(" ") + " altx"
    val nd2 = (2 to 60).map(tok("t", _)).mkString(" ") + " alty"
    val docs = Seq((7L, base), (3L, nd1), (9L, nd2),
      (5L, (1 to 60).map(tok("u", _)).mkString(" ")),
      (11L, (1 to 60).map(tok("v", _)).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.leakSafeSplit(docs, $"doc_id", $"text",
        "split42", 80, 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    // The 3/7/9 cluster shares one key (3) and so one split.
    assert(Seq(3L, 7L, 9L).map(out(_)._1).toSet == Set(3L))
    assert(Seq(3L, 7L, 9L).map(out(_)._2).toSet.size == 1)
    // Unclustered docs key on their own id and match plain hashSplit.
    val plain = docs.select($"doc_id",
        Curation.hashSplit($"doc_id", "split42", 80, 10).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- Seq(5L, 11L)) assert(out(id) == ((id, plain(id))))
  }

  test("retentionThreshold keeps at least the target, never more than needed") {
    import spark.implicits._
    // Quality is driven by token count (length score dominates when
    // there is no punctuation and few stopwords): 10 docs per source
    // with strictly increasing lengths give 10 distinct scores.
    val docs = (for (src <- Seq("s1", "s2"); i <- 1 to 10) yield
      (src.hashCode.toLong * 100 + i,
        (1 to (i * 4)).map(j => s"tok$j").mkString(" "), src))
      .toDF("doc_id", "text", "source")
    val out = Curation.retentionThreshold(docs, $"doc_id", $"text",
        $"source", targetPct = 70)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    for (src <- Seq("s1", "s2")) {
      val (thr, n, kept, ratio) = out(src)
      assert(n == 10L)
      assert(kept == 7L, s"$src: 10 distinct scores -> exactly ceil(70%)")
      assert(ratio == 0.7)
      // The threshold is an observed score: some doc scores exactly thr.
      val scores = docs.filter($"source" === src)
        .select(graft.operators.TextAnalysis.qualityScore($"text"))
        .as[Double].collect()
      assert(scores.contains(thr))
      assert(scores.count(_ >= thr) == 7)
    }
  }

  test("funnelAudit counts are cumulative-monotone and dedup-aware") {
    import spark.implicits._
    def tok(p: String, i: Int) = s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    // Source s1: a 3-doc near-dup cluster (2 losers) + one long unique
    // doc; source s2: one short doc (fails the length floor).
    val base = (1 to 60).map(tok("t", _)).mkString(" ")
    val docs = Seq(
      (7L, base, "s1"),
      (3L, (1 to 59).map(tok("t", _)).mkString(" ") + " altx", "s1"),
      (9L, (2 to 60).map(tok("t", _)).mkString(" ") + " alty", "s1"),
      (5L, (1 to 60).map(tok("u", _)).mkString(" "), "s1"),
      (11L, (1 to 10).map(tok("v", _)).mkString(" "), "s2"))
      .toDF("doc_id", "text", "source")
    val out = Curation.funnelAudit(docs, $"doc_id", $"text", $"source",
        minQuality = 0.0, minTokens = 40)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (t1, d1, q1, f1) = out("s1")
    assert(t1 == 4L && d1 == 2L, "cluster keeps exactly one of three")
    assert(q1 == 2L && f1 == 2L, "60-token survivors clear both floors")
    val (t2, d2, q2, f2) = out("s2")
    assert(t2 == 1L && d2 == 1L && q2 == 1L && f2 == 0L,
      "10-token doc fails only the length floor")
    out.values.foreach { case (t, d, q, f) =>
      assert(t >= d && d >= q && q >= f, "stages must be cumulative")
    }
  }

  test("hashSplit is deterministic, exhaustive, and roughly proportioned") {
    import spark.implicits._
    val ids = (1L to 1000L).toDF("id")
    val split = ids.select(Curation.hashSplit(col("id"), "s", 80, 10).as("sp"))
      .groupBy("sp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.values.sum == 1000L)
    assert(split("train") > 700 && split("train") < 900)
    assert(split("val") > 50 && split("val") < 150)
    assert(split("test") > 50 && split("test") < 150)
    // Same salt → same assignment; different salt → different.
    val a = ids.select(Curation.hashSplit(col("id"), "s", 80, 10).as("sp")).collect()
    val b = ids.select(Curation.hashSplit(col("id"), "s", 80, 10).as("sp")).collect()
    assert(a.map(_.getString(0)).toSeq == b.map(_.getString(0)).toSeq)
  }

  test("stratifiedSample takes exactly ceil(pct%) per stratum, deterministically") {
    import spark.implicits._
    val df = ((1 to 95).map(i => (i.toLong, "x")) ++ (1 to 7).map(i => (100L + i, "y")))
      .toDF("id", "s")
    val out = Curation.stratifiedSample(df, col("s"), col("id"), "salt", 10)
    val bySt = out.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySt == Map("x" -> 10L, "y" -> 1L)) // ceil(9.5)=10, ceil(0.7)=1
    val again = Curation.stratifiedSample(df, col("s"), col("id"), "salt", 10)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      again.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("tfidfKeywords ranks distinguishing tokens above ubiquitous ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana common common common"),
      (2L, "cherry cherry banana common common common"),
      (3L, "durian durian banana common common common"))
      .toDF("doc_id", "text")
    val out = Curation.tfidfKeywords(docs, $"doc_id", $"text", 2)
      .filter($"rank" === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // The doc-unique token (df=1) outranks banana (df=3) and common (df=3).
    assert(out == Map(1L -> "apple", 2L -> "cherry", 3L -> "durian"))
  }

  test("rareTokenRatio flags the doc full of singleton tokens") {
    import spark.implicits._
    val docs = Seq(
      (1L, "zqx wvu tsr qpo nml"),       // all tokens global-count 1
      (2L, "the the the the the"))       // 'the' global-count 5
      .toDF("doc_id", "text")
    val out = Curation.rareTokenRatio(docs, $"doc_id", $"text", 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 1.0 && out(2L) == 0.0)
  }

  test("cleanText strips tags, redacts URLs and e-mails, collapses whitespace") {
    import spark.implicits._
    val df = Seq(
      "Hello <b>world</b>!  Visit https://x.org/a?b=1 or write bob.smith+x@ex-a.co.uk \t now")
      .toDF("t")
    val out = df.select(Curation.cleanText(col("t"))).collect().head.getString(0)
    assert(out == "Hello world ! Visit <URL> or write <EMAIL> now")
  }

  test("TopKAgg matches the window-rank formulation incl. ties") {
    import spark.implicits._
    val df = Seq(
      ("a", 5.0, 1L), ("a", 5.0, 2L), ("a", 7.0, 3L), ("a", 1.0, 4L), ("a", 6.0, 5L),
      ("b", 2.0, 6L)).toDF("g", "v", "id")
    val tk = TopKAgg.topK(3)
    val got = df.groupBy($"g").agg(tk($"v", $"id").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", $"pos", $"col.v", $"col.id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      ("a", 0, 7.0, 3L), ("a", 1, 6.0, 5L), ("a", 2, 5.0, 1L),
      ("b", 0, 2.0, 6L)))
  }

  test("TopKAgg merge path: partial buffers combine correctly") {
    val agg = new TopKAgg.TopK(2)
    import TopKAgg.Entry
    val x = Seq(Entry(9.0, 1), Entry(3.0, 2)).foldLeft(agg.zero)(agg.reduce)
    val y = Seq(Entry(8.0, 3), Entry(10.0, 4)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(x, y)) == Seq(Entry(10.0, 4), Entry(9.0, 1)))
  }

  test("classifierScore matches a hand-computed md5-bucket score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Alpha beta gamma"), // bigrams: "alpha beta", "beta gamma"
      (2L, "solo"),             // < 2 tokens -> zero features
      (3L, "")).toDF("doc_id", "text")
    val out = Curation.classifierScore(docs, $"doc_id", $"text",
      buckets = 1024, salt = "qc42")
      .collect().map(r => r.getLong(0) -> r).toMap

    def bucket(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("qc42" + g).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1024
    }
    val sw = Seq("alpha beta", "beta gamma").map(g => 2 * bucket(g) - 1023).sum
    // The floor-scaled form (Curation.floorRound6 / Takedown.f6) — NOT
    // BigDecimal HALF_UP, which diverges from it on negative half-ulp
    // boundaries (sw ≡ 32 mod 64 here).
    val want = math.floor(sw.toDouble / (2048.0 * 2) * 1e6 + 0.5) / 1e6
    val r1 = out(1L)
    assert(r1.getLong(1) == 2L)
    assert(r1.getDouble(2) == want, s"got ${r1.getDouble(2)}, want $want")
    assert(r1.getBoolean(3) == (sw > 0))
    for (id <- Seq(2L, 3L)) {
      val r = out(id)
      assert(r.getLong(1) == 0L && r.getDouble(2) == 0.0 && !r.getBoolean(3),
        s"doc $id: $r")
    }
  }

  test("classifierScore bounds: |score| < 0.5 and sign agrees with positive") {
    import spark.implicits._
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, s"word${('a' + i % 5).toChar} common text span number item"))
      .toDF("doc_id", "text")
    val rows = Curation.classifierScore(docs, $"doc_id", $"text").collect()
    rows.foreach { r =>
      val (score, pos) = (r.getDouble(2), r.getBoolean(3))
      assert(score > -0.5 && score < 0.5)
      assert(pos == (score > 0) || score == 0.0)
    }
  }

  test("waterfillBudget: allocation invariants and exact saturation split") {
    import spark.implicits._
    import graft.operators.Curation
    // Three sources, strongly uneven caps and weights:
    //   a: cap 100, w 10 (wants far more than cap -> saturates)
    //   b: cap 1000, w 1
    //   c: cap 1000, w 2
    val docs = (Seq.fill(10)("a") ++ Seq.fill(100)("b") ++ Seq.fill(100)("c"))
      .zipWithIndex
      .map { case (src, i) => (i.toLong, src, "tok " * 9 + "tok") } // 10 tokens
      .toDF("doc_id", "source", "text")
    val w = (src: org.apache.spark.sql.Column) =>
      when(src === "a", 10).when(src === "b", 1).otherwise(2)
    val out = Curation.waterfillBudget(docs, $"source",
        graft.operators.TextAnalysis.tokenCount($"text"), w, budgetPct = 50)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toMap

    // budget = 2100 * 50 / 100 = 1050. a saturates at 100; the
    // remaining 950 splits 1:2 over b and c: b 316, c 633.
    assert(out("a") == ((100L, 10L, 1, 100L)))
    assert(out("b") == ((1000L, 1L, 0, 316L)))
    assert(out("c") == ((1000L, 2L, 0, 633L)))

    // Generic invariants on the gate-query shape (sf0.001 corpus).
    val gate = graft.SparkEntry.queries("q149_token_waterfill")(
      spark, "/root/testdata/sf0.001").collect()
    val budget = gate.map(_.getLong(1)).sum * 60 / 100
    assert(gate.map(_.getLong(4)).sum <= budget, "allocation exceeds budget")
    gate.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1), s"alloc > cap: $r")
      if (r.getInt(3) == 1)
        assert(r.getLong(4) == r.getLong(1), s"saturated but alloc != cap: $r")
    }
    // Utilization slack is bounded by one integer-division floor per
    // unsaturated source.
    val unsat = gate.count(_.getInt(3) == 0)
    assert(budget - gate.map(_.getLong(4)).sum <= unsat,
      "waterfill left more slack than floor rounding can explain")
  }

  test("executeMixturePlan: budget-exact per-source prefixes, reproducible") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docs = (Seq.fill(10)("a") ++ Seq.fill(100)("b") ++ Seq.fill(100)("c"))
      .zipWithIndex
      .map { case (src, i) => (i.toLong, src, "tok " * 9 + "tok") } // 10 tokens
      .toDF("doc_id", "source", "text")
    val w = (src: org.apache.spark.sql.Column) =>
      when(src === "a", 10).when(src === "b", 1).otherwise(2)
    val plan = Curation.waterfillBudget(docs, $"source",
      TextAnalysis.tokenCount($"text"), w, budgetPct = 50)
    val alloc = plan.collect().map(r => r.getString(0) -> r.getLong(4)).toMap

    val out = Curation.executeMixturePlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "mix42")
    val bySrc = out.groupBy($"source")
      .agg(sum($"n_tokens").as("sel"), count(lit(1)).as("n"),
        max($"cum_tokens").as("maxcum"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // Per source: selected tokens = the largest 10-token prefix that
    // fits the allocation (alloc div 10 docs); cum matches the sum.
    for (s <- Seq("a", "b", "c")) {
      val (sel, n, maxcum) = bySrc(s)
      assert(n == alloc(s) / 10, s"$s: picked $n docs for alloc ${alloc(s)}")
      assert(sel == n * 10 && maxcum == sel)
      assert(sel <= alloc(s))
    }
    // Saturated source a keeps EVERYTHING (alloc == cap).
    assert(bySrc("a")._2 == 10L)
    // Same seed, same corpus => identical manifest.
    val again = Curation.executeMixturePlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "mix42")
    assert(out.collect().map(_.toSeq).toSet ==
      again.collect().map(_.toSeq).toSet)
    // A different seed re-deals which docs fill the b/c prefixes.
    val reseed = Curation.executeMixturePlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "other7")
    assert(reseed.select($"doc_id").as[Long].collect().toSet !=
      out.select($"doc_id").as[Long].collect().toSet)
    out.unpersist(); again.unpersist(); reseed.unpersist()
  }

  test("waterfill law: DF allocation equals the pure integer mirror") {
    import spark.implicits._
    import graft.operators.Curation
    // Pure mirror of waterfillImpl's integer arithmetic (scan order,
    // prefix-monotone saturation, proportional remainder split).
    def ref(caps: Seq[(String, Long, Long)], pct: Int, e: Int)
        : Map[String, (Boolean, Long)] = {
      val in = caps.filter(_._3 > 0)
      val total = in.map(_._2).sum
      val budget = BigInt(total) * pct / 100
      val ord = in.map { case (s, c, w) => (s, c, w, c * e) }
        .sortBy { case (s, _, w, ec) => ((ec * 1000) / w, s) }
      var cumBefore = BigInt(0)
      var wFrom = ord.map(_._3).sum
      val flags = ord.map { case (s, _, w, ec) =>
        val sat = BigInt(ec) * wFrom <= (budget - cumBefore) * w
        cumBefore += ec; wFrom -= w
        (s, w, ec, sat)
      }
      val satCap = flags.collect { case (_, _, ec, true) => BigInt(ec) }.sum
      val unsatW = flags.collect { case (_, w, _, false) => w }.sum
      flags.map { case (s, w, ec, sat) =>
        val alloc = if (sat || unsatW == 0) BigInt(ec)
          else BigInt(ec).min((budget - satCap) * w / unsatW)
        s -> (sat, alloc.toLong)
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val n = 1 + rnd.nextInt(8)
      val caps = (0 until n).map(i =>
        (f"s$i%02d", rnd.nextInt(1000).toLong, rnd.nextInt(6).toLong))
      val pct = 1 + rnd.nextInt(100)
      val e = 1 + rnd.nextInt(4)
      val wmap = caps.map(c => (c._1, c._3)).toMap
      val wcol = (src: org.apache.spark.sql.Column) =>
        wmap.foldLeft(lit(0L)) { case (acc, (s, w)) =>
          when(src === s, w).otherwise(acc) }
      val got = Curation.waterfillBudgetEpochs(
          caps.map(c => (c._1, c._2)).toDF("source", "n"),
          $"source", $"n", wcol, pct, e)
        .collect().map(r => r.getString(0) ->
          (r.getInt(3) == 1, r.getLong(4))).toMap
      val want = ref(caps, pct, e)
      assert(got == want, s"caps=$caps pct=$pct E=$e")
      // Global invariants: 0 <= alloc <= ecap; total within budget
      // unless everything saturated (then it is exactly sum ecap).
      val budget = caps.filter(_._3 > 0).map(_._2).sum * pct / 100
      got.foreach { case (s, (_, a)) =>
        val ecap = caps.find(_._1 == s).get._2 * e
        assert(a >= 0L && a <= ecap, s"$s alloc=$a ecap=$ecap")
      }
      if (got.exists(!_._2._1))
        assert(got.values.map(_._2).sum <= budget,
          s"unsaturated overspend: $got budget=$budget")
    }
  }

  test("extendManifest: append-only headroom fill, clamp on shrinkage") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    def corpus(rows: (Long, String)*) = rows
      .map { case (i, s) => (i, s, "tok " * 9 + "tok") } // 10 tokens each
      .toDF("doc_id", "source", "text")
    val tok = TextAnalysis.tokenCount($"text")
    val base = corpus((0L to 4L).map(_ -> "a") ++ (5L to 9L).map(_ -> "b"): _*)
    val grown = corpus((10L to 14L).map(_ -> "a") ++ (15L to 19L).map(_ -> "c"): _*)
    val p1 = Curation.waterfillBudget(base, $"source", tok, _ => lit(1), 100)
    val m1 = Curation.executeMixturePlan(base, $"doc_id", $"source", tok,
      p1, seed = "b1")
    // Re-plan at 100% over the grown corpus: every source saturates, so
    // headroom = the new docs' full caps (a: 50, c: 50, b: 0).
    val p2 = Curation.waterfillBudget(base.unionByName(grown), $"source",
      tok, _ => lit(1), 100)
    val out = Curation.extendManifest(m1, grown, $"doc_id", $"source", tok,
      p2, seed = "e1")
    val rows = out.collect().map(r =>
      r.getLong(1) -> (r.getString(0), r.getLong(3))).toMap
    assert(rows.size == 20)
    // Base rows byte-identical (append-only).
    val baseRows = m1.collect().map(r =>
      r.getLong(1) -> (r.getString(0), r.getLong(3))).toMap
    baseRows.foreach { case (d, v) => assert(rows(d) == v, s"doc $d moved") }
    // New a-docs continue a's cum from 50; c starts fresh.
    val aNew = rows.filter { case (d, (s, _)) => s == "a" && d >= 10 }
    assert(aNew.values.map(_._2).toSet == Set(60L, 70L, 80L, 90L, 100L))
    assert(rows.filter(_._2._1 == "c").values.map(_._2).toSet ==
      Set(10L, 20L, 30L, 40L, 50L))

    // Shrunken re-plan (40%): a/b headroom clamps to 0 — the base deal
    // survives untouched; only c (unspent) receives docs. The clamped
    // source must receive NOTHING, not even a zero-token doc (whose
    // cum would satisfy <= 0 if the source reached the prefix pass).
    val grownZ = grown.unionByName(
      Seq((99L, "a", null.asInstanceOf[String])).toDF("doc_id", "source", "text"))
    val p3 = Curation.waterfillBudget(base.unionByName(grown), $"source",
      tok, _ => lit(1), 40)
    val out2 = Curation.extendManifest(m1, grownZ, $"doc_id", $"source", tok,
      p3, seed = "e1")
    val r2 = out2.collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(r2.count(_._1 == "a") == 5 && r2.count(_._1 == "b") == 5,
      "shrinkage must not evict base rows")
    assert(!r2.exists(_._2 == 99L), "zero-token doc slipped past the clamp")
    val cAlloc = p3.filter($"source" === "c").collect()(0).getLong(4)
    val cTok = out2.filter($"source" === "c")
      .agg(sum($"n_tokens")).collect()(0).getLong(0)
    assert(cTok == (cAlloc / 10) * 10, s"c filled $cTok of alloc $cAlloc")
    m1.unpersist(); out.unpersist(); out2.unpersist()
  }

  test("stride interleave: every prefix matches the mix within one doc") {
    import spark.implicits._
    import graft.operators.Curation
    // Counts proportional to weights (30:10 at w 3:1) so no source
    // exhausts early — the discrepancy bound holds over the whole run.
    val docs = ((0L until 30L).map(i => (i, "a")) ++
        (30L until 40L).map(i => (i, "b")))
      .toDF("doc_id", "source").withColumn("text", lit("t"))
    val w = (src: org.apache.spark.sql.Column) =>
      when(src === "a", 3L).otherwise(1L)
    val out = Curation.interleaveByWeight(docs, $"doc_id", $"source", w, "s1")
    val seq = out.collect()
      .map(r => (r.getLong(3), r.getString(0), r.getLong(1)))
      .sortBy { case (vt, s, d) => (vt, s, d) }
    assert(seq.length == 40)
    // Stride scheduling's defining property: every prefix of length n
    // holds n·w_s/W of each source to within one document.
    var na = 0
    seq.zipWithIndex.foreach { case ((_, s, _), i) =>
      if (s == "a") na += 1
      val n = i + 1
      assert(math.abs(na - n * 3.0 / 4.0) <= 1.0,
        s"prefix $n: $na a-docs, expected ~${n * 3.0 / 4.0}")
    }
    assert(na == 30)
    // k is the dense per-source seeded index.
    val ks = out.filter($"source" === "a").select($"k").as[Long].collect()
    assert(ks.sorted.toSeq == (0L until 30L))
    // Deterministic replay.
    val again = Curation.interleaveByWeight(docs, $"doc_id", $"source", w, "s1")
    assert(again.collect().map(_.toSeq).toSet == out.collect().map(_.toSeq).toSet)
    out.unpersist(); again.unpersist()
  }

  test("manifestDiff: per-source add/remove/keep doc and token deltas") {
    import spark.implicits._
    import graft.operators.Curation
    val a = Seq(("s1", 1L, 10L), ("s1", 2L, 20L), ("s2", 3L, 5L))
      .toDF("source", "doc_id", "n_tokens")
    val b = Seq(("s1", 2L, 20L), ("s1", 4L, 7L), ("s3", 9L, 3L))
      .toDF("source", "doc_id", "n_tokens")
    val got = Curation.manifestDiff(a, b).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == Map(
      "s1" -> ((1L, 1L, 1L, 10L, 7L, 20L)), // removed 1, added 4, kept 2
      "s2" -> ((1L, 0L, 0L, 5L, 0L, 0L)),   // vanished entirely
      "s3" -> ((0L, 1L, 0L, 0L, 3L, 0L))))  // brand new
  }

  test("epoch executor law: DF manifest equals the pure md5 mirror") {
    import spark.implicits._
    import graft.operators.Curation
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 8) {
      val nSrc = 1 + rnd.nextInt(4)
      // (source, docs with 1..30 tokens each), weights 0..4
      val corpus = (0 until nSrc).flatMap { si =>
        val s = f"s$si%02d"
        (0 until 1 + rnd.nextInt(12)).map(j =>
          (si * 100L + j, s, 1 + rnd.nextInt(30)))
      }
      val wmap = (0 until nSrc).map(si => f"s$si%02d" -> rnd.nextInt(5).toLong).toMap
      val pct = 1 + rnd.nextInt(100)
      val e = 1 + rnd.nextInt(3)
      val seed = s"law$trial"
      val docs = corpus.map { case (d, s, t) => (d, s, "x " * (t - 1) + "x") }
        .toDF("doc_id", "source", "text")
      val wcol = (src: org.apache.spark.sql.Column) =>
        wmap.foldLeft(lit(0L)) { case (acc, (s, w)) =>
          when(src === s, w).otherwise(acc) }
      val plan = Curation.waterfillBudgetEpochs(docs, $"source",
        graft.operators.TextAnalysis.tokenCount($"text"), wcol, pct, e)
      val allocs = plan.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
      val out = Curation.executeEpochPlan(docs, $"doc_id", $"source",
        graft.operators.TextAnalysis.tokenCount($"text"), plan, seed)
      val got = out.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
      // Pure mirror: per source, k_full full passes + the seeded prefix
      // of epoch k_full within the remainder.
      val want = allocs.flatMap { case (s, alloc) =>
        val srcDocs = corpus.filter(_._2 == s)
        val cap = srcDocs.map(_._3.toLong).sum
        if (cap == 0) Nil else {
          val kFull = alloc / cap
          val rem = alloc % cap
          val full = for (ep <- 0L until kFull; d <- srcDocs)
            yield (s, d._1, ep)
          val partial = if (rem <= 0) Nil else {
            val ordered = srcDocs.sortBy(d =>
              (md5hex(s"o:$seed:$kFull:${d._1}"), d._1))
            var cum = 0L
            ordered.takeWhile { d => cum += d._3; cum <= rem }
              .map(d => (s, d._1, kFull))
          }
          full ++ partial
        }
      }.toSet
      assert(got == want, s"trial $trial (pct=$pct E=$e w=$wmap)")
      out.unpersist()
    }
  }

  test("extension law: DF extend equals the pure headroom mirror") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // Pure seeded-prefix mirror (untagged o: key — executeMixturePlan's).
    def prefix(rows: Seq[(Long, String, Int)], seed: String,
        budget: Map[String, Long]): Seq[(String, Long, Long, Long)] =
      rows.groupBy(_._2).toSeq.flatMap { case (s, ds) =>
        budget.get(s).toSeq.flatMap { b =>
          val ordered = ds.sortBy(d => (md5hex(s"o:$seed:${d._1}"), d._1))
          var cum = 0L
          ordered.map { d => cum += d._3; (s, d._1, d._3.toLong, cum) }
            .filter(_._4 <= b)
        }
      }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 6) {
      val nSrc = 1 + rnd.nextInt(3)
      val mk = (tag: Int) => (0 until nSrc).flatMap { si =>
        val s = f"s$si%02d"
        (0 until 1 + rnd.nextInt(8)).map(j =>
          (tag * 1000L + si * 100L + j, s, 1 + rnd.nextInt(20)))
      }
      val baseRows = mk(0)
      val newRows = mk(1)
      val pct1 = 1 + rnd.nextInt(100)
      val pct2 = 1 + rnd.nextInt(100) // may shrink: exercises the clamp
      def toDf(rs: Seq[(Long, String, Int)]) = rs
        .map { case (d, s, t) => (d, s, "x " * (t - 1) + "x") }
        .toDF("doc_id", "source", "text")
      val tok = TextAnalysis.tokenCount($"text")
      val p1 = Curation.waterfillBudget(toDf(baseRows), $"source", tok,
        _ => lit(1), pct1)
      val m1 = Curation.executeMixturePlan(toDf(baseRows), $"doc_id",
        $"source", tok, p1, seed = s"b$trial")
      val p2 = Curation.waterfillBudget(toDf(baseRows ++ newRows), $"source",
        tok, _ => lit(1), pct2)
      val ext = Curation.extendManifest(m1, toDf(newRows), $"doc_id",
        $"source", tok, p2, seed = s"e$trial")
      val got = ext.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // Mirror: base selection + headroom-clamped new-doc prefixes.
      val alloc1 = p1.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
      val alloc2 = p2.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
      val baseSel = prefix(baseRows, s"b$trial", alloc1)
      val used = baseSel.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._3).sum }
      val head = alloc2.map { case (s, a) =>
        s -> math.max(0L, a - used.getOrElse(s, 0L)) }
      val added = prefix(newRows, s"e$trial", head.filter(_._2 > 0))
        .map { case (s, d, t, c) => (s, d, t, c + used.getOrElse(s, 0L)) }
      val want = (baseSel ++ added).toSet
      assert(got == want, s"trial $trial (pct1=$pct1 pct2=$pct2)")
      m1.unpersist(); ext.unpersist()
    }
  }

  test("manifest executors: null text counts 0 tokens, null ids drop") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docs = Seq[(java.lang.Long, String, String)](
      (1L, "a", "tok tok"), (2L, "a", null), (null, "a", "tok tok tok"),
      (3L, "a", "tok"))
      .toDF("doc_id", "source", "text")
    val plan = Curation.waterfillBudget(docs, $"source",
      TextAnalysis.tokenCount($"text"), _ => lit(1), budgetPct = 100)
    val out = Curation.executeMixturePlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "n")
    val rows = out.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // null-id row gone; null-text doc selected at zero token cost.
    assert(rows == Map(1L -> 2L, 2L -> 0L, 3L -> 1L))
    val eout = Curation.executeEpochPlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "n")
    assert(eout.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    out.unpersist(); eout.unpersist()
  }

  test("epoch upsampling: full passes + seeded partial, degenerates at E=1") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docs = (Seq.fill(10)("a") ++ Seq.fill(100)("b"))
      .zipWithIndex
      .map { case (src, i) => (i.toLong, src, "tok " * 9 + "tok") } // 10 tokens
      .toDF("doc_id", "source", "text")
    val w = (src: org.apache.spark.sql.Column) =>
      when(src === "a", 50).otherwise(1)

    // E=1 must be bit-identical to the plain waterfill.
    val e1 = Curation.waterfillBudgetEpochs(docs, $"source",
      TextAnalysis.tokenCount($"text"), w, budgetPct = 60, maxEpochs = 1)
    val plain = Curation.waterfillBudget(docs, $"source",
      TextAnalysis.tokenCount($"text"), w, budgetPct = 60)
    assert(e1.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)

    // E=3, budget 60% of 1100 = 660: source a (cap 100, w 50) saturates
    // at its 3-epoch ceiling 300; b (cap 1000, w 1) gets the 360
    // remainder as a 36-doc epoch-0 prefix.
    val plan = Curation.waterfillBudgetEpochs(docs, $"source",
      TextAnalysis.tokenCount($"text"), w, budgetPct = 60, maxEpochs = 3)
    val byName = plan.collect()
      .map(r => r.getString(0) -> (r.getInt(3), r.getLong(4))).toMap
    assert(byName("a") == ((1, 300L)), s"a: ${byName("a")}")
    assert(byName("b") == ((0, 360L)), s"b: ${byName("b")}")

    val out = Curation.executeEpochPlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "ep1")
    val a = out.filter($"source" === "a").collect()
    // a: every doc in every one of the 3 full epochs, no partial row.
    assert(a.length == 30 &&
      a.map(_.getLong(3)).toSet == Set(0L, 1L, 2L) &&
      a.groupBy(_.getLong(3)).forall(_._2.map(_.getLong(1)).toSet ==
        (0L until 10L).toSet))
    val b = out.filter($"source" === "b").collect()
    assert(b.length == 36 && b.forall(_.getLong(3) == 0L))
    // Token totals hit the allocations exactly (10-token quantization).
    assert(out.groupBy($"source").agg(sum($"n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 300L, "b" -> 360L))
    // Reproducible; a different seed re-deals b's partial prefix.
    val again = Curation.executeEpochPlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "ep1")
    assert(out.collect().map(_.toSeq).toSet == again.collect().map(_.toSeq).toSet)
    val reseed = Curation.executeEpochPlan(docs, $"doc_id", $"source",
      TextAnalysis.tokenCount($"text"), plan, seed = "ep2")
    assert(reseed.filter($"source" === "b").select($"doc_id").as[Long]
      .collect().toSet != b.map(_.getLong(1)).toSet)
    out.unpersist(); again.unpersist(); reseed.unpersist()
  }
}
