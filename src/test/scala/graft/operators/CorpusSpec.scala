package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  test("packSequences assigns contiguous spans and correct sequence indices") {
    import spark.implicits._
    // One shard (shards=1): whitespace tokens 3/5/1/0/4, budget 4.
    // Stream: [0,3) [3,8) [8,9) [9,9) [9,13) → seqs 0 / 0-1 / 2 / 2∅ / 2-3.
    val docs = Seq(
      (1L, "aa bb cc"), (2L, "dd ee ff gg hh"), (3L, "123"), (4L, ""),
      (5L, "ii jj kk ll"))
      .toDF("doc_id", "text")
    val out = Packing.packSequences(docs, $"doc_id", $"text", budget = 4, shards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, 0L, 0L, 0L), (2L, 3L, 0L, 1L),
      (3L, 8L, 2L, 2L), (4L, 9L, 2L, 2L), (5L, 9L, 2L, 3L)))
  }

  test("packSequences is stable under repartitioning and sharding is disjoint") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, ("w " * i.toInt).trim)).toDF("doc_id", "text")
    val a = Packing.packSequences(docs, $"doc_id", $"text", 16, 4)
    val b = Packing.packSequences(docs.repartition(7), $"doc_id", $"text", 16, 4)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
    // Every doc lands in shard doc_id % 4.
    assert(a.filter(col("shard") =!= col("doc_id") % 4).count() == 0)
  }

  test("packBestFit: bins respect the budget, near the lower bound, deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val docs = (1L to 400L).map(i => (i, ("w " * (1 + rnd.nextInt(120))).trim))
      .toDF("doc_id", "text")
    val budget = 128
    val out = Packing.packBestFit(docs, $"doc_id", $"text", budget, shards = 4)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getInt(3), r.getLong(4), r.getBoolean(5)))

    // Every doc present exactly once, in its hash shard.
    assert(rows.map(_._1).sorted.toSeq == (1L to 400L))
    assert(rows.forall { case (d, sh, _, _, _, _) => sh == d % 4 })
    // Bin fills: consistent with the members, never over budget (no
    // oversize docs at these lengths).
    val byBin = rows.groupBy(r => (r._2, r._4))
    byBin.foreach { case ((_, _), m) =>
      val fill = m.head._5
      assert(m.map(_._3).sum == fill)
      assert(fill <= budget)
      assert(!m.exists(_._6))
    }
    // Bin count per shard is within 25% of the fractional lower bound.
    for (sh <- 0 until 4) {
      val shardRows = rows.filter(_._2 == sh)
      val lower = math.ceil(shardRows.map(_._3).sum.toDouble / budget)
      val bins = shardRows.map(_._4).distinct.length
      assert(bins <= lower * 1.25 + 1, s"shard $sh: $bins bins vs lower $lower")
    }
    // Deterministic under repartitioning.
    val again = Packing.packBestFit(docs.repartition(7), $"doc_id", $"text",
      budget, shards = 4)
    assert(again.collect().map(_.toSeq).toSet == out.collect().map(_.toSeq).toSet)

    // Over-budget docs get flagged singleton bins.
    val big = Packing.packBestFit(
      Seq((1L, ("w " * 300).trim), (2L, "a b")).toDF("doc_id", "text"),
      $"doc_id", $"text", budget, shards = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    assert(big(1L) == ((300L, true)))
    assert(big(2L) == ((2L, false)))

    // Null text packs as a zero-token doc; null ids are dropped — not
    // an encoder crash (primitive-tuple deserialization throws on
    // nulls otherwise).
    val withNulls = Packing.packBestFit(
      Seq((java.lang.Long.valueOf(1L), "a b"),
        (java.lang.Long.valueOf(2L), null: String),
        (null: java.lang.Long, "c d")).toDF("doc_id", "text"),
      $"doc_id", $"text", budget, shards = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(withNulls == Map(1L -> 2L, 2L -> 0L))
  }

  test("sequenceOccupancy token counts sum to the shard stream and cap at budget") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, ("w " * (i % 7).toInt).trim))
      .toDF("doc_id", "text")
    val packed = Packing.packSequences(docs, $"doc_id", $"text", 8, 2)
    val occ = Packing.sequenceOccupancy(packed, 8)
    // Per-sequence token occupancy never exceeds the budget...
    assert(occ.filter(col("n_tokens") > 8).count() == 0)
    // ...and total occupancy equals total tokens.
    val totTok = packed.agg(sum("n_tokens")).head().getLong(0)
    assert(occ.agg(sum("n_tokens")).head().getLong(0) == totTok)
  }

  test("passageDedupStats: copied passages lose to the smallest doc_id") {
    import spark.implicits._
    val p1 = (1 to 10).map(i => s"ab$i").mkString(" ") // 10 tokens = 1 passage
    val p2 = (1 to 10).map(i => s"cd$i").mkString(" ")
    val p3 = (1 to 10).map(i => s"ef$i").mkString(" ")
    val docs = Seq(
      (5L, s"$p1 $p2"),  // original: both passages first here
      (9L, s"$p1 $p3"),  // copies p1 (loses), contributes p3
      (2L, p3))          // smaller id: owns p3, steals it from 9
      .toDF("doc_id", "text")
    val out = Dedup.passageDedupStats(docs, $"doc_id", $"text", 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(2L -> ((1L, 1L)), 5L -> ((2L, 2L)), 9L -> ((2L, 0L))))
  }

  test("passageDedupStats counts within-doc repeated passages once") {
    import spark.implicits._
    val p = (1 to 10).map(i => s"tk$i").mkString(" ")
    val docs = Seq((1L, s"$p $p")).toDF("doc_id", "text") // same passage twice
    val out = Dedup.passageDedupStats(docs, $"doc_id", $"text", 10).collect().head
    assert(out.getLong(1) == 1L && out.getLong(2) == 1L)
  }

  test("repetitionStats flags loops and degenerate bigram modes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc aa bb cc aa bb cc"), // 7 trigrams, 3 distinct
      (2L, "one two three four five"),    // no repeats
      (3L, "xx"))                         // too short for any n-gram
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == math.rint((1.0 - 3.0 / 7.0) * 1e6) / 1e6)
    assert(out(1L)._2 == 0.375) // 'aa bb' 3 of 8 bigrams
    assert(out(2L) == ((0.0, 0.25))) // no repeats; modal bigram is 1 of 4
    assert(out(3L) == ((0.0, 0.0)))  // single token: no n-grams at all
  }

  test("repetitionStats matches the column-form plan on edge cases and shared ids") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    // Reference: the former column-form plan — regex tokens, n-grams
    // built in a transform lambda, the 2-gram mode as two aggregates
    // and a left join on doc_id.
    def ngramsAll(text: Column, n: Int): Column = {
      val toks = TextAnalysis.wordTokens(text)
      when(size(toks) >= n,
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    def reference(docs: DataFrame, id: Column, text: Column): DataFrame = {
      val base = docs.select(id.cast("long").as("doc_id"),
        TextAnalysis.wordTokens(text).as("w"), ngramsAll(text, 2).as("g2"),
        ngramsAll(text, 3).as("g3"))
      val perDoc = base.select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(col("g3")).cast("long").as("t3"),
        size(array_distinct(col("g3"))).cast("long").as("d3"),
        col("g2"))
      val top2 = perDoc.select(col("doc_id"), explode(col("g2")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("maxc"), sum(col("c")).as("t2"))
      perDoc.drop("g2").join(top2, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          when(col("t3") > 0,
            Curation.floorRound6(lit(1.0) - col("d3").cast("double") / col("t3")))
            .otherwise(0.0).as("dup3_ratio"),
          when(coalesce(col("t2"), lit(0L)) > 0,
            Curation.floorRound6(col("maxc").cast("double") / col("t2")))
            .otherwise(0.0).as("top2_frac"))
    }
    val docs = Seq[(Option[Long], String)](
      (Some(1L), null),
      (Some(2L), ""),
      (Some(3L), "İstanbul ISTANBUL"),
      (Some(4L), "café STRASSE straße"),
      (Some(5L), "2024 1999 42"),
      (Some(6L), "alone"),
      (Some(7L), "two words"),
      (None, "aa bb aa bb aa bb"),
      (Some(9L), "x y x y"), // three rows share doc 9: one pooled
      (Some(9L), "x y z"),   // 2-gram mode, 'x y' 3 of 5
      (Some(9L), null),
      (Some(12L), "aa bb cc aa bb cc aa bb cc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, $"doc_id", $"text")
    val want = reference(docs, $"doc_id", $"text")
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.count() == docs.count())
    assert(got.exceptAll(want).isEmpty, got.exceptAll(want).collect().mkString("\n"))
    assert(want.exceptAll(got).isEmpty, want.exceptAll(got).collect().mkString("\n"))
    val rows = got.collect().map(_.toSeq).toSet
    // A null-text row of a shared id still carries the pooled mode; a
    // null id pools with nothing.
    assert(rows.contains(Seq(9L, null, 0.0, 0.6)))
    assert(rows.contains(Seq(null, 6L, 0.5, 0.0)))
  }

  test("ngramOverlap reports shared shingles against the eval slice only") {
    import spark.implicits._
    // Letter-distinct tokens ([a-z]+ tokenization drops digits).
    val span = (0 until 8).map(i => s"sh${('a' + i).toChar}").mkString(" ")
    val docs = Seq(
      (17L, span),                       // eval doc (17 % 17 == 0)
      (1L, s"$span tail"),               // train: shares 4 5-grams
      (2L, (0 until 9).map(i => s"zz${('a' + i).toChar}").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = Dedup.docShingles(docs, $"doc_id", $"text", 5)
    val out = Contamination.ngramOverlap(sh, id => id % 17 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 4L, 1L)))
  }

  test("shingleHashes returns DISTINCT hashes (the guard-hit-count contract)") {
    // ingestGuardExact documents n_eval_hits as a DISTINCT count
    // purely because this kernel dedups internally — pin it.
    val rep = "a b c d e " * 4 + "tail"     // 5-gram "a b c d e" recurs 4×
    val hs = Dedup.shingleHashes(rep, 5)
    assert(hs.length == hs.distinct.length,
      "shingleHashes must return deduplicated hashes")
    assert(hs.nonEmpty)
  }

  test("ingestGuardExact hit counts equal the exact batch scan's by construction") {
    import spark.implicits._
    val span = (0 until 8).map(i => s"sh${('a' + i).toChar}").mkString(" ")
    val docs = Seq(
      (17L, span),                       // eval doc
      (1L, s"$span tail"),               // train: shares 4 5-grams
      (2L, (0 until 9).map(i => s"zz${('a' + i).toChar}").mkString(" ")),
      (3L, "short text"))                // < 5 tokens: zero shingles
      .toDF("doc_id", "text")
    val evalSet = Contamination.evalShingleSet(
      Dedup.docShingles(docs.filter($"doc_id" % 17 === 0), $"doc_id", $"text", 5))
    val out = Contamination.ingestGuardExact(docs, evalSet, n = 5)
      .select($"doc_id", $"n_eval_hits", $"contaminated")
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    // Exact parity with ngramOverlap on train docs; eval doc self-hits;
    // shingle-free and disjoint docs carry zero.
    assert(out.toSeq == Seq((1L, 4, true), (2L, 0, false),
      (3L, 0, false), (17L, 4, true)))
  }

  test("piiCounts finds injected e-mail, phone, and IP patterns") {
    import spark.implicits._
    val df = Seq("mail a.b@x.io or c@y.org, call 415-555-0199, host 10.1.2.3 x")
      .toDF("t")
    val (em, ph, ip) = TextAnalysis.piiCounts(col("t"))
    val r = df.select(em, ph, ip).collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((2, 1, 1)))
  }

  test("bloomSemiJoin equals the exact semi-join") {
    import spark.implicits._
    val fact = (1L to 500L).map(k => (k, k % 50)).toDF("k", "grp")
    val dim = Seq(3L, 7L, 450L, 777L).toDF("dk") // 777 matches nothing
    val got = Prefilter.bloomSemiJoin(fact, $"k", dim, $"dk")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 7L, 450L))
  }

  test("weightedKeep rates track the weight column deterministically") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id")
      .withColumn("w", when(col("id") % 2 === 0, 90).otherwise(10))
    val kept = df.filter(Curation.weightedKeep(col("id"), col("w"), "s"))
      .groupBy(col("id") % 2).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept(0L) > 800 && kept(0L) < 1000) // ~90% of 1000
    assert(kept(1L) > 50 && kept(1L) < 150)   // ~10% of 1000
    val again = df.filter(Curation.weightedKeep(col("id"), col("w"), "s")).count()
    assert(again == kept.values.sum)
  }
}
