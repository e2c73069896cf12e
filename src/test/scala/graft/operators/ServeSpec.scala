package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Serving-tier operators: MMR rerank, context assembly, aspect
  * bucketing (q150–q152's machinery).
  */
class ServeSpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Float], Int)*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("mmrRerank diversifies: near-duplicate of a pick loses to a diverse hit") {
    import spark.implicits._
    // Probe points at e1; corpus: a (≈e1), a' (≈a, near-dup), b (e2-ish
    // but correlated enough to rank) — plain top-2 is {a, a'}; MMR's
    // second pick must be b (a' pays the ~1.0 max-sim penalty).
    val corpus = vecs(
      (10L, Seq(1f, 0f, 0.1f), 0),
      (11L, Seq(1f, 0.01f, 0.1f), 0), // near-dup of 10
      (12L, Seq(0.6f, 0.8f, 0f), 0))
    val probes = vecs((0L, Seq(1f, 0f, 0f), 0))
    val out = Similarity.mmrRerank(corpus, probes, k = 2, poolSize = 3,
        lambda = 0.5)
      .orderBy($"mmr_rank").select($"vec_id").as[Long].collect()
    assert(out.toSeq == Seq(10L, 12L))
    // Plain top-2 for contrast: the near-dup ranks second.
    val plain = Similarity.bruteTopK(corpus, probes, k = 2)
      .orderBy($"rank").select($"vec_id").as[Long].collect()
    assert(plain.toSeq == Seq(10L, 11L))
  }

  test("mmrRerank stops at the pool when k exceeds it; ranks are dense") {
    import spark.implicits._
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0),
      (3L, Seq(1f, 1f), 0))
    val probes = vecs((0L, Seq(1f, 0.5f), 0))
    val out = Similarity.mmrRerank(corpus, probes, k = 10, poolSize = 3,
        lambda = 0.5)
      .orderBy($"mmr_rank")
      .select($"mmr_rank", $"vec_id").as[(Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L))
  }

  test("mmrRerank survives a zero-norm probe (all-NaN pool scores)") {
    import spark.implicits._
    // A zero-norm probe makes every pool cosine NaN; the greedy loop
    // must stop instead of indexing cands(-1).
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0))
    val probes = vecs((0L, Seq(0f, 0f), 0))
    val out = Similarity.mmrRerank(corpus, probes, k = 2, poolSize = 2,
      lambda = 0.5).collect()
    assert(out.length <= 2) // no crash; rows (if any) are well-formed
  }

  test("LSH auto-parameterization: planes track corpus size, bands track recall") {
    import Similarity.{bandsForRecall, planesForCount}
    // Planes: log2(n / targetBucket), floored at 4, capped at 62.
    assert(planesForCount(100, 32) == 4)
    assert(planesForCount(5000, 32) == 8)
    assert(planesForCount(5000000, 32) == 18)
    assert(planesForCount(Long.MaxValue, 1) == 62)
    // Bands: hold 1-(1-p^planes)^bands >= recall. More planes => more
    // bands at the same threshold; higher thresholds need fewer.
    val b4 = bandsForRecall(0.4, 4)
    val b8 = bandsForRecall(0.4, 8)
    assert(b4 < b8, s"bands must grow with planes: $b4 vs $b8")
    assert(bandsForRecall(0.85, 8) < bandsForRecall(0.4, 8))
    // The recall identity itself: the returned band count achieves it.
    for (thr <- Seq(0.4, 0.7, 0.9); planes <- Seq(4, 8)) {
      val p = 1.0 - math.acos(thr) / math.Pi
      val bands = bandsForRecall(thr, planes, recall = 0.9)
      val achieved = 1.0 - math.pow(1.0 - math.pow(p, planes), bands)
      assert(achieved >= 0.9 || bands == 128,
        s"thr=$thr planes=$planes bands=$bands achieved=$achieved")
    }
  }

  test("lshNearDupPairsAuto finds the pairs the fixed gate config finds") {
    import spark.implicits._
    // A corpus with two exact near-dup clusters + noise: any sane
    // parameterization must recover the true pairs.
    val base = Seq.tabulate(64)(j => (j % 7 - 3).toFloat)
    val vecs = Seq(
      (1L, base), (2L, base.map(_ * 1.01f)),        // cluster A
      (3L, base.map(x => -x)), (4L, base.map(x => -x * 0.99f)), // cluster B
      (5L, Seq.tabulate(64)(j => ((j * 37 % 11) - 5).toFloat)),
      (6L, Seq.tabulate(64)(j => ((j * 53 % 13) - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val auto = Similarity.lshNearDupPairsAuto(vecs, 0.95)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    assert(auto == Set((1L, 2L), (3L, 4L)))
  }

  test("contextAssembly keeps the relevance-ordered prefix within budget") {
    import spark.implicits._
    val cands = Seq(
      (1L, 100L, 0.9, 500L), (1L, 101L, 0.8, 400L), (1L, 102L, 0.7, 200L),
      (2L, 200L, 0.9, 2000L)) // first candidate alone blows probe 2's budget
      .toDF("probe_id", "id", "rel", "cost")
    val out = Retrieval.contextAssembly(cands, $"probe_id", $"id",
        $"rel", $"cost", budget = 1000L)
      .orderBy($"probe_id", $"pos")
      .select($"probe_id", $"id", $"cum_cost").as[(Long, Long, Long)]
      .collect()
    // Probe 1: 500 + 400 fits; +200 would exceed 1000 → prefix of 2.
    // Probe 2: nothing fits.
    assert(out.toSeq == Seq((1L, 100L, 500L), (1L, 101L, 900L)))
  }

  test("aspectBuckets: dense deterministic batches, bounded size, valid pad_eff") {
    import spark.implicits._
    // Widths map to three DISTINCT aspect buckets (4, 6, 8), one shape
    // per bucket, so full batches must be padding-free.
    val media = (1 to 70).map { i =>
      (i.toLong, Array[Byte](1), "fake/raw",
        Seq(100, 150, 210)(i % 3), 100)
    }.toDF("doc_id", "media", "format", "width", "height")
      .unionAll(Seq((999L, Array[Byte](1), "fake/raw", 0, 100))
        .toDF("doc_id", "media", "format", "width", "height")) // degenerate
    val out = Multimodal.aspectBuckets(media, batchSize = 8)
    val rows = out.select($"ar_q", $"batch_id", $"n", $"pad_eff")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.map(_._3).sum == 70L) // degenerate row excluded
    assert(rows.forall(_._3 <= 8L))
    assert(rows.forall(r => r._4 > 0.0 && r._4 <= 1.0))
    // Same-shape rows batch together perfectly: every full batch of a
    // single (w, h) shape has pad_eff 1.0.
    assert(rows.filter(r => r._3 == 8L).forall(_._4 == 1.0))
    // Deterministic: a second run yields identical batches.
    val again = Multimodal.aspectBuckets(media, batchSize = 8)
      .select($"ar_q", $"batch_id", $"n", $"pad_eff")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
    out.unpersist()
  }
}
