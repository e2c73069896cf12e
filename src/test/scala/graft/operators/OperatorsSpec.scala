package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("shingles and ngrams") {
    val txt = "The quick brown Fox the quick brown"
    val ng = TextAnalysis.ngramIterator(txt, 3).toSeq
    assert(ng.contains("the quick brown"))
    assert(ng.count(_ == "the quick brown") == 2) // non-distinct
    // Shingles are the distinct n-grams: one hash per distinct 3-gram.
    val sh = Dedup.shingleHashes(txt, 3)
    assert(sh.distinct.length == sh.length)
    assert(sh.length == ng.distinct.length)
    // short doc yields empty
    assert(TextAnalysis.ngramIterator("one two", 3).isEmpty)
    assert(Dedup.shingleHashes("one two", 3).isEmpty)
  }

  test("exactDedup keeps first row per key") {
    import spark.implicits._
    val df = Seq((1L, "a", 30L), (1L, "a", 10L), (1L, "a", 20L), (2L, "a", 5L))
      .toDF("k", "t", "ts")
    val out = Dedup.exactDedup(df, Seq($"k", $"t"), Seq($"ts"))
      .orderBy($"k").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((1L, 10L), (2L, 5L)))
  }

  test("minhash LSH finds planted near-dup and agrees with exact jaccard") {
    import spark.implicits._
    // alphabetic tokens ([a-z]+ tokenizer: digits would split tokens)
    def tok(p: String, i: Int) = s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val base = (1 to 60).map(tok("t", _)).mkString(" ")
    val nearDup = (1 to 58).map(tok("t", _)).mkString(" ") + " altx alty"
    val unrelated = (1 to 60).map(tok("u", _)).mkString(" ")
    val d = Dedup.docShingles(
      docs((1L, base), (2L, nearDup), (3L, unrelated)), $"doc_id", $"text", 3)

    val exact = Dedup.jaccardPairsExact(d, 0.5)
      .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(d, 0.5)
      .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact)
  }

  test("maxBucket skew guard drops hot-bucket pairs, keeps cold-bucket pairs") {
    import spark.implicits._
    def tok(p: String, i: Int) = s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    // 20 identical docs (one hot bucket per band) + one cold near-dup
    // pair with distinct text.
    val hotText = (1 to 60).map(tok("h", _)).mkString(" ")
    val coldA = (1 to 60).map(tok("c", _)).mkString(" ")
    val coldB = (1 to 58).map(tok("c", _)).mkString(" ") + " altx alty"
    val rows = (1L to 20L).map(i => (i, hotText)) ++ Seq((98L, coldA), (99L, coldB))
    val d = Dedup.docShingles(docs(rows: _*), $"doc_id", $"text", 3)

    val uncapped = Dedup.minhashLshPairs(d, 0.5)
      .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((98L, 99L)))

    val capped = Dedup.minhashLshPairs(d, 0.5, maxBucket = Some(10))
      .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((98L, 99L)),
      s"cap should drop the 20-doc hot bucket, keep the cold pair: $capped")

    // Embedding-side guard: 20 identical vectors (hot cell) + a cold
    // near-identical pair elsewhere.
    val hotVec = Seq.fill(8)(1.0f)
    val coldV = Seq(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val vecs = ((1L to 20L).map(i => (i, hotVec)) ++
      Seq((98L, coldV), (99L, coldV.map(_ * 2f)))).toDF("vec_id", "embedding")
    val vCapped = Similarity.lshNearDupPairs(vecs, 0.9, dim = 8,
        maxBucket = Some(10))
      .select($"va", $"vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(vCapped == Set((98L, 99L)), s"embedding cap: $vCapped")
  }

  test("maxBucket invariants: capped pairs ⊆ uncapped; cap ≥ corpus is identity") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val words = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      val rows = (1L to 25L).map { i =>
        (i, Seq.fill(30)(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val d = Dedup.docShingles(docs(rows: _*), $"doc_id", $"text", 3)
      def pairs(cap: Option[Int]) =
        Dedup.minhashLshPairs(d, 0.3, maxBucket = cap)
          .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val uncapped = pairs(None)
      assert(pairs(Some(5)).subsetOf(uncapped), s"seed $seed: cap added pairs")
      assert(pairs(Some(1000)) == uncapped, s"seed $seed: no-op cap changed pairs")
    }
  }

  test("minhashLshJoin: cross-corpus near-dups, no self-pairs, both directions keyed") {
    import spark.implicits._
    def tok(p: String, i: Int) = s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val base = (1 to 60).map(tok("t", _)).mkString(" ")
    val nearDup = (1 to 58).map(tok("t", _)).mkString(" ") + " altx alty"
    val unrelated = (1 to 60).map(tok("u", _)).mkString(" ")
    // Side A: the near-dup + an unrelated doc; side B: the base + a
    // second identical copy of base.
    val sh = Dedup.docShingles(
      docs((10L, nearDup), (11L, unrelated), (20L, base), (21L, base)),
      $"doc_id", $"text", 3)
    val a = sh.filter($"doc_id" < 20)
    val b = sh.filter($"doc_id" >= 20)
    val got = Dedup.minhashLshJoin(a, b, 0.5)
      .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 matches BOTH copies in b; 11 matches nothing; b-internal
    // duplicate pair (20,21) is not this join's business.
    assert(got == Set((10L, 20L), (10L, 21L)))
  }

  test("simhash: identical docs collide, unrelated docs differ") {
    import spark.implicits._
    val d = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota kappa"))
      .select($"doc_id", Dedup.simhash64(TextAnalysis.wordTokens($"text")).as("sim"))
    val m = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) > 6)
  }

  test("bruteTopK ranks by cosine with deterministic tiebreak") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" === 0), 2)
      .orderBy($"rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 1L)) // closest first
  }

  test("ivfTopK with nprobe=nlist is exact (matches bruteTopK)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val probes = vecs.filter($"vec_id" < 3)
    val brute = Similarity.bruteTopK(vecs, probes, 4)
      .select($"probe_id", $"vec_id", $"rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = Similarity.ivfTopK(vecs, probes, 4, nlist = 8, nprobe = 8)
      .select($"probe_id", $"vec_id", $"rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == brute) // probing every cell = exhaustive search
  }

  test("IVF index at rest: probe equals inline ivfTopK and prunes unprobed cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val probes = vecs.filter($"vec_id" < 2)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    Similarity.ivfBuildIndex(vecs, idx, nlist = 8)
    val atRest = Similarity.ivfProbeIndex(spark, idx, probes, k = 3, nprobe = 2)
    val inline = Similarity.ivfTopK(vecs, probes, k = 3, nlist = 8, nprobe = 2)
      .select($"probe_id", $"vec_id", $"sim", $"rank")
      .collect().map(_.toSeq).toSet
    assert(atRest.select($"probe_id", $"vec_id", $"sim", $"rank")
      .collect().map(_.toSeq).toSet == inline)

    // The probed-cell filter must reach the scan as a PARTITION filter:
    // the scan's selected partitions are the probed cells only (≤
    // nprobe × |probes| < the 8 cells on disk).
    // AQE hides scans behind AdaptiveSparkPlanExec / QueryStageExec
    // wrappers; descend through them.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(fileScans) ++
          other.subqueries.flatMap(fileScans)
    }
    val scans = fileScans(atRest.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val selected = scans.map(_.selectedPartitions.partitionCount).max
    val onDisk = new java.io.File(s"$idx/cells").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(selected <= 4 && selected < onDisk,
      s"expected pruned scan, read $selected of $onDisk cell partitions")
  }

  test("PQ index at rest: probe equals inline pqTopK; scan reads codes only") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val probes = vecs.filter($"vec_id" < 2)
    val idx = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    Similarity.pqBuildIndex(vecs, idx, m = 4, k = 8)
    val atRest = Similarity.pqProbeIndex(spark, idx, probes, kTop = 3)
    val inline = Similarity.pqTopK(vecs, probes, kTop = 3, m = 4, k = 8)
      .select($"probe_id", $"vec_id", $"adc", $"rank")
      .collect().map(_.toSeq).toSet
    assert(atRest.select($"probe_id", $"vec_id", $"adc", $"rank")
      .collect().map(_.toSeq).toSet == inline)
    // The code table holds ONLY (vec_id, codes) — embeddings are not
    // at rest in the index, so the ADC scan cannot read them.
    assert(spark.read.parquet(s"$idx/codes").columns.toSet ==
      Set("vec_id", "codes"))
  }

  test("IVFPQ at rest: nprobe=nlist equals pqTopK exactly; small nprobe prunes") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val probes = vecs.filter($"vec_id" < 2)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.ivfPqBuildIndex(vecs, idx, nlist = 8, m = 4, k = 8)

    // Probing every cell = the candidate set is the whole corpus, so
    // the ADC ranking must match the plain PQ search bit-for-bit.
    val exhaustive = Similarity.ivfPqProbeIndex(spark, idx, probes,
        kTop = 3, nprobe = 8)
      .select($"probe_id", $"vec_id", $"adc", $"rank")
      .collect().map(_.toSeq).toSet
    val pq = Similarity.pqTopK(vecs, probes, kTop = 3, m = 4, k = 8)
      .select($"probe_id", $"vec_id", $"adc", $"rank")
      .collect().map(_.toSeq).toSet
    assert(exhaustive == pq)

    // nprobe=2: at most 2 cells per probe reach the scan.
    val pruned = Similarity.ivfPqProbeIndex(spark, idx, probes,
      kTop = 3, nprobe = 2)
    pruned.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
    }
    val selected = fileScans(pruned.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount).max
    assert(selected <= 4, s"expected ≤4 probed cell partitions, read $selected")
  }

  test("bigramLikelihood: add-one smoothed terms match hand computation") {
    import spark.implicits._
    // doc 1: a b a b -> bigrams (a,b) (b,a) (a,b); doc 2: c c -> (c,c)
    // V = 3; cb: (a,b)=2 (b,a)=1 (c,c)=1; cp: a=2 b=1 c=1
    // doc 1 terms: (2+1)/(2+3)=0.6, (1+1)/(1+3)=0.5, 0.6 -> 1.7/3
    // doc 2 terms: (1+1)/(1+3)=0.5
    val out = TextAnalysis.bigramLikelihood(
        docs((1L, "a b a b"), (2L, "c c")), $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((3L, 0.566667)))
    assert(out(2L) == ((1L, 0.5)))
    // one-token docs have no bigrams and are absent
    val single = TextAnalysis.bigramLikelihood(
      docs((1L, "hello"), (2L, "a b")), $"doc_id", $"text")
    assert(single.select($"doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("ivfCellStats: counts cover the corpus, loads sum to nlist") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val st = Similarity.ivfCellStats(vecs, nlist = 8)
    val rows = st.collect()
    assert(rows.map(_.getLong(1)).sum == 200L)
    assert(rows.forall(_.getLong(1) >= 1L))
    val loadSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(loadSum - 8.0) < 1e-2, s"loads sum $loadSum != nlist")
  }

  test("recallAtK: identical inputs score 1.0; a dropped neighbor scores k-1/k") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val probes = vecs.filter($"vec_id" < 3L)
    val exact = Similarity.bruteTopK(vecs, probes, k = 4)

    val perfect = Similarity.recallAtK(exact, exact, k = 4)
      .select($"probe_id", $"n_hits", $"recall").collect()
    assert(perfect.length == 3)
    assert(perfect.forall(r => r.getLong(1) == 4L && r.getDouble(2) == 1.0))

    // Drop probe 0's rank-1 neighbor from the "approx" side.
    val top1 = exact.filter($"probe_id" === 0L && $"rank" === 1L)
      .select($"vec_id").as[Long].head()
    val approx = exact.filter(!($"probe_id" === 0L && $"vec_id" === top1))
    val scored = Similarity.recallAtK(exact, approx, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scored(0L) == 3L)
    assert(scored(1L) == 4L && scored(2L) == 4L)

    // Rows beyond rank k on either side are ignored: a k=10 approx
    // table scored at k=4 matches the k=4 ground truth exactly.
    val padded = Similarity.recallAtK(exact,
      Similarity.bruteTopK(vecs, probes, k = 10), k = 4)
    assert(padded.agg(min($"recall")).head().getDouble(0) == 1.0)
  }

  test("IVFPQ streaming serve: probe stream ADC answers match the batch probe") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpqserve").toString
    Similarity.ivfPqBuildIndex(vecs, idx, nlist = 4, m = 4, k = 8)

    val probes = vecs.filter($"vec_id" < 2L)
    val expected = Similarity.ivfPqProbeIndex(spark, idx, probes, kTop = 5, nprobe = 2)
      .select($"probe_id", $"vec_id", $"adc", $"rank")
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData(probes.as[(Long, Seq[Float])].collect().toSeq: _*)
    val out = java.nio.file.Files.createTempDirectory("graft-ivfpqserve-out").toString
    val q = Similarity.ivfPqStreamingServe(
      input.toDF.toDF("vec_id", "embedding"), idx, out,
      java.nio.file.Files.createTempDirectory("graft-ivfpqserve-ck").toString,
      kTop = 5, nprobe = 2)
    q.processAllAvailable()
    q.stop()

    val served = spark.read.parquet(out)
      .select($"probe_id", $"vec_id", $"adc", $"rank")
      .collect().map(_.toSeq).toSet
    assert(served == expected)
  }

  test("IVF streaming serve: probe stream answers match the batch probe") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfserve").toString
    Similarity.ivfBuildIndex(vecs, idx, nlist = 4)

    val probes = vecs.filter($"vec_id" < 3L)
    val expected = Similarity.ivfProbeIndex(spark, idx, probes, k = 5, nprobe = 2)
      .select($"probe_id", $"vec_id", $"sim", $"rank")
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData(probes.as[(Long, Seq[Float])].collect().toSeq: _*)
    val out = java.nio.file.Files.createTempDirectory("graft-ivfserve-out").toString
    val q = Similarity.ivfStreamingServe(
      input.toDF.toDF("vec_id", "embedding"), idx, out,
      java.nio.file.Files.createTempDirectory("graft-ivfserve-ck").toString,
      k = 5, nprobe = 2)
    q.processAllAvailable()
    q.stop()

    val served = spark.read.parquet(out)
      .select($"probe_id", $"vec_id", $"sim", $"rank")
      .collect().map(_.toSeq).toSet
    assert(served == expected)
  }

  test("IVFPQ streaming ingest: delta codes are probed, compact folds them") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 30L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpqstream").toString
    Similarity.ivfPqBuildIndex(vecs, idx, nlist = 4, m = 4, k = 8)

    val probeVec = vecs.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData((1000L, probeVec.map(_ * 2.0f)))
    val q = Similarity.ivfPqStreamingIngest(
      input.toDF.toDF("vec_id", "embedding"), idx,
      java.nio.file.Files.createTempDirectory("graft-ivfpqstream-ck").toString)
    q.processAllAvailable()
    q.stop()

    // Probing every cell with kTop = full corpus: the streamed row is
    // visible through the delta tier.
    def ids = Similarity.ivfPqProbeIndex(spark, idx,
        vecs.filter($"vec_id" === 0L), kTop = 30, nprobe = 4)
      .select($"vec_id").as[Long].collect().toSet
    assert(ids.contains(1000L), s"delta codes not probed: $ids")

    Similarity.ivfPqCompactIndex(spark, idx)
    assert(!new java.io.File(s"$idx/delta").exists())
    assert(ids.contains(1000L), "compacted IVFPQ index lost the delta rows")
  }

  test("IVF streaming ingest: delta tier is probed, compact folds it into base") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(13)
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfstream").toString
    Similarity.ivfBuildIndex(base, idx, nlist = 4)

    // Stream in a vector IDENTICAL to probe 0's direction (2× scale ⇒
    // cosine 1.0): it must land in probe 0's own cell and take rank 1.
    val probeVec = base.filter($"vec_id" === 0L)
      .select($"embedding").as[Seq[Float]].head()
    val input = MemoryStream[(Long, Seq[Float])](spark)
    input.addData((1000L, probeVec.map(_ * 2.0f)))
    val q = Similarity.ivfStreamingIngest(
      input.toDF.toDF("vec_id", "embedding"), idx,
      java.nio.file.Files.createTempDirectory("graft-ivfstream-ck").toString)
    q.processAllAvailable()
    q.stop()

    def top1 = Similarity.ivfProbeIndex(spark, idx,
        base.filter($"vec_id" === 0L), k = 1, nprobe = 1)
      .select($"vec_id", $"sim").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top1.toSeq == Seq((1000L, 1.0)), s"delta vector not probed: ${top1.toSeq}")

    // Compact: delta folds into base, results unchanged, delta gone.
    Similarity.ivfCompactIndex(spark, idx)
    assert(!new java.io.File(s"$idx/delta").exists())
    assert(top1.toSeq == Seq((1000L, 1.0)), "compacted index lost the delta rows")
  }

  test("cosinePairs finds exactly the pairs above threshold, ordered va < vb") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.cosinePairs(vecs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L))) // 0~2 orthogonal, 0~3 opposite
  }

  test("lshTopK multi-probe: recall vs brute force never drops, usually rises") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 10)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(Similarity.bruteTopK(emb, probes, 5))
    val single = hits(Similarity.lshTopK(emb, probes, 5, numPlanes = 8))
    val multi = hits(Similarity.lshTopK(emb, probes, 5, numPlanes = 8, multiProbe = true))
    // Multi-probe candidates are a superset of single-probe candidates,
    // so true-neighbor recall cannot drop.
    assert((single intersect brute).size <= (multi intersect brute).size)
    assert((multi intersect brute).size > (single intersect brute).size ||
      single == multi, "multi-probe changed nothing at 8 planes — suspicious")
  }

  test("lshNearDupPairs: subset of exact pairs, identical sims, near-full recall up high") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Similarity.cosinePairs(emb, 0.4))
    val lsh = pairs(Similarity.lshNearDupPairs(emb, 0.4))
    // Candidates are verified exactly: every LSH pair is an exact pair
    // with the SAME similarity; banding can only lose recall.
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, sim) => assert(sim == exact(k), s"pair $k") }
    assert(lsh.nonEmpty, "vacuous: no candidate survived banding")
    // High-similarity pairs (where near-dup matters) are recalled.
    val hi = exact.filter(_._2 >= 0.6).keySet
    val hiLsh = lsh.filter(_._2 >= 0.6).keySet
    assert(hi.isEmpty || hiLsh.size * 10 >= hi.size * 9,
      s"recall at >=0.6: ${hiLsh.size}/${hi.size}")
  }

  test("langIdFast agrees with the column-form langId, incl. shared stopwords") {
    import spark.implicits._
    val d = docs(
      (1L, "the cat and the dog of the house is to be seen"),
      (2L, "der Hund und die Katze ist das Haus"),
      (3L, "le chat et les chiens est une maison"),   // fr
      (4L, "wo zai shi de le"),                       // zh (shares 'le','de')
      (5L, "el perro y la casa es los gatos"),
      (6L, "the5 and5 of5 nothing matches boundaries"))
    val both = d.select(
      TextAnalysis.langId($"text").as("a"),
      TextAnalysis.langIdFast($"text").as("b")).collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("simhashes fast path: identical docs collide, unrelated differ") {
    import spark.implicits._
    val d = Dedup.simhashes(docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha  BETA gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")), $"doc_id", $"text")
    val m = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) > 6)
  }

  test("ngramIterator matches the ngramsAll column form") {
    // The retired column form, as a reference: [a-z]+ runs of the
    // lowercased text, n consecutive runs joined by one space.
    def ref(t: String, n: Int) = {
      val toks = "[a-z]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toSeq
      if (toks.length < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    val txt = "The cat5 sat, on the MAT the cat"
    assert(TextAnalysis.ngramIterator(txt, 2).toSeq == ref(txt, 2))
    assert(ref(txt, 2) == Seq("the cat", "cat sat", "sat on", "on the",
      "the mat", "mat the", "the cat"))
    assert(TextAnalysis.ngramIterator("one", 2).isEmpty)
  }

  test("tokenize matches the [a-z]+-over-lowercase reference, incl. U+0130") {
    // U+0130 (İ) fully lowercases to "i" + combining U+0307, so the
    // regex reference splits 'xİa' into ("xi", "a"); a bare
    // Character.toLowerCase would merge them into "xia".
    def ref(t: String) =
      "[a-z]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toSeq
    for (t <- Seq("xİa", "İİ", "The cat5 sat on the MAT", "Straße über",
        "déjà vu", "", "7", "İ"))
      assert(TextAnalysis.tokenize(t).toSeq == ref(t), s"input: $t")
  }

  test("winnowing: shared substrings of length >= k+w-1 share a fingerprint") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val k = 5; val w = 4
    def fps(t: String) = TextAnalysis.winnowFingerprints(md, t, k, w).toSet
    val core = "zqxjvkwpfy" // length 10 >= k+w-1 = 8: must yield a shared print
    val a = fps("aaaa bbbb " + core + " cccc dddd")
    val b = fps("eeee ffff " + core + " gggg hhhh")
    assert((a & b).nonEmpty, "winnowing guarantee violated")
    // unrelated docs share nothing
    val c = fps("mmmm nnnn oooo pppp qqqq rrrr")
    assert((a & c).isEmpty)
    // too-short docs produce no fingerprints
    assert(fps("abcdefg").isEmpty) // 7 chars < k+w-1
    assert(fps("abcdefgh").size == 1)
    // fingerprints are 63-bit (signed/unsigned min parity with SQL)
    assert(a.forall(_ >= 0L))
  }

  test("winnowing slices k-grams by codepoint: guarantee holds beyond the BMP") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val k = 5; val w = 4
    def fps(t: String) = TextAnalysis.winnowFingerprints(md, t, k, w).toSet
    // 10 CODEPOINTS of non-BMP emoji (20 UTF-16 code units): a code-unit
    // slicer would split surrogate pairs and hash replacement chars.
    val core = "😀😁😂🤣😃😄😅😆😇😈"
    assert(core.codePointCount(0, core.length) == 10)
    val a = fps("aaaa bbbb " + core + " cccc dddd")
    val b = fps("eeee ffff " + core + " gggg hhhh")
    assert((a & b).nonEmpty, "codepoint winnowing guarantee violated")
    // length gate counts codepoints, not code units: 7 codepoints < k+w-1
    assert(fps("😀😁😂🤣😃😄😅").isEmpty)
    assert(fps("😀😁😂🤣😃😄😅😆").size == 1)
  }

  test("lang/quality/fingerprint columns are deterministic and bounded") {
    import spark.implicits._
    val d = docs((1L, "the cat and the dog of the house is to be seen"))
      .select(
        TextAnalysis.langId($"text").as("lang"),
        TextAnalysis.qualityScore($"text").as("q"),
        TextAnalysis.fingerprint($"text").as("fp"))
      .collect().head
    assert(d.getString(0) == "en")
    assert(d.getDouble(1) >= 0.0 && d.getDouble(1) <= 1.0)
    assert(d.getString(2).length == 32)
    // fingerprint is whitespace/case-insensitive
    val fp2 = docs((2L, "  THE cat AND the dog OF the house IS to be seen "))
      .select(TextAnalysis.fingerprint($"text")).collect().head.getString(0)
    assert(d.getString(2) == fp2)
  }
}
