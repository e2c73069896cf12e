package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** Embedding clustering + cluster-scoped semantic dedup.
  *
  * `kmeansAssign` is deterministic Lloyd's k-means: centroids start as an
  * md5-ordered corpus sample (the IVF/PQ seeding trick — replayable in
  * ANSI SQL), then `updates` rounds of (element-wise mean → re-assign).
  * `semanticDupPairs` is the SemDeDup shape (Abbas et al., 2023): compare
  * embeddings only WITHIN a cluster, so near-dup search costs
  * Σ|cell|²/2 instead of n²/2.
  *
  * Scale design (100 TB):
  *  - each iteration is one broadcast of k·dim doubles + one map-side
  *    combined aggregation (k·dim longs per partition cross the wire —
  *    not rows); the corpus is scanned once per round from cache.
  *  - assignment is a narrow map; the only shuffle is the k-row mean agg.
  *  - within-cell pair generation shuffles on `cell`, and cells are
  *    ~n/k rows: quadratic work is paid per-cell, in parallel.
  *
  * Determinism contract (what makes the DuckDB oracle hash-match):
  *  - distances accumulate in double in index order on both sides;
  *  - centroid means sum pre-rounded micro-units exactly (order-free),
  *    divide once in double (see [[VecMean]]);
  *  - argmin ties break to the lower cell id.
  */
object Clustering {

  object VecMean {
    case class Buf(sums: Seq[Long], n: Long)
  }

  /** Element-wise mean with order-independent accumulation. Inputs MUST
    * be pre-rounded to 6 decimals (use Spark's `round` so the rounding
    * mode is the engine's own); each element is scaled to an exact
    * micro-unit long, summed exactly (no float-order sensitivity across
    * partitions/merge order), and divided once at finish — bit-identical
    * to `CAST(sum(CAST(round(x,6) AS DECIMAL(18,6))) AS DOUBLE)/count(*)`
    * in SQL. Long sums overflow at ~9e12 micro-units per element, i.e.
    * ~9e6 rows of unit-scale values per cell — cells bigger than that
    * need a DECIMAL(38) buffer, not doubles.
    */
  class VecMean extends Aggregator[Seq[Double], VecMean.Buf, Seq[Double]] {
    def zero: VecMean.Buf = VecMean.Buf(Nil, 0L)

    private def toMicros(v: Seq[Double]): Seq[Long] =
      v.map(x => math.round(x * 1e6))

    def reduce(b: VecMean.Buf, v: Seq[Double]): VecMean.Buf =
      if (b.n == 0) VecMean.Buf(toMicros(v), 1L)
      else {
        val m = toMicros(v)
        require(m.length == b.sums.length,
          s"vector length mismatch: ${m.length} vs ${b.sums.length}")
        VecMean.Buf(b.sums.zip(m).map { case (a, x) => a + x }, b.n + 1)
      }

    def merge(x: VecMean.Buf, y: VecMean.Buf): VecMean.Buf =
      if (x.n == 0) y
      else if (y.n == 0) x
      else {
        // Same guard as reduce: zip would silently TRUNCATE to the
        // shorter buffer on a cross-partition dim mismatch (e.g. a
        // ragged corpus whose partitions are internally consistent),
        // yielding a wrong-length centroid instead of a loud failure.
        require(x.sums.length == y.sums.length,
          s"vector length mismatch across partitions: ${x.sums.length} vs ${y.sums.length}")
        VecMean.Buf(x.sums.zip(y.sums).map { case (a, b) => a + b }, x.n + y.n)
      }

    def finish(b: VecMean.Buf): Seq[Double] =
      b.sums.map(s => (s.toDouble / 1e6) / b.n)

    def bufferEncoder: Encoder[VecMean.Buf] = Encoders.product[VecMean.Buf]
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** Squared euclidean distance, double accumulation in index order. */
  private def sqDist(v: Seq[Float], c: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < c.length) {
      val x = v(i).toDouble - c(i)
      d += x * x
      i += 1
    }
    d
  }

  /** (vec_id, embedding, rv, cell) after `updates` Lloyd's rounds from an
    * md5-ordered k-sample init. `updates = 0` is plain coarse
    * quantization (IVF assignment). The returned frame is CACHED and
    * the internal base cache released — callers done with the
    * assignment `unpersist()` the result (returning a bare Project
    * over the internal cache would leave it unreleasable: Dataset
    * .unpersist only drops plans sameResult with its own, the
    * EpochShuffle.order lesson).
    */
  def kmeansAssign(emb: DataFrame, k: Int, updates: Int,
      seed: String = "km42"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(updates >= 0, s"updates must be >= 0, got $updates")
    val spark = emb.sparkSession
    import spark.implicits._

    val init: Array[(Int, Array[Double])] = emb
      .select(col("vec_id"), col("embedding"))
      .orderBy(md5(concat(lit(seed), col("vec_id").cast("string"))).asc,
        col("vec_id").asc)
      .limit(k).as[(Long, Array[Float])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i, v.map(_.toDouble)) }

    // rv: the engine's own round(x, 6) — the mean aggregation consumes
    // pre-rounded values so its fixed-point sums are exact (VecMean doc).
    val base = emb.select(col("vec_id"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("rv", transform(col("embedding"), x => graft.operators.Curation.floorRound(x.cast("double"), 6)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def assign(cents: Array[(Int, Array[Double])]): Column = {
      val bc = spark.sparkContext.broadcast(cents)
      val f = udf { v: Seq[Float] =>
        val cs = bc.value
        var best = -1
        var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) { // ci-ascending: strict < ties to lower id
          val d = sqDist(v, cs(i)._2)
          if (d < bestD) { bestD = d; best = cs(i)._1 }
          i += 1
        }
        best
      }
      f(col("embedding"))
    }

    val meanAgg = udaf(new VecMean, ExpressionEncoder[Seq[Double]]())
    var cents = init
    var out = base.withColumn("cell", assign(cents))
    // Per-update reduce is K-BOUNDED (k centroid rows of k·dim
    // doubles) while the assign map side is untouched — the IterLoop
    // latency discipline applies (vocab-bounded argument, measured on
    // the BPE trainer; PERF.md round-10).
    IterLoop.tinyReduce(spark) {
      var r = 0
      while (r < updates) {
        // k rows of k·dim doubles to the driver: the per-round sync
        // point. Empty cells drop out (no members ⇒ no row), as in
        // the SQL form.
        cents = out.groupBy(col("cell")).agg(meanAgg(col("rv")).as("c"))
          .as[(Int, Seq[Double])].collect()
          .sortBy(_._1).map { case (ci, c) => (ci, c.toArray) }
        out = base.withColumn("cell", assign(cents))
        r += 1
      }
    }
    val res = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    res.count()
    base.unpersist()
    res
  }

  /** Gonzalez (1985) greedy k-center selection — the coreset /
    * diverse-subset primitive of embedding-based data curation (e.g.
    * facility-location pruning): seed with the lowest vec_id, then
    * repeatedly add the point FARTHEST (cosine distance) from every
    * center chosen so far. The selection distances are a non-increasing
    * sequence that doubles as a diversity profile of the corpus, and the
    * chosen set 2-approximates the optimal k-center cover.
    *
    * Scale design (100 TB): per round, ONE narrow `least(md, dist-to-
    * newest-center)` map over the cached corpus (the center is a plan
    * literal — codegen'd fused cosine, no UDF, no shuffle) and ONE
    * 1-row argmax pull to the driver (`orderBy.limit(1)` = per-partition
    * top-1 then a k-way merge — never a sort of the corpus). State on
    * the driver is k rows total. The rounds run through
    * [[IterLoop.rounds]], which rebases the md column each round, so
    * round r neither replays rounds 1..r-1 nor analyses a plan that
    * grows by one Project per round.
    *
    * Determinism: dist = round(1 − round(cos, 6), 6); argmax ties break
    * to the lowest vec_id; already-chosen ids are excluded by id (not
    * by md = 0, which an exact-duplicate embedding could also hit). The
    * seed row reports sel_dist = 2.0, the cosine-distance diameter
    * bound ("infinitely far"), keeping the column non-null.
    *
    * @return (r 1..k, vec_id, sel_dist) — the selection round, chosen
    *         point, and its min distance to prior centers at selection.
    */
  def kcenterGreedy(emb: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = emb.sparkSession
    import spark.implicits._

    def distTo(center: Array[Float]): Column = {
      val c = array(center.map(x => lit(x)): _*)
      graft.operators.Curation.floorRound(lit(1.0) -
        graft.operators.Curation.floorRound(
          Similarity.cosineFused(col("embedding"), c), 6), 6)
    }

    val base = emb.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = base.orderBy(col("vec_id").asc).limit(1)
      .as[(Long, Array[Float])].collect()
    require(seed.nonEmpty, "kcenterGreedy: empty input")
    val chosen = scala.collection.mutable.ArrayBuffer(
      (1, seed(0)._1, 2.0))
    var newest = seed(0)._2
    // Round r folds center r into md (round 1's NULL md takes the seed's
    // distance as is: least skips NULL) and its argmax picks center r+1.
    val (last, _) = IterLoop.rounds("kcenter",
        base.withColumn("md", lit(null).cast("double")), k - 1) { (cur, _) =>
      cur.withColumn("md", least(col("md"), distTo(newest)))
    } { (next, _, r) =>
      val best = next.filter(!col("vec_id").isin(chosen.map(_._2).toSeq: _*))
        .orderBy(col("md").desc, col("vec_id").asc).limit(1)
        .as[(Long, Array[Float], Double)].collect()
      best.foreach { case (id, v, d) => chosen += ((r + 1, id, d)); newest = v }
      best.isEmpty // fewer than k points
    }
    last.unpersist()
    base.unpersist()
    spark.createDataFrame(chosen.toSeq).toDF("r", "vec_id", "sel_dist")
      .select(col("r").cast("int").as("r"), col("vec_id"), col("sel_dist"))
  }

  /** Within-cluster near-duplicate pairs: (va < vb, cell, sim) with
    * cosine >= threshold, compared only inside each cell of `assigned`
    * (the output of [[kmeansAssign]]). Misses only cross-cell dups —
    * the SemDeDup trade: k controls the recall/cost balance.
    */
  def semanticDupPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("va"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("vb"),
      col("embedding").as("eb"))
    a.join(b, Seq("cell")).filter(col("va") < col("vb"))
      .select(col("cell"), col("va"), col("vb"),
        Similarity.cosineFused(col("ea"), col("eb")).as("c"))
      .filter(col("c") >= threshold - 1e-6) // margin > half-ulp of round(·,6)
      .select(col("cell"), col("va"), col("vb"), graft.operators.Curation.floorRound(col("c"), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
