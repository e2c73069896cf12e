package graft.operators

import graft.SparkSpec

class KCoreSpec extends SparkSpec {

  private def coreFrame(undirected: Seq[(Long, Long)], k: Int,
                        rounds: Int) = {
    import spark.implicits._
    val e = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    KCore.core(e, k, rounds)
  }

  /** Run KCore over an undirected edge list (expands both
    * orientations, as the gate query does) and return node → degree.
    */
  private def core(undirected: Seq[(Long, Long)], k: Int,
                   rounds: Int = 10): Map[Long, Long] = {
    import spark.implicits._
    coreFrame(undirected, k, rounds).as[(Long, Long)].collect().toMap
  }

  /** Reference peeling on the driver: repeatedly drop nodes with
    * degree < k until stable; return surviving node → degree and the
    * number of rounds that dropped something.
    */
  private def peel(undirected: Seq[(Long, Long)], k: Int): (Map[Long, Long], Int) = {
    var edges = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    var changed = true
    var depth = 0
    while (changed) {
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != edges.size
      if (changed) depth += 1
      edges = next
    }
    (edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap, depth)
  }

  private def brute(undirected: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    peel(undirected, k)._1

  private def planNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.collect { case p => p }.size

  test("clique survives at k = size-1; pendant chain is peeled") {
    // K5 on 1..5, plus a tail 5-6-7: the tail never has degree >= 4.
    val clique = for {
      a <- 1L to 5L; b <- (a + 1) to 5L
    } yield (a, b)
    val g = clique ++ Seq((5L, 6L), (6L, 7L))
    assert(core(g, 4) == Map(1L -> 4, 2L -> 4, 3L -> 4, 4L -> 4, 5L -> 4))
    // k = 5: nothing has degree 5 after the tail peels; empty core.
    assert(core(g, 5) == Map.empty)
  }

  test("cascading peel: removing one low-degree node re-exposes others") {
    // Path 1-2-3-4: every node eventually drops below k=2 as the
    // endpoints peel inward — the 2-core of a tree is empty.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(core(path, 2) == Map.empty)
    // A 4-cycle is its own 2-core.
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(core(cyc, 2) == Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 2))
  }

  test("k = 1 drops only isolated orientations; degrees reported in-core") {
    // Triangle with a pendant: 1-core keeps everything (all deg >= 1),
    // and reported degrees are within the surviving subgraph.
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(core(g, 1) == Map(1L -> 2, 2L -> 2, 3L -> 3, 4L -> 1))
  }

  test("maxRounds truncation still returns a valid >= k subgraph") {
    // Long chain into a triangle needs many rounds to fully peel the
    // chain at k=2; with maxRounds=1 only one layer peels, but the
    // final filter still enforces deg >= k on what is returned.
    val chain = (1L to 6L).sliding(2).map(w => (w(0), w(1))).toSeq
    val tri = Seq((6L, 7L), (7L, 8L), (8L, 6L))
    val out = core(chain ++ tri, 2, rounds = 1)
    assert(out.values.forall(_ >= 2L))
    // With enough rounds it converges to exactly the triangle.
    assert(core(chain ++ tri, 2) == Map(6L -> 2, 7L -> 2, 8L -> 2))
  }

  test("matches reference peeling on a random graph for several k") {
    val rnd = new scala.util.Random(11)
    val g = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    for (k <- Seq(2, 3, 4)) {
      assert(core(g, k, rounds = 40) == brute(g, k), s"k=$k")
    }
  }

  test("deep peel: 14 rounds over a tail keep the plan as small as 2 rounds") {
    // K5 on 1..5 with the tail 5-6-...-19: at k=2 the tail's free end
    // peels one vertex per round, 14 rounds before the clique stands.
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val g = clique ++ (5L to 19L).sliding(2).map(w => (w(0), w(1)))
    assert(peel(g, 2)._2 == 14)
    val expect = (1L to 5L).map(_ -> 4L).toMap
    assert(brute(g, 2) == expect)
    assert(core(g, 2, rounds = 20) == expect)
    assert(planNodes(coreFrame(g, 2, 20)) == planNodes(coreFrame(g, 2, 2)))
  }

  test("random graph of 200 vertices and 450 edges needs all 6 rounds at k=4") {
    // Ids skewed toward 0 give a dense core under a long peel.
    val rnd = new scala.util.Random(16)
    val es = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    while (es.size < 450) {
      val a = rnd.nextInt(200)
      val b = rnd.nextInt(rnd.nextInt(200) + 1)
      if (a != b) es += ((math.min(a, b).toLong, math.max(a, b).toLong))
    }
    val g = es.toSeq
    val (expect, depth) = peel(g, 4)
    assert(depth == 6)
    assert(expect.nonEmpty)
    assert(core(g, 4, rounds = 6) == expect)
  }
}
