package graft.operators

import graft.SparkSpec

class BfsSpec extends SparkSpec {

  private def distFrame(edges: Seq[(Long, Long)], seeds: Seq[Long], hops: Int) = {
    import spark.implicits._
    Bfs.distances(edges.toDF("src", "dst"), seeds.toDF("node"), hops)
  }

  private def dists(edges: Seq[(Long, Long)], seeds: Seq[Long],
                    hops: Int): Map[Long, Int] = {
    import spark.implicits._
    distFrame(edges, seeds, hops).as[(Long, Int)].collect().toMap
  }

  test("single-source path graph: layered distances, horizon respected") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(dists(path, Seq(1L), 3) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // hop 0: seeds only.
    assert(dists(path, Seq(1L), 0) == Map(1L -> 0))
  }

  test("shortest distance wins when paths of different length exist") {
    // 1→2→3→4 and the shortcut 1→4: dist(4) must be 1, not 3.
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(dists(g, Seq(1L), 3) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1))
  }

  test("multi-source: nearest seed determines the layer; cycles terminate") {
    // Cycle 1→2→3→1 plus seeds at both 1 and 3.
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(dists(g, Seq(1L, 3L), 5) == Map(1L -> 0, 3L -> 0, 2L -> 1))
  }

  test("early drain stops before the horizon; disconnected nodes absent") {
    val g = Seq((1L, 2L), (10L, 11L))
    // Frontier drains after hop 1; node 10/11 unreachable from 1.
    assert(dists(g, Seq(1L), 100) == Map(1L -> 0, 2L -> 1))
  }

  test("matches brute-force BFS on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val seeds = Seq(0L, 1L)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var ref = seeds.map(_ -> 0).toMap
    var frontier = seeds
    for (h <- 1 to 3) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .distinct.filterNot(ref.contains)
      ref = ref ++ next.map(_ -> h)
      frontier = next
    }
    assert(dists(edges, seeds, 3) == ref)
  }

  test("12 hops down a 41-vertex path keep the plan as small as 3 hops") {
    val path = (0L to 40L).sliding(2).map(w => (w(0), w(1))).toSeq
    assert(dists(path, Seq(0L), 12) == (0 to 12).map(i => i.toLong -> i).toMap)
    def planNodes(hops: Int): Int =
      distFrame(path, Seq(0L), hops).queryExecution.logical.collect { case p => p }.size
    assert(planNodes(12) == planNodes(3))
  }
}
