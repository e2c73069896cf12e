package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative degree peeling: repeatedly drop
  * vertices of degree < k until the remaining subgraph is a k-core
  * (every survivor has ≥ k neighbors among survivors). The standard
  * graph-density filter — spam/bot subgraph mining, community cores,
  * pruning low-connectivity nodes before expensive graph ML.
  *
  * Scale design: each peel round is one degree aggregation (hash
  * exchange on vertex id, map-side partial count) plus two semi-joins
  * re-filtering the cached edge list — work ∝ |E| per round with NO
  * quadratic step and no driver-side graph. Vertex degrees never
  * materialize globally; the only driver value is the surviving-edge
  * count used for convergence. Rounds are bounded by `maxRounds`
  * (peeling converges in O(peel-depth) rounds, typically < 10 on
  * power-law graphs). Each round's count materializes the filtered
  * edge list, so no round recomputes an earlier one; the rounds run
  * through [[IterLoop.rounds]], which rebases the edge list, so the
  * plan stays one leaf instead of tripling per round.
  *
  * Determinism: degree thresholds are integer comparisons on exact
  * counts — the fixpoint is unique (the k-core is a well-defined
  * subgraph independent of peel order), and a converged early stop
  * returns the same rows as running all `maxRounds` rounds, which is
  * what the unrolled SQL oracle replays.
  */
object KCore {

  /** Surviving (node, deg) rows of the k-core after at most
    * `maxRounds` peel rounds over the undirected graph given as a
    * DIRECTED edge list (pass both orientations for undirected
    * semantics, as [[Bfs.distances]] does). `deg` is the degree
    * within the surviving subgraph after the final round.
    */
  def core(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // |e| of the round's input, carried from the previous round's count.
    var n = 0L
    val (e, _) = IterLoop.rounds("kcore", edges
      .selectExpr("cast(src as long) as src", "cast(dst as long) as dst")
      // Self-loops and duplicate edge rows inflate degrees (a vertex
      // could sit in the reported core on loop-degree alone) — drop
      // and dedupe up front, as Triangles does.
      .filter(col("src") =!= col("dst"))
      .distinct(), maxRounds) { (e, round) =>
      // Round 1 counts the deduped edge list first, which also
      // materializes it before the round's plan reads it three times.
      if (round == 1) n = e.count()
      val keep = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      e.join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    } { (pruned, _, _) =>
      val m = pruned.count()
      val same = m == n
      n = m
      same
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k) // final-round degrees can dip below k
  }
}
