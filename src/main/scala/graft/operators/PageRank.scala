package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous PageRank in fixed-point (long) arithmetic.
  *
  * Floating-point PageRank is NOT reproducible on a cluster: the
  * per-vertex Σ of double contributions depends on partition visit
  * order. Scaling ranks to integer "nano-ranks" (×1e9) makes every
  * step — integer division by degree, long summation, the damping
  * blend — exact and order-independent, so the same graph gives the
  * same bits on 1 core or 1000 executors, and an external SQL engine
  * can replay the iterations verbatim:
  *
  *   R0(v)  = S div N
  *   out(u) = R(u) div outdeg(u)
  *   R'(v)  = (15·(S div N)) div 100 + (85·Σ_{u→v} out(u)) div 100
  *
  * (damping 0.85 as the published constant; truncation loses ≤1 nano
  * per division, deterministically.)
  *
  * Scale shape per iteration: one shuffle join of edges⋈outflow on
  * src + one groupBy dst — both hash exchanges on vertex ids. The
  * ranks table carries deg, so the outflow r div deg is a projection,
  * not a join (r12; the old shape paid a deg⋈ranks join per
  * iteration). The plan grows linearly with iterations; a deep run
  * that must bound it runs its iterations through [[IterLoop.rounds]],
  * which rebases `ranks` each round.
  */
object PageRank {

  val Scale = 1000000000L

  /** Ranks after `iters` iterations. `edges` = (src, dst), distinct;
    * every vertex must appear as a src (no dangling sinks) — true for
    * any bidirectionalized graph.
    */
  def ranksFixedPoint(edges: DataFrame, iters: Int): DataFrame = {
    // Cache the edge list and the (small) degree table once: the whole
    // computation then makes exactly ONE pass over the base data, and
    // each iteration touches only |V|-sized rank/degree tables plus the
    // cached edges. Computing per-vertex outflow BEFORE joining edges
    // keeps the big join's probe side |V|-sized (broadcastable under
    // AQE) instead of carrying degree alongside every edge row.
    val e = edges.selectExpr("cast(src as long) as src", "cast(dst as long) as dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count() // materializes e (the one base pass) and deg
    require(n > 0, "empty graph")
    val r0 = Scale / n
    val base = 15 * r0 / 100

    // The ranks table CARRIES deg (r12): the per-iteration outflow
    // r div deg is then a pure projection instead of a deg⋈ranks join
    // — one fewer |V|⋈|V| join (and its exchange) per iteration. deg
    // re-attaches for free on the right-outer join below, which the
    // full-vertex-set restore needs anyway.
    var ranks = deg.select(col("src").as("node"), lit(r0).as("r"), col("deg"))
    for (_ <- 1 to iters) {
      val outflow = ranks.selectExpr("node as src", "r div deg as c")
      // Right-join back to the FULL vertex set: groupBy(dst) alone
      // would silently drop a vertex with out-edges but no in-edges
      // (legal under the stated precondition) — it would vanish from
      // the output AND its outflow from every later round. Such a
      // vertex receives no inflow: rank = base. On a bidirectionalized
      // graph every vertex is also a dst, so the join is a no-op.
      ranks = e.join(outflow, "src")
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .join(deg.select(col("src").as("dst"), col("deg")), Seq("dst"), "right_outer")
        .selectExpr("dst as node", s"$base + (85 * coalesce(s, 0)) div 100 as r", "deg")
    }
    ranks.select(col("node"), col("r"))
  }
}
