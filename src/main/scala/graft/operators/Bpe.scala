package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training and application, distributed
  * (Sennrich et al. 2016, word-token symbols): each round counts
  * adjacent symbol pairs corpus-wide, adopts the most frequent pair as
  * a merge, and rewrites every document's symbol stream greedily
  * left-to-right. The round structure is the same iterative shape as
  * k-means: per round ONE map-side-combined pair aggregation (only
  * (pair, count) rows shuffle — counts collapse to the pair vocabulary
  * pre-exchange), ONE 1-row argmax pull to the driver, and ONE narrow
  * rewrite map over the cached corpus — a codegen'd single-pass
  * kernel ([[graft.functions.BpeMergeOne]]; the Catalyst HOF fold it
  * replaced allocated a sequence+filter+transform chain per document
  * per round and its compounded codegen paid tens of seconds of JIT on
  * first execution). The rounds run through [[IterLoop.rounds]],
  * which rebases the corpus each round, so round r neither replays
  * rounds 1..r-1 nor analyses a plan one Project deeper per round.
  *
  * Merged symbols are space-joined token runs; original tokens are
  * `[a-z]+` so a merged symbol can never collide with a base token.
  *
  * Determinism: integer pair counts; argmax ties break lexicographically
  * on (left, right); the greedy left-to-right rewrite advances two
  * positions at a match (matches never overlap; `l == r` runs merge
  * pairwise from the left) — replayable exactly in DuckDB
  * (`list_reduce` over singleton lists, seeding the accumulator with
  * the first symbol).
  */
object Bpe {

  /** Greedy single-pair merge: one native kernel pass. */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.BpeMergeOne(ColumnBridge.expression(syms), l, r))
  }

  /** Adjacent symbol pairs of one document, as (l, r) structs. */
  private def pairsOf(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("l"),
          element_at(syms, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** Train `rounds` merges over the corpus; returns them in adoption
    * order: (r 1.., lhs, rhs, freq — the corpus-wide pair count at
    * adoption time). Stops early if no pair occurs twice.
    */
  def trainMerges(docs: DataFrame, id: Column, text: Column,
      rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds > 0, s"rounds must be positive, got $rounds")

    // Iterative-loop latency discipline (measured, round 10; see
    // IterLoop): the per-round pair table is VOCAB-bounded (931
    // distinct pairs on the sf0.1 corpus; vocab² worst case at any
    // scale), so the reduce side of the count is a few KB no matter
    // how big the corpus is, while map-side partial agg still
    // collapses counts to the pair vocabulary before the exchange.
    // IterLoop's fixed reduce width suits pair vocabularies up to
    // ~10 M; a web-scale early-round vocabulary would want
    // ~vocab²·16B/64MiB partitions.
    IterLoop.tinyReduce(spark) {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      // Round 1 tokenizes, round r > 1 applies merge r-1; each round's
      // argmax, its one corpus pass, picks merge r from the rebased frame.
      val (last, _) = IterLoop.rounds("bpe",
          docs.select(id.cast("long").as("doc_id"), text.as("text")), rounds) { (cur, r) =>
        if (r == 1)
          cur.select(col("doc_id"), TextAnalysis.wordTokens(col("text")).as("syms"))
            .filter(size(col("syms")) >= 2)
        else {
          val (_, l, rr, _) = merges.last
          cur.withColumn("syms", applyMerge(col("syms"), l, rr))
        }
      } { (corpus, _, r) =>
        val best = corpus
          .select(explode(pairsOf(col("syms"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2) // a singleton pair is not a vocab merge
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
          .as[(String, String, Long)].collect()
        best.foreach { case (l, rr, cnt) => merges += ((r, l, rr, cnt)) }
        best.isEmpty
      }
      last.unpersist()
      spark.createDataFrame(merges.toSeq).toDF("r", "lhs", "rhs", "freq")
        .select(col("r").cast("int").as("r"), col("lhs"), col("rhs"),
          col("freq"))
    }
  }

  /** Apply an ordered merge list to the corpus (the serving pass:
    * train once, encode everywhere); per-doc compression report
    * (doc_id, n_base, n_bpe, ratio). ONE narrow Project, no shuffle at
    * any scale: the whole merge list rides a single fused kernel call
    * ([[graft.functions.BpeEncodeLen]] — one reusable buffer per
    * document, merge layers applied in place). The per-merge Project
    * chain this replaced was correct but compounded: ~7 array HOF
    * expressions per layer meant 10 layers of codegen whose first
    * execution JIT'd for tens of seconds, and every layer materialized
    * an intermediate symbol array per document.
    */
  def encodeStats(docs: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val base = docs.select(id.cast("long").as("doc_id"),
      TextAnalysis.wordTokens(text).as("syms"))
    base.select(col("doc_id"), size(col("syms")).cast("long").as("n_base"),
        ColumnBridge.column(graft.functions.BpeEncodeLen(
          ColumnBridge.expression(col("syms")), merges))
          .cast("long").as("n_bpe"))
      .withColumn("ratio",
        when(col("n_base") > 0,
          Curation.floorRound6(col("n_bpe").cast("double") / col("n_base")))
          .otherwise(lit(1.0)))
  }
}
