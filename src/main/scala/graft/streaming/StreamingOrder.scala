package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Append-only training-order assignment over a document STREAM: each
  * arriving doc gets a dense, never-reused (shard, pos) — the online
  * counterpart of [[graft.operators.EpochShuffle]]. A batch epoch
  * re-deals the whole corpus per epoch; a stream cannot (yesterday's
  * positions are already consumed by the trainer), so the contract
  * here is APPEND-ONLY: within a micro-batch, docs distribute to
  * shards and order by the same md5 conventions as EpochShuffle
  * (the s:/o: key family), and each shard's position counter
  * continues from the state store across batches AND restarts
  * (checkpoint recovery resumes the counter — no gaps, no reuse).
  * Cross-batch arrival order is the source's contract, exactly as in
  * [[Sequencer.sequenceStream]].
  *
  * Scale shape: one groupByKey(shard) exchange per micro-batch; state
  * is ONE long per shard. Each group sorts only its micro-batch slice
  * (bounded by source admission control, e.g. `maxBytesPerTrigger`),
  * never the corpus.
  */
object StreamingOrder {

  /** (shard, pos, doc_id) stream; `id` values must be unique across
    * the stream's lifetime (they are the document identity — a re-sent
    * id would receive a second position, it is not deduplicated here;
    * chain [[StreamingDedup]] upstream for that). Null ids drop: a
    * null would NPE the primitive-tuple encoder and poison-pill the
    * query (every checkpoint-recovery replay of the batch fails the
    * same way), where a skipped row is just a skipped row.
    */
  def assign(docs: DataFrame, id: Column, seed: String,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.EpochShuffle
    docs.select(id.cast("long").as("doc_id"))
      .filter(col("doc_id").isNotNull)
      .withColumn("shard", EpochShuffle.shardOf(col("doc_id"), seed, shards))
      .withColumn("okey", EpochShuffle.orderKeyOf(col("doc_id"), seed))
      .as[(Long, Int, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Int, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[Long]) =>
          // Sort the micro-batch slice by the seeded key and assign
          // positions from the shard's counter.
          var next = state.getOption.getOrElse(0L)
          val out = rows.toVector.sortBy(r => (r._3, r._1))
            .map { case (d, _, _) => val r = (shard, next, d); next += 1; r }
          state.update(next)
          out.iterator
      }
      .toDF("shard", "pos", "doc_id")
  }
}
