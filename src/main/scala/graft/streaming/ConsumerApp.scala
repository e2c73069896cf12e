package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Consumer-application surface (SURVEY §2.5 A1-A2).
  *
  * The reference's transaction loop — read/consume until stall, finalize,
  * commit checkpoint with state, acknowledge
  * (`/root/reference/consumer/transaction.go:22-90`) — IS Structured
  * Streaming's micro-batch cycle: trigger ≈ txn duration bounds, offset +
  * commit logs + state store ≈ the checkpoint, sink idempotence ≈ ACKs.
  * This wrapper therefore only binds the application callbacks
  * (`consumer/interfaces.go:232-303`) to `flatMapGroupsWithState`; there
  * is no custom loop to write.
  */
object ConsumerApp {

  /** Keyed stateful processing: per key, `consume` folds a batch of
    * messages into state and emits outputs. Works identically over batch
    * and streaming Datasets (Spark's unified API); in streaming, state
    * lives in the checkpointed state store (the recovery-log replacement,
    * SURVEY §2.6 ST5).
    */
  def keyedStateful[M, K: Encoder, S: Encoder, O: Encoder](
      msgs: Dataset[M], key: M => K, init: S,
      idleTtl: Option[java.time.Duration] = None)(
      consume: (K, Seq[M], S) => (S, Seq[O])): Dataset[O] = {

    val grouped = msgs.groupByKey(key)(implicitly[Encoder[K]])
    if (msgs.isStreaming) {
      // idleTtl bounds state for keys that stop arriving (finalized
      // stream ids, retired bikes): without it every key ever seen
      // holds its state forever — Sequencer.sequenceStream wires the
      // same TTL for the same reason. None keeps the legacy unbounded
      // behavior for apps whose key space is genuinely small.
      val timeout = if (idleTtl.isDefined)
        GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
      grouped.flatMapGroupsWithState[S, O](
        OutputMode.Append(), timeout) {
        (k: K, it: Iterator[M], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val s0 = state.getOption.getOrElse(init)
            val (s1, out) = consume(k, it.toSeq, s0)
            state.update(s1)
            idleTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
            out.iterator
          }
      }
    } else {
      grouped.flatMapGroups { (k: K, it: Iterator[M]) =>
        consume(k, it.toSeq, init)._2.iterator
      }
    }
  }

  /** Read-your-writes barrier — the engine's analog of the consumer
    * `Stat` RPC with `read_through` offsets (consumer/shard_api.go:24-51,
    * consumer/protocol/protocol.proto:383-427): block until `query` has
    * COMMITTED a micro-batch whose journal-source offset reaches
    * `throughOffset` (default: the journal's current head, i.e. "my
    * writes so far"). Unlike `processAllAvailable()` (drain everything,
    * forever-growing under live writers), this releases as soon as the
    * target offset is read — the `publish_at`/`read_through` composition
    * pattern across chained pipelines. Returns false on timeout.
    *
    * Reads the committed offset from query progress — works with the
    * DSv2 `journal` source (offset shape `{"head":N}`). In a
    * multi-source query, only sources
    * whose progress description names this journal (`journal:<name>`)
    * are consulted — another journal's larger head can't release the
    * barrier early.
    */
  def readThrough(query: org.apache.spark.sql.streaming.StreamingQuery,
      root: String, journal: String,
      throughOffset: Long = -1L, timeoutMs: Long = 60000L): Boolean = {
    val target =
      if (throughOffset >= 0) throughOffset
      else graft.sources.Journal.head(root, journal)
    // Nothing to read through (empty journal / zero offset): trivially
    // satisfied — waiting on the first progress event here would burn
    // the whole timeout and return false.
    if (target <= 0L) return true
    val headRe = """\{"head":(\d+)\}""".r
    def committedHead: Long = {
      val p = query.lastProgress
      if (p == null) -1L
      else {
        // Exact match: a substring test would let journal 't/a' match
        // a 't/ab' source's description and release the barrier early.
        val named = p.sources.filter(s =>
          Option(s.description).contains(s"journal:$journal"))
        // Single-source queries may predate the description tag; fall
        // back to shape-matching every source only when nothing names
        // this journal and there is exactly one source.
        val pool =
          if (named.nonEmpty) named
          else if (p.sources.length == 1) p.sources
          else Array.empty[org.apache.spark.sql.streaming.SourceProgress]
        pool.iterator.flatMap { s =>
          Option(s.endOffset).collect { case headRe(h) => h.toLong }
        }.foldLeft(-1L)(math.max)
      }
    }
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var reached = committedHead >= target
    while (!reached && query.isActive && System.nanoTime() < deadline) {
      Thread.sleep(50)
      reached = committedHead >= target
    }
    reached
  }
}
