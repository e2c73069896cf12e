package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Read-uncommitted → read-committed sequencing: the engine's one genuinely
  * custom stateful operator (SURVEY §2.4 E4-E6).
  *
  * Semantics derived from `/root/reference/message/sequencer.go:158-338`:
  * per (journal, producer), envelopes arrive in offset order carrying a
  * monotonic clock and txn flags:
  *  - OUTSIDE_TXN: committed immediately unless clock <= lastAck (dup);
  *    clobbers any partial CONTINUE span (effective rollback).
  *  - CONTINUE_TXN: buffered; duplicates (clock <= span max) and
  *    already-acked (clock <= lastAck) messages are dropped.
  *  - ACK_TXN with clock > lastAck: commits the buffered span *through*
  *    the ACK clock — buffered messages with larger clocks are dropped —
  *    then emits the ACK envelope itself.
  *  - ACK_TXN with clock <= lastAck: rollback; lastAck resets to the ACK
  *    clock (an earlier clock means an upstream checkpoint regression:
  *    exactly-once degrades to at-least-once, as in uuid.go:148-163).
  *  - zero clock: bypass — committed immediately, state untouched.
  *
  * The reference bounds its ring buffer and re-reads the journal when a
  * span is evicted (sequencer.go:344-483). In Spark the buffered span
  * lives in the state store (RocksDB-backed, checkpointed, effectively
  * unbounded) so the replay path is structurally unnecessary; producer
  * pruning (E6) maps to state timeouts.
  *
  * Clock comparisons are unsigned (clocks are uint64 in the reference).
  */
object Sequencer {

  final val OutsideTxn = 0
  final val ContinueTxn = 1
  final val AckTxn = 2

  /** One framed message with sequencing metadata. `producer` is the hex
    * producer id; `payload` is the framed body (opaque here).
    */
  case class SeqEnvelope(
      journal: String, begin: Long, end: Long,
      producer: String, clock: Long, flags: Int, payload: String)

  case class Buffered(begin: Long, end: Long, clock: Long, payload: String)

  /** Producer state: `minClock` is the exclusive floor (last ACK),
    * `maxClock` the span's running max, `begin` the span's first offset
    * (-1 when no span). `begin` is not read by the commit path — each
    * Buffered entry carries its own offsets — but is kept as span
    * diagnostic state (mirroring the reference's sequencer model,
    * message/sequencer.go): a state-store dump shows where each open
    * span starts, at 8 bytes per producer.
    */
  case class SeqState(
      minClock: Long, maxClock: Long, begin: Long, buffered: Vector[Buffered])

  val initialState: SeqState = SeqState(0L, 0L, -1L, Vector.empty)

  private def lte(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) <= 0
  private def lt(a: Long, b: Long): Boolean = java.lang.Long.compareUnsigned(a, b) < 0

  /** Sequencer outcome counters (per JVM that runs [[advance]]) — the
    * engine's slice of the reference's per-shard consumer metrics
    * (consumer/interfaces.go:306-339). Resolved lazily so pure-library
    * use before any SparkEnv exists still works.
    */
  private object M {
    import graft.metrics.GraftMetrics.counter
    lazy val committed = counter("sequencer.committed.records")
    lazy val dups = counter("sequencer.dropped.duplicates")
    lazy val acks = counter("sequencer.acked.spans")
    lazy val rollbacks = counter("sequencer.rollbacks")
    lazy val regressions = counter("sequencer.clock.regressions")
  }

  /** Advance one producer's state over envelopes (must be offset-ordered),
    * returning committed envelopes in order.
    */
  def advance(state: SeqState, envs: Iterator[SeqEnvelope]): (Vector[SeqEnvelope], SeqState) = {
    var st = state
    val out = Vector.newBuilder[SeqEnvelope]

    envs.foreach { env =>
      if (env.clock == 0L) {
        out += env // zero-clock bypass: immediately committed, not indexed
        M.committed.inc()
      } else env.flags match {
        case ContinueTxn =>
          if (lte(env.clock, st.minClock)) M.dups.inc() // already acked
          else if (lte(env.clock, st.maxClock)) M.dups.inc() // dup within span
          else st = st.copy(
            maxClock = env.clock,
            begin = if (st.begin == -1L) env.begin else st.begin,
            buffered = st.buffered :+ Buffered(env.begin, env.end, env.clock, env.payload))

        case AckTxn =>
          if (lte(env.clock, st.minClock)) {
            // Rollback; clock < minClock additionally signals an upstream
            // checkpoint regression (at-least-once degradation).
            M.rollbacks.inc()
            if (lt(env.clock, st.minClock)) M.regressions.inc()
            st = SeqState(env.clock, env.clock, -1L, Vector.empty)
          } else {
            var n = 0L
            st.buffered.foreach { b =>
              if (lt(st.minClock, b.clock) && lte(b.clock, env.clock)) {
                out += SeqEnvelope(env.journal, b.begin, b.end, env.producer,
                  b.clock, ContinueTxn, b.payload)
                n += 1
              }
            }
            out += env // the ACK itself is part of the committed stream
            M.committed.inc(n + 1)
            M.acks.inc()
            st = SeqState(env.clock, env.clock, -1L, Vector.empty)
          }

        case _ => // OUTSIDE_TXN (and unknown flags handled as such)
          if (lte(env.clock, st.minClock)) M.dups.inc() // already acked
          else {
            if (st.buffered.nonEmpty) M.rollbacks.inc() // clobbered span
            out += env
            M.committed.inc()
            st = SeqState(env.clock, env.clock, -1L, Vector.empty)
          }
      }
    }
    (out.result(), st)
  }

  /** Batch sequencing: group by (journal, producer), order by offset,
    * run the state machine from empty state.
    */
  def sequenceBatch(ds: Dataset[SeqEnvelope]): Dataset[SeqEnvelope] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => (e.journal, e.producer))
      .flatMapGroups { (_, it) =>
        val sorted = it.toVector.sortBy(_.begin)
        advance(initialState, sorted.iterator)._1.iterator
      }
  }

  /** Streaming sequencing via flatMapGroupsWithState: state persists in
    * the state store across micro-batches; envelopes are sorted by offset
    * within each batch (cross-batch order is the source's contract, as in
    * the reference where journal order is the read order).
    *
    * `producerTtl` expires idle producer state (E6's 24h prune horizon).
    */
  def sequenceStream(
      ds: Dataset[SeqEnvelope],
      producerTtlMs: Long = 24L * 3600 * 1000): Dataset[SeqEnvelope] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => (e.journal, e.producer))
      .flatMapGroupsWithState[SeqState, SeqEnvelope](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (_, envs, state: GroupState[SeqState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st0 = state.getOption.getOrElse(initialState)
            val (out, st1) = advance(st0, envs.toVector.sortBy(_.begin).iterator)
            state.update(st1)
            state.setTimeoutDuration(producerTtlMs)
            out.iterator
          }
      }
  }
}
