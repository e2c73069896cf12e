package graft.streaming

import graft.SparkSpec
import Sequencer._

/** Scenario table ported from
  * `/root/reference/message/sequencer_test.go` (TestSequencerTxnSequenceCases
  * :139-316, TestSequencerOutsideTxnCases :352-440). Ring-eviction/replay
  * mechanics are irrelevant here (state-store buffering is unbounded);
  * the ported expectations are the emitted committed sequences and
  * producer-state clocks.
  */
class SequencerSpec extends SparkSpec {

  private var nextOffset = 0L
  private def env(producer: String, clock: Long, flags: Int): SeqEnvelope = {
    val b = nextOffset; nextOffset += 10
    SeqEnvelope("test/journal", b, b + 10, producer, clock, flags, s"$producer-$clock-$flags")
  }
  private def run(st: SeqState, envs: SeqEnvelope*): (Vector[SeqEnvelope], SeqState) =
    advance(st, envs.iterator)

  test("sequence with internal duplicates") {
    val (a1, a2, a3) = (env("A", 1, ContinueTxn), env("A", 2, ContinueTxn), env("A", 3, AckTxn))
    val a1Dup = env("A", 1, ContinueTxn)
    val a2Dup = env("A", 2, ContinueTxn)
    val (out, st) = run(initialState, a1, a2, a1Dup, a2Dup, a3)
    assert(out.map(_.clock) == Vector(1L, 2L, 3L))
    assert(st == SeqState(3L, 3L, -1L, Vector.empty))
  }

  test("ACK without preceding CONTINUE commits empty sequence") {
    val a4 = env("A", 4, AckTxn)
    val (out, st) = run(SeqState(3, 3, -1, Vector.empty), a4)
    assert(out == Vector(a4))
    assert(st.minClock == 4)
  }

  test("partial ACK drops higher-clock messages") {
    val (a5, a7, a6ack) = (env("A", 5, ContinueTxn), env("A", 7, ContinueTxn), env("A", 6, AckTxn))
    val (out, st) = run(SeqState(4, 4, -1, Vector.empty), a5, a7, a6ack)
    assert(out.map(_.clock) == Vector(5L, 6L))
    assert(out.last.flags == AckTxn)
    assert(st == SeqState(6, 6, -1, Vector.empty))
  }

  test("rollback via ACK at current minClock discards the span") {
    val (a7r, a8r, a6abort) =
      (env("A", 7, ContinueTxn), env("A", 8, ContinueTxn), env("A", 6, AckTxn))
    val a7dup = env("A", 7, ContinueTxn)
    val (out, st) = run(SeqState(6, 6, -1, Vector.empty), a7r, a7dup, a8r, a6abort)
    assert(out.isEmpty)
    assert(st == SeqState(6, 6, -1, Vector.empty))
  }

  test("interleaved producer commits independently") {
    val (b1, b2, b3ack) = (env("B", 1, ContinueTxn), env("B", 2, ContinueTxn), env("B", 3, AckTxn))
    val (out, st) = run(initialState, b1, b2, b3ack)
    assert(out.map(_.clock) == Vector(1L, 2L, 3L))
    assert(st.minClock == 3)
  }

  test("duplicates across committed sequences are dropped") {
    // After B commits through 3: b1Dup/b2Dup are AlreadyAcked.
    val st0 = SeqState(3, 3, -1, Vector.empty)
    val (b4, b1d, b4d, b5, b6, b2d, b7, b8ack) = (
      env("B", 4, ContinueTxn), env("B", 1, ContinueTxn), env("B", 4, ContinueTxn),
      env("B", 5, ContinueTxn), env("B", 6, ContinueTxn), env("B", 2, ContinueTxn),
      env("B", 7, ContinueTxn), env("B", 8, AckTxn))
    val (out, st) = run(st0, b4, b1d, b4d, b5, b6, b2d, b7, b8ack)
    assert(out.map(_.clock) == Vector(4L, 5L, 6L, 7L, 8L))
    assert(st.minClock == 8)
  }

  test("partial rollback where every buffered message is skipped") {
    val st0 = SeqState(8, 8, -1, Vector.empty)
    val (b9, b11, b12, b13, b10ack) = (
      env("B", 9, ContinueTxn), env("B", 11, ContinueTxn), env("B", 12, ContinueTxn),
      env("B", 13, ContinueTxn), env("B", 10, AckTxn))
    val (out, st) = run(st0, b9, b11, b12, b13, b10ack)
    assert(out.map(_.clock) == Vector(9L, 10L))
    assert(st.minClock == 10)
  }

  test("reset to earlier ACK (checkpoint regression) allows SeqNo reuse") {
    val st0 = SeqState(13, 13, -1, Vector.empty)
    val (b8reset, b9reuse, b10ack) =
      (env("B", 8, AckTxn), env("B", 9, ContinueTxn), env("B", 10, AckTxn))
    val (out, st) = run(st0, b8reset, b9reuse, b10ack)
    assert(out.map(_.clock) == Vector(9L, 10L))
    assert(st.minClock == 10)
  }

  test("OUTSIDE_TXN: dedup, span clobbering, zero-clock bypass") {
    // dedup: clock <= minClock dropped
    val (out1, _) = run(SeqState(5, 5, -1, Vector.empty), env("C", 4, OutsideTxn))
    assert(out1.isEmpty)
    // commit + clobber of a partial span
    val c6 = env("C", 6, ContinueTxn)
    val c7out = env("C", 7, OutsideTxn)
    val c8ack = env("C", 8, AckTxn)
    val (out2, st2) = run(SeqState(5, 5, -1, Vector.empty), c6, c7out, c8ack)
    // c7 OUTSIDE clobbers the c6 span; c8 ACK then commits empty.
    assert(out2.map(_.clock) == Vector(7L, 8L))
    assert(st2.minClock == 8)
    // zero-clock bypass: emitted, state untouched
    val z = env("C", 0, ContinueTxn)
    val (out3, st3) = run(SeqState(5, 5, -1, Vector.empty), z)
    assert(out3 == Vector(z))
    assert(st3 == SeqState(5, 5, -1, Vector.empty))
  }

  test("batch sequencing groups by (journal, producer) and offset-orders") {
    import spark.implicits._
    // Interleave producers, shuffle input order: output per producer is
    // the committed sequence.
    val envs = Seq(
      env("A", 1, ContinueTxn), env("B", 1, ContinueTxn), env("A", 2, AckTxn),
      env("B", 2, AckTxn), env("A", 3, OutsideTxn))
    val shuffled = scala.util.Random.shuffle(envs)
    val out = Sequencer.sequenceBatch(spark.createDataset(shuffled))
      .collect().toVector
    val byProd = out.groupBy(_.producer).view.mapValues(_.sortBy(_.begin).map(_.clock)).toMap
    assert(byProd("A") == Vector(1L, 2L, 3L))
    assert(byProd("B") == Vector(1L, 2L))
  }

  test("streaming sequencing persists state across micro-batches and restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val ckpt = Files.createTempDirectory("graft-seq-ckpt").toString
    val outDir = Files.createTempDirectory("graft-seq-out").toString
    val input1 = MemoryStream[SeqEnvelope](spark)
    // AvailableNow: drain what's queued, then stop — gives clean
    // stop/restart boundaries. Parquet sink (unlike memory) supports
    // checkpoint recovery.
    def runQuery(in: MemoryStream[SeqEnvelope], expectRows: Long): Unit = {
      val q = Sequencer.sequenceStream(in.toDS()).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      drainAndStop(q, expectRows)
    }

    val schema = org.apache.spark.sql.Encoders.product[SeqEnvelope].schema

    // Batch 1: an uncommitted span only — nothing emits.
    input1.addData(env("P", 1, ContinueTxn), env("P", 2, ContinueTxn))
    runQuery(input1, expectRows = 2)
    assert(spark.read.schema(schema).parquet(outDir).count() == 0)

    // Restart from the checkpoint (same source instance retains its
    // batches); the ACK commits the span recovered from the state store.
    input1.addData(env("P", 3, AckTxn))
    runQuery(input1, expectRows = 1)
    val out = spark.read.schema(schema).parquet(outDir)
      .as[SeqEnvelope].collect().sortBy(_.clock)
    assert(out.map(_.clock).toVector == Vector(1L, 2L, 3L),
      s"state must survive restart; got ${out.toVector}")
  }

  test("streaming sequencing on the RocksDB state store provider (ST3)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = Files.createTempDirectory("graft-rocks-ckpt").toString
      val outDir = Files.createTempDirectory("graft-rocks-out").toString
      val input = MemoryStream[SeqEnvelope](spark)
      input.addData(env("R", 1, ContinueTxn), env("R", 2, AckTxn))
      val q = Sequencer.sequenceStream(input.toDS()).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drainAndStop(q, expectRows = 2)
      val schema = org.apache.spark.sql.Encoders.product[SeqEnvelope].schema
      val out = spark.read.schema(schema).parquet(outDir).as[SeqEnvelope].collect()
      assert(out.map(_.clock).sorted.toVector == Vector(1L, 2L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }

  /** Drain an AvailableNow sequencer query, then stop. Neither
    * awaitTermination nor processAllAvailable works here: pending
    * processing-time state timers keep the query alive (and
    * "available"), so the former burns its whole timeout and the
    * latter never returns. Instead poll this run's progress reports
    * until `expectRows` input rows have been processed (recovery/timer
    * batches report zero rows and don't count), with a 90s deadline as
    * the flakiness backstop.
    */
  private def drainAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      expectRows: Long): Unit = {
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    def processed = q.recentProgress.map(_.numInputRows).sum
    while (q.isActive && processed < expectRows && System.nanoTime() < deadline)
      Thread.sleep(200)
    // one more beat so the sink's commit of the last batch lands
    Thread.sleep(300)
    q.stop()
  }

  private val Files = new {
    def createTempDirectory(prefix: String): java.nio.file.Path =
      java.nio.file.Files.createTempDirectory(prefix)
  }
}
