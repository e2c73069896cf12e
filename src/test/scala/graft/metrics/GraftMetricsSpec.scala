package graft.metrics

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.Journal
import graft.streaming.Sequencer
import org.apache.spark.sql.functions._

/** The observability contract: counters move when the engine does the
  * thing they count, and the write-head gauge agrees with
  * [[Journal.head]]. Executor-side counters (spooled records, read
  * bytes, sequencer-in-task) are asserted only on single-JVM masters —
  * under GRAFT_TEST_MASTER=local-cluster they accumulate in executor
  * registries (the per-process Prometheus model; each JVM's sink
  * scrapes its own), which this driver-side spec cannot see.
  */
class GraftMetricsSpec extends SparkSpec {

  private def singleJvm: Boolean =
    !spark.sparkContext.master.startsWith("local-cluster")

  private def ctr(name: String): Long = GraftMetrics.counterValue(name)

  /** Listener events are delivered async: poll up to 15 s. */
  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cond, s"condition never held: $what")
  }

  test("append commits move txn/fragment/byte counters; write head tracks Journal.head") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-metrics").toString
    val j = "metrics/a"
    val tag = GraftMetrics.journalTag(j)
    val txns0 = ctr(s"journal.$tag.append.txns")
    val frags0 = ctr(s"journal.$tag.append.fragments")
    val bytes0 = ctr(s"journal.$tag.append.bytes")

    val f1 = Journal.append((1 to 100).map(i => s"rec-$i").toDF("payload")
      .repartition(3), root, j)
    assert(ctr(s"journal.$tag.append.txns") == txns0 + 1)
    assert(ctr(s"journal.$tag.append.fragments") == frags0 + f1.size)
    assert(ctr(s"journal.$tag.append.bytes") ==
      bytes0 + f1.map(f => f.end - f.begin).sum)
    val head1 = Journal.head(root, j)
    assert(GraftMetrics.gaugeValue(s"journal.$tag.write.head").contains(head1))

    // Second append: the gauge moves forward with the head, monotone.
    Journal.append(Seq("x", "y").toDF("payload"), root, j)
    val head2 = Journal.head(root, j)
    assert(head2 > head1)
    assert(GraftMetrics.gaugeValue(s"journal.$tag.write.head").contains(head2))
    assert(ctr(s"journal.$tag.append.txns") == txns0 + 2)
  }

  test("read-back and spool-records counters move (single-JVM master)") {
    assume(singleJvm, "executor-side counters live in executor JVMs under local-cluster")
    import spark.implicits._
    val root = Files.createTempDirectory("graft-metrics").toString
    val j = "metrics/r"
    val tag = GraftMetrics.journalTag(j)
    val recs0 = ctr(s"journal.$tag.append.records")
    val payloads = (1 to 250).map(i => s"payload-$i")
    Journal.append(payloads.toDF("payload").repartition(2), root, j)
    assert(ctr(s"journal.$tag.append.records") == recs0 + 250)

    val rr0 = ctr(s"journal.$tag.read.records")
    val rb0 = ctr(s"journal.$tag.read.bytes")
    val n = Journal.read(spark, root, j).count()
    assert(n == 250)
    assert(ctr(s"journal.$tag.read.records") == rr0 + 250)
    // Framed bytes: payload + '\n' per record == the journal head.
    assert(ctr(s"journal.$tag.read.bytes") == rb0 + Journal.head(root, j))
  }

  test("per-process contract across JVMs: executor spool counters " +
    "surface per-JVM and sum to the total; driver commit counters " +
    "stay authoritative") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-metrics").toString
    val j = "metrics/x"
    val tag = GraftMetrics.journalTag(j)
    val name = s"journal.$tag.append.records"
    // Read the counter INSIDE tasks: each task sees its own JVM's
    // registry (the per-process Prometheus model — each process
    // counts what IT did; the scraper sums). Dedupe by executor id.
    def perJvm(): Map[String, Long] =
      spark.sparkContext.parallelize(1 to 64, 16)
        .map(_ => (org.apache.spark.SparkEnv.get.executorId,
          GraftMetrics.counterValue(name)))
        .collect().toMap
    val before = perJvm()
    val txns0 = ctr(s"journal.$tag.append.txns")
    Journal.append((1 to 300).map(i => s"r-$i").toDF("payload")
      .repartition(4), root, j)
    // Driver-side commit counters and the head gauge are authoritative
    // under ANY master — the commit happens on the driver.
    assert(ctr(s"journal.$tag.append.txns") == txns0 + 1)
    assert(GraftMetrics.gaugeValue(s"journal.$tag.write.head")
      .contains(Journal.head(root, j)))
    // Executor-side spool counts: per-JVM values summing to the total,
    // whether the spooling ran in one JVM (local) or several
    // (local-cluster). A single probe round may miss an executor
    // (nothing forces the 16 sampling tasks onto every JVM that
    // spooled), so re-probe until the deltas cover the append —
    // counters are monotone, so coverage only grows.
    eventually("per-JVM spool deltas sum to the append") {
      val after = perJvm()
      after.map { case (ex, v) => v - before.getOrElse(ex, 0L) }.sum == 300L
    }
    // Under a multi-process master the driver registry saw none of the
    // spooling — the scaladoc's per-process claim, asserted.
    if (!singleJvm) assert(ctr(name) == 0L,
      "driver registry must not see executor-side spooling")
  }

  test("sequencer outcome counters count commits, dups, acks, rollbacks, regressions") {
    import Sequencer._
    def env(clock: Long, flags: Int, off: Long) =
      SeqEnvelope("j", off, off + 1, "p", clock, flags, s"m$clock")
    val before = Seq("sequencer.committed.records", "sequencer.dropped.duplicates",
      "sequencer.acked.spans", "sequencer.rollbacks", "sequencer.clock.regressions")
      .map(n => n -> ctr(n)).toMap

    val (out, _) = advance(initialState, Iterator(
      env(1, ContinueTxn, 0), // buffered
      env(1, ContinueTxn, 1), // dup within span          -> dups+1
      env(2, AckTxn, 2),      // commits span(1) + ack    -> committed+2, acks+1
      env(2, AckTxn, 3),      // clock == minClock        -> rollbacks+1 (no regression)
      env(1, AckTxn, 4),      // clock <  minClock        -> rollbacks+1, regressions+1
      env(0, OutsideTxn, 5),  // zero-clock bypass        -> committed+1
      env(3, ContinueTxn, 6), // buffered
      env(5, OutsideTxn, 7)   // clobbers open span       -> rollbacks+1, committed+1
    ))
    assert(out.size == 4)
    assert(ctr("sequencer.committed.records") == before("sequencer.committed.records") + 4)
    assert(ctr("sequencer.dropped.duplicates") == before("sequencer.dropped.duplicates") + 1)
    assert(ctr("sequencer.acked.spans") == before("sequencer.acked.spans") + 1)
    assert(ctr("sequencer.rollbacks") == before("sequencer.rollbacks") + 3)
    assert(ctr("sequencer.clock.regressions") == before("sequencer.clock.regressions") + 1)
  }

  test("concurrent same-named queries (two sessions) get distinct " +
    "metric keys: the second-comer is id-suffixed") {
    import org.apache.spark.sql.streaming.Trigger
    val s2 = spark.newSession()
    GraftMetrics.attachListener(spark)
    GraftMetrics.attachListener(s2)
    val nm = s"dupname${System.nanoTime()}"
    def start(s: org.apache.spark.sql.SparkSession) =
      s.readStream.format("rate").option("rowsPerSecond", "5").load()
        .writeStream.format("noop").queryName(nm)
        .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    val q1 = start(spark)
    try {
      eventually(s"query.$nm.active == 1") {
        GraftMetrics.gaugeValue(s"query.$nm.active").contains(1L)
      }
      // One session's manager forbids duplicate active names — the
      // clash case is a SECOND session (JVM-global registry, separate
      // listener instance).
      val q2 = start(s2)
      try {
        val suffixed = s"query.$nm-${q2.id.toString.take(8)}.active"
        eventually(s"$suffixed == 1") {
          GraftMetrics.gaugeValue(suffixed).contains(1L)
        }
        // The bare key still belongs to q1 alone.
        assert(GraftMetrics.gaugeValue(s"query.$nm.active").contains(1L))
      } finally q2.stop()
      eventually("suffixed key flips to 0") {
        GraftMetrics.gaugeValue(s"query.$nm-${q2.id.toString.take(8)}.active")
          .contains(0L)
      }
      assert(GraftMetrics.gaugeValue(s"query.$nm.active").contains(1L))
    } finally q1.stop()
    eventually("bare key flips to 0") {
      GraftMetrics.gaugeValue(s"query.$nm.active").contains(0L)
    }
  }

  test("restart of a same-named query keeps the bare key and stays " +
    "active (stale TerminatedEvent must not clobber it)") {
    import org.apache.spark.sql.streaming.Trigger
    GraftMetrics.attachListener(spark)
    val ckpt = Files.createTempDirectory("graft-metrics-restart").toString
    val nm = s"restart${System.nanoTime()}"
    def start() = spark.readStream.format("rate")
      .option("rowsPerSecond", "5").load()
      .writeStream.format("noop").queryName(nm)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    val q1 = start()
    eventually("initial run active") {
      GraftMetrics.gaugeValue(s"query.$nm.active").contains(1L)
    }
    q1.stop()
    // Restart immediately: the old run's TerminatedEvent is delivered
    // async and may land AFTER the restart's synchronous StartedEvent
    // — it must neither read as a name clash nor flip the restarted
    // query's flag.
    val q2 = start()
    try {
      eventually("restart active under the BARE key") {
        GraftMetrics.gaugeValue(s"query.$nm.active").contains(1L)
      }
      Thread.sleep(500) // let any stale event drain...
      assert(GraftMetrics.gaugeValue(s"query.$nm.active").contains(1L),
        "a stale TerminatedEvent clobbered the restarted query's flag")
    } finally q2.stop()
    eventually("flag drops after the real stop") {
      GraftMetrics.gaugeValue(s"query.$nm.active").contains(0L)
    }
  }

  test("streaming listener: batches/rows counters, journal read-head gauge, observed guard, active flag") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-metrics").toString
    val ckpt = Files.createTempDirectory("graft-metrics-ckpt").toString
    val j = "metrics/s"
    Journal.append((1 to 40).map(i => s"doc-$i").toDF("payload"), root, j)
    val head = Journal.head(root, j)

    GraftMetrics.attachListener(spark)
    val qn = s"graftMetricsStream${System.nanoTime()}"
    val src = spark.readStream.format("journal")
      .option("root", root).option("journal", j).load()
    // Tag half the rows "contaminated" and observe: the guard metric
    // path, end to end (observe -> progress -> listener -> counter).
    val tagged = GraftMetrics.observeGuard(
      src.withColumn("contaminated", length($"payload") % 2 === 0))
    val q = tagged.writeStream.format("noop").queryName(qn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "metrics stream drain timed out")

    eventually(s"query.$qn.rows == 40") { ctr(s"query.$qn.rows") == 40 }
    assert(ctr(s"query.$qn.batches") >= 1)
    eventually(s"read.head gauge == $head") {
      GraftMetrics.gaugeValue(s"query.$qn.read.head.0").contains(head)
    }
    eventually("observed guard checked == 40") {
      ctr(s"query.$qn.observed.graft_guard.checked") == 40
    }
    // "doc-N" length 5 or 6: even lengths are N in 10..40 -> 31 rows?
    // No: len("doc-N")=4+digits; N=1..9 -> 5 (odd), N=10..40 -> 6 (even).
    assert(ctr(s"query.$qn.observed.graft_guard.quarantined") == 31)
    eventually("active flag dropped to 0") {
      GraftMetrics.gaugeValue(s"query.$qn.active").contains(0L)
    }
  }

  test("loop rounds: KCore's 14-round deep peel counts 15 rounds and tags every job") {
    import spark.implicits._
    import graft.operators.{IterLoop, KCore}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // KCoreSpec's deep peel: K5 on 1..5 with the tail 5-6-...-19 peels
    // one tail vertex per round at k=2; round 15 confirms the fixpoint.
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val g = (clique ++ (5L to 19L).sliding(2).map(w => (w(0), w(1))))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    // Jobs of this call carry `call`. The listener bus delivers in
    // order, so once the marker job after the call is seen, every job
    // of the call has been seen too.
    val call = s"kcore-${java.util.UUID.randomUUID}"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.call")).foreach {
          case `call` => tags.add((e.properties.getProperty(IterLoop.OpProperty),
            e.properties.getProperty("spark.job.description")))
          case c if c == s"$call-end" => markerSeen = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      val rounds0 = ctr("loop.kcore.rounds")
      sc.setLocalProperty("graft.spec.call", call)
      val core = KCore.core(g, 2, 20)
      sc.setLocalProperty("graft.spec.call", s"$call-end")
      sc.parallelize(Seq(1), 1).count()
      eventually("listener saw the marker job")(markerSeen)
      assert(ctr("loop.kcore.rounds") == rounds0 + 15)
      assert(!tags.isEmpty)
      tags.forEach { case (op, desc) =>
        assert(op == "kcore", s"job without graft.op=kcore: $op / $desc")
        assert(desc != null && desc.matches("kcore round \\d+"), desc)
      }
      assert(sc.getLocalProperty(IterLoop.OpProperty) == null)
      assert(core.count() == 5)
    } finally {
      sc.setLocalProperty("graft.spec.call", null)
      sc.removeSparkListener(listener)
    }
  }
}
