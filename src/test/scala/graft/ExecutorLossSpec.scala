package graft

import org.apache.spark.sql.functions._

/** Executor-process-loss recovery — the Spark-side analog of the
  * reference's crash tests (test/integration/crash_test.go kills a
  * broker process mid-write and asserts the cluster converges): under
  * `GRAFT_TEST_MASTER=local-cluster[...]` this suite kill -9s a REAL
  * executor JVM mid-job and asserts the job completes with the correct
  * result — Spark reschedules the lost tasks on the surviving executor
  * and recomputes lost cached blocks from lineage. `local[*]` has no
  * executor process to kill, so the suite self-skips there (the
  * multi-JVM CI lane is where it bites).
  */
class ExecutorLossSpec extends SparkSpec {

  private def isCluster = spark.sparkContext.master.startsWith("local-cluster")

  /** PIDs of THIS app's live CoarseGrainedExecutorBackend JVMs
    * (executor processes forked by the in-process workers — same
    * machine by construction under local-cluster). Read from /proc
    * directly: ProcessHandle.info().commandLine() came back empty for
    * these JVMs on this platform (observed), /proc/<pid>/cmdline does
    * not. Scoped by the backend's `--app-id` argv so a concurrent
    * Spark job's executors are never counted — or killed.
    */
  private def executorPids(): Seq[Long] = {
    val appId = spark.sparkContext.applicationId
    Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .toSeq
      .filter(_.getName.forall(_.isDigit))
      .filter { f =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline")),
            java.nio.charset.StandardCharsets.UTF_8)
          cmd.contains("CoarseGrainedExecutorBackend") &&
            cmd.contains(appId)
        } catch { case _: Exception => false }
      }
      .map(_.getName.toLong)
  }

  test("a kill -9'd executor mid-job loses no rows: tasks reschedule, the result is exact") {
    assume(isCluster, "needs real executor processes (GRAFT_TEST_MASTER=local-cluster[...])")
    import spark.implicits._

    val pidsBefore = executorPids()
    assert(pidsBefore.size >= 2, s"expected >=2 executors, saw $pidsBefore")

    // A job long enough to straddle the kill: many small tasks, each
    // sleeping briefly — deterministic result (sum of ids) so the
    // assertion is exact, not statistical.
    val n = 40000L
    val slow = udf { id: Long => Thread.sleep(5); id }
    val fut = scala.concurrent.Future {
      spark.range(n).repartition(64)
        .select(sum(slow($"id"))).as[Long].head()
    }(scala.concurrent.ExecutionContext.global)

    // Let tasks start, then kill one executor process outright.
    Thread.sleep(3000)
    val victim = executorPids().head
    ProcessHandle.of(victim).ifPresent(p => p.destroyForcibly())

    val got = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(300, "s"))
    assert(got == n * (n - 1) / 2, s"lost rows after executor kill: $got")

    // The standalone worker restarts the executor slot; within the
    // timeout the cluster is back to full strength for later suites.
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (executorPids().size < pidsBefore.size &&
        System.nanoTime() < deadline) Thread.sleep(500)
    // Full strength, not size-1: one executor survives the kill by
    // construction, so a weaker assert could never detect a worker
    // that fails to relaunch the slot.
    assert(executorPids().size >= pidsBefore.size,
      "cluster did not recover the killed executor slot")
  }

  test("streaming exactly-once survives an executor kill mid-drain (journal sink)") {
    assume(isCluster, "needs real executor processes (GRAFT_TEST_MASTER=local-cluster[...])")
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Journal

    val root = java.nio.file.Files
      .createTempDirectory("graft-execloss-stream").toString
    // 8 one-file micro-batches of 2000 rows each; a per-row sleep makes
    // every batch long enough that the kill lands INSIDE one.
    (0 until 8).foreach { b =>
      spark.range(b * 2000L, (b + 1) * 2000L).toDF("id")
        .coalesce(1).write.parquet(s"$root/in/b$b")
    }
    val slow = udf { id: Long => Thread.sleep(1); id }
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
    val q = src.select(slow($"id").as("id"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Journal.batchSink(root, "loss/docs", codec = "none")(
          df.select($"id".cast("string").as("payload")), batchId)
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()

    // Kill one executor while batches are in flight.
    Thread.sleep(4000)
    executorPids().headOption.foreach(pid =>
      ProcessHandle.of(pid).ifPresent(_.destroyForcibly()))
    assert(q.awaitTermination(300000), "drain did not finish after kill")

    // Exactly-once across the kill: every id landed, none twice — the
    // journal batch sink's committed-marker idempotence plus Spark's
    // task retry compose to at-most-once per batch, offset log to
    // at-least-once; together exactly-once.
    val landed = Journal.read(spark, root, "loss/docs").toDF()
      .select($"payload".cast("long").as("id")).as[Long].collect().sorted
    assert(landed.length == 16000, s"row count after kill: ${landed.length}")
    assert(landed.toSeq == (0L until 16000L),
      "ids lost or duplicated across the executor kill")
  }

  test("cached blocks lost with an executor recompute from lineage") {
    assume(isCluster, "needs real executor processes (GRAFT_TEST_MASTER=local-cluster[...])")
    import spark.implicits._

    val df = spark.range(100000L).select($"id",
      (($"id" * 2654435761L) % 1000).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expect = df.agg(sum($"k")).as[Long].head() // materialize the cache

    // Kill an executor: some cached partitions vanish with its
    // BlockManager. The re-read must silently recompute them.
    executorPids().headOption.foreach(pid =>
      ProcessHandle.of(pid).ifPresent(_.destroyForcibly()))
    Thread.sleep(2000)

    val again = df.agg(sum($"k")).as[Long].head()
    assert(again == expect, s"cache recompute diverged: $again != $expect")
    df.unpersist()
  }

  test("a rebased loop result recomputes from lineage after every executor is killed") {
    assume(isCluster, "needs real executor processes (GRAFT_TEST_MASTER=local-cluster[...])")
    import spark.implicits._

    // 100 chains of 10 vertices: ten rounds of label propagation, each
    // rebased by IterLoop.rounds. Killing every executor loses
    // every cached block and shuffle file of every round, so the
    // re-read can only succeed by recomputing through RDD lineage,
    // which a localCheckpoint'd leaf does not keep.
    val es = (0L until 100L).flatMap(c =>
      (0L until 9L).map(i => (c * 10 + i, c * 10 + i + 1))).toDF("a", "b")
    val cc = graft.operators.Curation.connectedComponents(es, maxIter = 20)
    val expect = (0L until 1000L).map(v => (v, v / 10 * 10))
    assert(cc.as[(Long, Long)].collect().sorted.toSeq == expect)

    val pidsBefore = executorPids()
    pidsBefore.foreach(pid => ProcessHandle.of(pid).ifPresent(_.destroyForcibly()))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (executorPids().filterNot(pidsBefore.contains).size < pidsBefore.size &&
        System.nanoTime() < deadline) Thread.sleep(500)

    assert(cc.as[(Long, Long)].collect().sorted.toSeq == expect,
      "rebased frame diverged after losing every executor")
  }
}
