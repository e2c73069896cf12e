package graft.operators

import graft.metrics.GraftMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The two disciplines of DRIVER-SYNCHRONIZED iterative loops.
  *
  * [[rounds]] is the one loop driver: every loop that carries a frame
  * from one round to the next (k-core peeling, BFS, both connected-
  * components loops, k-center, the BPE trainer) runs its rounds
  * through it, and it carries each round's frame through [[rebase]].
  * Catalyst analyses a frame's whole logical plan on every action,
  * and `persist` caches the data, not the plan: a round built from
  * the previous round's frame, used m times, would multiply the plan
  * by m per round (k-core peeling ×3, BFS ×2; PERF.md "Flat plans for
  * the iterative loops"). A rebased frame is one plan node whatever
  * the round.
  *
  * [[tinyReduce]] is the latency discipline for loops whose per-round
  * REDUCE side is bounded by a model constant — k centroids, a pair
  * vocabulary, a 1-row argmax — rather than by corpus size. For such
  * rounds the session defaults are pure overhead (measured on the BPE
  * trainer, PERF.md round-10): AQE materializes every shuffle stage as
  * its own job (~0.3 s fixed latency per round) and schedules a full
  * shuffle-partition fan of reduce tasks for a few KB of aggregate
  * state. Map-side partial aggregation already collapses to the
  * bounded vocabulary BEFORE the exchange, so pinning a small reduce
  * width and skipping AQE inside the loop changes nothing about the
  * corpus-sized map side — at any scale. NOT for loops whose per-round
  * shuffle is corpus-sized (BFS frontiers, label propagation, k-core
  * peeling): those want AQE's coalescing and skew handling, and their
  * reduce width must scale with the data. The discipline is applied
  * per-operator, with the boundedness argument stated at the call
  * site.
  */
private[graft] object IterLoop {

  /** The local property that names the loop a job belongs to. */
  val OpProperty = "graft.op"

  // `SparkContext.SPARK_JOB_DESCRIPTION`, which is private[spark].
  private val JobDescription = "spark.job.description"

  /** Run up to `maxRounds` rounds from `init`, rebased. Round r builds
    * its frame with `step(cur, r)` and rebases it; `converged(next,
    * cur, r)` runs the round's one action on the rebased `next`, which
    * materializes it, and says whether the loop is done. Only then is
    * `cur` released. Returns the last frame, still cached, and whether
    * the loop converged; the caller owns that frame. If a round throws,
    * every round frame the loop holds is released first.
    *
    * Every job of the loop carries the job description `<op> round
    * <r>` (round 0 rebases `init`) and the local property
    * [[OpProperty]] = `op`. Both are thread-local and [[DriverPar]]
    * threads share the session, so the caller's values are restored on
    * exit. Rounds count into `loop.<op>.rounds`
    * ([[graft.metrics.GraftMetrics]]).
    */
  def rounds(op: String, init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      converged: (DataFrame, DataFrame, Int) => Boolean): (DataFrame, Boolean) = {
    val sc = init.sparkSession.sparkContext
    val savedDesc = sc.getLocalProperty(JobDescription)
    val savedOp = sc.getLocalProperty(OpProperty)
    val roundCount = GraftMetrics.counter(s"loop.$op.rounds")
    var cur: DataFrame = null
    var next: DataFrame = null
    try {
      sc.setLocalProperty(OpProperty, op)
      sc.setJobDescription(s"$op round 0")
      cur = rebase(init)
      var r = 0
      var done = false
      while (!done && r < maxRounds) {
        r += 1
        sc.setJobDescription(s"$op round $r")
        roundCount.inc()
        next = rebase(step(cur, r))
        done = converged(next, cur, r)
        cur.unpersist()
        cur = next
        next = null
      }
      (cur, done)
    } catch { case t: Throwable =>
      Seq(next, cur).filter(_ != null).foreach(_.unpersist())
      throw t
    } finally {
      sc.setLocalProperty(OpProperty, savedOp)
      sc.setJobDescription(savedDesc)
    }
  }

  /** `df` as a single flat leaf over its rows, persisted
    * MEMORY_AND_DISK. The round's action materializes the cache (with
    * AQE on, `df`'s shuffle stages run here already). The leaf keeps
    * RDD lineage, so a cached block lost with an executor recomputes
    * (`localCheckpoint` blocks do not).
    */
  private def rebase(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.ColumnBridge.rddLeaf(df)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Reduce width of a [[tinyReduce]] scope: both callers' bounded
    * reduce sides (k centroids, a pair vocabulary) fit 8 tasks. */
  private val ReduceWidth = 8

  /** Run `body` with AQE off and `spark.sql.shuffle.partitions`
    * pinned to [[ReduceWidth]]; always restores the session's previous
    * values. Single-session mutation — an UNRELATED query submitted on
    * the same session during `body` would observe the loop confs, the
    * standing caveat of any session-conf scope in Spark; a host
    * serving concurrent interactive work should give each stream its
    * own `spark.newSession()` (session-isolated SQLConf), which is the
    * isolation Spark itself provides for exactly this. What IS guarded
    * here: two tinyReduce scopes on the same session serialize on a
    * per-session monitor — interleaved save/restore would otherwise
    * capture the first loop's confs as the "previous" values and leave
    * AQE off on the session forever after both unwind.
    */
  def tinyReduce[A](spark: SparkSession)(body: => A): A =
    scopeLock.computeIfAbsent(spark, _ => new Object).synchronized {
      val confs = Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> ReduceWidth.toString)
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  // Weak keys: a stopped session's monitor must not pin the session.
  private val scopeLock: java.util.Map[SparkSession, Object] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Object]())
}
