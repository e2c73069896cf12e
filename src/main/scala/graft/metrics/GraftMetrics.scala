package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.codahale.metrics.{Counter, Gauge, MetricRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's observability surface — the Spark-side analog of the
  * reference's Prometheus contract (broker/doc.go:15-27: per-journal
  * RPC counters and `gazette_write_head`; consumer/interfaces.go:
  * 306-339: per-shard txn/read counters and read-head gauges).
  *
  * One JVM-local Codahale [[MetricRegistry]], registered with Spark's
  * MetricsSystem as source `graft` on first use — so every sink Spark
  * supports (Prometheus servlet, JMX, Graphite, CSV; configured via
  * `metrics.properties`, no engine code involved) scrapes it. The
  * per-process model is deliberately the reference's: gazette counts
  * in each broker/consumer process and the scraper sums; here each
  * Spark JVM (driver, every executor) counts what IT did and the
  * metrics sink labels by instance. Driver-side commit points carry
  * the authoritative per-journal totals (all fragment commits happen
  * on the driver); executor-side counters (spooled records, read
  * bytes) are per-JVM contributions.
  *
  * Metric names (driver unless noted):
  *  - `journal.<tag>.append.txns|fragments|bytes` — committed append
  *    transactions / fragments / uncompressed bytes, counted at the
  *    batch, foreachBatch-sink, and DSv2-epoch commit points.
  *  - `journal.<tag>.write.head` — gauge: next byte offset to be
  *    written (monotone max over committed fragment ends; agrees with
  *    [[graft.sources.Journal.head]] while this JVM is the appender).
  *  - `journal.<tag>.append.records` — records spooled (executor JVM;
  *    a retried task recounts — per-process counter semantics).
  *  - `journal.<tag>.read.records|bytes` — envelopes and payload+frame
  *    bytes decoded from fragment slices (the JVM that ran the scan).
  *  - `sequencer.committed.records|dropped.duplicates|acked.spans|
  *    rollbacks|clock.regressions` — outcome counts of the
  *    exactly-once state machine (the JVM that ran [[graft.streaming
  *    .Sequencer.advance]]).
  *  - `query.<name>.batches|rows`, `query.<name>.read.head.<i>`
  *    (gauge), `query.<name>.active` (gauge), and
  *    `query.<name>.observed.<metric>.<field>` — maintained by
  *    [[GraftStreamingListener]] from StreamingQueryProgress; observed
  *    metrics accumulate each batch's `observe(...)` aggregates (the
  *    ingest guard publishes `graft_guard`: checked/quarantined).
  *
  * `<tag>` is the journal name with '/' replaced by '_' (Codahale
  * names are dot-separated).
  */
object GraftMetrics {
  val sourceName = "graft"
  val registry = new MetricRegistry

  // Spark metricsSystem registration is per-JVM and can only happen
  // once a SparkEnv exists; counters may be touched earlier (object
  // init order in tests), so retry until it lands. The Source trait is
  // private[spark] — registration goes through the GraftSource shim in
  // the Spark package namespace (see its scaladoc).
  @volatile private var registered = false
  private def ensureRegistered(): Unit =
    if (!registered) synchronized {
      if (!registered) {
        try registered = org.apache.spark.metrics.source.GraftSource
          .register(sourceName, registry)
        catch { case _: Exception => () } // sink config errors never break the engine
      }
    }

  def counter(name: String): Counter = {
    ensureRegistered()
    registry.counter(name)
  }

  private val gauges = new ConcurrentHashMap[String, AtomicLong]()
  private def gaugeCell(name: String): AtomicLong = {
    ensureRegistered()
    gauges.computeIfAbsent(name, n => {
      val cell = new AtomicLong(0L)
      try registry.register(n, new Gauge[Long] { override def getValue: Long = cell.get })
      catch { case _: IllegalArgumentException => () } // already registered (race): keep the cell
      cell
    })
  }

  /** Set a gauge to `v`. */
  def setGauge(name: String, v: Long): Unit = gaugeCell(name).set(v)

  /** Monotone-max gauge update — write heads only move forward. */
  def maxGauge(name: String, v: Long): Unit =
    gaugeCell(name).getAndAccumulate(v, math.max(_, _))

  def counterValue(name: String): Long = registry.counter(name).getCount
  def gaugeValue(name: String): Option[Long] =
    Option(gauges.get(name)).map(_.get)

  /** Programmatic scrape (tests, REPL): every counter and gauge. */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val cs = registry.getCounters.asScala.map { case (k, c) => k -> c.getCount }
    val gs = gauges.asScala.map { case (k, cell) => k -> cell.get }
    (cs ++ gs).toMap
  }

  /** Journal name → metric-name segment. */
  def journalTag(journal: String): String = journal.replace('/', '_')

  /** Record one committed append transaction: called at every
    * driver-side commit point (batch append, foreachBatch sink, DSv2
    * epoch). `head` is the largest committed fragment end.
    */
  def appendCommitted(journal: String, fragments: Int, bytes: Long,
      head: Long): Unit = {
    val t = journalTag(journal)
    counter(s"journal.$t.append.txns").inc()
    counter(s"journal.$t.append.fragments").inc(fragments.toLong)
    counter(s"journal.$t.append.bytes").inc(bytes)
    maxGauge(s"journal.$t.write.head", head)
  }

  /** Attach the guard's observed metrics to a (batch or streaming)
    * frame tagged by [[graft.operators.Contamination.ingestGuardExact]]:
    * per batch, `checked` rows and `quarantined` (contaminated=true)
    * rows. Streaming: harvested into
    * `query.<name>.observed.graft_guard.*` by
    * [[GraftStreamingListener]]; batch: read via Spark's Observation
    * API. A pure plan annotation (CollectMetrics) — rows pass through
    * unchanged, no extra pass over the data.
    */
  def observeGuard(df: DataFrame, name: String = "graft_guard"): DataFrame =
    df.observe(name,
      count(lit(1)).as("checked"),
      coalesce(sum(when(col("contaminated"), 1L).otherwise(0L)), lit(0L))
        .as("quarantined"))

  // One listener per SparkSession, attached idempotently (sessions are
  // long-lived; double-attach would double every query counter). Weak
  // keys: a dropped session must stay collectable.
  private val attached = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))
  def attachListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (attached.add(spark))
      spark.streams.addListener(new GraftStreamingListener)
}
