package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Command-line options, as passed by `perfbench/run.py`. */
final case class Opts(workload: String, input: String, work: String,
    seconds: Double, warm: Int, trace: Boolean, slots: Int, inputMb: Double,
    result: String, traceOut: String)

/** One pass over a workload's operations (a round of queries, or one
  * drain-and-read round of the journal stream). `ops` are the
  * operation durations in seconds; `span` is its trace span when
  * tracing; `extra` carries workload-specific measurements.
  */
final case class Pass(wall: Double, ops: Seq[Double], span: Option[Span],
    extra: Map[String, Double])

/** A benchmark workload: how its inputs are staged, and one pass. */
trait Workload {
  /** Staging of the inputs, part of the set-up. */
  def stage(spark: SparkSession): Unit
  def pass(spark: SparkSession, phase: String): Pass
  /** Untimed output check after the cold pass. */
  def check(spark: SparkSession): Unit = ()
  /** Untimed output check after the measured passes. */
  def finish(spark: SparkSession): Unit = ()
  def endToEnd(cold: Pass, steady: Seq[Pass]): Map[String, (Double, String)]
  def perLayer(spark: SparkSession, steady: Seq[Pass]): Map[String, (Double, String)]
}

/** Operation bookkeeping and correctness problems, shared by a run. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  def problem(msg: String): Unit = {
    System.err.println(s"perfbench: CHECK FAILED: $msg")
    problems += msg
  }
  /** Run one operation; a thrown exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      System.err.println(s"perfbench: operation $what failed: $e")
      e.printStackTrace()
      None
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  /** Linear-interpolated percentile (the `inclusive` quartile method). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** Full consumption of a DataFrame: every row of the executed plan is
  * projected to an UnsafeRow and hashed, so no column can be pruned.
  * The digest (row count, sum of row hashes) is independent of row
  * order and partitioning.
  */
object Digest {
  final case class D(rows: Long, hash: Long)

  def of(df: DataFrame): D = {
    val a = fold(df, 0)((_, _) => ())
    D(a(0), a(1))
  }

  /** Consume `df` in full: per row, project to an UnsafeRow, count it,
    * add its hash to slot 1, and let `f` update the `extra` further
    * slots. Returns the slot-wise sums over all partitions.
    */
  def fold(df: DataFrame, extra: Int)(f: (UnsafeRow, Array[Long]) => Unit): Array[Long] = {
    val schema = df.schema
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.consume")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        val acc = new Array[Long](2 + extra)
        it.foreach { r =>
          val u = proj(r)
          acc(0) += 1
          acc(1) += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          f(u, acc)
        }
        Iterator(acc)
      }.collect()
    }
    parts.foldLeft(new Array[Long](2 + extra))((a, b) => a.zip(b).map { case (x, y) => x + y })
  }

  /** splitmix64 finalizer; `perfbench/gen.py` computes the same. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("train")) return train(kv("train"))
    val o = Opts(kv("workload"), kv("input"), kv("work"), kv("seconds").toDouble,
      kv("warm").toInt, kv("trace") == "1", kv("slots").toInt, kv.getOrElse("input-mb", "0").toDouble,
      kv("result"), kv("trace-out"))
    val tracer = new Tracer(o.trace)
    val ledger = new Ledger
    val out = run(workload(o, tracer, ledger), o, tracer, ledger)
    Files.writeString(Paths.get(o.result), out)
    tracer.dump(Paths.get(o.traceOut))
    // Spark's non-daemon threads are gone after stop(); exit explicitly
    // anyway so a stray one cannot hold the process.
    System.exit(0)
  }

  val Workloads = Seq("journal-exactly-once", "corpus-text")

  def workload(o: Opts, t: Tracer, ledger: Ledger): Workload = o.workload match {
    case "journal-exactly-once" => new JournalWorkload(o, t, ledger)
    case "corpus-text" => new QueryWorkload(QueryWorkload.Corpus, o, t, ledger)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Class-loading training run for the build's class-data-sharing
    * archive: one set-up and one cold pass of every workload over the
    * small inputs under `dir`, whatever their results.
    */
  def train(dir: String): Unit = {
    val spark = graft.Engine.local(2)
    Workloads.foreach { name =>
      val o = Opts(name, s"$dir/input", s"$dir/work-$name", 0, 0, trace = false, 2, 0, "", "")
      val w = workload(o, new Tracer(false), new Ledger)
      try { w.stage(spark); w.pass(spark, "cold"); w.check(spark) }
      catch { case e: Throwable => System.err.println(s"perfbench: training $name: $e") }
    }
    spark.stop()
  }

  def run(w: Workload, o: Opts, t: Tracer, ledger: Ledger): String = {
    // Set-up, from JVM start until the session is up and the inputs are
    // staged: one-time class loading and static initialisation count.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Engine.local(o.slots)
    w.stage(spark)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // Keep every micro-batch's progress for the batch-duration metrics.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    t.attach(spark.sparkContext)

    val cold = w.pass(spark, "cold")
    w.check(spark)
    // Untimed passes between the cold pass and the measured ones: the
    // first executions after the cold pass are the steep part of the
    // warm-up curve (README.md, "Reference figures").
    val warm = (1 to o.warm).map(_ => w.pass(spark, "warm").wall)
    val steady = ArrayBuffer.empty[Pass]
    val m0 = System.nanoTime()
    while ((System.nanoTime() - m0) / 1e9 < o.seconds || steady.size < 2)
      steady += w.pass(spark, "steady")
    w.finish(spark)
    t.settle()

    val metrics: Map[String, (Double, String)] =
      if (o.trace) w.perLayer(spark, steady.toSeq) ++ common(t, o, steady.toSeq)
      else w.endToEnd(cold, steady.toSeq) ++ Map(
        "setup_s" -> (setup, "s"),
        "cold_pass_s" -> (cold.wall, "s"),
        "peak_rss_mb" -> (peakRssMb(), "MB"))
    spark.stop()
    val diag = Map("setup_s" -> Seq(setup), "cold_s" -> Seq(cold.wall), "warm_s" -> warm,
      "steady_s" -> steady.map(_.wall).toSeq)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val ds = diag.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${v.map(num).mkString("[", ",", "]")}""" }.mkString(",")
    val ps = ledger.problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    s"""{"attempted":${ledger.attempted},"failed":${ledger.failed},"problems":$ps,""" +
      s""""metrics":{$ms},"diagnostics":{$ds}}"""
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Per-layer metrics every workload reports: the Spark driver, the
    * scheduler and the JVM, per steady pass (median over passes).
    */
  def common(t: Tracer, o: Opts, steady: Seq[Pass]): Map[String, (Double, String)] = {
    val per = steady.flatMap(_.span).map { ps =>
      val sub = t.subtree(ps)
      def sum(n: String) = sub.filter(_.name == n).map(_.seconds).sum
      val (a, b) = (ps.start, ps.end)
      val jobs = t.allJobs.filter(j => t.msToNano(j.startMs) >= a && t.msToNano(j.startMs) < b)
      val stages = jobs.flatMap(_.stageIds).distinct.flatMap(t.stage)
      val iv = jobs.filter(_.endMs >= 0).map(j => (t.msToNano(j.startMs), t.msToNano(j.endMs)))
      val wall = ps.seconds
      val taskS = stages.map(_.taskMs).sum / 1e3
      val jv = t.jvm.delta(ps)
      val mb = 1024.0 * 1024.0
      Map(
        "driver.build_s" -> sum("build"),
        "driver.action_s" -> sum("action"),
        "driver.nojob_s" -> ((b - a) - t.covered(iv, a, b)) / 1e9,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
        "spark.task_s" -> taskS,
        "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "spark.slot_busy" -> taskS / (o.slots * wall),
        "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mb,
        "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mb,
        "spark.spill_mb" -> stages.map(_.spill).sum / mb,
        "jvm.cpu_s" -> jv.cpuNs / 1e9,
        "jvm.gc_s" -> jv.gcMs / 1e3,
        "jvm.jit_s" -> jv.jitMs / 1e3)
    }
    val units = Map("spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.slot_busy" -> "ratio")
    per.head.keys.map { k =>
      val u = units.getOrElse(k, if (k.endsWith("_mb")) "MB" else "s")
      k -> (Stats.median(per.map(_(k))), u)
    }.toMap
  }

  def readString(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
}
