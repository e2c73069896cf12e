package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark span: a call into the engine's public surface, a
  * consuming action, or a grouping of those (a pass, a query). Times
  * are `System.nanoTime`; `attrs` carries small per-span facts (a
  * batch id, a query name).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val start: Long, val attrs: Map[String, String]) {
  @volatile var end: Long = -1L
  def seconds: Double = (end - start) / 1e9
}

/** A Spark job as the listener saw it, attached to the innermost
  * benchmark span open on the submitting thread. Listener times are
  * epoch milliseconds; `Tracer` maps them onto the nanoTime axis.
  */
final class JobRec(val id: Int, val span: Int, val startMs: Long,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(stageId: Int, tasks: Int, taskMs: Long,
    cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** In-memory span recorder. Disabled, `span` is a plain call: the
  * end-to-end runs record nothing and attach no listener. Enabled, it
  * keeps a per-thread span stack, tags every Spark job submitted under
  * a span through the `perfbench.span` local property, and collects
  * job and stage records from a [[SparkListener]] it registers.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val stagesDone = new java.util.concurrent.atomic.AtomicInteger()
  private val stagesSubmitted = new java.util.concurrent.atomic.AtomicInteger()
  @volatile private var sc: SparkContext = _
  // nanoTime ↔ epoch-ms mapping for listener timestamps.
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def msToNano(ms: Long): Long = nano0 + (ms - ms0) * 1000000L

  val Prop = "perfbench.span"

  /** Register the job/stage listener on a (new) SparkContext. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .map(_.toInt).getOrElse(-1)
        jobs.put(e.jobId, new JobRec(e.jobId, span, e.time, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
        jobsEnded.incrementAndGet()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stagesSubmitted.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.put(i.stageId, StageRec(i.stageId, i.numTasks,
          m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
        stagesDone.incrementAndGet()
      }
    })
  }

  def span[T](name: String, attrs: Map[String, String] = Map.empty,
      parent: Option[Span] = None)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val p = parent.orElse(outer.headOption).map(_.id).getOrElse(-1)
      val s = synchronized {
        val s = new Span(spans.size, name, p, System.nanoTime(), attrs)
        spans += s
        s
      }
      val prevProp = if (sc != null) sc.getLocalProperty(Prop) else null
      stack.set(s :: outer)
      if (sc != null) sc.setLocalProperty(Prop, s.id.toString)
      jvm.mark(s.id, start = true)
      try body
      finally {
        s.end = System.nanoTime()
        jvm.mark(s.id, start = false)
        stack.set(outer)
        if (sc != null) sc.setLocalProperty(Prop, prevProp)
      }
    }

  /** The innermost span open on this thread (for spans opened on
    * another thread, such as a streaming query's, that belong under it).
    */
  def current: Option[Span] = if (enabled) stack.get().headOption else None

  /** Wait until the listener bus has delivered every job and stage
    * event the finished actions posted.
    */
  def settle(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get() < jobs.size || stagesDone.get() < stagesSubmitted.get()))
      Thread.sleep(5)
  }

  /** JVM-wide CPU, GC and JIT counters, sampled at span boundaries. */
  object jvm {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val jit = ManagementFactory.getCompilationMXBean
    private val marks = new java.util.concurrent.ConcurrentHashMap[(Int, Boolean), JvmSample]()
    def sample(): JvmSample = JvmSample(os.getProcessCpuTime,
      gcs.map(_.getCollectionTime).sum, jit.getTotalCompilationTime)
    def mark(id: Int, start: Boolean): Unit = marks.put((id, start), sample())
    def delta(s: Span): JvmSample = {
      val a = marks.get((s.id, true)); val b = marks.get((s.id, false))
      JvmSample(b.cpuNs - a.cpuNs, b.gcMs - a.gcMs, b.jitMs - a.jitMs)
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toVector)
  def allJobs: Seq[JobRec] = jobs.values.asScala.toVector.sortBy(_.id)
  def stage(id: Int): Option[StageRec] = Option(stages.get(id))

  /** Spans under `root` (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(go)
    go(root)
  }

  /** Jobs attached to any span under `root`. */
  def jobsUnder(root: Span): Seq[JobRec] = {
    val ids = subtree(root).map(_.id).toSet
    allJobs.filter(j => ids(j.span))
  }

  /** Length of the union of `intervals` clipped to [from, to). */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Wall time of `s` during which no Spark job attached under it ran. */
  def noJobNanos(s: Span): Long = {
    val iv = jobsUnder(s).filter(_.endMs >= 0)
      .map(j => (msToNano(j.startMs), msToNano(j.endMs)))
    (s.end - s.start) - covered(iv, s.start, s.end)
  }

  /** Self time: duration minus the part its child spans cover. */
  def selfNanos(s: Span): Long = {
    val kids = allSpans.filter(_.parent == s.id).map(k => (k.start, k.end))
    (s.end - s.start) - covered(kids, s.start, s.end)
  }

  /** The spans as JSON lines, written at exit. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = allSpans.filter(_.end >= 0).map { s =>
      val js = jobsUnder(s).filter(_.span == s.id)
      val d = jvm.delta(s)
      val attrs = s.attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${(s.start - nano0) / 1e9}%.6f,"end_s":${(s.end - nano0) / 1e9}%.6f,""" +
        f""""self_s":${selfNanos(s) / 1e9}%.6f,"jobs":${js.size},""" +
        f""""cpu_s":${d.cpuNs / 1e9}%.6f,"gc_s":${d.gcMs / 1e3}%.3f,"jit_s":${d.jitMs / 1e3}%.3f,""" +
        s""""attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

final case class JvmSample(cpuNs: Long, gcMs: Long, jitMs: Long)
