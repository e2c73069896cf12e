package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.catalog.{JournalCatalog, JournalSpec}
import graft.labels.{Label, LabelSet}
import graft.sources.Journal
import graft.streaming.{Publisher, ReadCommitted}

/** The exactly-once message path. A round drains the staged file
  * backlog with an `AvailableNow` Structured Streaming query, one
  * micro-batch per file, whose `foreachBatch` writes each batch into
  * label-tagged journals routed by producer; then it resolves the
  * journals by label selector and reads them read-committed. Each
  * micro-batch and the read are one operation each.
  */
final class JournalWorkload(o: Opts, t: Tracer, ledger: Ledger) extends Workload {
  private val Files_ = 8                     // backlog files = micro-batches per round
  private val journals = (0 until 3).map(i => f"bench/events/part-$i%02d")
  private val selector = "app=bench-events"
  private val schema = StructType.fromDDL(
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  private val truth: Map[String, Long] = {
    val m = "\"([a-z_0-9]+)\":\\s*(-?\\d+)".r
    m.findAllMatchIn(Main.readString(s"${o.input}/truth.json"))
      .map(x => x.group(1) -> x.group(2).toLong).toMap
  }
  private var backlog: Path = _
  private var payloadBytes = 0L
  private var round = 0

  /** Stage the message stream as a backlog of files in stream order,
    * with strictly increasing modification times so the file source
    * takes them in that order.
    */
  def stage(spark: SparkSession): Unit = {
    val lines = Files.readAllLines(Paths.get(o.input, "messages.ndjson")).asScala.toVector
    require(lines.size == truth("messages"), "message stream and ground truth disagree")
    backlog = Paths.get(o.work, "backlog")
    Files.createDirectories(backlog)
    val per = (lines.size + Files_ - 1) / Files_
    val base = System.currentTimeMillis() - 3600000L
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val f = backlog.resolve(f"part-$i%05d.json")
      Files.write(f, chunk.asJava)
      Files.setLastModifiedTime(f, FileTime.fromMillis(base + i * 1000L))
    }
    payloadBytes = lines.map(_.getBytes("UTF-8").length.toLong).sum
  }

  /** The last round's journals, kept for the checks until the next round. */
  private var last: Option[(Int, Path, String, JournalCatalog)] = None
  private var fragments = 0
  private var storedMb = Double.NaN

  override def finish(spark: SparkSession): Unit = last.foreach { case (r, _, root, catalog) =>
    checkJournals(spark, catalog, root, r)
  }

  def pass(spark: SparkSession, phase: String): Pass = {
    last.foreach { case (_, d, _, _) => deleteTree(d) }
    val r = round
    round += 1
    val dir = Paths.get(o.work, s"round-$r")
    val root = dir.resolve("journals").toString
    val catalog = new JournalCatalog
    journals.zipWithIndex.foreach { case (j, i) =>
      catalog.upsert(JournalSpec(j, LabelSet(Vector(Label("app", "bench-events"),
        Label("part", f"$i%02d"))), stores = Vector(root))).fold(sys.error, identity)
    }
    // A journal the selector must leave out.
    catalog.upsert(JournalSpec("bench/audit/log", LabelSet(Vector(Label("app", "bench-audit"))),
      stores = Vector(root))).fold(sys.error, identity)

    val sinkS = mutable.Map.empty[Long, Double]
    var batches = Seq.empty[(Long, Double)]
    var drainS = Double.NaN
    var readS = Double.NaN
    var rows = 0L
    t.span("pass", Map("phase" -> phase)) {
      // Write side: one micro-batch per backlog file.
      val d0 = System.nanoTime()
      val drained = t.span("drain") {
        val parent = t.current
        val key = unhex(substring(get_json_object(col("value"), "$.uuid"), 21, 12))
        val target = Publisher.rendezvousMapping(key, journals)
        val routes = journals.map(j => j -> (target === lit(j)))
        try {
          val q = spark.readStream.option("maxFilesPerTrigger", "1").text(backlog.toString)
            .writeStream
            .foreachBatch { (df: DataFrame, id: Long) =>
              val s0 = System.nanoTime()
              t.span("sink", Map("batch" -> id.toString), parent) {
                Journal.batchSinkRouted(root, routes, df, id, payloadCol = "value")
              }
              sinkS.synchronized(sinkS(id) = (System.nanoTime() - s0) / 1e9)
            }
            .option("checkpointLocation", dir.resolve("checkpoint").toString)
            .trigger(Trigger.AvailableNow()).start()
          val done = q.awaitTermination(120000L)
          q.exception.foreach(throw _)
          require(done, "stream drain timed out")
          Some(q.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p.batchDuration / 1e3).toSeq)
        } catch { case e: Throwable =>
          System.err.println(s"perfbench: drain failed: $e")
          None
        }
      }
      drainS = (System.nanoTime() - d0) / 1e9
      // Every file is one micro-batch operation, counted whatever happened.
      ledger.attempted += Files_
      drained match {
        case Some(bs) =>
          batches = bs
          if (bs.size != Files_) ledger.problem(s"round $r: ${bs.size} micro-batches for $Files_ files")
        case None => ledger.failed += Files_
      }
      // Read side: selector-resolved, read-committed.
      val resolved = t.span("resolve")(catalog.list(selector).map(_.name))
      if (resolved != journals) ledger.problem(s"selector resolved ${resolved.mkString(",")}")
      val r0 = System.nanoTime()
      ledger.op("read-committed") {
        t.span("read") {
          val env = t.span("build")(catalog.readSelected(spark, selector))
          val committed = t.span("build")(ReadCommitted.committedJson(env.toDF(), schema))
          t.span("action")(consumeCommitted(committed))
        }
      }.foreach { case (n, _, ids1, ids2) =>
        readS = (System.nanoTime() - r0) / 1e9
        rows = n
        if (n != truth("committed") || ids1 != truth("id_sum") || ids2 != truth("id_sum2"))
          ledger.problem(s"round $r: read $n committed rows (ids $ids1/$ids2), expected " +
            s"${truth("committed")} (${truth("id_sum")}/${truth("id_sum2")})")
      }
    }
    val span = t.allSpans.reverseIterator.find(s => s.name == "pass" && s.end >= 0)
      .filter(_ => t.enabled)
    last = Some((r, dir, root, catalog))
    Pass(drainS + readS,
      batches.map(_._2), span,
      Map("drain_s" -> drainS, "read_s" -> readS, "rows" -> rows.toDouble) ++
        batches.flatMap { case (id, s) => sinkS.get(id).map(k => s"trigger.$id" -> (s - k)) } +
        ("round" -> r.toDouble))
  }

  /** Untimed checks of a round: every journal's fragments tile [0, head)
    * with no gap or overlap, and the envelopes read back cover exactly
    * the committed bytes, one per message. Records the fragment count
    * and the stored bytes.
    */
  private def checkJournals(spark: SparkSession, catalog: JournalCatalog, root: String,
      r: Int): Unit = {
    val listed = t.span("list", Map("round" -> r.toString))(journals.map(j => j -> Journal.listFragments(root, j)))
    fragments = listed.map(_._2.size).sum
    var heads = 0L
    listed.foreach { case (j, frags) =>
      val head = Journal.head(root, j)
      heads += head
      val ends = frags.foldLeft(0L) { (at, f) =>
        if (f.begin != at) ledger.problem(s"round $r: $j fragment ${f.name} begins at ${f.begin}, expected $at")
        f.end
      }
      if (ends != head) ledger.problem(s"round $r: $j fragments end at $ends, head is $head")
    }
    val (n, bytes) = t.span("envelopes", Map("round" -> r.toString)) {
      val env = catalog.readSelected(spark, selector).toDF()
      val (b, e) = (env.schema.fieldIndex("begin"), env.schema.fieldIndex("end"))
      val a = Digest.fold(env, 1)((u, acc) => acc(2) += u.getLong(e) - u.getLong(b))
      (a(0), a(2))
    }
    if (n != truth("messages")) ledger.problem(s"round $r: read $n envelopes, sent ${truth("messages")}")
    if (bytes != heads) ledger.problem(s"round $r: envelopes span $bytes bytes, journals hold $heads")
    storedMb = listed.flatMap(_._2).map(f =>
      Files.size(Paths.get(new org.apache.hadoop.fs.Path(f.path).toUri.getPath))).sum / (1024.0 * 1024.0)
  }

  /** Full consumption of the committed rows: row count, the order-free
    * digest of every column, and two order-free sums over event ids
    * that the generator's ground truth predicts.
    */
  private def consumeCommitted(df: DataFrame): (Long, Long, Long, Long) = {
    val idIx = df.schema.fieldIndex("event_id")
    val a = Digest.fold(df, 2) { (u, acc) =>
      val m = Digest.mix64(u.getLong(idIx))
      acc(2) += m
      acc(3) += Digest.mix64(m)
    }
    (a(0), a(1), a(2), a(3))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def endToEnd(cold: Pass, steady: Seq[Pass]): Map[String, (Double, String)] = {
    val batch = steady.flatMap(_.ops)
    val mb = payloadBytes / (1024.0 * 1024.0)
    Map(
      "pass_s" -> (Stats.median(steady.map(_.wall)), "s"),
      "ingest_mb_s" -> (Stats.median(steady.map(p => mb / p.extra("drain_s"))), "MB/s"),
      "batch_p50_s" -> (Stats.median(batch), "s"),
      "batch_tail_s" -> (Stats.percentile(batch, JournalWorkload.TailPercentile), "s"),
      "read_rows_s" -> (Stats.median(steady.map(p => p.extra("rows") / p.extra("read_s"))), "rows/s"),
      "stored_mb" -> (storedMb, "MB"))
  }

  def perLayer(spark: SparkSession, steady: Seq[Pass]): Map[String, (Double, String)] = {
    val sinks = steady.flatMap(_.span).flatMap(ps => t.subtree(ps).filter(_.name == "sink"))
    def perPass(n: String) = Stats.median(steady.flatMap(_.span).map(ps =>
      t.subtree(ps).filter(_.name == n).map(_.seconds).sum))
    // The untimed checks of the last round run after its pass span.
    def lastCheck(n: String) = {
      val r = steady.last.extra("round").toInt.toString
      t.allSpans.filter(s => s.name == n && s.attrs.get("round").contains(r)).map(_.seconds).sum
    }
    Map(
      "sources.sink_s" -> (Stats.median(sinks.map(_.seconds)), "s"),
      "sources.sink_driver_s" -> (Stats.median(sinks.map(s => t.noJobNanos(s) / 1e9)), "s"),
      "sources.fragments" -> (fragments.toDouble, "count"),
      "sources.list_s" -> (lastCheck("list"), "s"),
      "sources.read_s" -> (lastCheck("envelopes"), "s"),
      "streaming.trigger_s" -> (Stats.median(steady.flatMap(_.extra.collect {
        case (k, v) if k.startsWith("trigger.") => v })), "s"),
      "streaming.read_committed_s" -> (perPass("read"), "s"),
      "catalog.resolve_ms" -> (perPass("resolve") * 1e3, "ms"))
  }
}

object JournalWorkload {
  /** Eight batches a round and at least two measured rounds give 16 or
    * more samples, four of them beyond p75 (README.md, "batch_tail_s").
    */
  val TailPercentile = 75.0
}
