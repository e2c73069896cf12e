package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.sources.Journal
import graft.streaming.Sequencer

/** Queries exercising the streaming substrate in batch form: the
  * read-committed Sequencer (E4) and the journal fragment write/read
  * path (S1-S7).
  */
object StreamOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q30: sequencer dedup over an OUTSIDE_TXN stream. Events become
    // envelopes: producer = user bucket, clock = event-time at minute
    // granularity (coarse on purpose — collisions are the duplicates to
    // dedup), offsets = per-producer arrival order. Committed = clock
    // strictly advances per producer.
    "q30_sequencer_dedup" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"producer").orderBy($"ts", $"event_id")
      val env = Tables.events(s, d)
        .withColumn("producer", ($"user_id" % 50).cast("string"))
        .withColumn("begin", row_number().over(w).cast("long"))
        .select(
          lit("events").as("journal"), $"begin", ($"begin" + 1).as("end"),
          $"producer", expr("ts DIV 60000000000").as("clock"),
          lit(Sequencer.OutsideTxn).as("flags"),
          $"event_id".cast("string").as("payload"))
        .as[Sequencer.SeqEnvelope]
      Sequencer.sequenceBatch(env)
        .select($"payload".cast("long").as("event_id"))
    },

    // ---- q36: the full read-committed path (SURVEY §3.2): events are
    // UUID-stamped (producer = user bucket, clock = event-time minutes —
    // coarse so collisions produce duplicates), framed as ndjson into a
    // journal, read back through the DSv2 `journal` format, sequenced,
    // and decoded to typed records. Committed set = per-producer strictly
    // advancing clocks, exactly the oracle's window semantics.
    "q36_read_committed" -> { (s, d) =>
      import s.implicits._
      import graft.functions.F
      val root = privateRoot("rc")
      // Parallel ordered spool: range partitions are index-ordered and
      // the journal commit assigns offsets by partition index, so N sorted
      // range partitions produce N fragments whose concatenated byte
      // order IS the global (ts, event_id) order — same journal order
      // as a single sorted spool, at N× the compression throughput,
      // and the read back parallelizes per fragment.
      val par = s.sparkContext.defaultParallelism
      val stamped = Tables.events(s, d)
        .withColumn("producer6", unhex(lpad(hex($"user_id" % 50), 12, "0")))
        .withColumn("uuid_hex", hex(F.build_uuid($"producer6",
          expr("ts DIV 60000000000"), lit(0))))
        .repartitionByRange(par, $"ts", $"event_id")
        .sortWithinPartitions($"ts", $"event_id")
        .select(to_json(struct($"event_id", $"uuid_hex".as("uuid"))).as("payload"))
      // Native DSv2 write path (the Append RPC as a sink): executors
      // spool, the commit assigns offsets in partition-index order —
      // the same spool kernel and commit as Journal.append.
      stamped.write.format("journal")
        .option("root", root).option("journal", "events").option("codec", "gz")
        .mode("append").save()
      val envelopes = s.read.format("journal")
        .option("root", root).option("journal", "events").load()
      graft.streaming.ReadCommitted.committedJson(envelopes,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType))))
        .select($"event_id")
    },

    // ---- q167: the STREAMING ingest guard end-to-end (VERDICT r8 #3):
    // the corpus replayed as a file-stream source (one parquet file per
    // micro-batch), tagged in-stream by the exact guard
    // (deterministic), and ROUTED at write time: contaminated docs land in a
    // quarantine journal, clean docs in the train journal, through the
    // crash-atomic foreachBatch journal sink. The driver-checked result
    // reads BOTH journals back and reassembles the per-doc tags — so
    // the oracle (identical to q166's) certifies the full stream →
    // guard → route → journal-commit → read-back composition, not just
    // the guard projection. Reference analog: message/publisher.go's
    // validate-before-publish contract (interfaces.go:143-145).
    "q167_ingest_guard_streaming" -> { (s, d) =>
      import s.implicits._
      import graft.operators.{Contamination, Dedup}
      val docs = Tables.documents(s, d)
      val evalSet = Contamination.evalShingleSet(
        Dedup.docShingles(docs.filter($"doc_id" % 17 === 0),
          $"doc_id", $"text", 5))
      // Observability: the guard publishes per-batch checked/quarantined
      // aggregates (observe → GraftStreamingListener → `query.*.observed
      // .graft_guard.*` counters) — a plan annotation, rows unchanged.
      graft.metrics.GraftMetrics.attachListener(s)
      drainRouted(s, "ig", docs, Seq(
          "guard/quarantine" -> $"contaminated",
          "guard/train" -> !$"contaminated"),
          "doc_id BIGINT, n_eval_hits BIGINT, contaminated BOOLEAN") { src =>
        graft.metrics.GraftMetrics.observeGuard(
            Contamination.ingestGuardExact(src, evalSet, n = 5))
          .select($"contaminated",
            to_json(struct($"doc_id", $"n_eval_hits", $"contaminated"))
              .as("payload"))
      }
    },

    // ---- q31: journal write→read round-trip: events framed as ndjson
    // fragments (content-addressed, gzip), read back as envelopes with
    // byte offsets, payloads decoded and re-aggregated.
    "q31_journal_roundtrip" -> { (s, d) =>
      import s.implicits._
      val root = privateRoot("rt")
      // Single-file parquet scans arrive as ONE partition: repartition
      // so the to_json + gzip spool runs on every core and the read
      // back gets one task per fragment.
      val payloads = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(to_json(struct(col("*"))).as("payload"))
      payloads.write.format("journal")
        .option("root", root).option("journal", "events").option("codec", "gz")
        .mode("append").save()
      Journal.read(s, root, "events").toDF()
        .select(get_json_object($"payload", "$.event_type").as("event_type"))
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q30_sequencer_dedup" ->
      """SELECT event_id FROM (
        |  SELECT event_id, epoch_ns(ts) // 60000000000 AS clock,
        |    max(epoch_ns(ts) // 60000000000) OVER (
        |      PARTITION BY user_id % 50 ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM events) t
        |WHERE mx IS NULL OR clock > mx""".stripMargin,

    "q31_journal_roundtrip" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",

    // Identical semantics to q166 (the guard is exact and routing is
    // content-determined), but the Spark side travels stream → guard →
    // quarantine/train journals → read-back; equality against the SAME
    // oracle definition (one shared val — the two gates cannot drift)
    // proves the write-path composition loses and duplicates nothing.
    "q167_ingest_guard_streaming" -> CorpusOps.ingestGuardOracleSql,

    // Same committed-set semantics as q30, but exercised through the
    // journal + DSv2 + UUID + sequencer pipeline.
    "q36_read_committed" ->
      """SELECT event_id FROM (
        |  SELECT event_id, epoch_ns(ts) // 60000000000 AS clock,
        |    max(epoch_ns(ts) // 60000000000) OVER (
        |      PARTITION BY user_id % 50 ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM events) t
        |WHERE mx IS NULL OR clock > mx""".stripMargin
  )

  /** Streams `corpus` through a routed journal sink and reads the
    * routes back. The corpus is staged as 4 parquet files and replayed
    * one file per micro-batch, so `transform` and the sink's commit run
    * repeatedly (one batch would not exercise the per-batch idempotence
    * markers). `transform` turns the stream into a frame with a
    * `payload` column; every micro-batch goes through one
    * `Journal.batchSinkRouted` spool pass over `routes`, and
    * `AvailableNow` drains the stream. The result is every route's
    * payload decoded by the `ddl` schema. The query is stopped on every
    * exit, so a timeout or a failure never leaves it running on the
    * session.
    */
  private[queries] def drainRouted(s: SparkSession, tag: String,
      corpus: DataFrame, routes: Seq[(String, Column)], ddl: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    val root = privateRoot(tag)
    val stage = s"$root/stage"
    corpus.repartition(4).write.parquet(stage)
    val src = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = transform(src).writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        Journal.batchSinkRouted(root, routes, df, batchId)
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    try require(q.awaitTermination(600000), s"$tag stream drain timed out")
    finally q.stop()
    routes.map { case (j, _) => Journal.read(s, root, j).toDF() }
      .reduce(_ unionByName _)
      .select(from_json(col("payload"), StructType.fromDDL(ddl)).as("r"))
      .select("r.*")
  }

  /** A root of its own (for journals or an index) for one query
    * invocation, so concurrent or repeated runs never share one. It is
    * deleted when the JVM exits, not on return: the returned frame
    * reads the files under it lazily.
    */
  private[queries] def privateRoot(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-journals-$tag-")
    sys.addShutdownHook(deleteRecursively(p))
    p.toString
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      // Files.walk holds open DirectoryStreams until close() — without
      // it each invocation leaks directory FDs until finalization.
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
