package graft.sources.v2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import graft.sources.Journal
import graft.sources.Journal.HadoopConf

/** Table-level write defaults (a catalog table's JournalSpec fields);
  * per-write options override them. Keeps CREATE/ALTER TABLE
  * properties meaningful on the SQL write path, where no write
  * options are passed.
  */
final case class JournalWriteDefaults(
  maxFragmentBytes: Long = Long.MaxValue,
  maxAppendRate: Long = 0L,
  flushIntervalMs: Long = 0L)

/** DSv2 write path for the `journal` format (S5: the Append RPC,
  * protocol.proto:484-616, re-expressed in Spark's commit protocol) on
  * the journal write kernel every write path shares: each task spools
  * framed payloads through one [[Journal.SpoolSet]] (the reference's
  * Spool, broker/fragment/spool.go:26-50), and the driver commits with
  * [[Journal.commitSpooled]] — offsets from the multi-store head in
  * (partition, postfix, roll) order, then the rename into the fragment
  * index. Spark's commit coordinator (on by default) ensures exactly
  * one task attempt per partition commits; aborted attempts delete
  * their own spools. A streaming epoch commits under the batch marker
  * (queryId, epochId), so a retried epoch lands exactly once.
  *
  * Write options: `codec` (fragment codec, default table codec);
  * `postfixCol` (string column routed to Hive-style `key=value` path
  * postfix subdirectories, the reference's path_postfix_template —
  * the column is consumed as routing metadata, not framed);
  * `maxFragmentBytes` (spool roll bound — the reference's fragment
  * `length` target, protocol.proto:214-218 — so fragment size and
  * read-task granularity stay bounded for any write-partition size);
  * `maxAppendRate` (bytes/sec write throttle — the reference's
  * per-journal `max_append_rate`, protocol.proto:293-298 — enforced by
  * a per-JVM token bucket, see [[AppendFlowControl]] for the
  * cluster-aggregate semantics).
  */
class JournalWrite(roots: Seq[String], journal: String, tableCodec: String,
    info: LogicalWriteInfo,
    defaults: JournalWriteDefaults = JournalWriteDefaults()) extends Write {

  // New fragments persist to the FIRST store (the active store); the
  // other stores still participate in offset derivation below.
  private val root: String = roots.head

  private val codec: String =
    Option(info.options.get("codec")).getOrElse(tableCodec)

  private val maxFragmentBytes: Long = {
    val v = Option(info.options.get("maxFragmentBytes")).map(_.toLong)
      .getOrElse(defaults.maxFragmentBytes)
    // Parity with the spool pass's require: 0 would roll an empty spool
    // on EVERY write — one fragment (and one commit rename) per record.
    require(v > 0, s"maxFragmentBytes must be positive, got $v")
    v
  }

  private val maxAppendRate: Long =
    Option(info.options.get("maxAppendRate")).map(_.toLong)
      .getOrElse(defaults.maxAppendRate)

  // fragment.flush_interval (protocol.proto:229-246): time-roll bound
  // for spools inside ONE batch/epoch — micro-batch triggers already
  // close spools per epoch, so this matters for long batch appends of
  // trickling sources. 0 = size-only rolling.
  private val flushIntervalMs: Long =
    Option(info.options.get("flushIntervalMs")).map(_.toLong)
      .getOrElse(defaults.flushIntervalMs)

  // Accepts any input schema carrying a string `payload` column (the
  // table declares ACCEPT_ANY_SCHEMA: journals frame opaque payloads,
  // they don't impose relational shape on writers). A single-string-
  // column input of any name also works.
  private val payloadIdx: Int = {
    val schema = info.schema()
    val byName = schema.fields.indexWhere(f =>
      f.name.equalsIgnoreCase("payload") && f.dataType == StringType)
    if (byName >= 0) byName
    else if (schema.fields.length == 1 && schema.fields(0).dataType == StringType) 0
    else throw new IllegalArgumentException(
      s"journal write needs a string `payload` column, got ${schema.simpleString}")
  }

  private val postfixIdx: Int =
    Option(info.options.get("postfixCol")).map { pc =>
      val i = info.schema().fields.indexWhere(_.name.equalsIgnoreCase(pc))
      require(i >= 0, s"postfixCol `$pc` not in ${info.schema().simpleString}")
      require(info.schema().fields(i).dataType == StringType,
        s"postfixCol `$pc` must be a string column")
      i
    }.getOrElse(-1)

  private def factory = new JournalWriterFactory(
    root, journal, codec, payloadIdx, postfixIdx, maxFragmentBytes,
    new HadoopConf(Journal.hadoopConf),
    // maxAppendRate is the journal's AGGREGATE ceiling; each executor
    // JVM gets its share (see AppendFlowControl.perJvmShare).
    AppendFlowControl.perJvmShare(
      org.apache.spark.sql.SparkSession.active.sparkContext, maxAppendRate),
    flushIntervalMs)

  private def spooled(messages: Array[WriterCommitMessage]): Seq[Journal.Spooled] =
    messages.toSeq.flatMap {
      case s: SpoolCommit => s.spools
      case _ => Nil // a failed task's slot
    }

  private def dropSpooled(messages: Array[WriterCommitMessage]): Unit =
    Journal.dropSpools(new HPath(root).getFileSystem(Journal.hadoopConf),
      spooled(messages))

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      Journal.commitSpooled(root, journal, spooled(messages), codec, offsetRoots = roots)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      dropSpooled(messages)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      factory
    // queryId is stable across checkpointed restarts (unlike runId), so
    // a retried epoch maps to the same marker and lands exactly once.
    private val qid = info.queryId()
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      Journal.commitSpooled(root, journal, spooled(messages), codec,
        offsetRoots = roots, batch = Some((s"$qid-", epochId)))
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      dropSpooled(messages)
  }
}

/** One task's closed spools, awaiting offset assignment + rename. */
private[graft] case class SpoolCommit(spools: Seq[Journal.Spooled])
  extends WriterCommitMessage

/** Executor-side writer: one [[Journal.SpoolSet]] per task, so spools
  * are created lazily per postfix and empty partitions produce no
  * fragment.
  */
class JournalWriterFactory(root: String, journal: String, codec: String,
    payloadIdx: Int, postfixIdx: Int, maxFragmentBytes: Long, hc: HadoopConf,
    maxAppendRate: Long, flushIntervalMs: Long)
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId)

  private def writer(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // The task id in the spool names keeps them out of sweepSpools'
      // batch-path pattern: aborted attempts reclaim their own.
      private lazy val spools = new Journal.SpoolSet(
        new HPath(root).getFileSystem(hc.value), root, Vector(journal),
        partitionId, s"$partitionId-$taskId", codec,
        maxFragmentBytes = maxFragmentBytes, flushIntervalMs = flushIntervalMs,
        rateShare = maxAppendRate)

      override def write(row: InternalRow): Unit = {
        val payload = row.getUTF8String(payloadIdx)
        val postfix =
          if (postfixIdx < 0) ""
          else { val p = row.getUTF8String(postfixIdx); if (p == null) null else p.toString }
        spools.write(0, postfix, if (payload == null) null else payload.getBytes)
      }

      override def commit(): WriterCommitMessage = SpoolCommit(spools.finish())

      override def abort(): Unit = spools.abort()

      override def close(): Unit = ()
    }
}
