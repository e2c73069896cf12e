package graft.sources.v2

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Journal
import graft.sources.Journal.{Fragment, HadoopConf}

/** DataSource V2 `journal` format (SURVEY §7 Phase 2, mapping S1-S5):
  * one journal is simultaneously a batch table, a micro-batch stream,
  * and a write sink over the same content-addressed fragment files.
  *
  * {{{
  *   spark.read.format("journal")
  *     .option("root", "/data/journals").option("journal", "topic/a").load()
  *   spark.readStream.format("journal").options(...).load()
  *   df.write.format("journal").mode("append").options(...).save()
  *   df.writeStream.format("journal").options(...).start()
  * }}}
  *
  * Options:
  *  - `root` (or `roots`, comma-separated): fragment store(s). Reads
  *    union the listings across stores (the reference's WalkAllStores,
  *    broker/fragment/index.go:224-257); writes land in the FIRST root
  *    (the active store).
  *  - `journal`: journal name.
  *  - `codec` (write): fragment codec, default `gz`.
  *  - `maxBytesPerTrigger` (streaming read): admission control.
  *    Evaluated in `latestOffset` on the DRIVER — one decision point
  *    regardless of executor count, so unlike the write-side rate
  *    limiter (which needs per-JVM shares, see AppendFlowControl) the
  *    read cap is globally exact on any cluster size by construction.
  *  - `postfix.<key>.min` / `.max` / `.eq` (read): prune Hive-style
  *    `key=value` postfix directories by LEXICOGRAPHIC compare before
  *    planning (the read-side half of path_postfix_template,
  *    docs/overview-intro.rst:48-50) — encode values fixed-width
  *    (ISO dates, zero-padded hours). Fragments not partitioned by
  *    `<key>` are never pruned.
  *
  * Batch: input partitions are cover-set-resolved fragments; executors
  * open fragment files directly (the reference's read delegation,
  * broker/read_api.go:51-55), with `preferredLocations` from the
  * fragments' block hosts (zone-aware placement,
  * docs/brokers-concepts.rst:155-160). Streaming: the journal head (max
  * fragment end offset) is the stream offset; each micro-batch reads
  * the byte range [start, end) via fragment slices — exact, replayable
  * offsets, so a checkpointed query resumes mid-journal.
  *
  * Writes are the Append RPC re-expressed (protocol.proto:484-616) on
  * the one journal write kernel every write path shares: executors
  * spool framed payloads through [[Journal.SpoolSet]] (S6), and
  * [[Journal.commitSpooled]] assigns contiguous offsets and renames the
  * spools into the index (S5/S7). A streaming epoch commits under its
  * (queryId, epochId) batch marker, so a retried epoch lands exactly
  * once.
  */
class JournalDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "journal"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JournalDataSource.schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // getTable properties preserve the caller's option-key case, but
    // Spark options are conventionally case-insensitive — wrap in the
    // stock CaseInsensitiveStringMap (the same class the scan path
    // uses) so .option("MaxBytesPerTrigger", …) is not silently
    // ignored (admission control degrading with no error).
    import scala.jdk.CollectionConverters._
    val props = new CaseInsensitiveStringMap(properties)
    def opt(k: String): Option[String] = Option(props.get(k))
    // Empty segments (trailing/double comma) would surface later as an
    // opaque "Can not create a Path from an empty string" deep inside
    // the first listing — drop them here so a misconfigured option
    // fails at its own require with the real cause.
    val roots = opt("roots").orElse(opt("root"))
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    val postfix = {
      val re = """(?i)postfix\.(.+)\.(min|max|eq)""".r
      // From the ORIGINAL map: the embedded <key> names a directory
      // segment, whose case is significant on the filesystem.
      properties.asScala.toSeq.collect {
        case (re(key, op), bound) => PostfixPredicate(key, op.toLowerCase, bound)
      }
    }
    new JournalTable(roots.orNull, opt("journal").orNull,
      opt("maxBytesPerTrigger").map(_.toLong),
      postfix, opt("codec").getOrElse("gz"))
  }
}

object JournalDataSource {
  val schema: StructType = StructType(Seq(
    StructField("journal", StringType, nullable = false),
    StructField("begin", LongType, nullable = false),
    StructField("end", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))
}

/** One read-side postfix pruning bound: keep a fragment when its
  * `key=value` postfix satisfies `value (>=|<=|==) bound`
  * lexicographically; fragments without the key cannot be pruned.
  */
case class PostfixPredicate(key: String, op: String, bound: String) {
  def keep(values: Map[String, String]): Boolean = values.get(key) match {
    case None => true
    case Some(v) => op match {
      case "min" => v >= bound
      case "max" => v <= bound
      case _     => v == bound
    }
  }
}

class JournalTable(roots: Seq[String], journal: String,
    maxBytesPerTrigger: Option[Long] = None,
    postfix: Seq[PostfixPredicate] = Nil,
    codec: String = "gz",
    writeDefaults: JournalWriteDefaults = JournalWriteDefaults())
  extends Table with SupportsRead with SupportsWrite {
  require(roots != null && roots.nonEmpty && journal != null,
    "options root (or roots) and journal are required")
  override def name(): String = s"journal:$journal"
  override def schema(): StructType = JournalDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  /** Per-scan options override the table-level configuration — without
    * this, `spark.readStream.option("maxBytesPerTrigger", …)
    * .table("cat.ns.j")` (the catalog flow, which never passes through
    * `getTable`) would silently lose admission control and postfix
    * pruning: exactly the silent-degradation class the getTable
    * case-folding comment warns about. Per-scan postfix predicates ADD
    * to the table's (both prune; conjunction is safe); the original-
    * case map supplies the postfix keys, whose case names a directory.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val mbt = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
      .orElse(maxBytesPerTrigger)
    val scanPostfix = {
      import scala.jdk.CollectionConverters._
      val re = """(?i)postfix\.(.+)\.(min|max|eq)""".r
      options.asCaseSensitiveMap().asScala.toSeq.collect {
        case (re(key, op), bound) => PostfixPredicate(key, op.toLowerCase, bound)
      }
    }
    // distinct: on the path-based flow the same options build BOTH the
    // table's predicates and the scan's — conjunction is idempotent,
    // but no point filtering each fragment twice per bound.
    () => new JournalScan(roots, journal, mbt,
      (postfix ++ scanPostfix).distinct)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new JournalWrite(roots, journal, codec, info, writeDefaults)
    }
}

class JournalScan(roots: Seq[String], journal: String,
    maxBytesPerTrigger: Option[Long] = None,
    postfix: Seq[PostfixPredicate] = Nil) extends Scan {
  override def readSchema(): StructType = JournalDataSource.schema
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Journal.coverSet(JournalScan.listPruned(roots, journal, postfix))
        .map { case (f, from) => FragmentPartition(f, from, f.end): InputPartition }
        .toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new FragmentReaderFactory(new HadoopConf(Journal.hadoopConf))
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new JournalMicroBatchStream(roots, journal, maxBytesPerTrigger, postfix)
}

object JournalScan {
  /** Union listing across stores with postfix predicates applied —
    * pruning happens BEFORE cover-set planning, so pruned subtrees
    * cost no input partitions at all.
    */
  def listPruned(roots: Seq[String], journal: String,
      postfix: Seq[PostfixPredicate]): Vector[Fragment] =
    prune(Journal.listFragments(roots, journal), postfix)

  /** The ONE postfix filter, shared by batch and streaming planning so
    * the two paths can never prune differently. */
  def prune(frags: Vector[Fragment],
      postfix: Seq[PostfixPredicate]): Vector[Fragment] =
    if (postfix.isEmpty) frags
    else frags.filter { f =>
      val values = Journal.postfixValues(f)
      postfix.forall(_.keep(values))
    }
}

/** A fragment slice [from, to) to surface as rows, scheduled near the
  * fragment's blocks when the store reports locations (HDFS, cache
  * tiers); object stores report none and the hint is empty.
  */
case class FragmentPartition(fragment: Fragment, from: Long, to: Long) extends InputPartition {
  override def preferredLocations(): Array[String] = fragment.hosts.toArray
}

class FragmentReaderFactory(hc: HadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FragmentPartition]
    new PartitionReader[InternalRow] {
      private val it = Journal.readFragmentSlice(p.fragment, p.from, p.to, hc.value)
      private var cur: Journal.Envelope = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = InternalRow(
        UTF8String.fromString(cur.journal), cur.begin, cur.end,
        UTF8String.fromString(cur.payload))
      // The slice iterator self-closes at its bound/EOF; this covers a
      // task killed or limit-stopped before exhaustion.
      override def close(): Unit = it match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}

/** Stream offset = journal head byte offset. */
case class JournalOffset(head: Long) extends Offset {
  override def json(): String = s"""{"head":$head}"""
}

/** Admission-controlled byte read limit (the engine's
  * `maxOffsetsPerTrigger` analog — offsets ARE bytes here). Round-trips
  * through Spark's SupportsAdmissionControl contract untouched.
  */
case class ReadMaxJournalBytes(bytes: Long) extends ReadLimit {
  // 0 would make every micro-batch [s, s) — AvailableNow then never
  // reaches its drain target; negative would move offsets backward.
  require(bytes > 0, s"maxBytesPerTrigger must be positive, got $bytes")
}

class JournalMicroBatchStream(roots: Seq[String], journal: String,
    maxBytesPerTrigger: Option[Long] = None,
    postfix: Seq[PostfixPredicate] = Nil)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  // ---- fragment index cache -----------------------------------------
  // Every refresh (each trigger's latestOffset) re-lists the journal in
  // full: zero staleness, right for journals compacted while streamed.
  // The full re-list costs one `listStatus` per directory plus one
  // block-location lookup per file: on the local store, 1 000 listed
  // files take 0.05-0.08 s. Offset planning between refreshes reads
  // the last listing.
  private var index: Vector[Fragment] = Vector.empty
  private var walked = false

  private def refreshIndex(): Unit = synchronized {
    index = Journal.listFragments(roots, journal)
    walked = true
  }

  private def cachedIndex(): Vector[Fragment] = synchronized {
    if (!walked) refreshIndex()
    index
  }

  private def indexHead(): Long =
    cachedIndex().map(_.end).foldLeft(0L)(math.max)

  // Trigger.AvailableNow contract: pin the drain target at query start
  // so the paced (admission-controlled) batches stop at a fixed head
  // even while writers keep appending.
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    refreshIndex()
    availableNowEnd = Some(indexHead())
  }

  private def currentHead(): Long =
    availableNowEnd.getOrElse { refreshIndex(); indexHead() }

  // Progress events carry this as the source description — lets
  // ConsumerApp.readThrough target ONE journal in a multi-source query.
  override def toString: String = s"journal:$journal"

  override def initialOffset(): Offset = JournalOffset(0L)
  override def latestOffset(): Offset = JournalOffset(currentHead())

  /** Flow control (the reference's append/read flow-control knobs,
    * SURVEY §2.12): cap each micro-batch at `maxBytesPerTrigger`
    * journal bytes, so a backfill over a deep journal proceeds in
    * bounded, checkpointable steps instead of one giant batch.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxBytesPerTrigger.map(ReadMaxJournalBytes(_): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  /** First offset at or after `s` covered by a listed fragment: lets
    * admission-controlled offsets JUMP pruned front spans instead of
    * crawling them — a journal retention-pruned to begin at 10 GB with
    * maxBytesPerTrigger=1 MB would otherwise run ~10,000 consecutive
    * EMPTY micro-batches (each paying a full listing) before the first
    * row. Unpruned index on purpose: offsets track journal bytes, and
    * skipping only true fragment holes is conservative under postfix
    * pruning.
    */
  private def nextDataOffset(s: Long): Long = {
    val begins = cachedIndex().collect { case f if f.end > s => f.begin }
    if (begins.isEmpty) s else math.max(s, begins.min)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = currentHead()
    val s = start.asInstanceOf[JournalOffset].head
    // Clamp at `s` in BOTH branches: a transiently short listing (one
    // store of a mid-migration pair missing, or an eventually-
    // consistent LIST) can report head < s — returning it would rewind
    // the checkpoint and re-deliver [head, s) once the store recovers.
    limit match {
      // Saturating add: maxBytesPerTrigger = Long.MaxValue ("unlimited")
      // would wrap s + b negative once s > 0 — the next batch would
      // re-read from 0 (duplicates) and serialize a negative head the
      // offset regex can never parse back (unrestorable checkpoint).
      case ReadMaxJournalBytes(b) =>
        val s2 = nextDataOffset(s) // >= s: hole-skip never rewinds
        JournalOffset(if (b > head - s2) math.max(s2, head) else s2 + b)
      case _ => JournalOffset(math.max(s, head))
    }
  }

  override def reportLatestOffset(): Offset = JournalOffset(indexHead())
  override def deserializeOffset(json: String): Offset = {
    val m = """\{"head":(\d+)\}""".r
    json.trim match {
      case m(h) => JournalOffset(h.toLong)
      case other => throw new IllegalArgumentException(s"bad journal offset: $other")
    }
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[JournalOffset].head, end.asInstanceOf[JournalOffset].head)
    // A recovered batch replans before any poll of this instance; force
    // a walk when the cached index doesn't cover the batch's range.
    var frags = cachedIndex()
    if (frags.map(_.end).foldLeft(0L)(math.max) < e) {
      refreshIndex()
      frags = cachedIndex()
    }
    val kept = JournalScan.prune(frags, postfix)
    Journal.coverSet(kept)
      .flatMap { case (f, from) =>
        val lo = math.max(from, s)
        val hi = math.min(f.end, e)
        if (lo < hi) Some(FragmentPartition(f, lo, hi): InputPartition) else None
      }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new FragmentReaderFactory(new HadoopConf(Journal.hadoopConf))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

// The write path (S5: the Append RPC as a DSv2 sink) lives in
// JournalWritePath.scala.
