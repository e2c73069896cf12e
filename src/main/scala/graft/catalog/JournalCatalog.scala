package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.labels.{Label, LabelSet, LabelSelector}

/** Control-plane surface (SURVEY §2.12): journal specs with labels,
  * revisioned upsert/delete (the Apply RPC's check-and-set,
  * `/root/reference/broker/list_apply_api.go:122-284`), and
  * selector-filtered listing with `name`/`prefix` meta-labels
  * (`/root/reference/broker/protocol/protocol.proto:662-701`).
  *
  * The Etcd-backed KeySpace of the reference is a driver-side concern
  * here: catalog state lives in the Spark driver (or an external
  * catalog in a production deployment); executors only ever see resolved
  * journal lists.
  */
final case class JournalSpec(
    name: String,
    labels: LabelSet = LabelSet.empty,
    replication: Int = 1,
    fragmentTargetLength: Long = 1L << 29,
    codec: String = "gz",
    readOnly: Boolean = false,
    writeOnly: Boolean = false,
    // Fragment stores (protocol.proto:201-211): reads union-list ALL of
    // them (mid-migration fragments may span stores); new fragments
    // persist to the FIRST (the active store). Any Hadoop FS root.
    stores: Vector[String] = Vector.empty,
    // fragment.retention (protocol.proto:229-246): fragments persisted
    // longer than this are prune-eligible; 0 = retain forever.
    retentionMs: Long = 0L,
    // max_append_rate (protocol.proto:293-298): per-JVM bytes/sec write
    // throttle; 0 = unlimited. See sources.v2.AppendFlowControl.
    maxAppendRate: Long = 0L,
    // fragment.flush_interval (protocol.proto:229-246): a spool open
    // longer than this rolls at the next write, so a slow journal's
    // fragments persist on a clock instead of waiting for size
    // pressure; 0 = roll on size only. Micro-batch streaming epochs
    // already close their spools per trigger; this matters for
    // long-running batch appends of trickling sources.
    flushIntervalMs: Long = 0L) {

  /** Token rules from the reference validators
    * (journal_spec_extensions.go:55-70; label_extensions.go:13-25).
    */
  def validate: Either[String, JournalSpec] = {
    import JournalSpec.nameRe
    if (nameRe.findFirstIn(name).isEmpty)
      Left(s"invalid journal name: $name")
    else if (name.startsWith("/") || name.endsWith("/"))
      Left(s"journal name may not begin or end with '/': $name")
    else if (name.split('/').exists(s => s.isEmpty || s == "." || s == ".."))
      // A '..' segment would resolve OUTSIDE the store root when the
      // name joins the fragment path — append would write (and prune
      // would delete) beyond the configured store.
      Left(s"journal name may not contain empty, '.' or '..' path segments: $name")
    else if (retentionMs < 0L)
      Left(s"fragment retention may not be negative: $retentionMs")
    else if (maxAppendRate < 0L)
      Left(s"max append rate may not be negative: $maxAppendRate")
    else if (flushIntervalMs < 0L)
      Left(s"flush interval may not be negative: $flushIntervalMs")
    // Reject at upsert what the append path rejects at write time:
    // a 0 fragment target otherwise passes the catalog only to throw
    // the spool pass's require on the first append (or the DSv2
    // write's, through the table defaults).
    else if (fragmentTargetLength <= 0L)
      Left(s"fragment target length must be positive: $fragmentTargetLength")
    else if (replication <= 0)
      Left(s"replication must be positive: $replication")
    else {
      val badLabel = labels.labels.find(l =>
        l.name.length < 2 || l.name.length > 64 || l.value.length > 1024)
      badLabel.map(l => Left(s"invalid label: ${l.name}")).getOrElse(Right(this))
    }
  }

  /** The label set a selector matches against: spec labels + `name`
    * meta-label + `prefix` meta-labels for each parent directory.
    */
  def metaLabels: LabelSet = {
    val prefixes = name.split('/').toVector.init
      .scanLeft("")((acc, seg) => acc + seg + "/").drop(1)
    LabelSet(labels.labels ++
      Vector(Label("name", name)) ++ prefixes.map(Label("prefix", _)))
  }
}

object JournalSpec {
  // Compiled once: SpecTree.applyTo loops validate over every terminal
  // under the catalog lock.
  private[catalog] val nameRe = "^[\\p{L}\\p{N}\\-_+/.=%]{4,512}$".r
}

/** One watch-log entry (`op`: "upsert" | "delete"); `spec` is the new
  * spec for upserts and the last-known spec for deletes.
  */
final case class WatchEvent(revision: Long, op: String, spec: JournalSpec)

final class JournalCatalog {
  private var specs: Map[String, (JournalSpec, Long)] = Map.empty
  private var revision: Long = 0L
  // Watch log (the List RPC's watch mode, protocol.proto:662-701):
  // every applied mutation, in revision order. Replaying from 0 yields
  // snapshot-then-deltas, exactly the reference's watch contract.
  // Control-plane sized (specs, not data); not truncated.
  private var changelog: Vector[WatchEvent] = Vector.empty

  /** Stable handle for watch streams (resolved driver-side through
    * [[JournalCatalog.lookup]] — catalog state never ships to
    * executors). Registration happens lazily in [[watchStream]], so a
    * catalog that is never watched never pins itself in the JVM-wide
    * registry; watched catalogs release with [[close]].
    */
  val id: String = java.util.UUID.randomUUID().toString

  def currentRevision: Long = synchronized(revision)

  /** Watch-log slice with revisions in (afterRev, throughRev]. O(result
    * size): revisions are dense by construction (`revision += 1` exactly
    * once per appended event, so `changelog(i).revision == i + 1`), and
    * a filter over the full history would make every watch trigger on a
    * long-lived catalog O(total mutations) under the catalog lock.
    */
  def changesBetween(afterRev: Long, throughRev: Long): Vector[WatchEvent] =
    synchronized {
      val from = math.max(0L, afterRev)
      val until = math.min(throughRev, changelog.length.toLong)
      if (until <= from) Vector.empty
      else changelog.slice(from.toInt, until.toInt)
    }

  /** Unregister from the watch registry so this instance (and its
    * append-only watch log) can be collected; running watch streams
    * fail their next trigger with the lookup error. Idempotent.
    */
  def close(): Unit = JournalCatalog.unregister(id)

  /** Upsert with optional expected revision (CAS; -1 = unconditional,
    * 0 = must-not-exist, >0 = must match current).
    */
  def upsert(spec: JournalSpec, expectRevision: Long = -1L): Either[String, Long] =
    synchronized {
      spec.validate.flatMap { s =>
        val cur = specs.get(s.name).map(_._2).getOrElse(0L)
        if (expectRevision >= 0 && expectRevision != cur)
          Left(s"${JournalCatalog.RevisionMismatch} for ${s.name}: " +
            s"expected $expectRevision, have $cur")
        else {
          revision += 1
          specs += s.name -> (s, revision)
          changelog :+= WatchEvent(revision, "upsert", s)
          Right(revision)
        }
      }
    }

  def delete(name: String, expectRevision: Long = -1L): Either[String, Unit] =
    synchronized {
      specs.get(name) match {
        case None => Left(s"no such journal: $name")
        case Some((_, rev)) if expectRevision >= 0 && expectRevision != rev =>
          Left(s"${JournalCatalog.RevisionMismatch} for $name: " +
            s"expected $expectRevision, have $rev")
        case Some((old, _)) =>
          revision += 1
          specs -= name
          changelog :+= WatchEvent(revision, "delete", old)
          Right(())
      }
    }

  def get(name: String): Option[JournalSpec] = synchronized(specs.get(name).map(_._1))

  /** Spec together with its revision — the read half of a CAS cycle
    * (pass the revision back to [[upsert]]/[[delete]] as
    * `expectRevision` so a concurrent writer fails the swap instead of
    * being silently overwritten).
    */
  def getWithRevision(name: String): Option[(JournalSpec, Long)] =
    synchronized(specs.get(name))

  private def require(name: String): JournalSpec =
    get(name).getOrElse(throw new NoSuchElementException(s"no such journal: $name"))

  /** Catalog-routed batch read: union listing across the spec's stores
    * (the broker resolves stores from the spec the same way,
    * protocol.proto:201-211). Enforces the WR (write-only) flag.
    */
  def read(spark: SparkSession, name: String): org.apache.spark.sql.Dataset[graft.sources.Journal.Envelope] = {
    val spec = require(name)
    if (spec.writeOnly)
      throw new IllegalStateException(s"journal $name is write-only (WR flag)")
    if (spec.stores.isEmpty)
      throw new IllegalStateException(s"journal $name has no fragment stores")
    graft.sources.Journal.read(spark, spec.stores, name)
  }

  /** Selector-resolved batch read (M5 + P3 composed): union of every
    * matching journal's multi-store read. The reference's consumers
    * bind shards to selector-resolved journal sets the same way.
    */
  def readSelected(spark: SparkSession, selector: String): org.apache.spark.sql.Dataset[graft.sources.Journal.Envelope] = {
    val matched = list(selector).filterNot(_.writeOnly)
    if (matched.isEmpty)
      throw new NoSuchElementException(s"no readable journals match: $selector")
    matched.map(s => read(spark, s.name)).reduce(_.unionAll(_))
  }

  /** Selector-resolved STREAMING union: one DSv2 `journal` stream per
    * matching journal, unioned — a consumer tailing a topic's whole
    * partition set as one streaming DataFrame. Journal membership is
    * resolved at call time (the reference re-resolves on shard
    * rebalance; here a restart picks up new members).
    */
  def readStreamSelected(spark: SparkSession, selector: String): DataFrame = {
    val matched = list(selector).filterNot(_.writeOnly)
    if (matched.isEmpty)
      throw new NoSuchElementException(s"no readable journals match: $selector")
    matched.map { s =>
      if (s.stores.isEmpty)
        throw new IllegalStateException(s"journal ${s.name} has no fragment stores")
      spark.readStream.format("journal")
        .option("roots", s.stores.mkString(","))
        .option("journal", s.name).load()
    }.reduce(_.unionAll(_))
  }

  /** Catalog-routed append: fragments persist to the FIRST store (the
    * active store) with the spec's codec, rolling spools at the spec's
    * fragment target length. Enforces the RD (read-only) flag.
    */
  def append(df: DataFrame, name: String,
      postfixCol: Option[String] = None): Seq[graft.sources.Journal.Fragment] = {
    val spec = require(name)
    if (spec.readOnly)
      throw new IllegalStateException(s"journal $name is read-only (RD flag)")
    if (spec.stores.isEmpty)
      throw new IllegalStateException(s"journal $name has no fragment stores")
    graft.sources.Journal.append(df, spec.stores.head, name,
      codec = spec.codec, postfixCol = postfixCol,
      maxFragmentBytes = spec.fragmentTargetLength,
      offsetRoots = spec.stores, // head spans ALL stores (migration-safe)
      maxAppendRate = spec.maxAppendRate,
      flushIntervalMs = spec.flushIntervalMs)
  }

  /** Spec-driven time retention: prune fragments of `name` persisted
    * before `nowMs - retentionMs` across all of its stores. No-op for
    * specs with retention 0 (retain forever). The periodic maintenance
    * loop the reference's brokers run per journal
    * (`fragment.retention`, protocol.proto:229-246) — here invoked by
    * the operator or a scheduled driver job.
    */
  def pruneExpired(name: String,
      nowMs: Long = System.currentTimeMillis()): Vector[graft.sources.Journal.Fragment] = {
    val spec = require(name)
    if (spec.retentionMs <= 0L) Vector.empty
    else graft.sources.Journal.pruneOlderThan(
      spec.stores, name, nowMs - spec.retentionMs)
  }

  /** Selector-filtered listing (P3): selectors may reference spec labels
    * and the name/prefix meta-labels.
    */
  def list(selector: LabelSelector = LabelSelector.empty): Vector[JournalSpec] =
    synchronized {
      specs.values.toVector.map(_._1)
        .filter(s => selector.matches(s.metaLabels))
        .sortBy(_.name)
    }

  def list(selector: String): Vector[JournalSpec] =
    list(LabelSelector.mustParse(selector))

  /** Full listing with revisions — the read half of a tree-level CAS
    * cycle (SpecTree.fromCatalog threads these into terminal nodes so
    * applyTo's upserts fail on concurrent edits instead of silently
    * overwriting them).
    */
  def listWithRevisions(): Vector[(JournalSpec, Long)] =
    synchronized(specs.values.toVector.sortBy(_._1.name))

  /** Journals metadata as a DataFrame — the catalog's queryable surface
    * (each label name becomes a map entry).
    */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    synchronized {
      specs.values.toVector.map { case (s, rev) =>
        (s.name, rev, s.replication, s.codec,
          s.labels.labels.map(l => l.name -> l.value).toMap)
      }
    }.toDF("name", "revision", "replication", "codec", "labels")
  }

  /** Watch-mode listing (the List RPC's watch flag,
    * protocol.proto:662-701): a streaming DataFrame of this catalog's
    * spec mutations — initial snapshot as replayed upserts, then one
    * row per upsert/delete as it lands. Offsets are catalog revisions,
    * so a restarted query resumes exactly where its checkpoint left
    * off (same-JVM catalog; see [[CatalogWatchSource]]).
    */
  def watchStream(spark: SparkSession): DataFrame = {
    JournalCatalog.register(this)
    spark.readStream.format("journal-catalog-watch")
      .option("catalog", id).load()
  }
}

object JournalCatalog {
  /** Stable prefix of CAS-failure messages. SpecTree.applyTo classifies
    * delete failures by it (mismatch = real failure; absent spec =
    * idempotent success) — a shared constant, so the classification
    * cannot silently drift from the message wording.
    */
  val RevisionMismatch = "revision mismatch"

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, JournalCatalog]
  private[catalog] def register(c: JournalCatalog): Unit =
    registry.put(c.id, c)
  private[catalog] def unregister(id: String): Unit = registry.remove(id)
  def lookup(id: String): Option[JournalCatalog] = registry.get(id)
}
