package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.security.MessageDigest
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.v2.AppendFlowControl

/** Journal = append-only byte log that is simultaneously a stream and a
  * set of immutable content-addressed files (the reference's core thesis,
  * docs/brokers-concepts.rst:4-22, 104-160).
  *
  * Spark-first re-expression:
  *  - a fragment is a file `%016x-%016x-%s.codec` (begin/end uncompressed
  *    byte offsets + SHA1, broker/protocol naming per
  *    fragment.ContentName, broker/fragment/spool.go:26-50),
  *  - writes spool per Spark partition (S6), the driver assigns
  *    contiguous offsets and commits by rename (S5/S7's
  *    spool→persist); content addressing makes retried writes idempotent,
  *  - reads list the fragment index, resolve overlaps via the cover set
  *    (S2-S3, broker/fragment/cover_set.go:36-142), and stream
  *    envelope rows with exact byte offsets — executors open fragments
  *    directly (the read-delegation path, S1).
  *
  * All fragment I/O goes through `org.apache.hadoop.fs.FileSystem`
  * resolved from the root's scheme — a plain POSIX path, `file:`,
  * `hdfs:`, `s3a:`, `gs:`, `abfs:` all work (the reference's pluggable
  * fragment stores, broker/stores/active_store.go:15-214 and the
  * s3/gcs/azure drivers). Commit-by-rename is atomic on HDFS/POSIX; on
  * object stores rename is copy+delete, but content-addressed names make
  * double-commits byte-identical, the same property the reference's
  * persister relies on.
  *
  * Framing is newline-delimited (ndjson / CSV lines — §1.2); payloads are
  * opaque strings here, decoded by `from_json`/`from_csv` downstream.
  *
  * Scale note: listing is driver-side (as Spark's FileStreamSource);
  * reads parallelize per fragment. Fragment target length (spool roll
  * policy) bounds fragment size so task granularity stays even. The
  * listing is a `listStatus` walk that asks the store for each fragment
  * file's block hosts, so the DSv2 scan can expose `preferredLocations`
  * (zone-aware read placement, docs/brokers-concepts.rst:155-160). It
  * never builds a located status: that copies each file's permission,
  * and the local store without native IO reads a permission by forking
  * `ls -ld`, about 3 ms per listed file. On HDFS the hosts cost one
  * block-location lookup per fragment file instead of one per directory
  * listing; no test or workload runs HDFS, so there is no traffic to
  * tune that for.
  */
object Journal {

  final case class Fragment(
      journal: String, begin: Long, end: Long, sha1: String, codec: String,
      path: String, hosts: Seq[String] = Nil,
      // Store mod-time captured at listing time (0 for write-path
      // fragments that never round-tripped through a listing) — lets
      // time-based retention run off ONE listing instead of a
      // per-fragment getFileStatus RPC storm.
      modTimeMs: Long = 0L) {
    def name: String = f"$begin%016x-$end%016x-$sha1.$codec"
  }

  /** One framed record with its byte span. */
  final case class Envelope(journal: String, begin: Long, end: Long, payload: String)

  // ---- Hadoop FS plumbing --------------------------------------------

  /** Hadoop Configuration that survives closure serialization (the
    * stock class is not Serializable): executor-side fragment I/O must
    * see the session's `spark.hadoop.*` settings (object-store
    * credentials, endpoints), not a bare classpath default.
    */
  final class HadoopConf(@transient private var conf: Configuration)
      extends Serializable {
    def value: Configuration = {
      if (conf == null) conf = new Configuration()
      conf
    }
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }

  /** Driver-side conf: the active session's Hadoop conf (which folds in
    * `spark.hadoop.*`) when one exists, else classpath defaults.
    */
  private[graft] def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Validate a Hive-style path postfix ("key=value", or nested
    * "k1=v1/k2=v2") before any spool is created under it. The listing
    * enters only directories whose name carries '=' (see
    * listFragments), so a malformed postfix would land fragments NO
    * read ever returns AND no head derivation ever sees — invisible
    * dead bytes whose offsets the next append reuses. An absolute or
    * dot-leading segment would escape or hide under the store root.
    * [[SpoolSet]] calls this on each distinct postfix value.
    */
  private[graft] def validatePostfix(p: String): Unit = {
    if (p.isEmpty) return
    require(!p.startsWith("/"),
      s"postfix must be a relative path, got '$p'")
    p.split('/').foreach { seg =>
      require(seg.nonEmpty && seg.contains('=') && !seg.startsWith("."),
        s"postfix segment '$seg' of '$p' is not Hive-style key=value: " +
          "fragments under it would be invisible to listings and their " +
          "offsets reused by the next append")
    }
  }

  /** Atomic string write: tmp file + rename, NO overwrite. Hadoop's
    * `FileSystem.rename` does not replace an existing destination on
    * HDFS/S3A (returns false; only POSIX local rename overwrites), so
    * every caller must target a fresh name: `.pending` manifests are
    * deleted by reconcile before a rewrite, and sweep horizons are
    * VERSIONED files (`...swept-<horizon>`) that are skipped when they
    * already exist — a delete-then-rename "overwrite" here would open
    * a window where the fence file is absent with markers already
    * swept, the silent-duplicate state the fence exists to refuse.
    */
  private def writeStringAtomic(fs: FileSystem, p: HPath, s: String): Unit = {
    val tmp = new HPath(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"rename $tmp -> $p failed " +
        "(destination may already exist: Hadoop rename never overwrites)")
    }
  }

  // ---- compression codecs (S9) ---------------------------------------
  // The reference's fragment codecs (protocol CompressionCodec:
  // NONE/GZIP/ZSTANDARD/SNAPPY) with its file extensions; zstd + snappy
  // ride the libraries Spark already ships (zstd-jni, snappy-java).

  private[graft] def wrapOutput(codec: String, os: java.io.OutputStream): java.io.OutputStream =
    codec match {
      case "gz"   => new GZIPOutputStream(os)
      case "zst"  => new com.github.luben.zstd.ZstdOutputStream(os)
      case "sz"   => new org.xerial.snappy.SnappyFramedOutputStream(os)
      case "none" | "raw" => os
      case other  => throw new IllegalArgumentException(s"unknown codec: $other")
    }

  private[graft] def wrapInput(codec: String, is: java.io.InputStream): java.io.InputStream =
    codec match {
      case "gz"   => new GZIPInputStream(is)
      case "zst"  => new com.github.luben.zstd.ZstdInputStream(is)
      case "sz"   => new org.xerial.snappy.SnappyFramedInputStream(is)
      case "none" | "raw" => is
      case other  => throw new IllegalArgumentException(s"unknown codec: $other")
    }

  // ---- fragment index ------------------------------------------------

  private val FragmentRe = """([0-9a-f]{16})-([0-9a-f]{16})-([0-9a-f]{40})\.(\w+)""".r

  /** Fragment listing. Fragment paths keep the caller's root form
    * (plain POSIX stays plain; URI roots stay URIs).
    */
  def listFragments(root: String, journal: String): Vector[Fragment] =
    listFragments(Seq(root), journal)

  /** Multi-store listing (S4, the reference's WalkAllStores,
    * broker/fragment/index.go:224-257): one journal's fragments may
    * span several stores mid-migration; the union — cover-set-resolved
    * downstream — reads as one contiguous stream. Content addressing
    * dedupes a fragment present in two stores (same begin/end/sha).
    */
  def listFragments(roots: Seq[String], journal: String): Vector[Fragment] = {
    val conf = hadoopConf
    roots.iterator.flatMap { root =>
      val dir = new HPath(root, journal)
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Iterator.empty
      else {
        val buf = Vector.newBuilder[Fragment]
        // Depth-first walk with `listStatus(Path)`, the array form: a
        // store wrapper that overrides one listing method overrides this
        // one, and FilterFileSystem routes `listStatusIterator` around
        // it. The walk enters only Hive-style `key=value` postfix
        // directories (date=…/hour=…, protocol.proto:248-262): a NESTED
        // journal ("a/b/c" under "a/b") also lives inside this subtree,
        // and attributing its files to the parent would interleave two
        // journals' offset spaces in one index (coverSet would then
        // silently drop or mix bytes), so its subtree is never walked.
        // `rel` is the path below `dir`, so fragment paths keep the
        // caller's root form.
        def walk(d: HPath, rel: String): Unit =
          fs.listStatus(d).foreach { st =>
            val name = st.getPath.getName
            if (st.isDirectory) {
              if (name.contains('=')) walk(st.getPath, s"$rel$name/")
            } else name match {
              case FragmentRe(b, e, sha, codec) =>
                // Name, length and mod-time only: no permission read
                // (see the header). Hosts as the FS reports them (HDFS:
                // datanodes; local: "localhost"; object stores: none or
                // a placeholder), the same contract Spark's
                // FilePartition surfaces.
                val hosts = fs.getFileBlockLocations(st, 0, st.getLen).toSeq
                  .flatMap(_.getHosts).distinct
                buf += Fragment(journal, java.lang.Long.parseUnsignedLong(b, 16),
                  java.lang.Long.parseUnsignedLong(e, 16), sha, codec,
                  new HPath(dir, rel + name).toString, hosts,
                  st.getModificationTime)
              case _ =>
            }
          }
        walk(dir, "")
        buf.result()
      }
    }.toVector
      .distinctBy(f => (f.begin, f.end, f.sha1, f.codec))
      .sortBy(f => (f.begin, -f.end))
  }

  /** Hive-style `key=value` postfix directories between the journal
    * directory and a fragment file, parsed from its path (the
    * reference's path_postfix_template, protocol.proto:248-262). Empty
    * for top-level fragments.
    *
    * Parsing is SCOPED to the segments after the journal's own
    * directory: journal names and store roots may legally contain '='
    * (e.g. journal "events/region=us"), and treating those segments as
    * postfix values would mis-prune every fragment of the journal.
    */
  def postfixValues(f: Fragment): Map[String, String] = {
    val segs = new HPath(f.path).getParent.toString.split('/').toSeq
    val jSegs = f.journal.split('/').toSeq
    val at = segs.lastIndexOfSlice(jSegs)
    val tail = if (at >= 0) segs.drop(at + jSegs.length) else Seq.empty
    tail.iterator
      .filter(_.contains('='))
      .map { s => val i = s.indexOf('='); (s.substring(0, i), s.substring(i + 1)) }
      .toMap
  }

  /** Retention maintenance (journals prune, SURVEY §2.12): delete
    * fragments whose span ends at or below `keepFromOffset`. Returns
    * deleted fragments.
    */
  def prune(root: String, journal: String, keepFromOffset: Long): Vector[Fragment] =
    prune(Seq(root), journal, keepFromOffset)

  /** Multi-store prune: drop fragments wholly below `keepFromOffset`
    * across every store (mid-migration copies of one fragment delete
    * from each root that holds them).
    */
  def prune(roots: Seq[String], journal: String,
      keepFromOffset: Long): Vector[Fragment] =
    pruneListed(roots.flatMap(r => listFragments(r, journal)), keepFromOffset)

  /** Deletion half of [[prune]], over an already-fetched PER-ROOT
    * listing (no content dedup: a fragment duplicated across stores
    * mid-migration appears once per root and is deleted from each).
    * Split out so [[pruneOlderThan]] can reuse its horizon walk's
    * listings instead of paying a second LIST per store.
    */
  private def pruneListed(listed: Seq[Fragment],
      keepFromOffset: Long): Vector[Fragment] = {
    val conf = hadoopConf
    val drop = listed.filter(_.end <= keepFromOffset).toVector
    drop.foreach { f =>
      val p = new HPath(f.path)
      p.getFileSystem(conf).delete(p, false)
    }
    drop
  }

  /** Time-based retention (`fragment.retention`,
    * protocol.proto:229-246): delete fragments persisted before
    * `horizonMs`. The cut is resolved to an OFFSET first — the longest
    * cover-set prefix whose fragments all have mod-time < horizonMs —
    * then delegated to offset [[prune]]. Cutting strictly by mod-time
    * would punch holes behind a compacted (newer) fragment that covers
    * older offsets; the prefix rule keeps the surviving cover a
    * contiguous suffix, so reads simply begin at the first retained
    * offset, exactly as after an offset prune.
    */
  def pruneOlderThan(roots: Seq[String], journal: String,
      horizonMs: Long): Vector[Fragment] = {
    // ONE listing per store, reused for both halves: the deduplicated
    // cover walk below, and the per-root deletion (which must see a
    // fragment duplicated across stores once PER ROOT — deleting from
    // the deduplicated view would leave the sibling copy alive past
    // the retention horizon).
    val perRoot = roots.flatMap(r => listFragments(r, journal))
    val frags = perRoot.toVector
      .distinctBy(f => (f.begin, f.end, f.sha1, f.codec))
      .sortBy(f => (f.begin, -f.end))
    val cover = coverSet(frags)
    var keepFrom = 0L
    val it = cover.iterator
    var cut = false
    while (it.hasNext && !cut) {
      val (f, _) = it.next()
      if (f.modTimeMs < horizonMs) keepFrom = f.end else cut = true
    }
    if (keepFrom == 0L) Vector.empty
    else pruneListed(perRoot, keepFrom)
  }

  def pruneOlderThan(root: String, journal: String,
      horizonMs: Long): Vector[Fragment] =
    pruneOlderThan(Seq(root), journal, horizonMs)

  /** Compaction maintenance: coalesce runs of contiguous small
    * fragments into content-addressed fragments of up to `targetBytes`
    * uncompressed — the long-tail-of-tiny-files antidote (short spool
    * roll intervals at low write rates leave fragments far below the
    * target length; at 100 TB an uncompacted index costs listing time
    * and per-task scheduling overhead).
    *
    * Crash-safe ordering: the merged fragment is committed BEFORE its
    * sources are deleted. In the interim the index holds overlapping
    * fragments — exactly the state [[coverSet]] exists to resolve (the
    * merged fragment extends furthest and wins), so a crash at ANY
    * point leaves a correct, readable index; re-running compaction is
    * idempotent (content-addressed name, overwrite-equivalent rename).
    *
    * Only fragments directly in the journal root are compacted:
    * Hive-postfix subdirectories partition by path, and merging across
    * them would undo that layout.
    */
  def compact(root: String, journal: String, targetBytes: Long,
      codec: String = "gz", deleteSources: Boolean = true): Vector[Fragment] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = hadoopConf
    val dir = new HPath(root, journal)
    val fs = dir.getFileSystem(conf)
    val rootFrags = listFragments(root, journal)
      .filter(f => new HPath(f.path).getParent == dir)
    val cover = coverSet(rootFrags)

    // Pack consecutive CONTIGUOUS cover entries while the merged span
    // stays within targetBytes; only runs of >= 2 fragments compact.
    val runs = Vector.newBuilder[Vector[(Fragment, Long)]]
    var cur = Vector.empty[(Fragment, Long)]
    def flush(): Unit = { if (cur.length >= 2) runs += cur; cur = Vector.empty }
    cover.foreach { case e @ (f, readFrom) =>
      val runBegin = cur.headOption.map(_._2).getOrElse(readFrom)
      val contiguous = cur.lastOption.forall(_._1.end == readFrom)
      if (cur.nonEmpty && (!contiguous || f.end - runBegin > targetBytes)) flush()
      cur = cur :+ e
    }
    flush()

    runs.result().map { run =>
      val begin = run.head._2
      val end = run.last._1.end
      // A failed copy (a truncated or unreadable source) must not leave
      // the open tmp behind: nothing else ever reclaims `.compact-*`.
      val sp = new FragmentSpool(fs, new HPath(root,
        s".compact-${java.util.UUID.randomUUID}.tmp"), codec)
      val frag = try {
        run.foreach { case (f, readFrom) =>
          val in = new BufferedInputStream(
            wrapInput(f.codec, fs.open(new HPath(f.path))), 1 << 16)
          try {
            var skip = readFrom - f.begin
            while (skip > 0) {
              val s = in.skip(skip)
              require(s > 0, s"cannot seek to $readFrom in ${f.name}")
              skip -= s
            }
            var remaining = f.end - readFrom
            val buf = new Array[Byte](1 << 16)
            while (remaining > 0) {
              val n = in.read(buf, 0, math.min(buf.length, remaining).toInt)
              require(n > 0, s"truncated fragment ${f.name}")
              sp.writeRaw(buf, 0, n)
              remaining -= n
            }
          } finally in.close()
        }
        val sha = sp.finish()
        commitFragment(Fragment(journal, begin, end, sha, codec,
          new HPath(dir, f"$begin%016x-$end%016x-$sha.$codec").toString),
          sp.tmp.toString, conf)
      } catch { case e: Throwable => sp.abort(); throw e }
      if (deleteSources) run.foreach { case (f, _) =>
        if (f.path != frag.path) fs.delete(new HPath(f.path), false)
      }
      frag
    }
  }

  /** Phase two of EVENTUAL-CONSISTENCY-safe compaction: delete
    * fragments whose every byte is shadowed by a single other fragment
    * that has been in the store at least `minCoverAgeMs`.
    *
    * The immediate-delete in [[compact]] assumes the store LISTS the
    * merged fragment as soon as it is renamed in. On a store whose
    * listings lag writes (the reference's fragment stores are
    * explicitly this class — eventually-consistent BLOB listings,
    * broker/fragment/stores.go:38-105), a reader inside the lag window
    * would see NEITHER the sources (deleted, physically gone) nor the
    * merged fragment (too fresh to list) — a hole in a committed span.
    * The safe sequence is `compact(deleteSources = false)` — readers
    * keep using the sources, the cover set resolves the overlap once
    * the merged fragment surfaces — then `sweepShadowed(minCoverAgeMs
    * = <the store's listing-consistency bound>)` on a later tick.
    * Conservative by construction: a fragment is only removed when one
    * covering fragment spans it entirely and that cover is old enough
    * that every lister already sees it.
    */
  def sweepShadowed(root: String, journal: String,
      minCoverAgeMs: Long = 0L): Vector[Fragment] = {
    val conf = hadoopConf
    val fs = new HPath(root, journal).getFileSystem(conf)
    val frags = listFragments(root, journal)
    val nowMs = System.currentTimeMillis()
    val oldCovers = frags.filter { g =>
      try nowMs - fs.getFileStatus(new HPath(g.path)).getModificationTime >=
        minCoverAgeMs
      catch { case _: java.io.IOException => false }
    }
    val swept = frags.filter { f =>
      oldCovers.exists(g => g.path != f.path &&
        g.begin <= f.begin && g.end >= f.end &&
        // Equal spans tie-break by path so two identical-span
        // fragments (distinct codecs) cannot delete each other.
        (g.begin < f.begin || g.end > f.end || g.path > f.path))
    }
    swept.foreach(f => fs.delete(new HPath(f.path), false))
    swept
  }

  /** Cover-set resolution (S3): orderly walk selecting, at each offset,
    * the fragment extending furthest; fully-covered fragments drop out.
    * Returns fragments with the exact uncompressed byte range to surface
    * from each ([readFrom, end)).
    */
  def coverSet(frags: Vector[Fragment]): Vector[(Fragment, Long)] = {
    val sorted = frags.sortBy(f => (f.begin, -f.end))
    var maxEnd = Long.MinValue
    val out = Vector.newBuilder[(Fragment, Long)]
    sorted.foreach { f =>
      if (f.end > maxEnd) {
        out += ((f, math.max(f.begin, if (maxEnd == Long.MinValue) f.begin else maxEnd)))
        maxEnd = f.end
      }
    }
    out.result()
  }

  /** One shadowed byte range: `serving` is the cover-set fragment
    * whose bytes reads actually return over [from, until); `shadowed`
    * is a different-content fragment whose own bytes in that span are
    * therefore never served.
    */
  final case class ShadowedRange(serving: Fragment, shadowed: Fragment,
      from: Long, until: Long)

  /** Writer-race audit (round 9): for every fragment whose bytes are
    * partly or wholly served by a DIFFERENT fragment (overlap with a
    * distinct sha), the exact shadowed byte ranges and the fragment
    * serving each of them. The journal write contract is ONE appender
    * at a time per journal — the reference gets this by serializing
    * all appends through the journal's primary broker
    * (docs/brokers-concepts.rst "serializable appends that never
    * interleave"); this engine has no broker, so coordination is the
    * deployment's: distinct journals per writer, or an external lease.
    * A violation is NOT read-side corruption — [[coverSet]] resolves
    * overlaps deterministically, reads never interleave or duplicate
    * bytes — but the shadowed ranges' records silently never appear.
    * The per-range output names exactly what was lost and what serves
    * it, so remediation can re-append ONLY the shadowed records (a
    * fragment that merely crosses the cover boundary still serves its
    * tail — re-appending all of it would duplicate the served part).
    *
    * Reading the output: a FULL-containment entry (from == shadowed
    * .begin && until == shadowed.end) is either a lost same-head race
    * or a crashed compaction's not-yet-pruned source (compact's
    * documented crash window leaves the merged fragment covering its
    * sources — re-run compact to clear; the sha difference does NOT by
    * itself prove two appends there). A PARTIAL range is unambiguous:
    * only uncoordinated appends from diverged heads produce crossing
    * spans.
    */
  def overlappingFragments(roots: Seq[String],
      journal: String): Vector[ShadowedRange] = {
    // listFragments returns distinct (begin, end, sha, codec) already
    // sorted by (begin, -end) — coverSet's required order.
    val frags = listFragments(roots, journal)
    val cover = coverSet(frags) // (fragment, readFrom): serves [readFrom, end)
    val out = Vector.newBuilder[ShadowedRange]
    // Merge sweep: served ranges are disjoint ascending and frags are
    // begin-sorted, so each cover entry is visited O(1) amortized —
    // O(n + overlaps), not O(n²), on a 100 TB journal's listing.
    var ci = 0
    frags.foreach { f =>
      while (ci < cover.length && cover(ci)._1.end <= f.begin) ci += 1
      var i = ci
      var cont = true
      while (cont && i < cover.length) {
        val (c, readFrom) = cover(i)
        val servedFrom = math.max(readFrom, c.begin)
        if (servedFrom >= f.end) cont = false
        else {
          val from = math.max(f.begin, servedFrom)
          val until = math.min(f.end, c.end)
          if (from < until && c.sha1 != f.sha1)
            out += ShadowedRange(c, f, from, until)
          i += 1
        }
      }
    }
    out.result()
  }

  /** Close the writer-race loop: re-append ONLY the records lost to
    * the shadowed byte ranges named by [[overlappingFragments]] —
    * records are lost exactly when they BEGIN inside a shadowed range
    * (the cover-set reader emits a fragment's records from its served
    * slice onward and discards boundary straddlers, so a record
    * beginning in the shadowed prefix never surfaces, while one
    * beginning at or past the serving boundary is served from the
    * fragment itself; re-appending whole fragments would duplicate
    * that served tail). `readFragmentSlice`'s record-boundary
    * discipline gives this for free: a slice emits exactly the records
    * beginning in [from, until), reading the final straddler to its
    * terminator.
    *
    * The lost records are re-appended at the CURRENT head through the
    * normal append path (new offsets — the shadowed spans stay served
    * by the race's winner, as the audit documents). Distributed: one
    * narrow task per shadowed range; nothing is collected to the
    * driver. NOT idempotent — each run re-appends the ranges the audit
    * still names (the losing fragments remain in place as the audit
    * trail), so run once per incident, after the racing writers are
    * fenced. Reference analog: appends that "never interleave"
    * (docs/brokers-concepts.rst:14-22) — this op is the recovery the
    * reference's broker serialization makes unnecessary.
    */
  def repairShadowed(spark: SparkSession, roots: Seq[String],
      journal: String, codec: String = "gz"): Seq[Fragment] = {
    val ranges = overlappingFragments(roots, journal)
    if (ranges.isEmpty) return Nil
    import spark.implicits._
    val hc = new HadoopConf(hadoopConf)
    val j = journal
    val slices = ranges.map(r => (r.shadowed.path, r.shadowed.begin,
      r.shadowed.end, r.shadowed.sha1, r.shadowed.codec, r.from, r.until))
    val lost = spark.createDataset(slices)
      .repartition(math.min(slices.size,
        spark.sparkContext.defaultParallelism))
      .flatMap { case (path, b, e, sha, cdc, from, until) =>
        readFragmentSlice(Fragment(j, b, e, sha, cdc, path), from, until,
          hc.value).map(_.payload)
      }.toDF("payload")
    append(lost, roots.head, journal, codec, offsetRoots = roots)
  }

  /** Journal head: next append offset. */
  def head(root: String, journal: String): Long =
    head(Seq(root), journal)

  /** Multi-store head: next append offset across every store — the max
    * of the LISTED fragment ends and this JVM's OWN committed ends
    * (the head floor). The floor is what makes offset assignment safe
    * on an eventually-consistent store: a LIST that has not yet
    * surfaced the fragments this appender just committed would
    * otherwise re-derive a stale head, and the next append would mint
    * OVERLAPPING offsets — self-shadowing with no second writer
    * involved. The reference never hits this because the write head is
    * broker-process state, not store state (gazette_write_head,
    * broker/doc.go:24-27); the floor keeps the same invariant in the
    * appender JVM, which under the one-appender-per-journal contract
    * is exactly where the knowledge lives. Listing-only consumers
    * (readers, cover sets) are unaffected — they never call head().
    */
  def head(roots: Seq[String], journal: String): Long = {
    val listed = listFragments(roots, journal)
      .map(_.end).foldLeft(0L)(math.max)
    val floor = roots.iterator
      .map(r => headFloors.getOrDefault(floorKey(r, journal), 0L): Long)
      .foldLeft(0L)(math.max)
    math.max(listed, floor)
  }

  // This JVM's committed write heads, keyed by (root, journal): raised
  // at every driver-side commit point, never lowered — offsets are
  // forever-monotone in the reference too (pruning all fragments does
  // not rewind a broker's nextOffset). Deleting a journal's directory
  // under a live appender JVM and expecting offsets to restart is
  // outside the write contract; a fresh JVM starts from the listing.
  private val headFloors =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def floorKey(root: String, journal: String) = s"$root|$journal"
  private[graft] def raiseHeadFloor(root: String, journal: String,
      end: Long): Unit =
    headFloors.merge(floorKey(root, journal), end,
      (a, b) => if (a >= b) a else b)

  // ---- write path (S5-S7) --------------------------------------------
  //
  // Every journal write is the same two halves: executors frame records
  // into spools ([[SpoolSet]] over [[FragmentSpool]]), and the driver
  // assigns offsets from the head and renames the spools into the index
  // ([[commitSpooled]]), inside the batch-marker exactly-once protocol
  // when the write is a micro-batch. `append`, `appendFramed`,
  // `batchSink(Routed)` and the DSv2 `journal` sink differ only in how
  // rows reach the spools.

  /** Append a DataFrame's `payload` string column as framed fragments.
    * One spool per Spark partition (and per path postfix when
    * `postfixCol` is set — Hive-style `date=…/hour=…` subdirectories,
    * the reference's path_postfix_template); offsets assigned
    * contiguously from the current head; commit = atomic rename into the
    * fragment index. Returns committed fragments.
    *
    * `maxFragmentBytes` is the spool roll policy (the reference's
    * fragment `length` target, protocol.proto:214-218): a spool that
    * reaches the bound closes and a fresh one continues the partition,
    * so fragment size — and with it read-task granularity and
    * object-store PUT size — stays bounded no matter how large a write
    * partition is.
    *
    * `flushIntervalMs` is the TIME roll policy (the reference's
    * `fragment.flush_interval`, protocol.proto:229-246): a spool open
    * longer than the interval rolls at the next write, so a trickling
    * source's bytes reach the store on a clock instead of waiting for
    * size pressure (its closed tmp file is durable immediately; the
    * fragment becomes VISIBLE at this append's commit, as Spark's
    * batch commit protocol requires). 0 = size-only rolling.
    *
    * CONCURRENCY CONTRACT: one appender at a time per journal. The
    * reference serializes appends at the journal's primary broker;
    * this engine has no broker, so two simultaneous appenders would
    * both derive the same head and mint OVERLAPPING spans — reads stay
    * deterministic (cover-set resolution never interleaves bytes) but
    * the losing append is silently shadowed. Coordinate writers
    * externally (distinct journals, or a lease) and audit suspected
    * dual-writer windows with [[overlappingFragments]].
    */
  def append(df: DataFrame, root: String, journal: String,
      codec: String = "gz", payloadCol: String = "payload",
      postfixCol: Option[String] = None,
      maxFragmentBytes: Long = Long.MaxValue,
      offsetRoots: Seq[String] = Nil,
      maxAppendRate: Long = 0L,
      flushIntervalMs: Long = 0L): Seq[Fragment] =
    commitSpooled(root, journal,
      spoolFrame(df, root, Vector(journal), col(payloadCol), lit(0),
        postfixCol.fold(lit(""))(col(_).cast("string")), codec,
        maxFragmentBytes, flushIntervalMs, maxAppendRate),
      codec, offsetRoots)

  /** [[append]]'s spool pass and offset plan WITHOUT the rename: the
    * planned fragments paired with their spool tmp files, nothing in the
    * index yet. The crash-recovery specs commit from here by hand to
    * stage the windows [[commitSpooled]]'s manifest protocol recovers.
    */
  private[graft] def stage(df: DataFrame, root: String, journal: String,
      codec: String = "gz"): Seq[(Fragment, String)] = {
    val dir = new HPath(root, journal)
    dir.getFileSystem(hadoopConf).mkdirs(dir)
    planFragments(root, journal, codec, head(root, journal),
      spoolFrame(df, root, Vector(journal), col("payload"), lit(0), lit(""), codec))
  }

  /** Idempotent micro-batch sink for `writeStream.foreachBatch`: a
    * batch marker prevents duplicate appends on retry (the engine's
    * analog of ACK-intent fencing, SURVEY §1.1 Register row). The
    * one-route case of [[batchSinkRouted]]; the crash-atomic two-phase
    * commit is [[commitSpooled]]'s.
    */
  def batchSink(root: String, journal: String, codec: String = "gz")(
      df: DataFrame, batchId: Long): Unit =
    batchSinkRouted(root, Seq(journal -> lit(true)), df, batchId, codec)

  /** One-pass multi-journal micro-batch sink (r12, guide §1.2 step 1):
    * spool EVERY route's fragments in a SINGLE distributed pass over
    * the batch — each row goes to the first route whose predicate
    * matches — then commit each journal independently under its own
    * `.pending` manifest and `.committed` marker ([[commitSpooled]]).
    *
    * Why: the foreachBatch fan-out shape (one triaged frame → N
    * per-kind journals) previously persisted the batch and ran N
    * sequential sink jobs, each re-filtering the cache — N job
    * launches and N cache passes to partition one small frame, and at
    * a 4-batch replay that job-launch floor WAS the queries' cost
    * (measured: addBatch 0.40-0.54 s/batch, of which the engine's own
    * checkpoint I/O is only ~0.13 s). Here the batch is read once (the
    * triage projection runs once per record — no persist needed at
    * all) and every route's spool is written in that same pass; only
    * the per-journal driver-side commits remain. One job per batch is
    * the minimum passes this fan-out can do, at any scale.
    *
    * Identical bytes per journal: a route's spools receive exactly the
    * rows a filter on its predicate keeps, in the same (partition, row)
    * order, and offsets are assigned per journal from its own head in
    * partition order. Routes are expected DISJOINT: a row matching
    * several predicates lands only in the first (no caller routes
    * overlapping predicates). Rows matching no route are dropped,
    * exactly as no filter would keep them.
    *
    * A retried batch re-runs the spool pass, then per journal either
    * drops the fresh spools (marker present — content-addressed
    * duplicates of what the index already holds), reconciles a crashed
    * `.pending`, or commits.
    */
  def batchSinkRouted(root: String,
      routes: Seq[(String, org.apache.spark.sql.Column)],
      df: DataFrame, batchId: Long, codec: String = "gz",
      payloadCol: String = "payload"): Unit = {
    require(routes.nonEmpty, "batchSinkRouted: no routes")
    require(routes.map(_._1).distinct.size == routes.size,
      s"batchSinkRouted: duplicate journal in ${routes.map(_._1).mkString(", ")}")
    // First matching predicate wins; unmatched rows drop. A NULL
    // predicate result is no-match, same as a filter.
    val routeIdx = routes.zipWithIndex
      .foldRight(lit(null).cast("int")) { case (((_, pred), i), acc) =>
        when(pred, lit(i)).otherwise(acc)
      }
    val journals = routes.map(_._1).toVector
    // NO Filter on the route: a Filter referencing the route column
    // gets pushed below the batch's triage projection and re-evaluates
    // the (expensive) triage expressions once in the Filter and again
    // in the Project — guide §4.4's duplicated-UDF trap, measured here
    // as 2-3× the per-batch cost on the guard/extract gates. Unmatched
    // rows are dropped inside the spool pass instead, so the triage
    // runs exactly once per row in the single Project below.
    val spooled = spoolFrame(df, root, journals,
      col(payloadCol).cast("string"), routeIdx, lit(""), codec)
    // A failed commit leaves the later journals' spools unrenamed:
    // reclaim them by name before rethrowing.
    val conf = hadoopConf
    try journals.indices.foreach { r =>
      commitSpooled(root, journals(r), spooled.filter(_.route == r), codec,
        batch = Some(("", batchId)), conf = conf)
    } catch { case e: Throwable =>
      dropSpools(new HPath(root).getFileSystem(conf), spooled)
      throw e
    }
  }

  /** The spool pass of every DataFrame write: ONE job that frames each
    * row's `payload` (decoded to a String, written as its UTF-8 bytes)
    * into the spool of journal `journals(route)` under path `postfix`.
    * A row whose route is NULL is dropped.
    */
  private def spoolFrame(df: DataFrame, root: String,
      journals: IndexedSeq[String], payload: Column, route: Column,
      postfix: Column, codec: String, maxFragmentBytes: Long = Long.MaxValue,
      flushIntervalMs: Long = 0L, maxAppendRate: Long = 0L): Seq[Spooled] = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(payload, route, postfix)
      .as[(String, Option[Int], String)].rdd
      .collect { case (p, Some(r), pf) =>
        (if (p == null) null else p.getBytes("UTF-8"), r, pf) }
    // maxAppendRate is the journal's AGGREGATE ceiling; resolve each
    // executor JVM's share on the driver (local[*]: the full rate) —
    // see AppendFlowControl.perJvmShare for the contract.
    spoolPass(rows, root, journals, codec, fixedFraming = false,
      maxFragmentBytes, flushIntervalMs,
      AppendFlowControl.perJvmShare(spark.sparkContext, maxAppendRate))
  }

  /** Run one [[SpoolSet]] per partition of `rows` — (payload, route,
    * postfix) — and collect every closed spool to the driver.
    */
  private def spoolPass(rows: RDD[(Array[Byte], Int, String)], root: String,
      journals: IndexedSeq[String], codec: String, fixedFraming: Boolean,
      maxFragmentBytes: Long = Long.MaxValue, flushIntervalMs: Long = 0L,
      rateShare: Long = 0L): Seq[Spooled] = {
    require(maxFragmentBytes > 0, s"maxFragmentBytes must be positive")
    require(flushIntervalMs >= 0, s"flushIntervalMs may not be negative")
    val hc = new HadoopConf(hadoopConf)
    val job = rows.mapPartitionsWithIndex { (idx, it) =>
      val spools = new SpoolSet(new HPath(root).getFileSystem(hc.value), root,
        journals, idx, idx.toString, codec, fixedFraming, maxFragmentBytes,
        flushIntervalMs, rateShare)
      try {
        it.foreach { case (payload, r, postfix) => spools.write(r, postfix, payload) }
        spools.finish().iterator
      } catch { case e: Throwable => spools.abort(); throw e }
    }
    try job.collect().toSeq
    catch { case e: Throwable =>
      journals.foreach(j => sweepSpools(root, spoolTag(j)))
      throw e
    }
  }

  private def spoolTag(journal: String): String = journal.replace('/', '_')

  /** Best-effort reclamation of every spool tmp of one journal under
    * `root`, after a failed distributed spool JOB: succeeded tasks'
    * tmp names travel only in the lost job results, so the driver
    * cannot delete them by name. Safe because spool names are
    * journal-scoped (`.spool-<tag>-<part>-<uuid>.tmp`) and a journal
    * has one appender at a time (the flow-control model): the match
    * is exactly the failed append's files. The regex (not the glob
    * alone) keeps a sibling journal whose tag extends this one with a
    * '-' (journal "a/b-c" vs "a/b") out of the sweep, and never matches
    * a DSv2 task's `<part>-<task>` spool names.
    */
  private def sweepSpools(root: String, journalTag: String): Unit =
    try {
      val rp = new HPath(root)
      val fs = rp.getFileSystem(hadoopConf)
      val re = ("""\.spool-""" + java.util.regex.Pattern.quote(journalTag) +
        """-\d+-[0-9a-f]{8}-[0-9a-f-]{27}\.tmp""").r
      val sts = fs.globStatus(new HPath(rp, s".spool-$journalTag-*.tmp"))
      if (sts != null) sts.iterator
        .filter(st => re.pattern.matcher(st.getPath.getName).matches())
        .foreach(st => fs.delete(st.getPath, false))
    } catch { case _: Exception => () }

  /** One closed spool as its task reports it to the driver: the
    * (partition, route, postfix, roll) position that orders offsets, the
    * framed length, the content SHA-1 and the tmp path.
    */
  private[graft] final case class Spooled(part: Int, route: Int,
      postfix: String, seq: Int, len: Long, sha1: String, tmp: String)

  /** One task's spools, keyed by (route, postfix): the executor half of
    * every journal write, in the RDD spool pass and the DSv2 DataWriter
    * alike. It validates each new postfix, rolls a spool at
    * `maxFragmentBytes` or `flushIntervalMs`, throttles each journal
    * through its per-JVM token bucket (max_append_rate,
    * protocol.proto:293-298; see AppendFlowControl), and names spools
    * `.spool-<journal tag>-<nameTag>-<uuid>.tmp` under `root`.
    */
  private[graft] final class SpoolSet(fs: FileSystem, root: String,
      journals: IndexedSeq[String], part: Int, nameTag: String,
      codec: String, fixedFraming: Boolean = false,
      maxFragmentBytes: Long = Long.MaxValue, flushIntervalMs: Long = 0L,
      rateShare: Long = 0L) {
    private val open =
      scala.collection.mutable.LinkedHashMap.empty[(Int, String), FragmentSpool]
    private val closed = scala.collection.mutable.ArrayBuffer.empty[Spooled]
    private val flows = journals.map(j =>
      if (rateShare > 0) AppendFlowControl.bucket(root, j, rateShare) else null)

    private def spool(route: Int, seq: Int) = new FragmentSpool(fs,
      new HPath(root, s".spool-${spoolTag(journals(route))}-$nameTag-" +
        s"${java.util.UUID.randomUUID}.tmp"),
      codec, seq, journals(route), fixedFraming)

    private def close(key: (Int, String), sp: FragmentSpool): Unit =
      closed += Spooled(part, key._1, key._2, sp.seq, sp.len, sp.finish(),
        sp.tmp.toString)

    def write(route: Int, postfix: String, payload: Array[Byte]): Unit = {
      // A null payload would frame as a literal "null" record (silent
      // corruption), a null postfix would NPE the driver's offset sort —
      // both deserve a clear error at the source.
      require(payload != null, "journal append: null payload")
      require(postfix != null, "journal append: null postfix value")
      val key = (route, postfix)
      var sp = open.getOrElse(key, null)
      if (sp == null) {
        validatePostfix(postfix)
        sp = spool(route, 0)
        open(key) = sp
      } else if (sp.shouldRoll(maxFragmentBytes, flushIntervalMs)) {
        close(key, sp)
        sp = spool(route, sp.seq + 1)
        open(key) = sp
      }
      if (flows(route) != null) flows(route).acquire(sp.framedLength(payload.length))
      sp.write(payload)
    }

    /** Close every open spool; returns all of this task's spools. */
    def finish(): Seq[Spooled] = {
      open.foreach { case (key, sp) => close(key, sp) }
      open.clear()
      closed.toSeq
    }

    /** Close and delete every open or closed spool of a failed task —
      * best-effort and PER SPOOL: abort typically runs on an already
      * failing executor, where one close may throw, and a retry spools
      * to FRESH UUID names, so a tmp skipped here is orphaned forever.
      */
    def abort(): Unit = {
      open.valuesIterator.foreach(_.abort())
      dropSpools(fs, closed.toSeq)
    }
  }

  /** One spool file: ONE definition of the record framing ('\n'-terminated,
    * or the 8-byte header of [[FixedFramingMagic]] framing), SHA-1
    * accounting, codec wrapping, and the size/time roll test.
    */
  private[graft] final class FragmentSpool(fs: FileSystem, val tmp: HPath,
      codec: String, val seq: Int = 0, journal: String = "",
      fixedFraming: Boolean = false) {
    private val digest = MessageDigest.getInstance("SHA-1")
    // Spool-time per-JVM record counter (task retries recount — the
    // per-process Prometheus semantics; commit-accurate totals are the
    // driver's append.bytes/fragments). Resolved once per spool.
    private val recordsCtr =
      if (journal.isEmpty) null
      else graft.metrics.GraftMetrics.counter(
        s"journal.${graft.metrics.GraftMetrics.journalTag(journal)}.append.records")
    var len = 0L
    private val bornNanos = System.nanoTime()
    private val out = new BufferedOutputStream(
      wrapOutput(codec, fs.create(tmp, true)), 1 << 16)
    private val header =
      if (fixedFraming) FixedFramingMagic ++ new Array[Byte](4) else null
    /** Roll BEFORE the next write: size bound reached, or open past the
      * flush interval (fragment.flush_interval, protocol.proto:229-246). */
    def shouldRoll(maxFragmentBytes: Long, flushIntervalMs: Long): Boolean =
      len >= maxFragmentBytes || (flushIntervalMs > 0 && len > 0 &&
        System.nanoTime() - bornNanos >= flushIntervalMs * 1000000L)
    /** Framed size of an `n`-byte payload. */
    def framedLength(n: Int): Long = if (fixedFraming) 8L + n else n + 1L
    /** Append one framed record: payload + '\n', or the fixed header
      * (magic + little-endian length) + payload. */
    def write(payload: Array[Byte]): Unit = {
      val n = payload.length
      if (fixedFraming) {
        header(4) = n.toByte; header(5) = (n >>> 8).toByte
        header(6) = (n >>> 16).toByte; header(7) = (n >>> 24).toByte
        writeRaw(header, 0, 8); writeRaw(payload, 0, n)
      } else {
        writeRaw(payload, 0, n); writeRaw(Newline, 0, 1)
      }
      if (recordsCtr != null) recordsCtr.inc()
    }
    /** Append already-framed bytes verbatim. */
    def writeRaw(b: Array[Byte], off: Int, n: Int): Unit = {
      digest.update(b, off, n); out.write(b, off, n); len += n
    }
    /** Close the stream and return the content SHA-1 hex. */
    def finish(): String = {
      out.close()
      digest.digest().map("%02x".format(_)).mkString
    }
    /** Best-effort close and delete of an abandoned spool. */
    def abort(): Unit = {
      try out.close() catch { case _: Exception => () }
      try fs.delete(tmp, false) catch { case _: Exception => () }
    }
  }

  private val Newline = Array('\n'.toByte)

  /** ONE definition of head-derived offset assignment + content-addressed
    * fragment naming: offsets run contiguously from `begin0` over the
    * spools in (partition, postfix, roll) order — the naming/offset
    * contract is the journal's core invariant. Returns each planned
    * fragment paired with its spool path.
    */
  private[graft] def planFragments(root: String, journal: String,
      codec: String, begin0: Long, spooled: Seq[Spooled]): Seq[(Fragment, String)] = {
    val dir = new HPath(root, journal)
    var begin = begin0
    spooled.sortBy(s => (s.part, s.postfix, s.seq)).map { s =>
      val sub = if (s.postfix.isEmpty) dir else new HPath(dir, s.postfix)
      val frag = Fragment(journal, begin, begin + s.len, s.sha1, codec,
        new HPath(sub, f"$begin%016x-${begin + s.len}%016x-${s.sha1}.$codec").toString)
      begin = frag.end
      (frag, s.tmp)
    }
  }

  /** Commit one staged fragment: atomic rename of its spool into the
    * fragment index (the spool→persist step, S7). Content addressing
    * makes a lost rename race benign: an existing destination holds
    * byte-identical content, so the spool is simply discarded.
    */
  private[graft] def commitFragment(frag: Fragment, tmpPath: String,
      conf: Configuration = hadoopConf): Fragment = {
    val dst = new HPath(frag.path)
    val src = new HPath(tmpPath)
    val fs = dst.getFileSystem(conf)
    fs.mkdirs(dst.getParent)
    if (fs.exists(dst)) fs.delete(src, false)
    else if (!fs.rename(src, dst)) {
      if (fs.exists(dst)) fs.delete(src, false)
      else throw new java.io.IOException(s"rename $src -> $dst failed")
    }
    frag
  }

  /** Best-effort delete of spools that will never be renamed. */
  private[graft] def dropSpools(fs: FileSystem, spooled: Seq[Spooled]): Unit =
    spooled.foreach(s =>
      try fs.delete(new HPath(s.tmp), false) catch { case _: Exception => () })

  /** The driver half of every journal write — ONE commit protocol:
    *  1. plan offsets ([[planFragments]]) from the head over
    *     `offsetRoots` and `root`: a multi-store journal (mid-migration)
    *     must not restart offsets at the active store's own head, or
    *     spans held in sibling stores would collide;
    *  2. rename each spool into the index at `root` ([[commitFragment]]);
    *  3. raise this JVM's head floor;
    *  4. record the `appendCommitted` metrics.
    *
    * With a batch marker `(prefix, id)` the same steps run inside the
    * exactly-once protocol of streaming sinks (one writer per (journal,
    * query), serial retries). A `.batch-<prefix><id>.committed` marker
    * means a replay: its fresh spools are content-addressed duplicates
    * and are dropped. An id below the swept horizon is refused
    * ([[assertNotSwept]]). A crashed attempt's `.pending` manifest is
    * reconciled first. Otherwise a `.pending` manifest naming every
    * planned fragment and its spool is written BEFORE the first rename,
    * and renamed to `.committed` after the last, so a retry after a
    * crash in any window lands the batch exactly once.
    *
    * Any failure deletes every spool not yet renamed before rethrowing
    * (renamed ones are gone, and deleting a missing path is a no-op): no
    * retry could reclaim them by name. Returns the committed fragments,
    * none for a replay.
    */
  private[graft] def commitSpooled(root: String, journal: String,
      spooled: Seq[Spooled], codec: String, offsetRoots: Seq[String] = Nil,
      batch: Option[(String, Long)] = None,
      conf: Configuration = hadoopConf): Seq[Fragment] = {
    val dir = new HPath(root, journal)
    val fs = dir.getFileSystem(conf)
    def marker(state: String) =
      batch.map { case (prefix, id) => new HPath(dir, s".batch-$prefix$id.$state") }
    val committed = marker("committed")
    val pending = marker("pending")
    try {
      if (committed.exists(fs.exists)) { dropSpools(fs, spooled); Nil }
      else {
        batch.foreach { case (prefix, id) => assertNotSwept(fs, dir, prefix, id) }
        fs.mkdirs(dir)
        val staged =
          if (pending.exists(p => fs.exists(p) &&
              reconcilePending(fs, p, journal, codec, conf))) {
            dropSpools(fs, spooled) // the crashed attempt landed in full
            Nil
          } else {
            val planned = planFragments(root, journal, codec,
              head((offsetRoots :+ root).distinct, journal), spooled)
            pending.foreach(writeStringAtomic(fs, _,
              planned.map { case (f, tmp) => s"${f.path}\t$tmp" }.mkString("\n")))
            planned.foreach { case (f, tmp) => commitFragment(f, tmp, conf) }
            planned
          }
        for (p <- pending; c <- committed)
          if (!fs.rename(p, c)) throw new java.io.IOException(s"rename $p -> $c failed")
        val end = staged.iterator.map(_._1.end).foldLeft(0L)(math.max)
        raiseHeadFloor(root, journal, end)
        graft.metrics.GraftMetrics.appendCommitted(journal, staged.size,
          staged.iterator.map { case (f, _) => f.end - f.begin }.sum, end)
        batch.foreach { case (prefix, id) => sweepMarkers(fs, dir, prefix, id) }
        staged.map(_._1)
      }
    } catch { case e: Throwable => dropSpools(fs, spooled); throw e }
  }

  /** How many epochs of `.batch-*.committed` idempotence markers stay
    * behind the newest one. Spark's micro-batch engine replays at most
    * the batches not yet committed to its OWN checkpoint — always the
    * newest few — so markers this far back are dead weight; without a
    * sweep a short-trigger streaming sink grows the journal directory
    * (and every reader's per-trigger LIST) without bound. Rewinding a
    * checkpoint further back than this re-appends those batches.
    */
  private val MarkerRetention = 64L

  /** Delete `.batch-<prefix><id>.committed` markers with
    * id < current − [[MarkerRetention]]; amortized to every 16th id.
    * Non-numeric ids after the prefix (other queries' epoch tags in the
    * same directory) are never touched.
    */
  private def sweepMarkers(fs: FileSystem, dir: HPath, prefix: String,
      current: Long): Unit = {
    if (current % 16L != 0L) return
    val horizon = current - MarkerRetention
    if (horizon <= 0) return // batch ids are non-negative: nothing to sweep
    val sts = fs.globStatus(new HPath(dir, s".batch-$prefix*.committed"))
    if (sts == null) return
    // Record the sweep horizon BEFORE deleting any marker, so a rewound
    // checkpoint can be REFUSED instead of silently duplicated (see
    // assertNotSwept). The order matters: horizon-then-delete means a
    // crash mid-sweep leaves swept markers FENCED (over-strict is safe —
    // a replay whose marker still exists early-returns on the
    // fs.exists(committed) check before the fence runs); the reverse
    // order would leave deleted markers UNfenced, re-opening the exact
    // silent-duplicate window the fence exists to close.
    //
    // Horizons are VERSIONED files (`.batch-<prefix>swept-<horizon>`)
    // that are written once and never rewritten — the fence reads the
    // MAX over all of them — so no step here ever deletes-then-renames
    // an existing fence file (Hadoop rename can't overwrite, and an
    // "overwrite" emulation would open a fence-absent window with
    // markers already swept). Aged horizon files are garbage-collected
    // only AFTER the new horizon is durable; a crash leaves extras
    // behind, which the max() makes harmless.
    val hp = new HPath(dir, s".batch-${prefix}swept-$horizon")
    if (!fs.exists(hp)) // idempotent re-sweep: the file is complete by construction
      writeStringAtomic(fs, hp, horizon.toString)
    // Keep the fence's in-process fast path current (it never re-lists
    // after first touch); merge, don't overwrite, in case of an
    // out-of-order sweep call.
    sweptHorizons.merge((dir.toString, prefix), horizon,
      (a, b) => if (a.longValue >= b.longValue) a else b)
    horizonFiles(fs, dir, prefix).foreach { case (p, h) =>
      if (h < horizon) fs.delete(p, false)
    }
    sts.foreach { st =>
      val name = st.getPath.getName
        .stripPrefix(s".batch-$prefix").stripSuffix(".committed")
      val id = try java.lang.Long.parseLong(name)
        catch { case _: NumberFormatException => Long.MaxValue }
      if (id < horizon) fs.delete(st.getPath, false)
    }
  }

  /** Per-process cache of the max swept horizon per (dir, prefix): the
    * fence runs on EVERY batch commit, and the glob behind it is a full
    * client-side directory listing (paged LIST on S3A) — per-batch
    * that's real money on a journal directory with many fragments.
    * Under the sink's single-writer contract the horizon only advances
    * through this process's own [[sweepMarkers]] (which updates the
    * cache), so one listing at first touch suffices. Removing horizon
    * files to override a refused rewind requires restarting the writer
    * (the error message says so).
    */
  private val sweptHorizons =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** All swept-horizon files for `prefix` in `dir`, as (path, horizon):
    * the versioned form `.batch-<prefix>swept-<h>` (name carries the
    * horizon) and the legacy unversioned `.batch-<prefix>swept` (content
    * carries it). Files matching neither shape — e.g. another query's
    * tag caught by a shorter prefix's glob — are ignored.
    */
  private def horizonFiles(fs: FileSystem, dir: HPath,
      prefix: String): Seq[(HPath, Long)] = {
    val sts = fs.globStatus(new HPath(dir, s".batch-${prefix}swept*"))
    if (sts == null) Nil
    else sts.toSeq.flatMap { st =>
      val rest = st.getPath.getName.stripPrefix(s".batch-${prefix}swept")
      val h =
        if (rest.startsWith("-"))
          try Some(rest.substring(1).toLong)
          catch { case _: NumberFormatException => None }
        else if (rest.isEmpty)
          try Some(readString(fs, st.getPath).trim.toLong)
          catch { case _: Exception => None }
        else None
      h.map(st.getPath -> _)
    }
  }

  /** Fail loudly when batch `id` is below the swept-marker horizon: its
    * `.committed` idempotence marker may already have been deleted by
    * [[sweepMarkers]], so "marker absent" no longer proves "never
    * appended" — proceeding would silently re-append the batch as
    * duplicate records. Rewinds within [[MarkerRetention]] of the
    * newest batch (all Spark's micro-batch engine ever replays) never
    * trip this.
    */
  private def assertNotSwept(fs: FileSystem, dir: HPath, prefix: String,
      id: Long): Unit = {
    val key = (dir.toString, prefix)
    val horizon = Option(sweptHorizons.get(key)).map(_.longValue).getOrElse {
      val h = horizonFiles(fs, dir, prefix).map(_._2)
        .foldLeft(0L)(math.max)
      sweptHorizons.put(key, h)
      h
    }
    if (horizon > 0 && id < horizon) throw new IllegalStateException(
      s"batch $id of $dir is below the swept idempotence horizon " +
      s"$horizon: markers more than $MarkerRetention behind the newest " +
      "batch are deleted, so this batch cannot be proven un-appended " +
      "and a re-append would duplicate its records. Restore a " +
      "checkpoint within the retention window, or deduplicate and " +
      s"remove the .batch-${prefix}swept* horizon files to override " +
      "(then restart this writer: the horizon is cached in-process).")
  }

  /** Resolve a crashed attempt's `.pending` manifest. Each line is
    * "fragPath\tspoolPath": finish the renames whose spool survived, and
    * return true when every fragment is then present (the batch landed;
    * the caller finalizes its marker). Otherwise roll the partial batch
    * back — delete its fragments and the manifest, restoring the head —
    * and return false so the caller re-appends.
    */
  private def reconcilePending(fs: FileSystem, pending: HPath,
      journal: String, codec: String, conf: Configuration): Boolean = {
    val entries = readString(fs, pending).split('\n')
      .filter(_.nonEmpty).map(_.split('\t')).toVector
    entries.foreach { case Array(fragPath, tmpPath) =>
      if (!fs.exists(new HPath(fragPath)) && fs.exists(new HPath(tmpPath)))
        commitFragment(Fragment(journal, 0, 0, "", codec, fragPath), tmpPath, conf)
    }
    entries.forall(e => fs.exists(new HPath(e(0)))) || {
      entries.foreach(e => fs.delete(new HPath(e(0)), false))
      fs.delete(pending, false)
      false
    }
  }

  // ---- fixed binary framing (§1.2 application/x-protobuf-fixed) ------

  /** Frame delimiter of the fixed framing: 4-byte magic + 4-byte
    * little-endian length precede each payload
    * (message/fixed_framing.go:26-148).
    */
  val FixedFramingMagic: Array[Byte] =
    Array(0x66.toByte, 0x33.toByte, 0x93.toByte, 0x36.toByte)

  final case class BinEnvelope(journal: String, begin: Long, end: Long, payload: Array[Byte])

  /** Append binary payloads with fixed framing. Offsets count
    * uncompressed bytes including the 8-byte frame headers.
    */
  def appendFramed(df: DataFrame, root: String, journal: String,
      codec: String = "gz", payloadCol: String = "payload"): Seq[Fragment] = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(payloadCol)).as[Array[Byte]].rdd.map(p => (p, 0, ""))
    commitSpooled(root, journal,
      spoolPass(rows, root, Vector(journal), codec, fixedFraming = true), codec)
  }

  /** Read fixed-framed binary envelopes with exact byte spans. */
  def readFramed(spark: SparkSession, root: String, journal: String): Dataset[BinEnvelope] = {
    import spark.implicits._
    val plan = coverSet(listFragments(root, journal))
    val hc = new HadoopConf(hadoopConf)
    spark.createDataset(plan).flatMap { case (frag, readFrom) =>
      val p = new HPath(frag.path)
      val raw = p.getFileSystem(hc.value).open(p)
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        wrapInput(frag.codec, raw), 1 << 16))
      in.skipNBytes(readFrom - frag.begin)
      var offset = readFrom
      new Iterator[BinEnvelope] {
        private var nextEnv: BinEnvelope = advance()
        private def advance(): BinEnvelope = {
          val header = new Array[Byte](8)
          val got = in.readNBytes(header, 0, 8)
          if (got == 0) { in.close(); null } // EOF: release the FS stream
          else if (got < 8 || !header.startsWith(FixedFramingMagic)) {
            in.close()
            throw new java.io.IOException(
              s"invalid fixed-framing header at $offset in ${frag.path}")
          } else {
            val n = (header(4) & 0xff) | ((header(5) & 0xff) << 8) |
              ((header(6) & 0xff) << 16) | ((header(7) & 0xff) << 24)
            val payload = new Array[Byte](n)
            if (in.readNBytes(payload, 0, n) != n) {
              in.close()
              throw new java.io.IOException(s"truncated frame at $offset in ${frag.path}")
            }
            val begin = offset
            offset += 8L + n
            BinEnvelope(frag.journal, begin, offset, payload)
          }
        }
        override def hasNext: Boolean = nextEnv != null
        override def next(): BinEnvelope = {
          val e = nextEnv; nextEnv = advance(); e
        }
      }
    }
  }

  // ---- read path (S1-S4) ---------------------------------------------

  /** Iterate a fragment's records whose spans START in [from, to) — the
    * executor-side read of one planned slice (decompress, byte-skip to
    * the slice start, frame lines with exact offsets).
    *
    * Slice bounds need NOT be record-aligned: ownership is by first
    * byte. A reader landing mid-record discards the partial first line
    * (that record belongs to the slice holding its first byte), and a
    * record beginning before `to` is read to completion even when its
    * bytes extend past `to`. This is what makes byte-capped admission
    * control (maxBytesPerTrigger) safe — adjacent slices tile the
    * journal with no torn or duplicated records, the same
    * scan-to-next-delimiter rule the reference's framing readers apply
    * to arbitrary-offset reads.
    */
  def readFragmentSlice(frag: Fragment, from: Long, to: Long,
      conf: Configuration = hadoopConf): Iterator[Envelope] = {
    val p = new HPath(frag.path)
    val raw = p.getFileSystem(conf).open(p)
    val in = new java.io.BufferedInputStream(wrapInput(frag.codec, raw), 1 << 16)
    // Skip to from-1 first: the byte BEFORE the slice tells whether
    // `from` starts a record (previous byte is the '\n' terminator).
    val preTarget = (if (from > frag.begin) from - 1 else from) - frag.begin
    var skipped = 0L
    while (skipped < preTarget) {
      val n = try in.skip(preTarget - skipped) catch {
        case e: Throwable => in.close(); throw e
      }
      if (n <= 0) {
        in.close()
        throw new java.io.IOException(s"cannot skip to $from in ${frag.path}")
      }
      skipped += n
    }
    var offset = from
    if (from > frag.begin) {
      val prev = in.read()
      if (prev == -1) { in.close(); return Iterator.empty }
      if (prev != '\n') {
        // Mid-record: discard through the partial record's terminator.
        var b = in.read()
        while (b != -1 && b != '\n') { offset += 1; b = in.read() }
        if (b == -1) { in.close(); return Iterator.empty }
        offset += 1 // count the discarded record's '\n'
      }
    }
    // Strict '\n'-only framing with direct byte accounting — NOT
    // BufferedReader.readLine, which also treats '\r'/'\r\n' as
    // terminators: a payload ending in '\r' would then consume two
    // terminator bytes while the offset advanced one, silently
    // shifting every later begin/end in the fragment (offsets are the
    // streaming checkpoint currency). Counting the raw bytes also
    // avoids re-encoding each line to measure it. The iterator closes
    // the stream itself on EVERY exit — end-of-fragment, the `to`
    // bound (admission-controlled slices stop mid-file), or a torn
    // unterminated tail (never committed, so never emitted).
    val buf = new java.io.ByteArrayOutputStream(256)
    val bound = to // inside Iterator, bare `to` resolves to IterableOnceOps.to
    // Per-JVM read counters (consumer read_messages/read_bytes analog,
    // consumer/interfaces.go:318-327): resolved once per slice, LongAdder
    // inc per record — noise next to the parse itself.
    val mTag = graft.metrics.GraftMetrics.journalTag(frag.journal)
    val mRecs = graft.metrics.GraftMetrics.counter(s"journal.$mTag.read.records")
    val mBytes = graft.metrics.GraftMetrics.counter(s"journal.$mTag.read.bytes")
    new Iterator[Envelope] with java.io.Closeable {
      private var nextEnv: Envelope = _
      private var done = false
      private var fetched = false
      override def close(): Unit = if (!done) { done = true; in.close() }
      private def fetch(): Unit = {
        if (done || fetched) return
        if (offset >= bound) { close(); return }
        buf.reset()
        var b = in.read()
        if (b == -1) { close(); return }
        while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
        if (b == -1) { close(); return } // torn tail: never committed
        val begin = offset
        offset += buf.size() + 1
        nextEnv = Envelope(frag.journal, begin, offset,
          new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
        mRecs.inc(); mBytes.inc(offset - begin)
        fetched = true
      }
      override def hasNext: Boolean = { fetch(); fetched }
      override def next(): Envelope = {
        fetch()
        if (!fetched) throw new NoSuchElementException
        fetched = false
        nextEnv
      }
    }
  }

  /** Batch read: envelopes with exact uncompressed byte offsets.
    * Executors open fragment files directly; overlapping fragments are
    * resolved via the cover set and byte-skipped to the right offset.
    */
  def read(spark: SparkSession, root: String, journal: String): Dataset[Envelope] =
    read(spark, Seq(root), journal)

  /** Multi-store batch read: the cover set over the union listing
    * stitches fragments from every store into one contiguous stream.
    */
  def read(spark: SparkSession, roots: Seq[String], journal: String): Dataset[Envelope] = {
    import spark.implicits._
    val plan = coverSet(listFragments(roots, journal))
    val hc = new HadoopConf(hadoopConf)
    spark.createDataset(plan).flatMap { case (frag, readFrom) =>
      readFragmentSlice(frag, readFrom, frag.end, hc.value)
    }
  }
}
