package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class JournalSpec extends SparkSpec {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-journal").toString

  test("append/read round-trip with contiguous offsets (gz)") {
    import spark.implicits._
    val root = tmpRoot()
    val lines = (1 to 1000).map(i => s"""{"i":$i,"v":"value-$i"}""")
    val df = lines.toDF("payload").repartition(4)

    val frags = Journal.append(df, root, "topic/a", codec = "gz")
    assert(frags.nonEmpty)
    assert(frags.head.begin == 0L)
    // contiguous fragments
    frags.sliding(2).foreach {
      case Seq(x, y) => assert(x.end == y.begin)
      case _ =>
    }

    val envs = Journal.read(spark, root, "topic/a").collect().sortBy(_.begin)
    assert(envs.length == 1000)
    assert(envs.map(_.payload).sorted.toSeq == lines.sorted)
    // exact byte spans: each record's span length = payload bytes + newline
    envs.foreach(e => assert(e.end - e.begin == e.payload.getBytes("UTF-8").length + 1))
    // spans tile the journal
    assert(envs.last.end == frags.map(_.end).max)

    // second append continues from the head
    val frags2 = Journal.append(Seq("""{"i":1001}""").toDF("payload"), root, "topic/a")
    assert(frags2.head.begin == frags.map(_.end).max)
    assert(Journal.read(spark, root, "topic/a").count() == 1001)
  }

  test("payloads ending in \\r keep exact offsets (strict \\n framing)") {
    import spark.implicits._
    val root = tmpRoot()
    // BufferedReader.readLine would swallow '\r\n' as ONE terminator
    // and drift every later offset; the strict framer must not.
    val lines = Seq("plain", "trailing\r", "next", "inner\rkept", "last")
    Journal.append(lines.toDF("payload").coalesce(1), root, "topic/cr",
      codec = "none")
    val envs = Journal.read(spark, root, "topic/cr").collect().sortBy(_.begin)
    assert(envs.map(_.payload).toSeq == lines)
    envs.foreach(e =>
      assert(e.end - e.begin == e.payload.getBytes("UTF-8").length + 1))
    // spans tile: begin of each record = end of the previous
    envs.sliding(2).foreach {
      case Array(x, y) => assert(x.end == y.begin)
      case _ =>
    }
  }

  test("flushIntervalMs rolls a trickling spool on the clock, not on size") {
    import spark.implicits._
    val root = tmpRoot()
    // A slow source: 6 tiny records arriving ~150ms apart in ONE
    // partition. Size-only rolling would spool them into a single
    // fragment; a 250ms flush interval must roll mid-stream so bytes
    // reach the store on a clock (fragment.flush_interval,
    // protocol.proto:229-246).
    def slow = spark.range(6).coalesce(1).as[Long]
      .map { i => Thread.sleep(150); s"msg-$i" }.toDF("payload")
    val frags = Journal.append(slow, root, "topic/slow", codec = "none",
      flushIntervalMs = 250L)
    assert(frags.size >= 2,
      s"clock roll expected >=2 fragments, got ${frags.size}")
    frags.sliding(2).foreach {
      case Seq(x, y) => assert(x.end == y.begin)
      case _ =>
    }
    val envs = Journal.read(spark, root, "topic/slow").collect().sortBy(_.begin)
    assert(envs.map(_.payload).toSeq == (0 until 6).map(i => s"msg-$i"))
    // Control: the same stream without the interval spools one fragment.
    val one = Journal.append(slow, root, "topic/slow-ctl", codec = "none")
    assert(one.size == 1, s"size-only rolling expected 1 fragment, got ${one.size}")
  }

  test("null payloads and postfixes fail loudly, not as 'null' records") {
    import spark.implicits._
    val root = tmpRoot()
    val err = intercept[Exception] {
      Journal.append(Seq(Some("ok"), None).map(_.orNull).toDF("payload"),
        root, "topic/np", codec = "none")
    }
    assert(err.getMessage.contains("null payload") ||
      Option(err.getCause).exists(_.getMessage.contains("null payload")),
      s"want a clear null-payload error, got: ${err.getMessage}")
    // The failed attempt must clean up after itself: retries spool to
    // FRESH UUID-named tmps, so anything left here is orphaned forever.
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(Journal.hadoopConf)
    val orphans = fs.listStatus(rootPath)
      .map(_.getPath.getName).filter(_.startsWith(".spool-"))
    assert(orphans.isEmpty, s"orphaned spool tmps: ${orphans.mkString(",")}")
  }

  test("time retention deletes a fragment's copies from EVERY store") {
    import spark.implicits._
    val a = tmpRoot(); val b = tmpRoot()
    val frags = Journal.append(Seq("x", "y").toDF("payload").coalesce(1),
      a, "topic/m", codec = "none")
    // Mid-migration: the same fragment bytes exist in both stores.
    val src = new org.apache.hadoop.fs.Path(frags.head.path)
    val dstDir = new org.apache.hadoop.fs.Path(b, "topic/m")
    val fs = src.getFileSystem(Journal.hadoopConf)
    fs.mkdirs(dstDir)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(dstDir, src.getName), false, Journal.hadoopConf)
    assert(Journal.listFragments(b, "topic/m").size == 1)
    val dropped = Journal.pruneOlderThan(Seq(a, b), "topic/m",
      horizonMs = System.currentTimeMillis() + 3600000)
    // The content-deduplicated listing must not shield the sibling copy.
    assert(Journal.listFragments(a, "topic/m").isEmpty, "store A copy survived")
    assert(Journal.listFragments(b, "topic/m").isEmpty, "store B copy survived")
    assert(dropped.size == 2, s"both copies reported, got ${dropped.size}")
  }

  test("aged batch markers sweep; recent and foreign markers survive") {
    import spark.implicits._
    val root = tmpRoot()
    val dir = new org.apache.hadoop.fs.Path(root, "topic/mk")
    val fs = dir.getFileSystem(Journal.hadoopConf)
    fs.mkdirs(dir)
    for (n <- Seq(".batch-0.committed", ".batch-10.committed",
        ".batch-70.committed", ".batch-q-abc-5.committed"))
      fs.create(new org.apache.hadoop.fs.Path(dir, n), true).close()
    // batch 80 commits (80 % 16 == 0 → sweep runs; retention 64).
    Journal.batchSink(root, "topic/mk", codec = "none")(
      Seq("p").toDF("payload"), batchId = 80L)
    def exists(n: String) =
      fs.exists(new org.apache.hadoop.fs.Path(dir, n))
    assert(!exists(".batch-0.committed") && !exists(".batch-10.committed"),
      "markers older than the retention window must sweep")
    assert(exists(".batch-70.committed"), "recent marker must survive")
    assert(exists(".batch-q-abc-5.committed"),
      "another query's epoch tag must never be touched by the batch sweep")
    assert(exists(".batch-80.committed"), "current marker must exist")
    // The sweep records its horizon (80 - 64 = 16) as a versioned file
    // that is never rewritten: a rewind below it can no longer prove
    // idempotence and must be REFUSED, not silently duplicated; a
    // retry whose marker survived stays a no-op.
    assert(exists(".batch-swept-16"), "sweep must record its horizon")
    val before = Journal.listFragments(root, "topic/mk").size
    intercept[IllegalStateException] {
      Journal.batchSink(root, "topic/mk", codec = "none")(
        Seq("dup").toDF("payload"), batchId = 10L)
    }
    Journal.batchSink(root, "topic/mk", codec = "none")(
      Seq("dup").toDF("payload"), batchId = 70L) // marker present: no-op
    assert(Journal.listFragments(root, "topic/mk").size == before,
      "neither the refused rewind nor the marker-fenced retry may append")
    // A SECOND sweep must advance the horizon without any rename onto
    // an existing destination (Hadoop rename does not overwrite on
    // HDFS/S3A; regression: an unversioned horizon rewrite threw
    // IOException post-commit, failing the sink every 16 batches).
    // The new horizon file appears BEFORE the old one is collected, so
    // no crash window leaves swept markers unfenced.
    Journal.batchSink(root, "topic/mk", codec = "none")(
      Seq("p2").toDF("payload"), batchId = 96L)
    assert(exists(".batch-swept-32"), "second sweep must advance the horizon")
    assert(!exists(".batch-swept-16"),
      "the superseded horizon file is garbage-collected after the new one lands")
    // The fence reads the max horizon: batch 20 (>= 16, < 32) refuses.
    intercept[IllegalStateException] {
      Journal.batchSink(root, "topic/mk", codec = "none")(
        Seq("dup").toDF("payload"), batchId = 20L)
    }
  }

  test("swept-horizon fence on a spooled epoch reclaims its spool files") {
    val root = tmpRoot()
    val dir = new org.apache.hadoop.fs.Path(root, "topic/fence")
    val fs = dir.getFileSystem(Journal.hadoopConf)
    fs.mkdirs(dir)
    // Horizon for query-prefix "q-1-": epochs below 50 are unprovable.
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, ".batch-q-1-swept"), true)
    out.write("50".getBytes("UTF-8")); out.close()
    val spool = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(root), ".spool-fence", ".tmp")
    java.nio.file.Files.writeString(spool, "orphan-bytes")
    intercept[IllegalStateException] {
      Journal.commitSpooled(root, "topic/fence",
        Seq(Journal.Spooled(0, 0, "", 0, 12L, "0" * 40, spool.toString)), "none",
        batch = Some(("q-1-", 10L)))
    }
    assert(!java.nio.file.Files.exists(spool),
      "the refused epoch must reclaim its executor spool files")
  }

  test("listFragments does not attribute a nested journal's fragments to the parent") {
    import spark.implicits._
    val root = tmpRoot()
    Journal.append((1 to 10).map(i => s"parent-$i").toDF("payload"), root, "a/b")
    Journal.append((1 to 10).map(i => s"nested-$i").toDF("payload"), root, "a/b/c")
    // Both journals read their own bytes only.
    val parent = Journal.read(spark, root, "a/b").collect().map(_.payload)
    val nested = Journal.read(spark, root, "a/b/c").collect().map(_.payload)
    assert(parent.sorted.toSeq == (1 to 10).map(i => s"parent-$i").sorted)
    assert(nested.sorted.toSeq == (1 to 10).map(i => s"nested-$i").sorted)
    // ...and the parent's head is not inflated by the nested journal.
    assert(Journal.head(Seq(root), "a/b") ==
      parent.map(_.getBytes("UTF-8").length + 1).sum)
  }

  test("journal listings read no file permission and skip a nested journal's subtree") {
    // On the local store without native IO every permission read of a
    // listed status forks `ls -ld`: one process per listed file, on
    // every commit, read and trigger.
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.perm.impl", classOf[PermCountFileSystem].getName)
    val local = tmpRoot()
    val root = "perm://" + local
    Journal.append((1 to 40).map(i => s"p-$i").toDF("payload").repartition(4),
      root, "pc/a")
    Journal.append((1 to 10).map(i => s"n-$i").toDF("payload"), root, "pc/a/n")
    val batch = (1 to 30).map(i => (s"r-$i", i % 3)).toDF("payload", "k")
      .repartition(2)
    val routes = (0 to 2).map(r => s"pc/r$r" -> (col("k") === r))
    Journal.batchSinkRouted(root, routes, batch, 0L)

    PermCountFileSystem.reset()
    val listed = Journal.listFragments(root, "pc/a")
    assert(listed.size == 4)
    val nestedDir = new java.io.File(local, "pc/a/n").getPath
    val walked = PermCountFileSystem.listed.toArray(Array.empty[String]).toSeq
    assert(!walked.exists(_.startsWith(nestedDir)),
      s"listing the parent walked the nested journal: $walked")
    assert(Journal.head(root, "pc/a") == listed.map(_.end).max)
    assert(Journal.read(spark, root, "pc/a").count() == 40)
    Journal.batchSinkRouted(root, routes, batch, 1L)
    assert(Journal.read(spark, root, "pc/r1").count() == 20)
    val stream = new graft.sources.v2.JournalMicroBatchStream(Seq(root), "pc/a")
    assert(stream.latestOffset() == graft.sources.v2.JournalOffset(listed.map(_.end).max))
    assert(PermCountFileSystem.reads.get == 0L,
      s"${PermCountFileSystem.reads.get} permission/owner/group reads of listed statuses")
  }

  test("the listStatus walk lists exactly what Hadoop's recursive listFiles did") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.lag.impl", classOf[LagFileSystem].getName)
    val conf = Journal.hadoopConf
    val (a, b) = (tmpRoot(), tmpRoot())
    val j = "id/j"
    // Postfix directories one and two levels deep, and top-level
    // fragments, through the checksummed local store (.crc sidecars).
    Journal.append(Seq(("t", ""), ("d", "date=1"), ("h", "date=2/hour=3"))
      .toDF("payload", "pf").coalesce(1), a, j, postfixCol = Some("pf"))
    Journal.batchSink(a, j)(Seq("m0").toDF("payload"), 0L)
    Journal.batchSink(a, j)(Seq("m1").toDF("payload"), 1L)
    Journal.append(Seq("nested").toDF("payload"), a, s"$j/nested")
    val aDir = new java.io.File(a, j)
    Files.write(new java.io.File(aDir, ".batch-9.pending").toPath,
      "x\ty".getBytes("UTF-8"))
    Files.write(new java.io.File(a, s".spool-id_j-0-${java.util.UUID.randomUUID}.tmp")
      .toPath, "s\n".getBytes("UTF-8"))
    Files.write(new java.io.File(aDir, s"date=1/.spool-id_j-1-${java.util.UUID.randomUUID}.tmp")
      .toPath, "s\n".getBytes("UTF-8"))
    // A fragment-named file under a non-postfix directory.
    val top = aDir.listFiles().filter(_.getName.endsWith(".gz")).head
    Files.createDirectories(new java.io.File(aDir, "junk").toPath)
    Files.copy(top.toPath, new java.io.File(aDir, s"junk/${top.getName}").toPath)
    // The second store continues the offsets and holds one copy of a
    // first-store fragment (mid-migration).
    Journal.append(Seq("b1", "b2").toDF("payload"), b, j, offsetRoots = Seq(b, a))
    Files.createDirectories(new java.io.File(b, j).toPath)
    Files.copy(top.toPath, new java.io.File(b, s"$j/${top.getName}").toPath)

    val FragmentRe = """([0-9a-f]{16})-([0-9a-f]{16})-([0-9a-f]{40})\.(\w+)""".r
    // The listing as it was before the listStatus walk: a recursive
    // listFiles whose interior directories are filtered after the fact.
    def byListFiles(roots: Seq[String]): Vector[Journal.Fragment] =
      roots.iterator.flatMap { root =>
        val dir = new org.apache.hadoop.fs.Path(root, j)
        val fs = dir.getFileSystem(conf)
        val qdir = fs.makeQualified(dir).toUri.getPath
        val it = fs.listFiles(dir, true)
        val buf = Vector.newBuilder[Journal.Fragment]
        while (it.hasNext) {
          val st = it.next()
          st.getPath.getName match {
            case FragmentRe(bg, e, sha, codec) =>
              val rel = st.getPath.toUri.getPath.stripPrefix(qdir).stripPrefix("/")
              if (rel.split('/').dropRight(1).forall(_.contains('=')))
                buf += Journal.Fragment(j, java.lang.Long.parseUnsignedLong(bg, 16),
                  java.lang.Long.parseUnsignedLong(e, 16), sha, codec,
                  new org.apache.hadoop.fs.Path(dir, rel).toString,
                  st.getBlockLocations.toSeq.flatMap(_.getHosts).distinct,
                  st.getModificationTime)
            case _ =>
          }
        }
        buf.result()
      }.toVector
        .distinctBy(f => (f.begin, f.end, f.sha1, f.codec))
        .sortBy(f => (f.begin, -f.end))

    for (roots <- Seq(Seq(a), Seq(a, b), Seq("lag://" + a),
        Seq("lag://" + a, "lag://" + b))) {
      val want = byListFiles(roots)
      assert(want.exists(_.path.contains("date=2/hour=3")) &&
        want.forall(f => !f.path.contains("nested") && !f.path.contains("junk")) &&
        want.forall(_.hosts.nonEmpty), s"reference listing: $want")
      assert(Journal.listFragments(roots, j) == want, s"roots $roots")
    }
  }

  test("every codec round-trips: none, gz, zst, sz") {
    import spark.implicits._
    Seq("none", "gz", "zst", "sz").foreach { codec =>
      val root = tmpRoot()
      val lines = (1 to 200).map(i => s"payload-$codec-$i")
      Journal.append(lines.toDF("payload"), root, s"j-$codec", codec = codec)
      val frags = Journal.listFragments(root, s"j-$codec")
      assert(frags.nonEmpty && frags.forall(_.codec == codec))
      assert(Journal.read(spark, root, s"j-$codec").collect()
        .map(_.payload).sorted.toSeq == lines.sorted, s"codec $codec")
    }
  }

  test("cover set resolves overlapping fragments") {
    def f(b: Long, e: Long) = Journal.Fragment("j", b, e, "0" * 40, "none", "")
    // duplicate + contained + partially-overlapping fragments
    val plan = Journal.coverSet(Vector(f(0, 100), f(0, 100), f(20, 80), f(50, 150), f(150, 200)))
    assert(plan.map { case (fr, from) => (fr.begin, from, fr.end) } ==
      Vector((0L, 0L, 100L), (50L, 100L, 150L), (150L, 150L, 200L)))
  }

  test("read skips to mid-fragment offset for overlaps") {
    import spark.implicits._
    val root = tmpRoot()
    // Write one fragment, then manually craft an overlapping one that
    // duplicates the tail records plus adds new ones.
    Journal.append(Seq("aaa", "bbb").toDF("payload"), root, "jv", codec = "none")
    val head = Journal.head(root, "jv") // 8 bytes: "aaa\nbbb\n"
    // Overlapping fragment spanning [4, 16): "bbb\nccc\nddd\n"
    val content = "bbb\nccc\nddd\n".getBytes("UTF-8")
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(content).map("%02x".format(_)).mkString
    val p = java.nio.file.Paths.get(root, "jv", f"${4L}%016x-${16L}%016x-$sha.none")
    Files.write(p, content)

    val envs = Journal.read(spark, root, "jv").collect().sortBy(_.begin)
    assert(envs.map(_.payload).toSeq == Seq("aaa", "bbb", "ccc", "ddd"))
    assert(envs.map(_.begin).toSeq == Seq(0L, 4L, 8L, 12L))
  }

  test("unaligned byte slices tile the journal without torn or duplicate records") {
    import spark.implicits._
    val root = tmpRoot()
    // records of varying length: "a\n" [0,2) "bbbb\n" [2,7) "cc\n" [7,10)
    // "ddddddd\n" [10,18) "e\n" [18,20)
    Journal.append(Seq("a", "bbbb", "cc", "ddddddd", "e").toDF("payload").coalesce(1),
      root, "sl", "none")
    val frag = Journal.listFragments(root, "sl").head
    // slice at arbitrary (mid-record) offsets: ownership is by first byte
    val cuts = Seq((0L, 4L), (4L, 9L), (9L, 16L), (16L, frag.end))
    val sliced = cuts.flatMap { case (lo, hi) =>
      Journal.readFragmentSlice(frag, lo, hi).toSeq
    }
    assert(sliced.map(_.payload) == Seq("a", "bbbb", "cc", "ddddddd", "e"))
    // spans still tile exactly
    assert(sliced.head.begin == 0L && sliced.last.end == frag.end)
    sliced.sliding(2).foreach {
      case Seq(x, y) => assert(x.end == y.begin)
      case _ =>
    }
    // a slice entirely inside one record yields nothing (owned elsewhere)
    assert(Journal.readFragmentSlice(frag, 11L, 14L).isEmpty)
  }

  test("batchSink is idempotent per batchId") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq("x", "y").toDF("payload")
    Journal.batchSink(root, "sink/j", "gz")(df, 7L)
    Journal.batchSink(root, "sink/j", "gz")(df, 7L) // retry of same batch
    assert(Journal.read(spark, root, "sink/j").count() == 2)
    Journal.batchSink(root, "sink/j", "gz")(df, 8L) // next batch appends
    assert(Journal.read(spark, root, "sink/j").count() == 4)
  }

  test("batchSink recovers from a crash between fragment renames and manifest finalize") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (1 to 100).map(i => s"rec-$i").toDF("payload").repartition(3)
    // Simulate the crash window: stage + pending manifest + ALL fragment
    // renames done, but the process dies before .pending → .committed.
    val staged = Journal.stage(df, root, "cw/j", "gz")
    val dir = java.nio.file.Paths.get(root, "cw/j")
    java.nio.file.Files.writeString(dir.resolve(".batch-3.pending"),
      staged.map { case (f, t) => s"${f.path}\t$t" }.mkString("\n"))
    staged.foreach { case (f, t) => Journal.commitFragment(f, t) }

    Journal.batchSink(root, "cw/j", "gz")(df, 3L) // Spark's retry of batch 3
    assert(Journal.read(spark, root, "cw/j").count() == 100) // no duplicates
    assert(java.nio.file.Files.exists(dir.resolve(".batch-3.committed")))
    assert(!java.nio.file.Files.exists(dir.resolve(".batch-3.pending")))
  }

  test("batchSink completes a partially-renamed batch from surviving spools") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (1 to 90).map(i => s"p-$i").toDF("payload").repartition(3)
    val staged = Journal.stage(df, root, "cw/p", "gz")
    assert(staged.size == 3)
    val dir = java.nio.file.Paths.get(root, "cw/p")
    java.nio.file.Files.writeString(dir.resolve(".batch-0.pending"),
      staged.map { case (f, t) => s"${f.path}\t$t" }.mkString("\n"))
    // Crash mid-commit: only the first fragment was renamed.
    Journal.commitFragment(staged.head._1, staged.head._2)

    Journal.batchSink(root, "cw/p", "gz")(df, 0L)
    assert(Journal.read(spark, root, "cw/p").count() == 90)
    assert(java.nio.file.Files.exists(dir.resolve(".batch-0.committed")))
  }

  test("batchSink rolls back and re-appends when spools are lost") {
    import spark.implicits._
    val root = tmpRoot()
    val df = (1 to 60).map(i => s"l-$i").toDF("payload").repartition(3)
    val staged = Journal.stage(df, root, "cw/l", "gz")
    val dir = java.nio.file.Paths.get(root, "cw/l")
    java.nio.file.Files.writeString(dir.resolve(".batch-5.pending"),
      staged.map { case (f, t) => s"${f.path}\t$t" }.mkString("\n"))
    // Crash mid-commit AND the un-renamed spools were swept away.
    Journal.commitFragment(staged.head._1, staged.head._2)
    staged.tail.foreach { case (_, t) =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(t)) }

    Journal.batchSink(root, "cw/l", "gz")(df, 5L)
    val envs = Journal.read(spark, root, "cw/l").collect()
    assert(envs.length == 60) // partial fragment rolled back, batch exactly once
    assert(envs.map(_.payload).sorted.toSeq == (1 to 60).map(i => s"l-$i").sorted)
    assert(java.nio.file.Files.exists(dir.resolve(".batch-5.committed")))
  }

  test("compact coalesces mixed-codec fragments; content and offsets survive") {
    import spark.implicits._
    val root = tmpRoot()
    val b1 = (1 to 300).map(i => s"""{"i":$i}""")
    val b2 = (301 to 600).map(i => s"""{"i":$i}""")
    val b3 = (601 to 900).map(i => s"""{"i":$i}""")
    Journal.append(b1.toDF("payload").coalesce(1), root, "t/c", codec = "gz")
    Journal.append(b2.toDF("payload").coalesce(1), root, "t/c", codec = "zst")
    Journal.append(b3.toDF("payload").coalesce(1), root, "t/c", codec = "none")
    val before = Journal.read(spark, root, "t/c").collect().sortBy(_.begin)
    assert(Journal.listFragments(root, "t/c").length == 3)

    val merged = Journal.compact(root, "t/c", targetBytes = Long.MaxValue / 2)
    assert(merged.length == 1)
    val frags = Journal.listFragments(root, "t/c")
    assert(frags.length == 1 && frags.head.begin == 0L
      && frags.head.end == before.last.end)

    val after = Journal.read(spark, root, "t/c").collect().sortBy(_.begin)
    assert(after.map(e => (e.begin, e.end, e.payload)).toSeq
      == before.map(e => (e.begin, e.end, e.payload)).toSeq)
    // Appends continue from the same head.
    Journal.append(Seq("""{"i":901}""").toDF("payload"), root, "t/c")
    assert(Journal.head(root, "t/c") > frags.head.end)
  }

  test("compact respects targetBytes and re-running is a no-op") {
    import spark.implicits._
    val root = tmpRoot()
    for (k <- 0 until 4)
      Journal.append(Seq.fill(50)(s"""{"k":$k}""").toDF("payload").coalesce(1),
        root, "t/d", codec = "none")
    val total = Journal.head(root, "t/d")
    // Target sized for two source fragments per merged fragment.
    val merged = Journal.compact(root, "t/d", targetBytes = total / 2)
    assert(merged.length == 2, s"got $merged")
    assert(Journal.listFragments(root, "t/d").length == 2)
    val again = Journal.compact(root, "t/d", targetBytes = total / 2)
    assert(again.isEmpty)
    assert(Journal.read(spark, root, "t/d").count() == 200)
  }

  test("compact crash window: merged + stale sources still read correctly") {
    import spark.implicits._
    val root = tmpRoot()
    Journal.append(Seq("""{"a":1}""").toDF("payload"), root, "t/e", codec = "none")
    Journal.append(Seq("""{"a":2}""").toDF("payload"), root, "t/e", codec = "none")
    val before = Journal.read(spark, root, "t/e").collect().sortBy(_.begin)
    val olds = Journal.listFragments(root, "t/e")
    val backup = olds.map { f =>
      val b = Files.createTempFile("frag-bak", ".bin")
      Files.copy(java.nio.file.Paths.get(f.path), b,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      (f, b)
    }
    Journal.compact(root, "t/e", targetBytes = Long.MaxValue / 2)
    // Re-create the crash state: sources restored alongside the merged
    // fragment (commit happened, deletes did not).
    backup.foreach { case (f, b) =>
      Files.copy(b, java.nio.file.Paths.get(f.path))
    }
    assert(Journal.listFragments(root, "t/e").length == 3)
    val overlapped = Journal.read(spark, root, "t/e").collect().sortBy(_.begin)
    assert(overlapped.map(e => (e.begin, e.end, e.payload)).toSeq
      == before.map(e => (e.begin, e.end, e.payload)).toSeq)
    // Re-running compaction over the overlap is a no-op (the merged
    // fragment already covers everything).
    assert(Journal.compact(root, "t/e", targetBytes = Long.MaxValue / 2).isEmpty)
  }

  test("fixed binary framing round-trips with exact offsets") {
    import spark.implicits._
    val root = tmpRoot()
    val payloads: Seq[Array[Byte]] = Seq(
      "proto-ish".getBytes("UTF-8"),
      Array.empty[Byte],                       // empty frame allowed
      Array.tabulate(1000)(i => (i % 251).toByte))
    Journal.appendFramed(payloads.toDF("payload").coalesce(1), root, "fx", "gz")
    val envs = Journal.readFramed(spark, root, "fx").collect().sortBy(_.begin)
    assert(envs.length == 3)
    assert(envs.map(_.payload.toSeq).toSeq == payloads.map(_.toSeq))
    // span = 8-byte header + payload; spans tile the journal
    envs.foreach(e => assert(e.end - e.begin == 8L + e.payload.length))
    assert(envs.head.begin == 0L)
    assert(envs.sliding(2).forall {
      case Array(a, b) => a.end == b.begin
      case _ => true
    })
  }

  test("appendFramed fails loudly on a null payload and reclaims its spools") {
    val root = tmpRoot()
    val df = spark.range(0, 4, 1, 2).select(
      when(col("id") === 3, lit(null).cast("binary"))
        .otherwise(encode(col("id").cast("string"), "UTF-8")).as("payload"))
    val err = intercept[Exception] {
      Journal.appendFramed(df, root, "fx/np", "gz")
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).flatMap(e => Option(e.getMessage)).toList
    assert(messages.exists(_.contains("journal append: null payload")),
      s"want a clear null-payload error, got: $messages")
    val orphans = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith(".spool-"))
    assert(orphans.isEmpty, s"orphaned spool tmps: ${orphans.mkString(",")}")
    assert(Journal.listFragments(root, "fx/np").isEmpty)
  }

  test("compact on a truncated source fails and leaves no tmp file") {
    import spark.implicits._
    val root = tmpRoot()
    Journal.append(Seq("a-1", "a-2").toDF("payload").coalesce(1), root, "t/tr", codec = "none")
    Journal.append(Seq("b-1", "b-2").toDF("payload").coalesce(1), root, "t/tr", codec = "none")
    val last = Journal.listFragments(root, "t/tr").last
    // Cut the second fragment short: its name still claims 8 bytes.
    // (Its stale local-FS checksum goes too, so the read reaches EOF.)
    val lastPath = java.nio.file.Paths.get(last.path)
    java.nio.file.Files.write(lastPath, "b-1".getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      lastPath.resolveSibling(s".${lastPath.getFileName}.crc"))
    val err = intercept[IllegalArgumentException] {
      Journal.compact(root, "t/tr", targetBytes = Long.MaxValue / 2)
    }
    assert(err.getMessage.contains("truncated fragment"), err.getMessage)
    val tmps = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith(".compact-"))
    assert(tmps.isEmpty, s"compaction tmp left behind: ${tmps.mkString(",")}")
    assert(Journal.listFragments(root, "t/tr").size == 2, "sources must survive")
  }

  test("prune deletes fragments below the retention offset") {
    import spark.implicits._
    val root = tmpRoot()
    Journal.append(Seq("a", "b").toDF("payload").coalesce(1), root, "pr", "none") // [0,4)
    Journal.append(Seq("c", "d").toDF("payload").coalesce(1), root, "pr", "none") // [4,8)
    Journal.append(Seq("e").toDF("payload").coalesce(1), root, "pr", "none")      // [8,10)
    val dropped = Journal.prune(root, "pr", keepFromOffset = 4L)
    assert(dropped.map(f => (f.begin, f.end)) == Vector((0L, 4L)))
    val envs = Journal.read(spark, root, "pr").collect().sortBy(_.begin)
    assert(envs.map(_.payload).toSeq == Seq("c", "d", "e"))
    assert(envs.head.begin == 4L)
  }

  test("pruneOlderThan deletes the aged cover prefix; reads unaffected") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = tmpRoot()
    val f1 = Journal.append(Seq("a", "b").toDF("payload").coalesce(1), root, "tr", "none") // [0,4)
    val f2 = Journal.append(Seq("c", "d").toDF("payload").coalesce(1), root, "tr", "none") // [4,8)
    val f3 = Journal.append(Seq("e").toDF("payload").coalesce(1), root, "tr", "none")      // [8,10)
    val fs = new Path(root).getFileSystem(Journal.hadoopConf)
    // Age the first two fragments past a day-scale horizon.
    val old = System.currentTimeMillis() - 86400000L
    (f1 ++ f2).foreach(f => fs.setTimes(new Path(f.path), old, -1))
    val horizon = System.currentTimeMillis() - 3600000L

    val dropped = Journal.pruneOlderThan(root, "tr", horizon)
    assert(dropped.map(f => (f.begin, f.end)).sorted == Vector((0L, 4L), (4L, 8L)))
    // The surviving cover is a contiguous suffix and reads still work.
    val cover = Journal.coverSet(Journal.listFragments(root, "tr"))
    assert(cover.map { case (f, from) => (from, f.end) } == Vector((8L, 10L)))
    val envs = Journal.read(spark, root, "tr").collect().sortBy(_.begin)
    assert(envs.map(_.payload).toSeq == Seq("e"))
    // Re-running is a no-op; a fresh fragment is never horizon-eligible.
    assert(Journal.pruneOlderThan(root, "tr", horizon).isEmpty)
    assert(f3.nonEmpty)
  }

  test("pruneOlderThan never cuts past a young fragment (contiguity)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = tmpRoot()
    val f1 = Journal.append(Seq("a").toDF("payload").coalesce(1), root, "tc", "none") // [0,2)
    Journal.append(Seq("b").toDF("payload").coalesce(1), root, "tc", "none")          // [2,4) young
    val f3 = Journal.append(Seq("c").toDF("payload").coalesce(1), root, "tc", "none") // [4,6)
    val fs = new Path(root).getFileSystem(Journal.hadoopConf)
    val old = System.currentTimeMillis() - 86400000L
    // Age fragments 1 and 3 but NOT 2: the cut must stop at fragment 2,
    // leaving aged-but-covering fragment 3 in place (no hole).
    (f1 ++ f3).foreach(f => fs.setTimes(new Path(f.path), old, -1))
    val dropped = Journal.pruneOlderThan(root, "tc",
      System.currentTimeMillis() - 3600000L)
    assert(dropped.map(f => (f.begin, f.end)) == Vector((0L, 2L)))
    val envs = Journal.read(spark, root, "tc").collect().sortBy(_.begin)
    assert(envs.map(_.payload).toSeq == Seq("b", "c"))
  }

  test("streaming read discovers fragments as files") {
    import spark.implicits._
    val root = tmpRoot()
    Journal.append((1 to 10).map(i => s"m$i").toDF("payload"), root, "sj", "gz")
    val q = spark.readStream.format("journal")
      .option("root", root).option("journal", "sj").load()
      .writeStream.format("memory").queryName("journal_stream")
      .option("checkpointLocation", tmpRoot()).start()
    q.processAllAvailable()
    val n0 = spark.table("journal_stream").count()
    Journal.append((11 to 15).map(i => s"m$i").toDF("payload"), root, "sj", "gz")
    q.processAllAvailable()
    val n1 = spark.table("journal_stream").count()
    q.stop()
    assert(n0 == 10 && n1 == 15)
  }

  test("multi-store append derives offsets from ALL stores (migration-safe)") {
    import spark.implicits._
    val oldStore = tmpRoot(); val newStore = tmpRoot()
    // History lives in the old store...
    val f1 = Journal.append((1 to 10).map(i => s"old-$i").toDF("payload")
      .coalesce(1), oldStore, "topic/m")
    val oldHead = f1.map(_.end).max
    // ...new writes go to the new (active) store but must continue the
    // offset sequence across BOTH stores, not restart at 0.
    val f2 = Journal.append((1 to 5).map(i => s"new-$i").toDF("payload")
      .coalesce(1), newStore, "topic/m",
      offsetRoots = Seq(newStore, oldStore))
    assert(f2.head.begin == oldHead,
      s"new store append must start at the cross-store head $oldHead, got ${f2.head.begin}")
    // The union read sees one contiguous stream of all 15 records.
    val envs = Journal.read(spark, Seq(newStore, oldStore), "topic/m")
    assert(envs.count() == 15)
  }

  test("postfixValues ignores '=' in the journal name and store root") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tier=hot").toString
    val df = Seq(("a", "date=2024-01-01"), ("b", "date=2024-01-02"))
      .toDF("payload", "pf")
    val frags = Journal.append(df.coalesce(1), root, "events/region=us",
      postfixCol = Some("pf"))
    val values = frags.map(Journal.postfixValues)
    // only the true postfix dir parses; the journal's region=us and the
    // root's tier=hot segment must NOT leak into the map
    assert(values.forall(v => v.keySet == Set("date")))
    assert(values.flatMap(_.get("date")).toSet ==
      Set("2024-01-01", "2024-01-02"))
  }

  test("dual-writer race: reads stay deterministic, the audit names the shadowed append") {
    import spark.implicits._
    val root = tmpRoot()
    // Seed the journal, then simulate TWO appenders racing: both stage
    // from the SAME head (exactly what two uncoordinated driver
    // processes would derive), then both commit. This is the contract
    // violation append()'s scaladoc forbids — the spec pins what the
    // engine guarantees anyway (deterministic reads, no interleaving)
    // and that the audit exposes the loss.
    Journal.append(Seq("seed").toDF("payload"), root, "race/j", codec = "none")
    val a = Journal.stage(Seq("writer-A-1", "writer-A-2").toDF("payload")
      .coalesce(1), root, "race/j", codec = "none")
    val b = Journal.stage(Seq("writer-B-1").toDF("payload")
      .coalesce(1), root, "race/j", codec = "none")
    (a ++ b).foreach { case (frag, tmp) => Journal.commitFragment(frag, tmp) }

    val frags = Journal.listFragments(root, "race/j")
    assert(frags.size == 3, s"expected 3 fragments (seed + A + B): $frags")

    // The audit reports exactly one shadowed range: B's whole span,
    // served by A (same begin, A longer → A wins the cover).
    val overlaps = Journal.overlappingFragments(Seq(root), "race/j")
    assert(overlaps.size == 1, s"audit should flag the race: $overlaps")
    val r = overlaps.head
    assert(r.serving.path == a.head._1.path &&
      r.shadowed.path == b.head._1.path, s"wrong winner labeling: $r")
    assert(r.from == r.shadowed.begin && r.until == r.shadowed.end,
      s"B must be fully shadowed: $r")

    // Reads resolve via the cover set: the winner's records appear, the
    // shadowed append's records NEVER do, nothing interleaves or
    // duplicates, and the result is stable across listings.
    val payloads = Journal.read(spark, root, "race/j").toDF()
      .select($"payload").as[String].collect().toSeq
    assert(payloads == Seq("seed", "writer-A-1", "writer-A-2"),
      s"cover-set read must return exactly the winner: $payloads")

    // Crossing spans (two appenders from DIVERGED heads — e.g. one read
    // a lagging store): only the overlapped PREFIX of the crossing
    // fragment is shadowed; its tail extends the cover and IS served.
    // The audit must name that exact range — re-appending the whole
    // fragment would duplicate the served tail.
    val headNow = Journal.head(root, "race/j")
    val c = Journal.stage(Seq("writer-C-1", "writer-C-2").toDF("payload")
      .coalesce(1), root, "race/j", codec = "none")
    // Re-plan C's fragment as if its writer saw a head 5 bytes back.
    val cf = c.head._1
    val shifted = cf.copy(begin = cf.begin - 5, end = cf.end - 5,
      path = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, "race/j"),
        f"${cf.begin - 5}%016x-${cf.end - 5}%016x-${cf.sha1}.none").toString)
    Journal.commitFragment(shifted, c.head._2)
    val overlaps2 = Journal.overlappingFragments(Seq(root), "race/j")
    val crossing = overlaps2.filter(_.shadowed.path == shifted.path)
    assert(crossing.size == 1, s"crossing overlap not flagged: $overlaps2")
    assert(crossing.head.from == shifted.begin &&
      crossing.head.until == headNow,
      s"only the overlapped prefix is shadowed: ${crossing.head}")

    // Healthy single-writer history audits clean (no false positives);
    // an empty/unknown journal audits clean too.
    assert(Journal.overlappingFragments(Seq(root), "race/never-written").isEmpty)
    Journal.append(Seq("x").toDF("payload"), root, "race/clean", codec = "none")
    Journal.append(Seq("y").toDF("payload"), root, "race/clean", codec = "none")
    assert(Journal.overlappingFragments(Seq(root), "race/clean").isEmpty)
  }
}
