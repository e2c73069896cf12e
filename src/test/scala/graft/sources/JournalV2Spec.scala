package graft.sources

import graft.SparkSpec
import graft.sources.v2.{JournalScan, PostfixPredicate}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** DSv2 `journal` format: batch/stream parity over the same fragments,
  * exact offsets in streaming, checkpointed resume mid-journal.
  */
class JournalV2Spec extends SparkSpec {

  test("format(journal) batch read matches Journal.read") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-v2").toString
    Journal.append((1 to 500).map(i => s"rec-$i").toDF("payload").repartition(3),
      root, "v2/j", "gz")

    val v2 = spark.read.format("journal")
      .option("root", root).option("journal", "v2/j").load()
    assert(v2.schema.fieldNames.toSeq == Seq("journal", "begin", "end", "payload"))
    val a = v2.orderBy("begin").collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    val b = Journal.read(spark, root, "v2/j").collect().sortBy(_.begin)
      .map(e => (e.begin, e.end, e.payload))
    assert(a.toSeq == b.toSeq)
    assert(a.length == 500)
  }

  test("format(journal) streaming: tail reads with exact offsets and restart") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-v2s").toString
    val ckpt = Files.createTempDirectory("graft-v2s-ckpt").toString
    val outDir = Files.createTempDirectory("graft-v2s-out").toString
    Journal.append(Seq("a1", "a2").toDF("payload"), root, "sj", "none")

    def drain(): Unit = {
      val q = spark.readStream.format("journal")
        .option("root", root).option("journal", "sj").load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }

    drain()
    val r1 = spark.read.parquet(outDir)
    assert(r1.count() == 2)
    // exact byte offsets surfaced in streaming mode: "a1\n" = [0,3), "a2\n" = [3,6)
    assert(r1.orderBy("begin").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 3L), (3L, 6L)))

    // Append while stopped; restart resumes from the checkpointed head —
    // only the new span is read.
    Journal.append(Seq("b1", "b2", "b3").toDF("payload"), root, "sj", "none")
    drain()
    val r2 = spark.read.parquet(outDir).orderBy("begin")
    assert(r2.count() == 5)
    assert(r2.select("payload").as[String].collect().toSeq ==
      Seq("a1", "a2", "b1", "b2", "b3"))
  }

  test("format(journal) batch write: the Append RPC as a DSv2 sink") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-v2w").toString
    (1 to 100).map(i => s"w-$i").toDF("payload").repartition(4)
      .write.format("journal")
      .option("root", root).option("journal", "wj").option("codec", "gz")
      .mode("append").save()
    // Second append continues from the head — offsets stay contiguous.
    Seq("tail-1", "tail-2").toDF("payload").coalesce(1)
      .write.format("journal")
      .option("root", root).option("journal", "wj")
      .mode("append").save()

    val back = Journal.read(spark, root, "wj").collect().sortBy(_.begin)
    assert(back.map(_.payload).toSet == ((1 to 100).map(i => s"w-$i") ++
      Seq("tail-1", "tail-2")).toSet)
    // Contiguous tiling: each record's end is the next record's begin.
    assert(back.sliding(2).forall {
      case Array(a, b) => a.end == b.begin
      case _ => true
    })
    assert(Journal.head(root, "wj") == back.last.end)
  }

  test("format(journal) streaming write: epoch-fenced exactly-once sink") {
    import spark.implicits._
    val srcRoot = Files.createTempDirectory("graft-v2sw-src").toString
    val dstRoot = Files.createTempDirectory("graft-v2sw-dst").toString
    val ckpt = Files.createTempDirectory("graft-v2sw-ckpt").toString
    Journal.append((1 to 20).map(i => s"m-$i").toDF("payload"), srcRoot, "src", "none")

    def drain(): Unit = {
      val q = spark.readStream.format("journal")
        .option("root", srcRoot).option("journal", "src").load()
        .select($"payload")
        .writeStream.format("journal")
        .option("root", dstRoot).option("journal", "dst").option("codec", "gz")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }

    drain()
    assert(Journal.read(spark, dstRoot, "dst").collect().map(_.payload).toSet ==
      (1 to 20).map(i => s"m-$i").toSet)

    // Restart with more source data: only the new span lands (the
    // checkpoint + epoch manifests fence duplicates).
    Journal.append(Seq("m-21", "m-22").toDF("payload"), srcRoot, "src", "none")
    drain()
    val all = Journal.read(spark, dstRoot, "dst").collect().map(_.payload)
    assert(all.length == 22, s"duplicated or lost records: ${all.length}")
    assert(all.toSet == (1 to 22).map(i => s"m-$i").toSet)

    // A replayed epoch is a no-op: same tag → spools dropped, no frags.
    val frags = Journal.listFragments(dstRoot, "dst")
    val dup = Journal.commitSpooled(dstRoot, "dst", Nil, "gz",
      batch = Some(("replayed-epoch-", 0L)))
    assert(dup.isEmpty || Journal.listFragments(dstRoot, "dst").size >= frags.size)
  }

  test("maxAppendRate throttles writers via the per-journal token bucket") {
    import spark.implicits._
    import graft.sources.v2.AppendFlowControl
    val root = Files.createTempDirectory("graft-v2rate").toString

    // Unthrottled control: ~8 KB lands fast.
    val payloads = (1 to 256).map(i => ("x" * 31) + f"$i%x")
    val t0 = System.nanoTime()
    payloads.toDF("payload").coalesce(1).write.format("journal")
      .option("root", root).option("journal", "rate/free").option("codec", "none")
      .mode("append").save()
    val freeSec = (System.nanoTime() - t0) * 1e-9

    // Throttled: ~8.4 KB of framed bytes at 4 KB/s with a 4 KB burst
    // ⇒ at least ~1.1s of pacing beyond the burst.
    AppendFlowControl.reset()
    val t1 = System.nanoTime()
    payloads.toDF("payload").coalesce(1).write.format("journal")
      .option("root", root).option("journal", "rate/slow").option("codec", "none")
      .option("maxAppendRate", "4096")
      .mode("append").save()
    val slowSec = (System.nanoTime() - t1) * 1e-9
    assert(slowSec > freeSec + 0.8,
      s"rate limit did not pace: free=${freeSec}s throttled=${slowSec}s")
    // Data is intact — throttling delays, never drops.
    assert(Journal.read(spark, root, "rate/slow").count() == 256L)

    // Streaming epochs pace the same way (shared writer factory path):
    // drain the same source twice, throttled vs not, and compare.
    val srcRoot = Files.createTempDirectory("graft-v2rate-src").toString
    Journal.append(payloads.toDF("payload"), srcRoot, "src", "none")
    def drain(journal: String, rate: Option[String]): Double = {
      AppendFlowControl.reset()
      val ckpt = Files.createTempDirectory("graft-v2rate-ckpt").toString
      val t = System.nanoTime()
      val w = spark.readStream.format("journal")
        .option("root", srcRoot).option("journal", "src").load()
        .select($"payload")
        .writeStream.format("journal")
        .option("root", root).option("journal", journal)
        .option("codec", "none")
        .option("checkpointLocation", ckpt)
      val q = rate.fold(w)(r => w.option("maxAppendRate", r))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
      (System.nanoTime() - t) * 1e-9
    }
    val streamFree = drain("rate/sfree", None)
    // ~8.4 KB framed at 2 KB/s with a 2 KB burst ⇒ ≥ ~3s of pacing.
    val streamSlow = drain("rate/sslow", Some("2048"))
    assert(Journal.read(spark, root, "rate/sslow").count() == 256L)
    assert(streamSlow > streamFree + 2.0,
      s"streaming rate limit did not pace: free=${streamFree}s throttled=${streamSlow}s")

    // Catalog-routed appends honor the spec's maxAppendRate field.
    AppendFlowControl.reset()
    val c = new graft.catalog.JournalCatalog
    assert(c.upsert(graft.catalog.JournalSpec("rate/bad",
      maxAppendRate = -5L)).isLeft)
    assert(c.upsert(graft.catalog.JournalSpec("rate/cat", codec = "none",
      stores = Vector(root), maxAppendRate = 4096L)).isRight)
    val t3 = System.nanoTime()
    c.append(payloads.toDF("payload").coalesce(1), "rate/cat")
    val catSec = (System.nanoTime() - t3) * 1e-9
    assert(catSec > freeSec + 0.8,
      s"catalog rate limit did not pace: free=${freeSec}s throttled=${catSec}s")
    AppendFlowControl.reset()
  }

  test("aggregate ceiling: parallel writers never exceed maxAppendRate") {
    import spark.implicits._
    import graft.sources.v2.AppendFlowControl
    // The driver ships each executor JVM its share of the ceiling.
    // Static masters are PARSED (registration-race-proof), so the
    // expectation comes from the master string, not the live registry.
    val sc = spark.sparkContext
    val execs =
      if (sc.master.startsWith("local-cluster"))
        "local-cluster\\[\\s*(\\d+)".r.findFirstMatchIn(sc.master)
          .map(_.group(1).toInt).getOrElse(1)
      else 1
    assert(AppendFlowControl.perJvmShare(sc, 8192L) ==
      math.max(1L, 8192L / execs))
    assert(AppendFlowControl.perJvmShare(sc, 0L) == 0L)
    assert(AppendFlowControl.perJvmShare(sc, -1L) == -1L)

    AppendFlowControl.reset()
    val root = Files.createTempDirectory("graft-v2agg").toString
    // 512 × (32-char payload + \n) = 16,896 framed bytes, written from
    // TWO partitions at an AGGREGATE 4 KB/s. The pacing lower bound is
    // master-independent: local[*] = one 4 KB/s bucket with a 4 KB
    // burst → ≥ (16896−4096)/4096 ≈ 3.1 s; local-cluster[2,…] = two
    // 2 KB/s shares with 2 KB bursts → an even split paces
    // (8448−2048)/2048 ≈ 3.1 s, a skewed one longer. Without per-JVM
    // shares two executor JVMs would EACH run a full-rate bucket and
    // finish in roughly half the bound — which is what this guards.
    val payloads = (1 to 512).map(i => ("y" * 28) + f"$i%04x")
    val t0 = System.nanoTime()
    payloads.toDF("payload").repartition(2).write.format("journal")
      .option("root", root).option("journal", "agg/slow")
      .option("codec", "none").option("maxAppendRate", "4096")
      .mode("append").save()
    val sec = (System.nanoTime() - t0) * 1e-9
    assert(Journal.read(spark, root, "agg/slow").count() == 512L)
    assert(sec > 2.6,
      s"aggregate ceiling exceeded: 16.9 KB at 4 KB/s took only ${sec}s")
    AppendFlowControl.reset()
  }

  test("multi-root listing unions stores into one contiguous stream") {
    import spark.implicits._
    val rootA = Files.createTempDirectory("graft-mr-a").toString
    val rootB = Files.createTempDirectory("graft-mr-b").toString
    Journal.append((1 to 6).map(i => s"x-$i").toDF("payload").coalesce(1), rootA, "mj", "none")
    Journal.append((7 to 12).map(i => s"x-$i").toDF("payload").coalesce(1), rootA, "mj", "none")

    // Migrate the first fragment to store B (the reference's
    // store-migration story: fragments of one journal span stores).
    val frags = Journal.listFragments(rootA, "mj")
    assert(frags.size == 2)
    val moved = frags.head
    val dstDir = java.nio.file.Paths.get(rootB, "mj")
    Files.createDirectories(dstDir)
    Files.move(java.nio.file.Paths.get(moved.path), dstDir.resolve(moved.name))

    // Each root alone is incomplete; the union covers [0, head).
    assert(Journal.listFragments(rootA, "mj").size == 1)
    assert(Journal.listFragments(rootB, "mj").size == 1)
    val union = Journal.listFragments(Seq(rootA, rootB), "mj")
    assert(union.size == 2)
    assert(union.head.begin == 0L && union.last.end == Journal.head(Seq(rootA, rootB), "mj"))

    val rows = Journal.read(spark, Seq(rootA, rootB), "mj").collect().sortBy(_.begin)
    assert(rows.map(_.payload).toSeq == (1 to 12).map(i => s"x-$i"))
    assert(rows.sliding(2).forall {
      case Array(a, b) => a.end == b.begin
      case _ => true
    })

    // Same union through the DSv2 roots option.
    val v2 = spark.read.format("journal")
      .option("roots", s"$rootA,$rootB").option("journal", "mj").load()
    assert(v2.count() == 12)
  }

  test("planInputPartitions surfaces block-location locality hints") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-loc").toString
    Journal.append(Seq("l1", "l2").toDF("payload"), root, "lj", "none")
    val parts = new JournalScan(Seq(root), "lj").toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    // The local FS reports "localhost" for every block — what matters
    // is that listing-time block locations reach the partition hint.
    assert(parts.forall(_.preferredLocations().nonEmpty),
      "fragment block hosts should surface as preferredLocations")
  }

  test("postfix options prune date= subtrees at planning time") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ppf").toString
    val df = (1 to 30).map(i => (s"e-$i", f"date=2024-01-${i % 3 + 1}%02d")).toDF("payload", "date")
    Journal.append(df.repartition(2), root, "pj", "none", postfixCol = Some("date"))

    val all = spark.read.format("journal")
      .option("root", root).option("journal", "pj").load()
    assert(all.count() == 30)

    val pruned = spark.read.format("journal")
      .option("root", root).option("journal", "pj")
      .option("postfix.date.min", "2024-01-02").load()
    val keep = df.filter($"date" >= "date=2024-01-02").count()
    assert(pruned.count() == keep)
    // Fewer input partitions, not a post-scan filter: the subtree below
    // the bound never plans.
    val partsAll = new JournalScan(Seq(root), "pj").toBatch.planInputPartitions().length
    val partsPruned = new JournalScan(Seq(root), "pj", None,
      Seq(PostfixPredicate("date", "min", "2024-01-02"))).toBatch.planInputPartitions().length
    assert(partsPruned < partsAll, s"$partsPruned vs $partsAll")

    val eq = spark.read.format("journal")
      .option("root", root).option("journal", "pj")
      .option("postfix.date.eq", "2024-01-03").load()
    assert(eq.count() == df.filter($"date" === "date=2024-01-03").count())
  }

  test("DSv2 write with postfixCol lays Hive subdirs; postfix pruning sees them") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-wpf").toString
    (1 to 20).map(i => (s"p-$i", s"date=2024-02-${"%02d".format(i % 2 + 1)}"))
      .toDF("payload", "pf").repartition(2)
      .write.format("journal")
      .option("root", root).option("journal", "wp")
      .option("codec", "none").option("postfixCol", "pf")
      .mode("append").save()

    val frags = Journal.listFragments(root, "wp")
    assert(frags.nonEmpty)
    assert(frags.forall(f => Journal.postfixValues(f).contains("date")))
    // The postfix column routes, it is not framed into the payload.
    val back = Journal.read(spark, root, "wp").collect()
    assert(back.map(_.payload).toSet == (1 to 20).map(i => s"p-$i").toSet)
    assert(back.sortBy(_.begin).sliding(2).forall {
      case Array(a, b) => a.end == b.begin
      case _ => true
    })
    val pruned = spark.read.format("journal")
      .option("root", root).option("journal", "wp")
      .option("postfix.date.eq", "2024-02-02").load()
    assert(pruned.count() == (1 to 20).count(_ % 2 == 1))
  }

  test("maxFragmentBytes rolls spools into bounded, contiguous fragments") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-roll").toString
    val recs = (1 to 100).map(i => f"r$i%04d") // 6 bytes framed
    Journal.append(recs.toDF("payload").coalesce(1), root, "roll", "none",
      maxFragmentBytes = 64)
    val frags = Journal.listFragments(root, "roll")
    assert(frags.size >= 8, s"expected rolled fragments, got ${frags.size}")
    // Roll closes the spool when the bound is reached; one in-flight
    // record may overshoot it.
    assert(frags.forall(f => f.end - f.begin <= 64 + 6))
    val back = Journal.read(spark, root, "roll").collect().sortBy(_.begin)
    assert(back.map(_.payload).toSeq == recs) // order preserved across rolls
    assert(back.sliding(2).forall {
      case Array(a, b) => a.end == b.begin
      case _ => true
    })

    // Same policy through the DSv2 sink option.
    recs.toDF("payload").coalesce(1)
      .write.format("journal")
      .option("root", root).option("journal", "roll2")
      .option("codec", "none").option("maxFragmentBytes", "64")
      .mode("append").save()
    val frags2 = Journal.listFragments(root, "roll2")
    assert(frags2.size >= 8)
    assert(Journal.read(spark, root, "roll2").collect().sortBy(_.begin)
      .map(_.payload).toSeq == recs)
  }

  test("catalog-routed I/O: stores, codec, roll length, RD/WR flags") {
    import spark.implicits._
    import graft.catalog.{JournalCatalog, JournalSpec}
    val storeA = Files.createTempDirectory("graft-cat-a").toString
    val storeB = Files.createTempDirectory("graft-cat-b").toString
    val c = new JournalCatalog
    assert(c.upsert(JournalSpec("cat/j", codec = "none",
      fragmentTargetLength = 64, stores = Vector(storeA, storeB))).isRight)

    val recs = (1 to 50).map(i => f"c$i%04d")
    val frags = c.append(recs.toDF("payload").coalesce(1), "cat/j")
    // Active store + spec codec + spec roll length all honored.
    assert(frags.forall(f => f.path.startsWith(storeA) && f.codec == "none"))
    assert(frags.size > 1 && frags.forall(f => f.end - f.begin <= 64 + 6))

    // Migrate one fragment to store B: the catalog read unions stores.
    val moved = frags.head
    val dst = java.nio.file.Paths.get(storeB, "cat/j")
    Files.createDirectories(dst)
    Files.move(java.nio.file.Paths.get(moved.path), dst.resolve(moved.name))
    assert(c.read(spark, "cat/j").collect().sortBy(_.begin)
      .map(_.payload).toSeq == recs)

    // Flag enforcement.
    assert(c.upsert(JournalSpec("cat/ro", readOnly = true,
      stores = Vector(storeA))).isRight)
    intercept[IllegalStateException] {
      c.append(Seq("x").toDF("payload"), "cat/ro")
    }
    assert(c.upsert(JournalSpec("cat/wo", writeOnly = true,
      stores = Vector(storeA))).isRight)
    intercept[IllegalStateException] { c.read(spark, "cat/wo") }
  }

  test("pruneExpired: spec retention drives time-based pruning across stores") {
    import spark.implicits._
    import graft.catalog.{JournalCatalog, JournalSpec}
    import org.apache.hadoop.fs.Path
    val store = Files.createTempDirectory("graft-ret").toString
    val c = new JournalCatalog
    assert(c.upsert(JournalSpec("ret/neg", retentionMs = -1L)).isLeft)
    assert(c.upsert(JournalSpec("ret/j", codec = "none",
      stores = Vector(store), retentionMs = 3600000L)).isRight)

    val f1 = c.append(Seq("a", "b").toDF("payload").coalesce(1), "ret/j") // [0,4)
    val f2 = c.append(Seq("c").toDF("payload").coalesce(1), "ret/j")      // [4,6)
    val fs = new Path(store).getFileSystem(Journal.hadoopConf)
    // Age the first fragment beyond the 1h retention; f2 stays fresh.
    f1.foreach(f => fs.setTimes(new Path(f.path),
      System.currentTimeMillis() - 7200000L, -1))
    val dropped = c.pruneExpired("ret/j")
    assert(dropped.map(f => (f.begin, f.end)) == Vector((0L, 4L)))
    assert(c.read(spark, "ret/j").collect().map(_.payload).toSeq == Seq("c"))
    assert(f2.nonEmpty)

    // retention 0 (default) = retain forever: pruneExpired is a no-op.
    assert(c.upsert(JournalSpec("ret/keep", codec = "none",
      stores = Vector(store))).isRight)
    c.append(Seq("x").toDF("payload"), "ret/keep")
    Journal.listFragments(store, "ret/keep").foreach(f =>
      fs.setTimes(new Path(f.path), 1000L, -1))
    assert(c.pruneExpired("ret/keep").isEmpty)
    assert(c.read(spark, "ret/keep").count() == 1L)
  }

  test("selector-resolved reads: batch and streaming union over matching journals") {
    import spark.implicits._
    import graft.catalog.{JournalCatalog, JournalSpec}
    import graft.labels.LabelSet
    val store = Files.createTempDirectory("graft-sel").toString
    val c = new JournalCatalog
    for (p <- 0 to 2)
      assert(c.upsert(JournalSpec(s"topic/sel/part-$p",
        LabelSet("env", if (p < 2) "prod" else "qa"),
        codec = "none", stores = Vector(store))).isRight)
    for (p <- 0 to 2)
      c.append(Seq(s"m-$p-1", s"m-$p-2").toDF("payload"), s"topic/sel/part-$p")

    val batch = c.readSelected(spark, "env = prod").collect().map(_.payload).toSet
    assert(batch == Set("m-0-1", "m-0-2", "m-1-1", "m-1-2"))

    val outDir = Files.createTempDirectory("graft-sel-out").toString
    val ckpt = Files.createTempDirectory("graft-sel-ckpt").toString
    val q = c.readStreamSelected(spark, "prefix = topic/sel/")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    val streamed = spark.read.parquet(outDir).select($"payload").as[String].collect().toSet
    assert(streamed == (0 to 2).flatMap(p => Seq(s"m-$p-1", s"m-$p-2")).toSet)
  }

  test("listing tracks appends and plans past a prune") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-inc").toString
    Journal.append(Seq("i1", "i2").toDF("payload"), root, "inc", "none")
    val stream = new graft.sources.v2.JournalMicroBatchStream(Seq(root), "inc")

    val h1 = stream.latestOffset().asInstanceOf[graft.sources.v2.JournalOffset].head
    assert(h1 == 6L) // "i1\n" + "i2\n"

    // New fragments between triggers surface at the next poll.
    Journal.append(Seq("i3").toDF("payload"), root, "inc", "none")
    val h2 = stream.latestOffset().asInstanceOf[graft.sources.v2.JournalOffset].head
    assert(h2 == 9L, s"refresh missed the new fragment: head=$h2")
    val parts = stream.planInputPartitions(
      graft.sources.v2.JournalOffset(0L), graft.sources.v2.JournalOffset(h2))
    assert(parts.length == Journal.listFragments(root, "inc").size)

    // Prune below offset 6: the next poll's listing drops the pruned
    // fragment, and planning reads only what is left.
    Journal.prune(root, "inc", 6L)
    stream.latestOffset()
    val tail = stream.planInputPartitions(
      graft.sources.v2.JournalOffset(6L), graft.sources.v2.JournalOffset(9L))
    assert(tail.length == 1)
    assert(tail.forall(p =>
      p.asInstanceOf[graft.sources.v2.FragmentPartition].fragment.begin == 6L))
  }

  test("maxBytesPerTrigger bounds each micro-batch (admission control)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-v2ac").toString
    val ckpt = Files.createTempDirectory("graft-v2ac-ckpt").toString
    // 100 records x 4 bytes ("r00\n") = 400 journal bytes.
    Journal.append((0 until 100).map(i => f"r$i%02d").toDF("payload"),
      root, "ac", "none")

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("journal")
      .option("root", root).option("journal", "ac")
      .option("maxBytesPerTrigger", "64") // 16 records per batch
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += df.count(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000); q.stop()

    assert(batchSizes.sum == 100, s"batches: $batchSizes")
    // the byte cap holds per batch: 64 bytes / 4 bytes-per-record = 16
    assert(batchSizes.forall(_ <= 16), s"batches: $batchSizes")
    assert(batchSizes.count(_ > 0) >= 6, s"expected a paced backfill, got $batchSizes")
  }

  test("malformed postfix values refuse at write time on both paths") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-v2pfv").toString
    // A value missing the "key=" prefix would land fragments that the
    // listing never attributes (invisible data, offsets reused); an
    // absolute value would escape the store root. Both must throw at
    // the writer, not write dead bytes.
    for (bad <- Seq("2024-01-01", "/tmp/x=1", "a=1/.hidden=2")) {
      val df = Seq(("p1", bad)).toDF("payload", "pf")
      val eDsv2 = intercept[Exception] {
        df.write.format("journal").option("root", root)
          .option("journal", "pfv").option("codec", "none")
          .option("postfixCol", "pf").mode("append").save()
      }
      assert(eDsv2.getMessage != null)
      intercept[Exception] {
        Journal.append(df, root, "pfv2", "none", postfixCol = Some("pf"))
      }
    }
    // Well-formed values (incl. nested) still write and list.
    val ok = Seq(("p1", "date=2024-01-01/h=05")).toDF("payload", "pf")
    Journal.append(ok, root, "pfok", "none", postfixCol = Some("pf"))
    assert(Journal.listFragments(root, "pfok").size == 1)
  }

  test("admission offsets skip pruned front spans and never rewind below start") {
    import spark.implicits._
    import graft.sources.v2.{JournalMicroBatchStream, JournalOffset, ReadMaxJournalBytes}
    val root = Files.createTempDirectory("graft-v2skip").toString
    // 100 x 4-byte records, then prune the first 200 bytes away.
    Journal.append((0 until 100).map(i => f"s$i%02d").toDF("payload")
      .coalesce(4), root, "skip", "none")
    Journal.prune(root, "skip", 200L)
    val firstBegin = Journal.listFragments(root, "skip").map(_.begin).min
    assert(firstBegin >= 100L, s"prune left begin=$firstBegin")

    val stream = new JournalMicroBatchStream(Seq(root), "skip")
    // A fresh query starts at 0 with a 16-byte cap: the first capped
    // offset must JUMP the pruned hole instead of crawling it in
    // dozens of empty batches.
    val o1 = stream.latestOffset(JournalOffset(0L), ReadMaxJournalBytes(16L))
      .asInstanceOf[JournalOffset].head
    assert(o1 == firstBegin + 16L,
      s"expected hole-skip to $firstBegin+16, got $o1")
    // A transiently short listing (head < start) must clamp at start,
    // not rewind the checkpoint: start beyond the head stays put.
    val beyond = 100000L
    val o2 = stream.latestOffset(JournalOffset(beyond), ReadMaxJournalBytes(16L))
      .asInstanceOf[JournalOffset].head
    assert(o2 == beyond, s"capped branch rewound: $o2")
    val o3 = stream.latestOffset(JournalOffset(beyond),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[JournalOffset].head
    assert(o3 == beyond, s"unlimited branch rewound: $o3")
  }

  test("per-scan options reach catalog-loaded tables (admission + pruning)") {
    import graft.sources.v2.{JournalTable, ReadMaxJournalBytes}
    val root = Files.createTempDirectory("graft-v2scanopt").toString
    // A table created WITHOUT maxBytesPerTrigger (the catalog shape):
    // a per-scan option must still apply — silently dropping it reads
    // the whole journal in one batch.
    val table = new JournalTable(Seq(root), "so")
    val opts = new java.util.HashMap[String, String]()
    opts.put("maxBytesPerTrigger", "64")
    opts.put("postfix.date.eq", "2024-01-01")
    val scan = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)).build()
    val ms = scan.toMicroBatchStream("unused")
    assert(ms.asInstanceOf[
      org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]
      .getDefaultReadLimit == ReadMaxJournalBytes(64L),
      "per-scan maxBytesPerTrigger was dropped on the catalog path")
  }
}
