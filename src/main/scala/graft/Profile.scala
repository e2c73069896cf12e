package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only micro-profiler for slow bench queries (not part of the
  * engine surface; invoked manually, see tools/check.py workflow).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Section filter: SPARK_GRAFT_PROFILE_SECTIONS=seq,journal reruns
    // just the streaming/journal bars without the corpus/LSH sweeps.
    val sections = sys.env.getOrElse("SPARK_GRAFT_PROFILE_SECTIONS", "all")
    def want(s: String): Boolean =
      sections == "all" || sections.split(',').contains(s)

    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    if (want("text") || want("lsh")) {
    // warmup
    Tables.documents(spark, sfDir).count()
    }

    if (want("text")) {
    t("scan documents")(Tables.documents(spark, sfDir).count())
    t("wordTokens")(Tables.documents(spark, sfDir)
      .repartition(32)
      .select(size(graft.operators.TextAnalysis.wordTokens($"text")).as("s")).agg(sum($"s")).count())
    t("docShingles full")(graft.operators.Dedup.docShingles(
      Tables.documents(spark, sfDir), $"doc_id", $"text", 3).agg(sum(size($"sh"))).count())
    val ds = graft.operators.Dedup.docShingles(
      Tables.documents(spark, sfDir), $"doc_id", $"text", 3)
    t("docShingles cached count") { ds.persist(); ds.count() }
    t("minhash sigs from cached")(graft.operators.Dedup.minhashSignatures(ds, 48).count())
    t("explode+groupBy pairs from cached") {
      val ex = ds.select($"doc_id", explode($"sh").as("shingle"))
      ex.groupBy($"shingle").agg(collect_list($"doc_id").as("ids"))
        .filter(size($"ids") > 1).count()
    }
    t("q24 full")(SparkEntry.queries("q24_jaccard_pairs")(spark, sfDir).count())
    t("q25 full")(SparkEntry.queries("q25_minhash_lsh_pairs")(spark, sfDir).count())
    }

    if (want("lsh")) {
    // Fixed vs corpus-sized LSH parameterization (the q37 scale knob),
    // at the gate's low threshold and at a realistic near-dup one.
    // lshNearDupPairs returns a persisted frame under the
    // caller-unpersists contract (round 9) — release per measurement.
    for (thr <- Seq(0.4, 0.85)) {
      t(s"lshNearDup fixed planes=4 thr=$thr") {
        val p = graft.operators.Similarity
          .lshNearDupPairs(Tables.embeddings(spark, sfDir), thr)
        try p.count() finally p.unpersist()
      }
      t(s"lshNearDup auto planes thr=$thr") {
        val p = graft.operators.Similarity
          .lshNearDupPairsAuto(Tables.embeddings(spark, sfDir), thr)
        try p.count() finally p.unpersist()
      }
    }
    // Fixed vs corpus-sized k / nlist (semantic dedup + IVF knobs).
    // Both semanticDup forms hand back (or consume) frames persisted
    // under a caller-unpersists contract — release them here, or the
    // corpus-sized caches pin memory and skew every later step's time.
    t("semanticDup fixed k=8") {
      val assigned = graft.operators.Clustering.kmeansAssign(
        Tables.embeddings(spark, sfDir), k = 8, updates = 1)
      try graft.operators.Clustering.semanticDupPairs(assigned, 0.4).count()
      finally assigned.unpersist()
    }
    t("semanticDup auto k") {
      val pairs = graft.operators.Clustering
        .semanticDupPairsAuto(Tables.embeddings(spark, sfDir), 0.4)
      try pairs.count() finally pairs.unpersist()
    }
    locally {
      val emb = Tables.embeddings(spark, sfDir)
      val n = emb.count() // probe counts derive from the ACTUAL corpus
      // Few probes = build-dominated; many probes = the serving regime
      // nlistForCount sizes for (per-probe cell scans dominate).
      for (p <- Seq(10L, n / 4)) {
        val probes = emb.filter($"vec_id" % math.max(1L, n / p) === 0)
        val np = probes.count()
        t(s"ivfTopK fixed nlist=16 probes=$np")(graft.operators.Similarity
          .ivfTopK(emb, probes, k = 5).count())
        t(s"ivfTopK auto nlist probes=$np")(graft.operators.Similarity
          .ivfTopKAuto(emb, probes, k = 5, n = n).count())
      }
      // The at-rest regime the nlist law targets: build once, serve
      // many. Compare pure SERVE cost on two materialized indexes.
      val nlAuto = graft.operators.Similarity.nlistForCount(n)
      graft.operators.Similarity.ivfBuildIndex(emb, "/tmp/ivf_fixed", 16)
      graft.operators.Similarity.ivfBuildIndex(emb, "/tmp/ivf_auto", nlAuto)
      val probes = emb.filter($"vec_id" % 4 === 0)
      val np = probes.count()
      t(s"ivfProbeIndex fixed nlist=16 probes=$np")(graft.operators.Similarity
        .ivfProbeIndex(spark, "/tmp/ivf_fixed", probes, k = 5).count())
      t(s"ivfProbeIndex auto nlist=$nlAuto probes=$np")(graft.operators.Similarity
        .ivfProbeIndex(spark, "/tmp/ivf_auto", probes, k = 5).count())
    }

    // Exact-verified recall of both configs (exact all-pairs is
    // broadcast-scale: run at small SF only).
    if (sys.env.get("SPARK_GRAFT_LSH_RECALL").exists(_ == "1")) {
      val emb = Tables.embeddings(spark, sfDir)
      for (thr <- Seq(0.4, 0.85)) {
        val exact = graft.operators.Similarity.cosinePairs(emb, thr)
          .select($"va", $"vb").distinct().persist()
        val nExact = exact.count()
        def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
          val hit = df.select($"va", $"vb").distinct()
            .join(exact, Seq("va", "vb"), "inner").count()
          if (nExact == 0) 1.0 else hit.toDouble / nExact
        }
        def recallReleased(df: org.apache.spark.sql.DataFrame): Double =
          try recallOf(df) finally df.unpersist()
        val rFixed = recallReleased(graft.operators.Similarity
          .lshNearDupPairs(emb, thr))
        val rAuto = recallReleased(graft.operators.Similarity
          .lshNearDupPairsAuto(emb, thr))
        println(f"[profile] lsh recall thr=$thr exact=$nExact fixed=$rFixed%.3f auto=$rAuto%.3f")
        exact.unpersist()
      }
    }
    }

    // Sequencer throughput vs the reference's qualitative bar
    // (>=100K msgs/s/partition, consumer/shard.go:24-34): 2M envelopes,
    // 8 producers x 4 journals, 5-message txn spans (4 CONTINUE + ACK).
    if (want("seq")) {
      import graft.streaming.Sequencer
      import graft.streaming.Sequencer.SeqEnvelope
      val n = 2000000
      val envs = spark.range(n).as[Long].map { i =>
        val producer = "p" + (i % 32)
        val journal = "j" + (i % 4) // 32 distinct (journal, producer) groups
        val seq = i / 32            // per-group position → monotonic clock
        val flags = if (seq % 20 == 19) Sequencer.AckTxn else Sequencer.ContinueTxn
        SeqEnvelope(journal, i * 10, i * 10 + 10, producer, seq + 1, flags, "x")
      }.persist()
      envs.count() // materialize input outside the timed region
      // Min-of-2: rep 1 JIT-compiles the typed-map/advance lambdas (a
      // several-hundred-ms one-time cost when the section runs on a
      // cold JVM under SPARK_GRAFT_PROFILE_SECTIONS=seq).
      val (out, dt) = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val o = Sequencer.sequenceBatch(envs).count()
        (o, (System.nanoTime() - t0) / 1e9)
      }.minBy(_._2)
      println(f"[profile] sequencer batch throughput: ${n / dt / 1e6}%.2f M msgs/s total " +
        f"(${n / dt / 32 / 1e3}%.1f K msgs/s/core), $out committed of $n in $dt%.2f s")
      envs.unpersist()
    }
    // Streaming sequencer through the STATE STORE (the deployment
    // form), and the restart stall — the reference's recovery bound is
    // <20 s to resume a shard after a crash
    // (test/integration/crash_test.go:23-33).
    if (want("seq")) {
      import graft.streaming.Sequencer
      import graft.streaming.Sequencer.SeqEnvelope
      import org.apache.spark.sql.streaming.Trigger
      val base = java.nio.file.Files.createTempDirectory("graft-prof-seqs")
      val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
      val inDir = s"$base/in"
      // Input arrives as parquet FILES (≈ journal fragments), one per
      // micro-batch via maxFilesPerTrigger — executor-side reads, no
      // driver-resident blocks (MemoryStream serializes its rows into
      // every batch's task binary; at 10⁶ rows that measures the
      // driver, not the sequencer).
      def writeBlock(tag: String, from: Long, n: Long): Unit =
        spark.range(from, from + n).as[Long].map { i =>
          val producer = "p" + (i % 32)
          val journal = "j" + (i % 4)
          val seq = i / 32
          val flags = if (seq % 20 == 19) Sequencer.AckTxn
            else Sequencer.ContinueTxn
          SeqEnvelope(journal, i * 10, i * 10 + 10, producer, seq + 1, flags, "x")
        }.coalesce(1).write.parquet(s"$inDir/$tag")
      val schema = org.apache.spark.sql.Encoders.product[SeqEnvelope].schema
      // Drain to a target FileStreamSource log offset, then stop.
      // awaitTermination would never return: pending processing-time
      // state timers keep even an AvailableNow query alive, re-running
      // empty timer batches forever (observed: 1800+ empty batches;
      // see SequencerSpec.drainAndStop for the same trap in tests).
      // A batch's progress report is emitted after its commit, so the
      // first report whose source endOffset reaches `logOffset` marks
      // the last DATA batch fully processed — that's the number being
      // measured; the stop() cost afterwards is not the sequencer's.
      // Returns (wall seconds start→last-data-batch commit, summed
      // per-batch processing seconds of the data batches). The second
      // number excludes query startup/teardown — the marginal
      // steady-state batch cost a long-running deployment pays.
      // Parse the offset NUMBER out of the endOffset JSON and compare
      // >= : a raw substring match on "logOffset":3 also fires on 30,
      // 31, ... once block counts pass 10× today's 4-5 files. ONE
      // definition for every drain in this section (drainTo and the
      // async-progress probe poll identically by construction).
      val offsetRe = "\"logOffset\"\\s*:\\s*(\\d+)".r
      def pollToOffset(q: org.apache.spark.sql.streaming.StreamingQuery,
          logOffset: Long, timeoutSec: Long): Boolean = {
        def done = q.recentProgress.exists(_.sources.exists(s =>
          Option(s.endOffset).exists(eo =>
            offsetRe.findFirstMatchIn(eo).exists(_.group(1).toLong >= logOffset))))
        val deadline = System.nanoTime() + timeoutSec * 1000L * 1000 * 1000
        while (q.isActive && !done && System.nanoTime() < deadline)
          Thread.sleep(100)
        done
      }
      def drainTo(logOffset: Long, ckptPath: String, outPath: String,
          srcGlob: String, maxFilesPerTrigger: Option[Int],
          transform: org.apache.spark.sql.Dataset[SeqEnvelope] =>
            org.apache.spark.sql.DataFrame = Sequencer.sequenceStream(_).toDF())
          : (Double, Double) = {
        val rd = spark.readStream.schema(schema)
        val src = maxFilesPerTrigger
          .fold(rd)(n => rd.option("maxFilesPerTrigger", n))
          .parquet(srcGlob).as[SeqEnvelope]
        val t0 = System.nanoTime()
        val q = transform(src).writeStream
          .format("parquet").option("path", outPath)
          .option("checkpointLocation", ckptPath)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        val done = pollToOffset(q, logOffset, timeoutSec = 600L)
        val dt = (System.nanoTime() - t0) / 1e9
        val proc = q.recentProgress.filter(_.numInputRows > 0)
          .map(_.durationMs.getOrDefault("triggerExecution", 0L).longValue).sum / 1e3
        q.stop()
        require(done, s"drain to logOffset $logOffset timed out")
        (dt, proc)
      }
      def drain(logOffset: Long): (Double, Double) =
        drainTo(logOffset, ckpt, outDir, s"$inDir/*", Some(1))
      val nStream = 1000000L
      (0L until 4L).foreach(b => writeBlock(s"b$b", b * 250000L, 250000L))
      val (dtS, procS) = drain(3) // 4 one-file batches: offsets 0..3
      println(f"[profile] sequencer micro-batch (fMGWS + state store, " +
        f"4 batches): ${nStream / dtS / 1e6}%.2f M msgs/s wall " +
        f"(${nStream / procS / 1e6}%.2f M msgs/s over batch-exec time), " +
        f"$nStream msgs in $dtS%.2f s wall / $procS%.2f s exec")
      // Restart stall: a NEW query instance on the same checkpoint must
      // reload every group's state and drain a trailing 32K-message
      // batch. Wall time start→commit is the recovery-stall analog.
      writeBlock("tail", nStream, 32000L)
      val (dtR, _) = drain(4)
      println(f"[profile] sequencer restart: state reload + 32K-msg drain " +
        f"in $dtR%.2f s (reference crash-recovery bound: <20 s)")
      // Batch-size amortization: the same 1M envelopes as ONE
      // micro-batch (fresh checkpoint, no maxFilesPerTrigger). The
      // 4-batch run pays the per-batch state-commit floor 4x; the gap
      // between these two rates IS that fixed cost, and it amortizes
      // with trigger size — the knob a deployment tunes.
      locally {
        val (dt1, _) = drainTo(0, s"$base/ckpt1", s"$base/out1",
          s"$inDir/b*", maxFilesPerTrigger = None)
        println(f"[profile] sequencer micro-batch (1 batch of 1M): " +
          f"${nStream / dt1 / 1e6}%.2f M msgs/s, $dt1%.2f s")
      }
      // Same 4-batch shape on the RocksDB state store (changelog-style
      // commits vs HDFSBacked's full delta files) — isolates how much
      // of the per-batch floor is the state-commit implementation.
      locally {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try {
          val (dtR4, procR4) = drainTo(3, s"$base/ckpt2", s"$base/out2",
            s"$inDir/b*", maxFilesPerTrigger = Some(1))
          println(f"[profile] sequencer micro-batch (4 batches, RocksDB " +
            f"store): ${nStream / dtR4 / 1e6}%.2f M msgs/s wall, " +
            f"$procR4%.2f s exec")
        } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
      // ---- Floor decomposition + the async knobs (round 9, VERDICT
      // r8 #2). SURVEY §4 maps the reference's pipelined consumer txns
      // (consumer/transaction.go:384-434 — batch N+1 overlaps N's
      // commit) to Spark's async progress tracking + async state
      // checkpointing. Measured here, from the bottom:
      //
      // (1) STATELESS 4-batch drain — identity projection, same source
      // files, same parquet sink, NO state store: the micro-batch
      // orchestration floor alone (planning + offset WAL + sink
      // commit). The gap to the stateful 4-batch number is what the
      // state store adds per batch.
      locally {
        val (dt0, proc0) = drainTo(3, s"$base/ckpt3", s"$base/out3",
          s"$inDir/b*", maxFilesPerTrigger = Some(1), transform = _.toDF())
        println(f"[profile] micro-batch floor (4 batches, STATELESS " +
          f"identity): $dt0%.2f s wall, $proc0%.2f s exec " +
          f"(${dt0 / 4}%.2f s/batch orchestration-only)")
      }
      // (2) RocksDB + CHANGELOG CHECKPOINTING — the OSS async-state-
      // commit analog: each batch uploads a changelog instead of a
      // full snapshot, moving snapshot work off the commit path.
      locally {
        val pk = "spark.sql.streaming.stateStore.providerClass"
        val ck = "spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled"
        val prevP = spark.conf.getOption(pk)
        val prevC = spark.conf.getOption(ck)
        spark.conf.set(pk, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        spark.conf.set(ck, "true")
        try {
          val (dtC, procC) = drainTo(3, s"$base/ckpt4", s"$base/out4",
            s"$inDir/b*", maxFilesPerTrigger = Some(1))
          println(f"[profile] sequencer micro-batch (4 batches, RocksDB " +
            f"+ changelog checkpointing): ${nStream / dtC / 1e6}%.2f M " +
            f"msgs/s wall, $dtC%.2f s wall / $procC%.2f s exec")
        } finally {
          prevP.fold(spark.conf.unset(pk))(spark.conf.set(pk, _))
          prevC.fold(spark.conf.unset(ck))(spark.conf.set(ck, _))
        }
      }
      // (3) ASYNC PROGRESS TRACKING — SURVEY §4's candidate for the
      // reference's pipelined commits (offset/commit WAL written
      // asynchronously, off the batch critical path). Spark's own
      // validation refuses stateful queries in some paths
      // (AsyncProgressTrackingMicroBatchExecution
      // .checkNotStatefulStreamingQuery), so this is an EMPIRICAL
      // attempt: a full 4-batch drain with the options on. Either
      // outcome is the measurement — a floor number if it runs, the
      // refusal message if Spark throws (possibly only once the
      // stream thread analyzes the plan, hence the full drain rather
      // than a start/stop probe).
      locally {
        val rd = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$inDir/b*")
          .as[SeqEnvelope]
        val outcome =
          try {
            val t0 = System.nanoTime()
            val q = Sequencer.sequenceStream(rd).writeStream
              .format("parquet").option("path", s"$base/out5")
              .option("checkpointLocation", s"$base/ckpt5")
              .option("asyncProgressTrackingEnabled", "true")
              .option("asyncProgressTrackingCheckpointIntervalMs", "0")
              // Skip the sink allowlist (parquet isn't listed) so the
              // attempt reaches the stateful-query check / execution.
              .option("_asyncProgressTrackingOverrideSinkSupportCheck", "true")
              .outputMode("append")
              .trigger(Trigger.ProcessingTime(0L)).start()
            val done = pollToOffset(q, 3, timeoutSec = 120L)
            val dt = (System.nanoTime() - t0) / 1e9
            val failed = q.exception
            q.stop()
            failed match {
              case Some(e) => s"FAILED mid-stream: ${e.getMessage.take(160)}"
              case None if done =>
                f"RAN: 4 batches in $dt%.2f s wall (${dt / 4}%.2f s/batch " +
                  f"vs the sync floor above) — verify output parity " +
                  f"before trusting exactly-once"
              case None => s"timed out (isActive=${q.isActive})"
            }
          } catch { case e: Exception =>
            s"REFUSED at start: ${e.getMessage.take(160)}" }
        println(s"[profile] async progress tracking on the stateful " +
          s"sequencer: $outcome")
        // Exactly-once audit for the async run: every envelope landed
        // at most once? (Async WAL relaxes the offset/commit ordering;
        // a replay after the measured window would show as dupes.)
        try {
          val landed = spark.read.parquet(s"$base/out5")
          val n = landed.count()
          val dupes = landed.groupBy("journal", "producer", "clock")
            .count().filter(col("count") > 1).count()
          println(s"[profile] async drain audit: $n rows landed, " +
            s"$dupes duplicate (journal,producer,clock) keys")
        } catch { case _: Exception => () }
      }
    }
    // Ingest-guard throughput (round 8): the per-message Validator
    // analog on its deployment hot path — docs/s through the exact
    // (broadcast sorted array) and Bloom forms over the sf corpus,
    // plus the one-time eval-side build costs.
    if (want("guard")) {
      import graft.operators.{Contamination, Dedup}
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism).persist()
      val nDocs = docs.count()
      val evalSh = Dedup.docShingles(
        docs.filter(col("doc_id") % 17 === 0), col("doc_id"), col("text"), 5)
      var t0 = System.nanoTime()
      val exact = Contamination.evalShingleSet(evalSh)
      println(f"[profile] guard eval-set build (exact): ${exact.length} " +
        f"shingles (${exact.length * 8 / 1024} KiB) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
      val bloom = Contamination.evalShingleBloom(evalSh)
      println(f"[profile] guard eval-set build (bloom): " +
        f"${bloom.bitSize() / 8 / 1024} KiB in " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      for ((label, guarded) <- Seq(
          "exact" -> Contamination.ingestGuardExact(docs, exact, n = 5),
          "bloom" -> Contamination.ingestGuard(docs, bloom, n = 5))) {
        val dt = (1 to 2).map { _ =>
          val t1 = System.nanoTime()
          guarded.agg(sum(col("n_eval_hits"))).head()
          (System.nanoTime() - t1) / 1e9
        }.min
        println(f"[profile] ingest guard ($label): " +
          f"${nDocs / dt / 1e3}%.0f K docs/s, $nDocs docs in $dt%.2f s")
      }
      docs.unpersist()
    }

    // Journal append/read throughput. The reference names spool
    // compression as THE append bottleneck (docs/brokers-concepts.rst:
    // 54-58) — measure none vs gz to see the same effect, and the
    // fragment read path for the other direction.
    if (want("journal")) {
      import graft.sources.Journal
      val root = java.nio.file.Files.createTempDirectory("graft-prof-journal").toString
      val lines = spark.range(2000000)
        .select(concat(lit("payload-"), col("id"),
          lit(" abcdefghijklmnopqrstuvwxyz abcdefghijklmnopqrstuvwxyz" * 2)).as("payload"))
        .repartition(32).persist()
      val nBytes = lines.select(sum(length($"payload") + 1)).head().getLong(0)
      lines.count()
      // Warm the spool path (JIT, fs metadata) so codec numbers compare.
      Journal.append(lines.limit(10000).toDF(), root, "prof/warm", codec = "gz")
      // Min-of-2 per path, each rep on a fresh journal: single shots on
      // this (shared) host vary 2-3x; the min is the code's cost, the
      // spread is the host's.
      def best(f: Int => Unit): Double =
        (1 to 2).map { r =>
          val t0 = System.nanoTime(); f(r); (System.nanoTime() - t0) / 1e9
        }.min
      for (codec <- Seq("none", "gz", "zst")) {
        val dt = best(r => Journal.append(
          lines.toDF(), root, s"prof/$codec-r$r", codec = codec))
        println(f"[profile] journal append ($codec): ${nBytes / dt / 1e6}%.0f MB/s in $dt%.2f s")
      }
      val dt = best(_ => Journal.read(spark, root, "prof/gz-r1").count())
      println(f"[profile] journal read (gz): ${nBytes / dt / 1e6}%.0f MB/s, 2000000 rows in $dt%.2f s")
      // The native DSv2 sink (spool + commit-coordinated rename).
      val dt1 = best(r => lines.write.format("journal")
        .option("root", root).option("journal", s"prof/dsv2-r$r")
        .option("codec", "gz").mode("append").save())
      println(f"[profile] journal DSv2 write (gz): ${nBytes / dt1 / 1e6}%.0f MB/s in $dt1%.2f s")
    }
    // Per-batch decomposition of the four streaming gate queries
    // (q167/q176/q189/q197) — the r12 target: where does each
    // micro-batch's ~1.4 s actually go? A listener prints every
    // batch's durationMs split (addBatch = foreachBatch body incl.
    // the journal sinks; walCommit/commitOffsets = the engine's own
    // checkpoint writes; latestOffset/getBatch = source planning), so
    // the fix targets the real term, not a guess.
    if (want("stream4")) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit =
          println(s"[profile] stream ${e.id} started")
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          println(s"[profile] batch=${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${d.get("triggerExecution")}ms " +
            s"addBatch=${d.get("addBatch")}ms " +
            s"latestOffset=${d.get("latestOffset")}ms " +
            s"getBatch=${d.get("getBatch")}ms " +
            s"walCommit=${d.get("walCommit")}ms " +
            s"commitOffsets=${d.get("commitOffsets")}ms " +
            s"queryPlanning=${d.get("queryPlanning")}ms")
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      for (q <- Seq("q167_ingest_guard_streaming",
          "q176_media_routing_streaming", "q189_web_pipeline_streaming",
          "q197_doc_pipeline_streaming")) {
        // Min-of-2 like the bench: rep 1 carries JIT/codegen warmup.
        (1 to 2).foreach { rep =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(q)(spark, sfDir).count()
          println(f"[profile] $q rep$rep total ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
        }
      }
      spark.streams.removeListener(listener)
    }

    // q67 decomposition (VERDICT r11 #6): time each stage of the
    // AllPairs prefix join so the "left alone" verdict is a measured
    // one. Stages are cumulative pipelines, each timed min-of-2.
    if (want("q67")) {
      import graft.operators.{Dedup, SetSimilarity}
      def t2(name: String)(f: => Long): Unit = {
        val dts = (1 to 2).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime(); val n = f
          ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"[profile] q67 $name%-32s ${dts.map(_._1).min}%7.3f s rows=${dts.head._2}")
      }
      val docsDf = Tables.documents(spark, sfDir)
      t2("docShingles")(Dedup.docShingles(docsDf, $"doc_id", $"text", 3).count())
      t2("freq (df per token)") {
        val d = Dedup.docShingles(docsDf, $"doc_id", $"text", 3).persist()
        val n = d.select(explode($"sh").as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("df")).count()
        d.unpersist(); n
      }
      t2("ordered (collect_list sort)") {
        val d = Dedup.docShingles(docsDf, $"doc_id", $"text", 3).persist()
        val freq = d.select(explode($"sh").as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("df"))
        val n = d.select($"doc_id", explode($"sh").as("tok"))
          .join(freq, "tok")
          .groupBy($"doc_id")
          .agg(sort_array(collect_list(struct($"df", $"tok"))).as("ts"))
          .count()
        d.unpersist(); n
      }
      t2("full prefixJaccardSelfJoin")(
        SetSimilarity.prefixJaccardSelfJoin(
          Dedup.docShingles(docsDf, $"doc_id", $"text", 3), 0.80).count())
    }
    spark.stop()
  }
}
