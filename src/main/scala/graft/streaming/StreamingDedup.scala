package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dedup

/** Incremental near-duplicate filtering over a document STREAM — the
  * online form of the MinHash-LSH dedup (q25), and the shape a 100 TB
  * training-data pipeline actually runs: documents arrive continuously,
  * and each micro-batch must be deduplicated against everything
  * accepted so far WITHOUT rescanning the corpus.
  *
  * Design:
  *  - The accepted corpus is represented by a persistent LSH index —
  *    two parquet tables under `indexDir`: `buckets` (doc_id, band,
  *    bucket) and `shingles` (doc_id, sh). Per batch, only
  *    bucket-equal candidates are read for verification: the join
  *    exchanges |batch·bands| rows against an index partitioned the
  *    same way, never the corpus.
  *  - Within-batch dups resolve first (keep the smallest doc_id of a
  *    near-dup pair), then survivors are checked against the index.
  *  - Exactly-once: every write lands under `batch=<id>` directories
  *    with overwrite semantics, so a retried micro-batch replaces its
  *    own partial output instead of duplicating it (the same goal as
  *    the journal sinks' batch markers, Journal.commitSpooled).
  *
  * Use via `docs.writeStream.foreachBatch(StreamingDedup.sink(...))`;
  * surviving (doc_id, text) rows accumulate under `outDir`.
  */
object StreamingDedup {

  val bucketsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bucket", LongType)))
  val shinglesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(LongType, containsNull = false))))

  /** foreachBatch body. `docs` must carry (doc_id, text). */
  def sink(indexDir: String, outDir: String, threshold: Double = 0.85,
      shingleN: Int = 3, numHashes: Int = 48, bands: Int = 12,
      maxBucket: Option[Int] = None)(
      docs: DataFrame, batchId: Long): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel

    val d = Dedup.docShingles(docs, col("doc_id"), col("text"), shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Track every cached frame so a throwing write can't leak caches
    // into Spark's retry of the batch (storage memory would grow
    // monotonically over a long stream with intermittent sink errors).
    // The LSH machinery is composed INLINE from bandBuckets/capBuckets
    // — not via minhashLshPairs, whose internal persist this tracking
    // could not see (and whose signature pass would re-run for the
    // index write; here ONE persisted bucket frame serves pair
    // generation, the index join, and the index write).
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](d)
    try {
      val allBuckets = Dedup.bandBuckets(d, numHashes, bands)
        .persist(StorageLevel.MEMORY_AND_DISK)
      cached += allBuckets

      // 1. Within-batch near-dups: keep the smaller doc_id of each pair.
      // maxBucket: the skew guard (Dedup.capBuckets) — a burst of
      // mass-duplicated docs in one micro-batch otherwise fans out |B|²
      // candidate pairs. Applied to pair GENERATION only: capped-out
      // rows still reach the index so future batches dedup against
      // them.
      val capped = Dedup.capBuckets(allBuckets, maxBucket, "band", "bucket")
      val candIntra = capped.as("x").join(capped.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct()
      val batchDups = candIntra
        .join(d.select($"doc_id".as("da"), $"sh".as("sha")), "da")
        .join(d.select($"doc_id".as("db"), $"sh".as("shb")), "db")
        .filter(size(array_intersect($"sha", $"shb")).cast("double") /
          size(array_union($"sha", $"shb")) >= threshold)
        .select($"db".as("doc_id")).distinct()
      val dIntra = d.join(batchDups, Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      cached += dIntra

      // 2. Against the accepted index: bucket-equal candidates only.
      // The current batch's own `batch=<id>` partition is EXCLUDED from
      // the read: on a retry it is also this job's overwrite target, and
      // reading a path the same job deletes mid-plan is fragile under
      // cached/eager file listing (the doc_id != exclusion below still
      // guards rows that arrive via other batches' partitions).
      // The index side gets the SAME opt-in cap: sub-threshold-similar
      // accepted docs (template pages at j below the threshold) land in
      // shared buckets batch after batch, so index buckets — unlike
      // true-duplicate buckets — can grow with stream age, and the
      // candidate fan-out with them (minhashLshJoin's history-side cap,
      // same reasoning).
      val idxBuckets = Dedup.capBuckets(
        readIndex(spark, s"$indexDir/buckets", bucketsSchema, batchId),
        maxBucket, "band", "bucket")
      val newBuckets = allBuckets
        .join(dIntra.select($"doc_id"), Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      cached += newBuckets
      // doc_id inequality: on a retried batch the index already holds
      // this batch's survivors — self-matches must not count as dups.
      val cand = newBuckets.as("n")
        .join(idxBuckets.as("o"),
          col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket") &&
            col("n.doc_id") =!= col("o.doc_id"))
        .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
        .distinct()
      val idxShingles = readIndex(spark, s"$indexDir/shingles", shinglesSchema, batchId)
      val histDups = cand
        .join(dIntra.select($"doc_id".as("new_id"), $"sh".as("sha")), "new_id")
        .join(idxShingles.select($"doc_id".as("old_id"), $"sh".as("shb")), "old_id")
        .filter(size(array_intersect($"sha", $"shb")).cast("double") /
          size(array_union($"sha", $"shb")) >= threshold)
        .select($"new_id".as("doc_id")).distinct()

      val surviving = dIntra.join(histDups, Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      cached += surviving

      // 3. Idempotent writes: batch-scoped directories, overwritten on
      // retry. Index writes precede the output write; a crash between
      // them re-runs the whole batch against an index that already
      // contains this batch's survivors — they'd self-match with
      // jaccard 1.0, so the index join excludes same-doc matches.
      surviving.select($"doc_id", $"sh")
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/shingles/batch=$batchId")
      newBuckets.join(surviving.select($"doc_id"), Seq("doc_id"), "left_semi")
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/buckets/batch=$batchId")
      // The OUTPUT keeps every non-duplicate document — including docs
      // too short to shingle (absent from `d`, hence from `surviving`):
      // they duplicate nothing and must not be silently lost, so the
      // write anti-joins the DROPPED set instead of semi-joining the
      // shingled survivors. The dropped set derives from the two
      // PERSISTED frames (`surviving` = d \ (batchDups ∪ histDups), so
      // dropped = d \ surviving) — writing against the dup frames
      // directly would re-execute both Jaccard-verification join
      // pipelines, the two costliest shuffles of the batch, a second
      // time.
      val dropped = d.select($"doc_id")
        .join(surviving.select($"doc_id"), Seq("doc_id"), "left_anti")
      docs.join(dropped, Seq("doc_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
    } finally cached.foreach(_.unpersist())
  }

  /** Read every `batch=K` partition of an index table EXCEPT K=batchId,
    * so the current batch's overwrite target is never also an input
    * path of the same job (read-while-overwrite breaks under cached or
    * eager file indexes when the batch retries).
    */
  private def readIndex(spark: SparkSession, dir: String, schema: StructType,
      batchId: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath)
          .filter(p => p.getName.startsWith("batch=") && p.getName != s"batch=$batchId")
      else Seq.empty
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(parts.map(_.toString): _*)
  }
}
