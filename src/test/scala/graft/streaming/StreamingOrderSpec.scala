package graft.streaming

import graft.SparkSpec

/** StreamingOrder: dense append-only (shard, pos) assignment whose
  * per-shard counters live in the state store — batches extend, never
  * re-deal, and a checkpoint restart resumes counters exactly.
  */
class StreamingOrderSpec extends SparkSpec {

  private def drainAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      expectRows: Long): Unit = {
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    def processed = q.recentProgress.map(_.numInputRows).sum
    while (q.isActive && processed < expectRows && System.nanoTime() < deadline)
      Thread.sleep(200)
    Thread.sleep(300)
    q.stop()
  }

  test("streaming order: dense per-shard positions resume across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val ckpt = java.nio.file.Files.createTempDirectory("graft-sord-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-sord-out").toString
    val input = MemoryStream[Long](spark)
    def runQuery(expectRows: Long): Unit = {
      val q = StreamingOrder.assign(input.toDF(), $"value",
          seed = "so1", shards = 2)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drainAndStop(q, expectRows)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    def readOut() = spark.read.schema(schema).parquet(outDir)
      .as[(Int, Long, Long)].collect().toVector

    input.addData(0L until 20L: _*)
    runQuery(expectRows = 20)
    val r1 = readOut()
    assert(r1.length == 20)
    // Dense 0..k-1 positions within each shard; shards match the
    // EpochShuffle md5 convention (pure function of seed + id).
    val byShard1 = r1.groupBy(_._1)
    byShard1.foreach { case (sh, rows) =>
      assert(rows.map(_._2).sorted == (0L until rows.length.toLong).toVector,
        s"shard $sh not dense: $rows")
    }
    // Batch 1 matches a pure md5 mirror of the keying exactly:
    // shard = first 8 hex of md5("s:so1:"+id) % 2, in-shard order by
    // md5("o:so1:"+id).
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = (0L until 20L)
      .groupBy(d => (java.lang.Long.parseLong(
        md5hex(s"s:so1:$d").take(8), 16) % 2).toInt)
      .flatMap { case (sh, ids) =>
        ids.sortBy(d => (md5hex(s"o:so1:$d"), d)).zipWithIndex
          .map { case (d, p) => (sh, p.toLong, d) }
      }.toSet
    assert(r1.toSet == want, "batch-1 order diverged from the md5 mirror")
    // Restart from checkpoint: counters continue, nothing re-deals.
    input.addData(20L until 30L: _*)
    runQuery(expectRows = 10)
    val r2 = readOut()
    assert(r2.length == 30)
    val byShard2 = r2.groupBy(_._1)
    byShard2.foreach { case (sh, rows) =>
      assert(rows.map(_._2).sorted == (0L until rows.length.toLong).toVector,
        s"shard $sh lost density after restart: ${rows.sortBy(_._2)}")
    }
    // Batch-1 assignments are immutable under the extension.
    val m1 = r1.map(r => r._3 -> (r._1, r._2)).toMap
    val m2 = r2.map(r => r._3 -> (r._1, r._2)).toMap
    assert(m1.forall { case (d, sp) => m2(d) == sp },
      "append-only contract violated: an existing doc moved")
    // Within one batch, order follows the seeded okey, not arrival:
    // re-running the same ids through a fresh stream reproduces it.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-sord-c2").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft-sord-o2").toString
    val input2 = MemoryStream[Long](spark)
    input2.addData(0L until 20L: _*)
    val q2 = StreamingOrder.assign(input2.toDF(), $"value",
        seed = "so1", shards = 2)
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    drainAndStop(q2, expectRows = 20)
    val rep = spark.read.schema(schema).parquet(out2)
      .as[(Int, Long, Long)].collect().toVector
    assert(rep.sorted == r1.sorted, "same batch + seed must reproduce")
  }
}
