package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Journal
import graft.streaming.WordCountApp

/** End-to-end consumer pipeline: journal fragments on disk → streaming
  * tail read → framed payloads → stateful aggregation → materialized
  * queryable counts (the word-count acceptance app over the real
  * journal substrate, SURVEY §3.2-3.3).
  */
class IntegrationSpec extends SparkSpec {

  test("journal → streaming word-count → materialized prefix query") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-e2e").toString

    val batch1 = Seq("the quick fox", "the quick dog")
    val batch2 = Seq("a quick fox jumps")
    Journal.append(batch1.toDF("payload"), root, "docs", "gz")

    val counts = WordCountApp.ngramCounts(
      spark.readStream.format("journal").option("root", root)
        .option("journal", "docs").load().withColumnRenamed("payload", "text"), 2)
    val q = counts.writeStream
      .format("memory").queryName("e2e_counts")
      .option("checkpointLocation", Files.createTempDirectory("graft-e2e-ckpt").toString)
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    val m1 = spark.table("e2e_counts").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m1("the quick") == 2 && m1("quick fox") == 1)

    // Tail append: new fragment discovered by the running query.
    Journal.append(batch2.toDF("payload"), root, "docs", "gz")
    q.processAllAvailable()
    val m2 = spark.table("e2e_counts").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(m2("quick fox") == 2 && m2("fox jumps") == 1)

    // A4 prefix query over the materialized table.
    val pq = WordCountApp.prefixQuery(spark.table("e2e_counts"), "quick ")
    assert(pq.count() == 2)

    // Batch/stream parity: same counts from a batch read of the journal.
    val batchCounts = WordCountApp.ngramCounts(
      Journal.read(spark, root, "docs").toDF().withColumnRenamed("payload", "text"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batchCounts == m2)
  }

  test("streaming word-count materialized exactly-once into SqlStore (ST1)") {
    import spark.implicits._
    import graft.streaming.SqlStore
    val root = Files.createTempDirectory("graft-sql-e2e").toString
    val dbUrl = s"jdbc:derby:${Files.createTempDirectory("sqlstore-e2e")}/db;create=true"

    { // app table DDL (outside the fenced commit path, as a migration would be)
      val c = java.sql.DriverManager.getConnection(dbUrl)
      c.createStatement().executeUpdate(
        "CREATE TABLE wc (n_gram VARCHAR(256) PRIMARY KEY, cnt BIGINT)")
      c.close()
    }
    val store = new SqlStore(dbUrl, "wc-shard").open()

    Journal.append(Seq("the quick fox", "the quick dog").toDF("payload"), root, "docs", "gz")
    val counts = WordCountApp.ngramCounts(
      spark.readStream.format("journal").option("root", root)
        .option("journal", "docs").load().withColumnRenamed("payload", "text"), 2)
    val q = counts.writeStream
      .outputMode("update") // changed (n_gram, cnt) rows per micro-batch
      .option("checkpointLocation", Files.createTempDirectory("graft-sql-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect() // counts table: small by construction
        store.commitBatch(id) { conn =>
          val upd = conn.prepareStatement("UPDATE wc SET cnt = ? WHERE n_gram = ?")
          val ins = conn.prepareStatement("INSERT INTO wc VALUES (?, ?)")
          rows.foreach { r =>
            upd.setLong(1, r.getLong(1)); upd.setString(2, r.getString(0))
            if (upd.executeUpdate() == 0) {
              ins.setString(1, r.getString(0)); ins.setLong(2, r.getLong(1))
              ins.executeUpdate()
            }
          }
        } match {
          case Left(err) => throw new RuntimeException(err)
          case Right(_) => ()
        }
        ()
      }
      .start()
    q.processAllAvailable()
    Journal.append(Seq("a quick fox jumps").toDF("payload"), root, "docs", "gz")
    q.processAllAvailable()
    q.stop()

    // The materialized RDBMS state equals a batch recount of the journal.
    val fromDb = store.query("SELECT n_gram, cnt FROM wc")(r =>
      r.getString(1) -> r.getLong(2)).toMap
    val batchCounts = WordCountApp.ngramCounts(
      Journal.read(spark, root, "docs").toDF().withColumnRenamed("payload", "text"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromDb == batchCounts)
    assert(store.restoredBatchId >= 0L || fromDb.nonEmpty)
    store.close()
  }

  test("journal-to-journal pipeline survives a crashed micro-batch exactly once") {
    import spark.implicits._
    // The chaos-suite shape (reference crash_test.go): a consumer dies
    // mid-batch AFTER its sink committed; the restarted query re-runs
    // the batch and the idempotent sink must not duplicate the records.
    val root = Files.createTempDirectory("graft-crash").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    Journal.append((1 to 40).map(i => s"in-$i").toDF("payload"), root, "in", "none")

    @volatile var injected = false
    def run(): Unit = {
      val q = spark.readStream.format("journal")
        .option("root", root).option("journal", "in")
        .option("maxBytesPerTrigger", "100") // several batches
        .load()
        .select(concat(lit("out-"), col("payload")).as("payload"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          Journal.batchSink(root, "out", "none")(df, id)
          if (id == 1 && !injected) {
            injected = true
            throw new RuntimeException("injected crash after sink commit")
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(120000)
      catch { case _: Exception => () } // the injected failure surfaces here
      q.stop()
    }

    run()           // dies on batch 1, after batch 1's records landed
    assert(injected)
    run()           // restart: batch 1 replays against the committed manifest

    val out = Journal.read(spark, root, "out").collect().map(_.payload).sorted
    assert(out.length == 40, s"expected exactly-once, got ${out.length} records")
    assert(out.toSeq == (1 to 40).map(i => s"out-in-$i").sorted)
  }
}
