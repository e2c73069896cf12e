package graft.streaming

import graft.SparkSpec
import graft.operators.{Contamination, Dedup}
import graft.sources.Journal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-time contamination guard (the per-message Validator analog,
  * reference message/interfaces.go:143-145): docs stream through a
  * guard and land in a journal ALREADY tagged, across a kill/restart.
  * The guard, [[Contamination.ingestGuardExact]] (broadcast sorted
  * eval-shingle array), tags and counts hits exactly as the batch scan
  * ([[Contamination.ngramOverlap]], q57's operator) does BY
  * CONSTRUCTION, so parity is asserted exactly.
  */
class StreamingContaminationSpec extends SparkSpec {

  // Contaminating phrases: 6 tokens → two word-5-grams each.
  private val p1 = "quick brown foxes vault lazy hedges"
  private val p2 = "silver lining over distant mountain ridges"

  /** Eval docs: id % 17 == 0 (ids 0, 17, 34). Doc 17 carries p1,
    * doc 34 carries p2; train docs with id % 4 == 1 share p1, train
    * doc 2 shares p2; everything else is per-doc-unique filler.
    */
  private def textFor(i: Long): String = {
    // tokenize() keeps LETTER runs only (digits split tokens), so the
    // per-doc filler must be alphabetic to stay per-doc-unique.
    def alpha(v: Long) = v.toString.map(c => ('a' + (c - '0')).toChar).mkString
    val filler = (0 to 6).map(k => s"z${alpha(i)}q${alpha(k.toLong)}").mkString(" ")
    if (i == 17) s"$filler $p1"
    else if (i == 34) s"$filler $p2"
    else if (i == 0) filler
    else if (i % 4 == 1) s"$filler $p1"
    else if (i == 2) s"$filler $p2"
    else filler
  }

  private lazy val all = (0L until 40L).map(i => (i, textFor(i)))
  private def isEval(c: org.apache.spark.sql.Column) = c % 17 === 0

  /** The exact batch authority (q57's operator) on the fixture:
    * training doc_id → distinct shared shingle count.
    */
  private def batchAuthority(): Map[Long, Long] = {
    import spark.implicits._
    val docs = all.toDF("doc_id", "text")
    val report = Contamination.ngramOverlap(
      Dedup.docShingles(docs, $"doc_id", $"text", 5), isEval)
    val byDoc = report.select($"doc_id", $"n_shared_shingles")
      .as[(Long, Long)].collect().toMap
    report.unpersist()
    assert(byDoc.keySet == (1L until 40L by 4).toSet - 17L + 2L,
      s"fixture self-check: got ${byDoc.keySet.toSeq.sorted}")
    byDoc
  }

  /** Stream all 40 docs through `guard` into a journal via batchSink —
    * first half, kill (AvailableNow stop), second half on a NEW query
    * from the same checkpoint — and read back the landed tags.
    * Asserts the guard-independent invariants (exactly-once landing,
    * flag == count gate, eval docs self-hit); returns the per-doc
    * (n_eval_hits, contaminated) rows for guard-specific assertions.
    */
  private def streamThroughJournal(
      guard: DataFrame => DataFrame): Array[(Long, Int, Boolean)] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val root = java.nio.file.Files
      .createTempDirectory("graft-contam-guard").toString
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Long, String)](spark)
    def drain(): Unit = {
      val tagged = guard(input.toDF().toDF("doc_id", "text"))
      val q = tagged.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          Journal.batchSink(root, "guard/docs", codec = "none")(
            df.select(to_json(struct($"doc_id", $"n_eval_hits",
              $"contaminated")).as("payload")), batchId)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "guard drain timed out")
    }
    input.addData(all.take(20))
    drain()
    input.addData(all.drop(20))
    drain()

    val landed = Journal.read(spark, root, "guard/docs").toDF()
      .select(from_json($"payload", org.apache.spark.sql.types.StructType
        .fromDDL("doc_id BIGINT, n_eval_hits INT, contaminated BOOLEAN"))
        .as("r"))
      .select($"r.doc_id", $"r.n_eval_hits", $"r.contaminated")
      .as[(Long, Int, Boolean)].collect()

    // Exactly-once across the restart: every doc landed, none twice.
    assert(landed.length == 40 &&
      landed.map(_._1).toSet == (0L until 40L).toSet,
      s"expected all 40 docs exactly once, got ${landed.length}")
    // The flag is the count gate: contaminated <=> n_eval_hits > 0.
    landed.foreach { case (id, hits, c) =>
      assert(c == (hits > 0), s"doc $id: flag/count disagree ($hits, $c)")
    }
    // Eval docs themselves trivially self-hit — the deployment routes
    // them by stream, not by tag; here they just prove the guard sees
    // their shingles.
    landed.filter { case (id, _, _) => id == 17L || id == 34L }
      .foreach { case (id, _, c) => assert(c, s"eval doc $id untagged") }
    landed
  }

  test("exact guard: stream-tagged docs land with batch-exact tags across a restart") {
    import spark.implicits._
    val batchByDoc = batchAuthority()
    val evalSet = Contamination.evalShingleSet(
      Dedup.docShingles(all.toDF("doc_id", "text").filter(isEval($"doc_id")),
        $"doc_id", $"text", 5))
    val landed = streamThroughJournal(
      Contamination.ingestGuardExact(_, evalSet, n = 5))

    val trainTags = landed.filter { case (id, _, _) => id % 17 != 0 }
    // Exact guard: tag set AND per-doc distinct-hit counts equal the
    // batch authority's, exactly.
    val taggedIds = trainTags.filter(_._3).map(_._1).toSet
    assert(taggedIds == batchByDoc.keySet,
      s"tag set mismatch: extra=${taggedIds -- batchByDoc.keySet} " +
        s"missing=${batchByDoc.keySet -- taggedIds}")
    trainTags.filter(_._3).foreach { case (id, hits, _) =>
      assert(hits.toLong == batchByDoc(id),
        s"doc $id: ingest hits $hits != batch shared ${batchByDoc(id)}")
    }
  }
}
