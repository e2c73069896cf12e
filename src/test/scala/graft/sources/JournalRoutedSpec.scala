package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Pins the r12 one-pass routed sink ([[Journal.batchSinkRouted]]) to
  * the semantics of the sequential per-journal [[Journal.batchSink]]
  * calls it replaced in the streaming gates: byte-identical fragments
  * per journal, the same exactly-once marker protocol per (journal,
  * batch), and the same crash-recovery matrix.
  */
class JournalRoutedSpec extends SparkSpec {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-routed").toString

  private def frame(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      val route = i % 3 match {
        case 0 => "keep"
        case 1 => "drop"
        case _ => "quarantine"
      }
      (route, s"""{"i":$i,"r":"$route"}""")
    }.toDF("route", "payload").repartition(3)
  }

  private def routes = Seq(
    "j/keep" -> (col("route") === "keep"),
    "j/quarantine" -> (col("route") === "quarantine"))

  /** One multi-route pass against per-route passes of the same write
    * kernel: `batchSink` is the one-route case of `batchSinkRouted`, so
    * this checks that routing splits rows and fragment boundaries the
    * way separate passes do. The byte pin of what the kernel writes is
    * `JournalWriteGoldenSpec`.
    */
  test("routed sink produces byte-identical fragments to sequential batchSink") {
    // Stage through parquet, as the streaming gates do: a file scan's
    // row-to-partition assignment is fixed by the splits, so the
    // sequential form's filters and the routed form see identical
    // partitioning. (A round-robin repartition would NOT give that:
    // Catalyst pushes the route filter below the exchange in the
    // sequential form, legally re-dealing rows — different fragment
    // boundaries, same rows.)
    val stage = tmpRoot() + "/stage"
    frame(90).write.parquet(stage)
    val df = spark.read.parquet(stage)
    val seqRoot = tmpRoot()
    Journal.batchSink(seqRoot, "j/keep", "gz")(
      df.filter(col("route") === "keep").select(col("payload")), 0L)
    Journal.batchSink(seqRoot, "j/quarantine", "gz")(
      df.filter(col("route") === "quarantine").select(col("payload")), 0L)

    val rtRoot = tmpRoot()
    Journal.batchSinkRouted(rtRoot, routes, df, 0L)

    for (j <- Seq("j/keep", "j/quarantine")) {
      val a = Journal.listFragments(seqRoot, j).map(_.name)
      val b = Journal.listFragments(rtRoot, j).map(_.name)
      // Fragment NAME = offsets + content SHA: equality is
      // byte-identity of the whole journal.
      assert(a.nonEmpty && a == b, s"$j fragments: $a vs $b")
    }
    // Rows matching no route are dropped, exactly as no filter keeps them.
    assert(Journal.read(spark, rtRoot, "j/keep").count() == 30)
    assert(Journal.read(spark, rtRoot, "j/quarantine").count() == 30)
  }

  test("idempotent per (journal, batchId); offsets continue across batches") {
    val root = tmpRoot()
    val df = frame(30)
    Journal.batchSinkRouted(root, routes, df, 0L)
    Journal.batchSinkRouted(root, routes, df, 0L) // streaming retry
    assert(Journal.read(spark, root, "j/keep").count() == 10)
    Journal.batchSinkRouted(root, routes, df, 1L) // next batch appends
    assert(Journal.read(spark, root, "j/keep").count() == 20)
    assert(Journal.read(spark, root, "j/quarantine").count() == 20)
    // The retry's fresh spools were reclaimed, not leaked.
    val orphans = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith(".spool-"))
    assert(orphans.isEmpty, s"orphan spools: ${orphans.toSeq}")
  }

  test("a route with zero rows still gets its committed marker") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq(("keep", "only-keep")).toDF("route", "payload")
    Journal.batchSinkRouted(root, routes, df, 5L)
    assert(Journal.read(spark, root, "j/keep").count() == 1)
    assert(Journal.listFragments(root, "j/quarantine").isEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "j/quarantine", ".batch-5.committed")))
  }

  test("recovers a journal crashed between renames and manifest finalize") {
    val root = tmpRoot()
    val df = frame(90)
    // Simulate: a prior attempt fully committed j/keep, and for
    // j/quarantine got to pending + all renames but not the marker.
    Journal.batchSink(root, "j/keep", "gz")(
      df.filter(col("route") === "keep").select(col("payload")), 0L)
    val staged = Journal.stage(
      df.filter(col("route") === "quarantine").select(col("payload")),
      root, "j/quarantine", "gz")
    val dir = java.nio.file.Paths.get(root, "j/quarantine")
    java.nio.file.Files.writeString(dir.resolve(".batch-0.pending"),
      staged.map { case (f, t) => s"${f.path}\t$t" }.mkString("\n"))
    staged.foreach { case (f, t) => Journal.commitFragment(f, t) }

    Journal.batchSinkRouted(root, routes, df, 0L) // the retry
    assert(Journal.read(spark, root, "j/keep").count() == 30)
    assert(Journal.read(spark, root, "j/quarantine").count() == 30)
    assert(java.nio.file.Files.exists(dir.resolve(".batch-0.committed")))
    assert(!java.nio.file.Files.exists(dir.resolve(".batch-0.pending")))
  }

  test("first matching route wins when predicates overlap") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq(("keep", "row-1")).toDF("route", "payload")
    Journal.batchSinkRouted(root, Seq(
      "o/a" -> (col("route") === "keep"),
      "o/b" -> col("route").isNotNull), df, 0L)
    assert(Journal.read(spark, root, "o/a").count() == 1)
    assert(Journal.read(spark, root, "o/b").count() == 0)
  }

  test("null payload on any route fails loudly and reclaims spools") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq(("keep", "ok"), ("quarantine", null))
      .toDF("route", "payload")
    intercept[org.apache.spark.SparkException] {
      Journal.batchSinkRouted(root, routes, df, 0L)
    }
    val orphans = new java.io.File(root).listFiles()
    assert(orphans == null ||
      !orphans.exists(_.getName.startsWith(".spool-")),
      s"orphan spools left: ${Option(orphans).map(_.toSeq)}")
  }
}
