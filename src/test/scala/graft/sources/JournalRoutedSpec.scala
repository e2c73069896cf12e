package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The one-pass routed sink ([[Journal.batchSinkRouted]]): the
  * exactly-once marker protocol per (journal, batch), route selection,
  * and crash recovery. The bytes it writes are pinned by
  * `JournalWriteGoldenSpec`.
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
