package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Own session: the extension must be installed at session build time. */
class SelectorExtensionSpec extends AnyFunSuite with BeforeAndAfterAll {

  // A session with the extension installed. getOrCreate() would silently
  // reuse the suite-shared session (no extensions applied) — clear the
  // active/default sessions so the builder constructs a fresh
  // SparkSession over the shared SparkContext. Never stop() it: the
  // underlying context is shared with every other suite.
  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-selector-ext")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new SelectorExtension)
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def journals = {
    import spark.implicits._
    Seq(
      ("topic/a", Map("env" -> "prod", "ct" -> "json")),
      ("topic/b", Map("env" -> "qa", "ct" -> "json")),
      ("other/c", Map("env" -> "prod")),
      ("other/d", Map[String, String]()))
      .toDF("name", "labels")
  }

  test("matches_selector evaluates reference semantics via SQL") {
    journals.createOrReplaceTempView("journals_ext")
    val out = spark.sql(
      """SELECT name FROM journals_ext
        |WHERE matches_selector(labels, 'env = prod, ct')""".stripMargin)
      .collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("topic/a"))

    val excl = spark.sql(
      "SELECT name FROM journals_ext WHERE matches_selector(labels, '!ct')")
      .collect().map(_.getString(0)).sorted
    assert(excl.toSeq == Seq("other/c", "other/d"))
  }

  test("optimizer rule unfolds the predicate into native map comparisons") {
    // parquet-backed so the optimized plan retains a scan (a local
    // relation would be constant-folded through the rewritten filter).
    val dir = java.nio.file.Files.createTempDirectory("graft-ext").toString
    journals.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(
      SelectorExtension.matches_selector(col("labels"), "env in (prod, qa), ct=json"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("matchesselector") &&
           !optimized.contains("MatchesSelector"),
      s"selector predicate should be rewritten:\n$optimized")
    assert(optimized.contains("element_at") || optimized.contains("ElementAt"),
      s"expected native map predicates:\n$optimized")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("topic/a", "topic/b"))
  }

  test("invalid selector fails at analysis, not first-row eval") {
    journals.createOrReplaceTempView("journals_ext2")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM journals_ext2 WHERE matches_selector(labels, 'ban=ana in (x)')")
        .queryExecution.analyzed
    }
    assert(e.getMessage.contains("invalid label selector"), e.getMessage)
  }

  test("NULL selector literal evaluates to NULL; bad map key types fail analysis") {
    journals.createOrReplaceTempView("journals_ext3")
    // ConstantFolding delivers Literal(null, StringType) to the rewrite
    // rule; the un-rewritten expression must survive planning and
    // evaluate to SQL NULL (BinaryExpression short-circuit), never NPE
    // the optimizer or parse the string "null" as a selector.
    val out = spark.sql("SELECT matches_selector(labels, CAST(NULL AS STRING)) " +
      "AS m FROM journals_ext3").collect()
    assert(out.nonEmpty && out.forall(_.isNullAt(0)))
    // map<int,string> would ClassCastException at runtime (getUTF8String
    // on int keys) — must be an analysis-time type failure instead.
    val e = intercept[Exception] {
      spark.sql("SELECT matches_selector(map(1, 'x'), 'ab') AS m")
        .queryExecution.analyzed
    }
    assert(e.getMessage.contains("map<string,string>"), e.getMessage)
  }

  test("matches_selector: NULL label columns are absent labels") {
    import spark.implicits._
    // The column-per-label shape q17 filters: the columns become the
    // label map, and a NULL-valued entry must match as an absent label.
    val rows = Seq(
      ("r1", "prod", "json"), ("r2", "qa", "json"),
      ("r3", "prod", null), ("r4", null, "json"), ("r5", null, null))
    val df = rows.toDF("name", "env", "ct")
    val selectors = Seq("env != qa", "env notin (qa, dev)", "ct, env != qa",
      "env = prod", "!ct", "env")
    selectors.foreach { s =>
      val viaRule = df.filter(SelectorExtension.matches_selector(
          map(lit("env"), col("env"), lit("ct"), col("ct")), s))
        .collect().map(_.getString(0)).toSet
      val expected = rows.filter { case (_, env, ct) =>
        val labels = Seq("env" -> env, "ct" -> ct).collect {
          case (k, v) if v != null => graft.labels.Label(k, v) }
        graft.labels.LabelSelector.mustParse(s)
          .matches(graft.labels.LabelSet(labels.toVector))
      }.map(_._1).toSet
      assert(viaRule == expected, s"selector '$s'")
    }
  }

  test("rewritten and direct evaluation agree on all selectors") {
    val selectors = Seq("env = prod", "env != qa", "ct", "!env",
      "env in (prod, qa), ct = json", "env notin (qa)")
    selectors.foreach { s =>
      val viaRule = journals.filter(
        SelectorExtension.matches_selector(col("labels"), s))
        .collect().map(_.getString(0)).toSet
      // reference matcher, driver-side
      val expected = journals.collect().filter { r =>
        val m = r.getMap[String, String](1)
        graft.labels.LabelSelector.mustParse(s).matches(
          graft.labels.LabelSet(m.toVector.map { case (k, v) => graft.labels.Label(k, v) }))
      }.map(_.getString(0)).toSet
      assert(viaRule == expected, s"selector '$s'")
    }
  }
}
