package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Registered queries over the generated parquet tables, each executed
  * through `SparkEntry.queries` and consumed in full by [[Digest.of]].
  * One operation is one query execution; a pass runs every query once.
  */
final class QueryWorkload(spec: QueryWorkload.Spec, o: Opts,
    t: Tracer, ledger: Ledger) extends Workload {

  private val expected = mutable.Map.empty[String, Digest.D]
  private var storedMb = 0.0

  def stage(spark: SparkSession): Unit =
    spec.tables.foreach(n => graft.Tables(spark, o.input, n).schema)

  private def out = Paths.get(o.work, "out")

  /** One query execution, consumed in full. The cold pass writes the
    * result as parquet (what a one-shot job pays, and the output the
    * oracle check reads); the other passes digest it.
    */
  private def run(spark: SparkSession, q: String, phase: String): Option[Digest.D] = {
    // Operators persist intermediates; release them between queries, as
    // the engine's own bench does, so each execution starts alike.
    spark.catalog.clearCache()
    t.span("query", Map("q" -> q)) {
      val df = t.span("build")(graft.SparkEntry.queries(q)(spark, o.input))
      t.span("action") {
        if (phase == "cold") {
          df.write.mode("overwrite").parquet(out.resolve(q).toString)
          None
        } else Some(Digest.of(df))
      }
    }
  }

  def pass(spark: SparkSession, phase: String): Pass = {
    val ops = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val p0 = System.nanoTime()
    t.span("pass", Map("phase" -> phase)) {
      spec.queries.foreach { q =>
        val q0 = System.nanoTime()
        ledger.op(q)(run(spark, q, phase)).flatten.foreach { d =>
          rows += d.rows
          if (!expected.get(q).contains(d))
            ledger.problem(s"$q: $phase digest $d differs from the checked output's ${expected.get(q)}")
        }
        ops += (System.nanoTime() - q0) / 1e9
      }
    }
    val span = t.allSpans.reverseIterator.find(s => s.name == "pass" && s.end >= 0)
    Pass((System.nanoTime() - p0) / 1e9, ops.toSeq, span.filter(_ => t.enabled),
      Map("rows" -> rows.toDouble))
  }

  /** Tie the timed passes to the checked output: the digest of each
    * result the cold pass wrote is what every later pass must produce.
    * Also writes the oracle SQL for the DuckDB check.
    */
  override def check(spark: SparkSession): Unit = {
    spec.queries.foreach { q =>
      val p = out.resolve(q)
      if (Files.exists(p)) expected(q) = Digest.of(spark.read.parquet(p.toString))
    }
    storedMb = spec.queries.map(q => out.resolve(q)).filter(Files.exists(_))
      .map(dirBytes).sum / (1024.0 * 1024.0)
    val sql = graft.SparkEntry.oracleSql
    val json = spec.queries.map { q =>
      val s = sql.getOrElse(q, throw new IllegalStateException(s"$q has no oracle SQL"))
      "\"" + q + "\":" + QueryWorkload.jsonString(s)
    }.mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  def endToEnd(cold: Pass, steady: Seq[Pass]): Map[String, (Double, String)] = {
    val passS = Stats.median(steady.map(_.wall))
    Map(
      "pass_s" -> (passS, "s"),
      "ingest_mb_s" -> (o.inputMb / passS, "MB/s"),
      "batch_p50_s" -> (Stats.median(steady.flatMap(_.ops)), "s"),
      "batch_tail_s" -> (Stats.median(steady.map(_.ops.max)), "s"),
      "read_rows_s" -> (Stats.median(steady.map(p => p.extra("rows") / p.wall)), "rows/s"),
      "stored_mb" -> (storedMb, "MB"))
  }

  def perLayer(spark: SparkSession, steady: Seq[Pass]): Map[String, (Double, String)] = {
    val perQuery = spec.queries.flatMap { q =>
      val spans = steady.flatMap(_.span).map(ps => t.subtree(ps)
        .find(s => s.name == "query" && s.attrs.get("q").contains(q)).get)
      Seq(s"query.$q.s" -> (Stats.median(spans.map(_.seconds)), "s"),
        s"query.$q.jobs" -> (Stats.median(spans.map(s => t.jobsUnder(s).size.toDouble)), "count"))
    }.toMap
    perQuery ++ functions(spark)
  }

  /** Direct calls of the tokenizer kernels over the corpus text. */
  private def functions(spark: SparkSession): Map[String, (Double, String)] = {
    import spark.implicits._
    val texts = graft.Tables.documents(spark, o.input).select("text").as[String].collect()
    val mb = texts.map(_.getBytes("UTF-8").length.toLong).sum / (1024.0 * 1024.0)
    def rate(label: String)(f: String => Long): Double = Stats.median((1 to 7).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      t.span(label)(texts.foreach(s => n += f(s)))
      require(n > 0)
      mb / ((System.nanoTime() - t0) / 1e9)
    })
    Map(
      "functions.tokenize_mb_s" -> (rate("tokenize")(s =>
        graft.operators.TextAnalysis.tokenize(s).length.toLong), "MB/s"),
      "functions.ngram_mb_s" -> (rate("ngram")(s =>
        graft.operators.TextAnalysis.ngramIterator(s, 2).size.toLong), "MB/s"))
  }
}

object QueryWorkload {
  final case class Spec(queries: Seq[String], tables: Seq[String])

  val Corpus = Spec(Seq("q56_repetition", "q23_bigram_counts", "q102_bm25"), Seq("documents"))

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
