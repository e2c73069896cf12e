package graft

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction,
  RLike, RegExpExtract, RegExpExtractAll, RegExpReplace, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Every registered gate query must EXECUTE at sf0.001 — the smallest
  * driver scale — without throwing. Catches small-data assumptions
  * (empty groups, fewer rows than k, degenerate ranges) that the
  * sf0.01 oracle gate never exercises. Row counts aren't asserted
  * (that's the oracle's job); completing the action is the contract.
  * Each result is consumed in full through the `noop` sink, so no
  * output column is pruned away.
  *
  * The same pass guards the plans: a regex inside a higher-order
  * function's lambda runs once per array element, not once per row,
  * which makes a query quadratic in its documents' lengths.
  */
class GateSmokeSpec extends SparkSpec {

  private def regexInLambda(plan: LogicalPlan): Boolean = {
    def isRegex(e: Expression): Boolean = e match {
      case _: RegExpExtractAll | _: RegExpExtract | _: RegExpReplace | _: RLike |
          _: StringSplit => true
      case _ => false
    }
    plan.collectWithSubqueries { case p => p.expressions }.flatten.exists(_.exists {
      case h: HigherOrderFunction => h.functions.exists(_.exists(isRegex))
      case _ => false
    })
  }

  test("all queries execute at sf0.001; entry returns rows") {
    val regexLambdas = Seq.newBuilder[String]
    val leftRunning = Seq.newBuilder[String]
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = spark.streams.active.map(_.id).toSet
        val failure =
          try {
            val df = fn(spark, "/root/testdata/sf0.001")
            if (regexInLambda(df.queryExecution.optimizedPlan)) regexLambdas += name
            df.write.format("noop").mode("overwrite").save()
            None
          }
          catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
        // A query that returns with its stream still running leaves it
        // on the shared session; stop it so the next query starts clean.
        val left = spark.streams.active.filterNot(q => before(q.id))
        if (left.nonEmpty) leftRunning += name
        left.foreach(_.stop())
        failure
    }
    assert(failures.isEmpty, s"queries failed at sf0.001:\n${failures.mkString("\n")}")
    assert(leftRunning.result().isEmpty,
      s"streaming queries left running: ${leftRunning.result().mkString(", ")}")
    assert(regexLambdas.result().isEmpty,
      s"regex inside a higher-order function lambda: ${regexLambdas.result().mkString(", ")}")
    assert(SparkEntry.entry(spark).count() > 0, "entry() must return rows")
  }

  test("every gate query has an oracle, and no oracle is orphaned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }
}
