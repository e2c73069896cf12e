package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The loop driver's cache protocol: a round that throws leaves no
  * round frame cached, a loop cut at `maxRounds` hands its last frame
  * to the caller still cached, and the caller's job tags survive.
  */
class IterLoopSpec extends SparkSpec {

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def init: DataFrame = spark.range(100).toDF("v")

  private def inc(cur: DataFrame, r: Int): DataFrame =
    cur.select((col("v") + 1).as("v"))

  /** Materializes the round's frame; never converges. */
  private def materialize(next: DataFrame, cur: DataFrame, r: Int): Boolean = {
    next.count()
    false
  }

  test("a step that throws releases every round frame") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      IterLoop.rounds("spec", init, 5) { (cur, r) =>
        if (r == 2) throw new IllegalStateException("step failed") else inc(cur, r)
      }(materialize)
    }
    assert(e.getMessage == "step failed")
    assert(persisted == before)
  }

  test("a convergence check that throws in round 2 releases every round frame") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      IterLoop.rounds("spec", init, 5)(inc) { (next, cur, r) =>
        materialize(next, cur, r)
        if (r == 2) throw new IllegalStateException("check failed")
        false
      }
    }
    assert(e.getMessage == "check failed")
    assert(persisted == before)
  }

  test("a loop cut at maxRounds returns its last frame still cached") {
    val before = persisted
    val (last, converged) = IterLoop.rounds("spec", init, 3)(inc)(materialize)
    assert(!converged)
    assert(last.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert((persisted -- before).size == 1, "earlier rounds' frames must be released")
    assert(last.agg(min("v"), max("v")).head().toSeq == Seq(3L, 102L))
    last.unpersist()
    assert(persisted == before)
  }

  test("a converged loop stops early and restores the caller's job tags") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    sc.setLocalProperty(IterLoop.OpProperty, "outer")
    try {
      val (last, converged) = IterLoop.rounds("spec", init, 10)(inc) { (next, _, r) =>
        next.count()
        assert(sc.getLocalProperty(IterLoop.OpProperty) == "spec")
        assert(sc.getLocalProperty("spark.job.description") == s"spec round $r")
        r == 4
      }
      assert(converged)
      assert(last.agg(min("v")).head().getLong(0) == 4L)
      last.unpersist()
      assert(sc.getLocalProperty(IterLoop.OpProperty) == "outer")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty(IterLoop.OpProperty, null)
    }
  }
}
