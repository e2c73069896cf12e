package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The at-rest index queries (q85–q87) build their index under a root
  * of their own per call; the returned probe frame reads it lazily.
  */
class PipelineOpsSpec extends SparkSpec {

  test("q85 run twice: the first frame still reads its own index") {
    import spark.implicits._
    // A dataset dir holding only the table q85 reads: 200 seeded
    // 64-dim vectors, enough for its 16 cells and 10 probes.
    val sf = java.nio.file.Files.createTempDirectory("graft-q85-sf").toString
    val rnd = new scala.util.Random(85)
    (0L until 200L).map(i => (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$sf/embeddings.parquet")
    val q85 = PipelineOps.queries("q85_ann_ivf_at_rest")
    val first = q85(spark, sf)
    val second = q85(spark, sf)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val firstRows = rows(first)
    assert(firstRows.nonEmpty)
    assert(firstRows == rows(second))
  }
}
