package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` surface needed by a library that defines
  * native Catalyst expressions: Column <-> Expression conversion,
  * session function registration, and a frame's rows as a plan leaf.
  * Lives inside the org.apache.spark.sql package tree solely for
  * access; contains no Spark-internal logic.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function name backed by an expression builder. */
  def register(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
    registry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)
  }

  /** `df` as a one-node plan over its internal rows, built as Spark's
    * own `Dataset.checkpoint` builds its result, minus the checkpoint:
    * the leaf's RDD keeps its lineage. Plans the query now; with
    * adaptive execution on, planning also runs its shuffle stages.
    */
  def rddLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd.map(_.copy()), ds, false))
  }
}
