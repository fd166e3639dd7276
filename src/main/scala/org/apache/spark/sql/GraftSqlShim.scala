package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into `private[sql]` surface, the standard technique for
  * libraries that add planned operators (a logical plan can only become a
  * DataFrame through `Dataset.ofRows`, which Spark keeps package-private).
  * Kept small so the dependency surface is explicit.
  */
object GraftSqlShim {
  /** Wrap a logical plan as a DataFrame on the given session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame. */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The Catalyst expression behind a Column (Spark 4 hides `.expr`).
    * Converts eagerly — `ExpressionUtils.expression` would only wrap the
    * column node lazily, which is unevaluable at runtime. */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The inverse: wrap a Catalyst expression as a Column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A checkpoint `df` (its plan one `LogicalRDD`) whose planner estimate
    * is `rows` rows of its output, not the statistics `localCheckpoint`
    * copies from the plan that computed it. */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = analyzed(df) match {
    case r: LogicalRDD =>
      val size = EstimationUtils.getSizePerRow(r.output) * rows
      ofRows(df.sparkSession, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
        r.outputOrdering, r.isStreaming, r.stream)(
        df.sparkSession.asInstanceOf[classic.SparkSession],
        Some(Statistics(size, Some(BigInt(rows)))), Some(r.constraints)))
    case p => throw new IllegalArgumentException(s"not a checkpoint: $p")
  }
}
