package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to the `private[sql]` entry points the engine needs:
  * wrapping a hand-built [[LogicalPlan]] back into a public `DataFrame`
  * (the custom whole-operator API) and merging two schemas the way
  * Parquet schema inference does (`graft.Tables`). Lives under
  * `org.apache.spark.sql` for package-private access; contains no logic.
  */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → catalyst Expression, converted EAGERLY through the
    * session converter (Spark 4 hides `Column.expr` behind the
    * ColumnNode indirection; the lazy `ExpressionUtils` wrapper keeps
    * non-serializable api-layer nodes inside the tree). */
  def expr(spark: org.apache.spark.sql.SparkSession,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** A native catalyst Expression over Columns, as a Column, with no
    * session: each input enters as a placeholder node that the session
    * converter replaces when the Column is used. */
  def column(cols: org.apache.spark.sql.Column*)(
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(build(cols.map(classic.ExpressionUtils.expression)))

  /** `StructType.merge`: the merge Parquet schema inference applies
    * to the footers it reads under `mergeSchema`. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)
}
