package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Spark-internal access shim: Column ↔ Catalyst Expression conversion moved
 * behind `private[sql]` in Spark 4.x; the metadata pruner needs the
 * expression tree of a user predicate. Lives under org.apache.spark.sql to
 * satisfy the access modifier — the standard pattern for Spark extension
 * libraries.
 */
object Shims {
  /** Fully-converted Catalyst expression tree of a Column (requires an
    * active SparkSession for the node→expression converter). */
  def expression(c: Column): Expression =
    ExpressionUtils.expression(c) match {
      case org.apache.spark.sql.classic.ColumnNodeExpression(node) =>
        org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(node)
      case e => e
    }
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `st` with every field, nested ones included, nullable. */
  def asNullable(st: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    st.asNullable

  /** Whether values of `dt` are equal exactly when their bytes are (the
    * default UTF8_BINARY collation), so JVM string equality is Spark's. */
  def binaryEquality(dt: org.apache.spark.sql.types.StringType): Boolean = dt.supportsBinaryEquality

  /**
   * Resolve a user predicate against `schema` via the real analyzer (a
   * Filter over a dummy LocalRelation), then fold constant subtrees. This
   * turns `'lang = 'de'` into `EqualTo(AttributeReference(lang), Literal)`
   * with proper type coercion — exactly what stats-based pruning needs.
   */
  def resolvedPredicate(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      c: Column): Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val plan = Filter(expression(c), LocalRelation(attrs))
    val analyzed = spark.sessionState.analyzer.execute(plan)
    val cond = analyzed.collectFirst { case Filter(f, _) => f }
      .getOrElse(throw new IllegalArgumentException(s"not a predicate: $c"))
    cond.transformUp {
      case e if e.foldable =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(e.eval(null), e.dataType)
    }
  }

  /** DataFrame over an already-analyzed (or analyzable) logical plan —
    * `Dataset.ofRows` went `private[sql]` in Spark 4.x. */
  def dataFrame(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-plan a micro-batch DataFrame handed to a DSv1 `Sink.addBatch` as a
    * BATCH frame over the already-computed rows: writing the incoming
    * frame directly would re-analyze a streaming-tagged plan and fail
    * (the standard sink idiom — `internalCreateDataFrame` is private[sql]). */
  def batchDataFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
