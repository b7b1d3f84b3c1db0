package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column↔Expression converters (Spark 4's
  * Column wraps a ColumnNode, not an Expression). Standard extension-
  * library pattern: the only code in this repo living outside the `graft`
  * namespace, and the only reason is visibility. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over already-converted InternalRows (`private[sql]` on
    * the session) — backs operators that produce rows imperatively,
    * e.g. `SSTableOps.lookupJoin`'s per-partition probe loop. */
  def internalCreateDataFrame(spark: SparkSession,
                              rdd: org.apache.spark.rdd.RDD[
                                org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`) —
    * backs `SSTableOps.compactRows`' swap of a bare read for its
    * reconciled twin. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** Live-session function registration (the `sessionState` accessor is
  * `private[sql]`) — backs `graft.GraftExtensions.register`. */
object GraftFunctionRegistrar {
  def register(spark: SparkSession,
               fns: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
                 org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                 Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
                   org.apache.spark.sql.catalyst.expressions.Expression)]): Unit = {
    val registry =
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    fns.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }

  /** Table-valued function registration on a live session — the
    * `TableFunctionRegistry` twin of [[register]] (the config-driven
    * route is `injectTableFunction` in the extensions). */
  def registerTable(spark: SparkSession,
                    ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
                    info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                    builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
                      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(ident, info, builder)
}
