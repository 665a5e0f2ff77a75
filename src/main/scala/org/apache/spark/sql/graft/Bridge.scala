package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** graft's ONE door into Spark's `private[sql]` / `private[spark]` API.
  * Everything the engine needs from behind those modifiers goes through
  * here, so a Spark upgrade has one file to audit. Each method states
  * the contract its callers must keep; nothing checks it at run time.
  */
object Bridge {

  /** Surface a catalyst Expression (graft's custom expressions and
    * aggregates) as a user-facing Column. Caller contract: the
    * expression must resolve in the plan the Column is used in. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap a Column as an Expression for use INSIDE a Dataset plan. The
    * column node is wrapped opaquely — use [[resolvedExpression]] for an
    * expression the analyzer must descend into. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Convert a Column to a real catalyst expression TREE (unresolved
    * functions become `UnresolvedFunction` nodes the analyzer resolves).
    * Caller contract: use this, not [[expression]], for expressions
    * returned from a FunctionRegistry builder — the analyzer never
    * descends into [[expression]]'s opaque leaf, and codegen then fails
    * on it. */
  def resolvedExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** A DataFrame straight over an `RDD[InternalRow]` (a `LogicalRDD`,
    * the `internalCreateDataFrame` path), skipping the interpreted
    * `Row` → `InternalRow` converter that `createDataFrame(RDD[Row])`
    * runs on every row. Caller contract: every row matches `schema` in
    * field order and INTERNAL types (UTF8String, Decimal, ArrayData,
    * days/micros for date/timestamp). Rows may be reused buffers: the
    * planned `RDDScanExec` unsafe-projects each row before anything
    * downstream can buffer it. Needs a classic (JVM-local) session. */
  def toDF(spark: SparkSession, rdd: RDD[InternalRow],
           schema: StructType): DataFrame = spark match {
    case classic: ClassicSession => classic.internalCreateDataFrame(rdd, schema)
    case other => throw new IllegalStateException(
      s"Bridge.toDF needs a classic (JVM-local) SparkSession — got " +
        s"${other.getClass.getName}; the InternalRow bridge cannot run " +
        "under Spark Connect")
  }

  /** Block until every listener event queued so far has been delivered.
    * Caller contract: call it AFTER the jobs whose events are counted
    * have finished, never from a listener callback (it would wait on
    * itself). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
