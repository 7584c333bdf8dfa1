package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal accessor for the `private[sql]` Expression⇄Column bridge —
  * the supported extension-library pattern for exposing custom native
  * Catalyst expressions (graft.functions.*) through the public Column
  * API without a FunctionRegistry round-trip.
  */
object ExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's internal bloom-filter pair (the machinery behind AQE
    * runtime filters, not SQL-registered upstream): a TypedImperative
    * bloom aggregate with map-side partial merge, and the codegen'd
    * membership predicate. Values must be xxhash64-hashed longs — the
    * same contract InjectRuntimeFilter uses.
    */
  def bloomFilterAgg(hashed: Column, expectedItems: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(hashed), expectedItems)
      .toAggregateExpression())

  /** 3-arg form with EXPLICIT sizing: the 2-arg constructor derives
    * numBits from estimatedNumItems and then clamps BOTH through the
    * runtime-bloom-filter session confs (maxNumItems defaults to 4M),
    * so past ~4M items the filter silently saturates toward all-pass.
    * Passing numBits directly sizes the bit array for the true item
    * count (still capped at the engine's 67108864-bit hard max).
    */
  def bloomFilterAgg(hashed: Column, expectedItems: Long,
      numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  def bloomMightContain(bloom: Column, hashed: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(expression(bloom), expression(hashed)))

  /** A DataFrame over an RDD of rows already in Catalyst's internal
    * format (`private[sql]` upstream). `rows` may reuse one row object
    * per task: the scan projects each one before pulling the next.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Register a function builder on an EXISTING session's registry —
    * the runtime-side counterpart of `SparkSessionExtensions
    * .injectFunction` (which only applies to sessions built AFTER the
    * extension is configured). Used by `graft.GraftExtensions.register`.
    */
  def registerFunction(spark: SparkSession, name: String, info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
