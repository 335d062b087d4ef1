package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the package-private Column↔Expression converters, needed to
  * expose custom Catalyst expressions (graft.plans.*) as user-facing
  * `Column`s on Spark 4 (where `new Column(expr)` is no longer public).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode→Expression conversion. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper that only the classic Dataset pipeline
    * unwraps — inside a SQL FunctionBuilder (GraftFunctions) the analyzer
    * would see an unresolvable NullType node. This converts the whole
    * tree to catalyst expressions immediately. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `c IN values` as an `InSet` built directly (`values` are Catalyst
    * internal values). `isin` makes an `In`, which the optimizer turns
    * into an `InSet` only above 10 values; an `In` inlines each literal
    * into the generated code. An `InSet`'s set is a reference object
    * there, cast to the set's runtime class, so pass one class of set
    * for every size. */
  def inSet(c: Column, values: Set[Any]): Column =
    column(InSet(expression(c), values))

  /** A DataFrame over computed Catalyst rows — the frame `localCheckpoint`
    * returns, for an RDD its caller persists. A read of it runs one job,
    * where AQE reads a cached Dataset through a cache-stage job of its
    * own first. */
  def rowsFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema, false)
}
