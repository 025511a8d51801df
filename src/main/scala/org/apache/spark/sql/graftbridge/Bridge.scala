package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame}

/** Spark 4 made the Column ⇄ Expression bridge `private[sql]`
  * (columnNodeSupport.scala); third-party Catalyst extensions reach it by
  * living in a subpackage of org.apache.spark.sql — the established pattern
  * for expression libraries. This package holds the only code outside the
  * graft namespace, in three files: this object; [[ResidentView]], the
  * serving handle's lineage-free view of its cached shards (it reads blocks
  * through the `private[spark]` block manager); and [[DriverRows]], the
  * serving frames' DataFrame that answers `collect` and `count` from the
  * rows the driver holds (it subclasses the `private[sql]` Dataset
  * constructor). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Tungsten-level mapPartitions: runs `f` over the physical plan's
    * InternalRows and re-wraps the result as a DataFrame of `schema`.
    *
    * This is the zero-copy analogue of `Dataset.mapPartitions` for
    * engine kernels on wide hot paths: the typed route deserializes every
    * row into case-class objects (one object + one decoded String per
    * posting — tens of millions per build, enough to make the encode stage
    * memory-bandwidth-bound), whereas `f` here reads primitives straight
    * from the sorter's UnsafeRows. CONTRACT for `f`: input rows are
    * REUSED buffers — copy anything retained across `next()` (e.g.
    * `UTF8String.clone()`); output rows must be fresh per emit. */
  def internalMapPartitions(df: DataFrame, schema: StructType)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.internalCreateDataFrame(
      df.queryExecution.toRdd.mapPartitions(f, preservesPartitioning = true),
      schema)
  }

  /** Block until the async listener bus has delivered every queued event —
    * the deterministic replacement for sleep-and-hope metric collection
    * (`listenerBus` is private[spark]; this package is inside the spark
    * namespace precisely for such seams). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Register a SQL function on an ALREADY-RUNNING session (sessionState
    * is private[sql]) — the runtime twin of
    * `SparkSessionExtensions.injectFunction`, which only applies at
    * session build time. Both routes register the same builders
    * ([[graft.spark.GraftExtensions]]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
}
