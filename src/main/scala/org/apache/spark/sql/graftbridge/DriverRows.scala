package org.apache.spark.sql.graftbridge

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** A DataFrame over rows the driver already holds: a local relation of
  * them, as `spark.createDataFrame(rows, schema)` builds, whose
  * driver-returning actions (`collect`, `collectAsList`, `head(n)` and so
  * `take`, `first`, `head()` and `takeAsList`, `tail`, `toLocalIterator`,
  * `isEmpty`, `count`) answer from the rows. Each returns a fresh array or
  * list of `GenericRowWithSchema`, the rows Catalyst's collect returns.
  * Every transformation (`filter`, `select`, `join`, ...) builds a plain
  * Dataset over the same plan, so everything downstream goes through
  * Catalyst as before.
  *
  * Catalyst's answer over a local relation is the same rows, but each
  * action pays for it on the driver: optimizer, physical planning and the
  * SQL-execution bookkeeping (plan description, listener events,
  * deserializer codegen), several milliseconds per `collect` of a 10-row
  * frame, and `count` runs two jobs for its aggregate. The trade-off: an
  * answered action runs no Catalyst, so it posts no
  * `SparkListenerSQLExecutionStart`/`End` and calls no
  * `QueryExecutionListener`. It launched no Spark job before either. A
  * negative `n` goes to Catalyst, which refuses it.
  *
  * Construction still analyzes the plan, as every Dataset does. The class
  * lives in this package for the `private[sql]` Dataset constructor and
  * `sessionState`. */
final class DriverRows private (session: classic.SparkSession,
    schema: StructType, held: Array[Row])
    extends classic.Dataset[Row](session.sessionState.executePlan(
      LocalRelation.fromExternalRows(DataTypeUtils.toAttributes(schema),
        ArraySeq.unsafeWrapArray(held))), Encoders.row(schema)) {

  override def collect(): Array[Row] = held.clone()
  override def collectAsList(): java.util.List[Row] =
    java.util.Arrays.asList(collect(): _*)
  override def head(n: Int): Array[Row] = if (n < 0) super.head(n) else held.take(n)
  override def tail(n: Int): Array[Row] =
    if (n < 0) super.tail(n) else held.takeRight(n)
  override def toLocalIterator(): java.util.Iterator[Row] = collectAsList().iterator()
  override def isEmpty: Boolean = held.isEmpty
  override def count(): Long = held.length.toLong
}

object DriverRows {
  /** The frame of `rows` (values in `schema`'s column order). */
  def apply(spark: SparkSession, schema: StructType, rows: Iterable[Row]): DataFrame =
    new DriverRows(spark.asInstanceOf[classic.SparkSession], schema,
      rows.iterator.map(r => new GenericRowWithSchema(r.toSeq.toArray, schema): Row).toArray)
}
