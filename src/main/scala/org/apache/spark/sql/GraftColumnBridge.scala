package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the sql package scope: Column <-> catalyst Expression
  * conversions for wiring custom expressions into the public Column API,
  * and LogicalPlan -> DataFrame for wiring custom logical operators
  * (the classic ExpressionUtils / Dataset.ofRows helpers are
  * private[sql] in Spark 4). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** `df`'s analyzed plan through the session optimizer. Unlike
    * `queryExecution.optimizedPlan` it makes no batch-only check, so it
    * also optimizes a plan over a stream. */
  def optimize(df: DataFrame): LogicalPlan = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sessionState.optimizer.execute(ds.queryExecution.analyzed)
  }
}

/** Disk-spillable append-only UnsafeRow buffer for graft's custom exec
  * nodes — a thin veneer over ExternalAppendOnlyUnsafeRowArray (the
  * structure SortMergeJoin/Window buffer groups with), which is
  * private[sql] in Spark 4. Holds up to `inMemoryRows` rows in a plain
  * array, then migrates into an UnsafeExternalSorter whose pages spill
  * to disk under memory pressure. Must be created and used inside a
  * task (it reads TaskContext.get()). */
final class GraftSpillableRowBuffer(inMemoryRows: Int) {
  private val arr = new execution.ExternalAppendOnlyUnsafeRowArray(
    inMemoryRows, 1L << 25, Integer.MAX_VALUE, Long.MaxValue)
  def add(row: catalyst.expressions.UnsafeRow): Unit = arr.add(row)
  /** Iterator of stored rows; the returned rows are REUSED buffers once
    * the array has spilled — copy before retaining. */
  def iterator: Iterator[catalyst.expressions.UnsafeRow] = arr.generateIterator()
  def length: Int = arr.length
  def clear(): Unit = arr.clear()
}
