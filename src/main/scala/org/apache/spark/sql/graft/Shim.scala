package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst `Expression`s and the public `Column` API.
  *
  * Spark 4 made `Column` API-agnostic (backed by `ColumnNode`); the
  * classic-session conversion helpers are `private[sql]`, so this shim
  * lives inside the `org.apache.spark.sql` package tree.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's `INVALID_BUCKET_FILE` error for a file in a bucketed
    * location whose name carries no bucket id. */
  def invalidBucketFile(path: String): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors.invalidBucketFile(path)

  /** Whether a parquet read of a directory skips the file `name`:
    * Spark's listing rule (hidden `_`/`.` names, `._COPYING_` copies in
    * flight) with its data-path rule, which also drops the `_metadata`
    * summaries the listing keeps. */
  def hiddenFile(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name) ||
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** Drain the listener bus (`private[spark]`) — metrics assertions
    * (e.g. the resource-contract specs summing task-result bytes) must
    * flush async listener events before reading their accumulators. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
