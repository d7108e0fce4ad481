package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, Row}

/** Repairs the statistics of a materialized `localCheckpoint`.
  *
  * Spark's `Dataset.localCheckpoint` carries the ORIGIN plan's
  * statistics into the resulting [[LogicalRDD]] (so one checkpoint
  * keeps planning like the frame it replaced — SPARK-39748). For an
  * ITERATIVE operator that is a trap with two teeth:
  *
  *  1. Catalyst's size-only estimator multiplies children's
  *     `sizeInBytes` at every inner join (the cartesian worst case),
  *     so a loop that checkpoints a join of k frames per round builds
  *     BigInt statistics whose DIGIT COUNT grows k-fold PER ROUND —
  *     by round ~14 of a 3-way peel the driver spends 50+ seconds per
  *     round inside `BigInteger.multiply` (measured on a 39-edge
  *     path graph; jstack pinned the time to
  *     SizeInBytesOnlyStatsPlanVisitor's product), and by round 20 it
  *     is effectively hung. The DATA is tiny; the STATISTICS are
  *     astronomical.
  *  2. The inherited estimate is garbage anyway — the checkpoint's
  *     true size is KNOWN (its blocks are materialized), and the
  *     inflated product forbids broadcast choices the real size would
  *     allow.
  *
  * `withMeasuredStats` rebuilds the checkpoint's LogicalRDD with
  * `sizeInBytes` read from the block manager (memory + disk bytes of
  * the materialized blocks) — truthful, constant-sized, and
  * broadcast-friendly. Everything else (RDD, partitioning, ordering)
  * is preserved. Falls back to the session's `defaultSizeInBytes`
  * when the storage info is not visible (still constant per round, so
  * the explosion cannot re-arm).
  *
  * This lives under `org.apache.spark.sql` because [[LogicalRDD]]'s
  * constructor and `Dataset.ofRows` are `private[sql]` — the standard
  * extension-shim idiom, kept to this one narrowly-scoped file.
  */
object CheckpointStats extends org.apache.spark.internal.Logging {

  def withMeasuredStats(df: DataFrame): DataFrame =
    withMeasuredStats(df, df.sparkSession)

  /** As [[withMeasuredStats]], but the rebuilt frame is BOUND to
    * `target` — subsequent operators chained on it plan with the
    * target session's conf. This is how an iterative loop isolates a
    * conf toggle (e.g. AQE off for partitioning reuse) on a cloned
    * session instead of flipping the caller's shared conf. */
  def withMeasuredStats(df: DataFrame,
      target: org.apache.spark.sql.SparkSession): DataFrame =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = target.asInstanceOf[SparkSession]
        val measured = spark.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize).max(1))
        if (measured.isEmpty) {
          // defaultSizeInBytes (Long.MaxValue unless tuned) forbids
          // every broadcast the measured repair would allow — still
          // constant per round (the explosion cannot re-arm), but the
          // silent pessimisation deserves a signal
          logWarning("CheckpointStats: no storage info for checkpoint " +
            s"RDD ${lr.rdd.id} — falling back to defaultSizeInBytes " +
            "(broadcast-hostile); was the checkpoint evicted?")
        }
        val size = measured.getOrElse(
          BigInt(spark.sessionState.conf.defaultSizeInBytes))
        val repaired = LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(
          spark, Some(Statistics(sizeInBytes = size)), None)
        Dataset.ofRows(spark, repaired)
      case _ => df
    }

  /** Re-binds a frame's (already analyzed) plan to another session of
    * the same SparkContext — planning then uses the target session's
    * conf while the plan itself (including a LogicalRDD's measured
    * stats and partitioning) carries over unchanged. The public
    * alternative, `createDataFrame(df.rdd, schema)`, erases
    * partitioning — the one property the iterative loops exist to
    * preserve. The target gets what plans a bucketed read
    * ([[SortedRunsCollect.install]]), which a `newSession()` lacks. */
  def rebind(df: DataFrame,
      target: org.apache.spark.sql.SparkSession): DataFrame = {
    SortedRunsCollect.install(target)
    Dataset.ofRows(target.asInstanceOf[SparkSession],
      df.queryExecution.analyzed)
  }
}
