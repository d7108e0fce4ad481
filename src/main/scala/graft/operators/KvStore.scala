package graft.operators

import graft.sources.{CellLogStore, LogLayout, TableState}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** KV-mode table operations (tera's key-value table flavor: 2-column
  * model, single version, optional per-KV TTL).
  *
  * The TTLKv variant bakes an expiry timestamp into each KV at write
  * time; scans and compactions drop a KV once its own expiry passes
  * (tera KvCompactStrategy::Drop/ScanDrop,
  * src/io/ttlkv_compact_strategy.cc:40-70: `expire_timestamp <= 0`
  * never expires, otherwise dead when `expire_timestamp <= now`).
  *
  * Scale: latest-version resolution is a hash aggregation with map-side
  * `max_by` partial combine — no window sort; the expiry predicate is a
  * per-row filter that pushes into the scan when applied to a stored
  * table. Storage reads and writes go through [[LogLayout]], the same
  * module as cell logs, in the layout the stored descriptor declares.
  */
object KvStore {

  /** Resolve a KV log (key, value, expire_ts_us, seq) to its full
    * visible state at `nowUs` — the winning write per key with its
    * expiry and seq kept (the shape compaction rewrites).
    */
  def resolveEntries(kv: DataFrame, nowUs: Long): DataFrame =
    kv.groupBy(col("key"))
      .agg(max_by(struct(col("value"), col("expire_ts_us"), col("seq")),
        col("seq")).as("_c"))
      .select(col("key"), col("_c.value").as("value"),
        col("_c.expire_ts_us").as("expire_ts_us"), col("_c.seq").as("seq"))
      .where(col("expire_ts_us") <= 0L || col("expire_ts_us") > nowUs)

  /** Resolve a KV log to its visible (key, value) state at `nowUs`:
    * newest write per key wins (KV mode keeps one version), then the
    * winner's own expiry is checked.
    */
  def resolve(kv: DataFrame, nowUs: Long): DataFrame =
    resolveEntries(kv, nowUs).select(col("key"), col("value"))

  // ---- durable KV log storage -------------------------------------
  // Append-only parquet, flat (range-clustered by key) or bucketed
  // (resolve's per-key `max_by` then plans with zero shuffle and a
  // point lookup prunes to one bucket), every file carrying a key bloom.

  /** The KV log layout the stored state declares (flat, string keys
    * for a directory without one). One state read. */
  private[graft] def layout(spark: SparkSession, logDir: String): LogLayout =
    layoutOf(TableState.read(spark, logDir))

  private def layoutOf(stored: Option[TableState]): LogLayout =
    LogLayout.kv(stored.exists(_.desc.rawKeyBinary),
      stored.fold(0)(_.desc.buckets))

  /** Group-commit a KV batch (key, value, expire_ts_us, seq): a local
    * batch commits from the driver with no Spark job. Once the table
    * has reserved seqs, the state's seq counter is raised above the
    * batch's max seq, like a cell append
    * ([[graft.sources.CellLogStore.append]]). */
  def append(batch: DataFrame, logDir: String): Unit = {
    val spark = batch.sparkSession
    TableState.locked(spark, logDir) {
      val stored = TableState.read(spark, logDir)
      val kv = layoutOf(stored)
      val tally = kv.write(batch, logDir, SaveMode.Append,
        maxSeq = stored.exists(_.nextSeq.isDefined))
      stored.foreach { s =>
        val next = s.written(
          CellLogStore.maxSeqOf(tally, kv.read(spark, logDir)))
        if (next != s) TableState.write(spark, logDir, next)
      }
    }
  }

  def read(spark: SparkSession, logDir: String): DataFrame =
    layout(spark, logDir).read(spark, logDir)

  /** Compaction: rewrite the log as its resolved entries — dead KVs
    * (expired at `nowUs`, superseded writes) are physically dropped
    * (tera KvCompactStrategy::Drop, src/io/ttlkv_compact_strategy.cc:
    * 40-70); live KVs KEEP their baked expiry so later reads still
    * expire them. The layout and the seq counter carry over, like the
    * cell-log compact.
    */
  def compact(spark: SparkSession, logDir: String, outDir: String,
      nowUs: Long): Unit = {
    val stored = TableState.read(spark, logDir)
    val kv = layoutOf(stored)
    kv.write(resolveEntries(kv.read(spark, logDir), nowUs), outDir,
      SaveMode.Overwrite)
    stored.foreach(s => TableState.write(spark, outDir,
      TableState(s.desc, nextSeq = s.nextSeq)))
  }
}
