package graft.operators

import org.apache.spark.sql.DataFrame
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
  * table. A KV log is read, appended and compacted by
  * [[graft.sources.CellLogStore]], the one owner of every table's log.
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
}
