package graft.operators

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
  * table.
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
  // Same posture as CellLogStore for the cell model: append-only
  // parquet, range-clustered by key (row-group min/max stats give
  // range scans pruning; per-file key blooms serve point gets), the
  // descriptor persisted next to the data.

  private val KvSortCols = Seq("key", "seq")

  /** Group-commit a KV batch (key, value, expire_ts_us, seq). A
    * bucketed KV table (descriptor `buckets` > 0) appends through its
    * catalog entry; [[resolve]]'s per-key `max_by` aggregate then plans
    * with zero shuffle and point lookups prune to one bucket — the same
    * win [[graft.sources.BucketedCatalog]] documents for cell logs.
    */
  def append(batch: DataFrame, logDir: String): Unit = {
    val spark = batch.sparkSession
    graft.sources.CellLogStore.bucketCount(spark, logDir) match {
      case Some(b) =>
        graft.sources.BucketedCatalog.write(batch, logDir, SaveMode.Append,
          b, graft.model.KvEntry.schemaFor(
            graft.sources.CellLogStore.binaryKeyMode(spark, logDir)),
          "key", KvSortCols)
      case None =>
        val n = spark.sessionState.conf.numShufflePartitions
        batch
          .repartitionByRange(n, col("key"))
          .sortWithinPartitions(col("key"), col("seq"))
          .write.mode(SaveMode.Append)
          .options(graft.sources.CellLogStore.bloomOptions("key"))
          .parquet(logDir)
    }
  }

  def read(spark: SparkSession, logDir: String): DataFrame = {
    val schema = graft.model.KvEntry.schemaFor(
      graft.sources.CellLogStore.binaryKeyMode(spark, logDir))
    graft.sources.CellLogStore.bucketCount(spark, logDir) match {
      case Some(b) =>
        graft.sources.BucketedCatalog.read(spark, logDir, b, schema,
          "key", KvSortCols)
      case None =>
        spark.read.schema(schema).parquet(logDir)
    }
  }

  /** Next free seq era for KV batches (see CellLogStore.nextSeqEra). */
  def nextSeqEra(spark: SparkSession, logDir: String): Long = {
    val row = read(spark, logDir).agg(max(col("seq"))).collect()(0)
    if (row.isNullAt(0)) graft.sources.CellLogStore.SeqEra
    else ((row.getLong(0) >> 50) + 1) * graft.sources.CellLogStore.SeqEra
  }

  /** Compaction: rewrite the log as its resolved entries — dead KVs
    * (expired at `nowUs`, superseded writes) are physically dropped
    * (tera KvCompactStrategy::Drop, src/io/ttlkv_compact_strategy.cc:
    * 40-70); live KVs KEEP their baked expiry so later reads still
    * expire them.
    */
  def compact(spark: SparkSession, logDir: String, outDir: String,
      nowUs: Long): Unit = {
    val live = resolveEntries(read(spark, logDir), nowUs)
    graft.sources.CellLogStore.bucketCount(spark, logDir) match {
      case Some(b) =>   // layout carries over, like the cell-log compact
        graft.sources.BucketedCatalog.write(live, outDir, SaveMode.Overwrite,
          b, graft.model.KvEntry.schemaFor(
            graft.sources.CellLogStore.binaryKeyMode(spark, logDir)),
          "key", KvSortCols)
      case None =>
        val n = spark.sessionState.conf.numShufflePartitions
        live
          .repartitionByRange(n, col("key"))
          .sortWithinPartitions(col("key"))
          .write.mode(SaveMode.Overwrite)
          .options(graft.sources.CellLogStore.bloomOptions("key"))
          .parquet(outDir)
    }
    graft.sources.CellLogStore.readDesc(spark, logDir).foreach {
      case (desc, _) => graft.sources.CellLogStore.writeDesc(spark, outDir, desc)
    }
  }
}
