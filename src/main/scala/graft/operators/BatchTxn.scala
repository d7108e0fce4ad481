package graft.operators

import graft.functions.cellfunctions._
import graft.model.OpType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch forms of the reference's conditional-write surface.
  *
  * The reference offers interactive CAS (`Table::CheckAndApply`,
  * include/tera/table.h:140-142) and Percolator-style global
  * transactions (prewrite lock `!L<qual>` / commit pointer `!W<qual>`
  * cells, src/sdk/global_txn.cc, naming global_txn_internal.h:47-53).
  * Interactive per-row RPC latency is OLTP and stays out of scope; what
  * a batch engine CAN reproduce exactly is the data contract: condition
  * checks against the current visible state, and the 2PC cell protocol
  * as mutation batches — so a reader of either engine sees the same
  * cells.
  *
  * Scale: every step is an equi-join or aggregation keyed by
  * (row_key[, cf, qualifier]) — one hash shuffle each, no driver-side
  * loops; conflict checks ride the same key partitioning as the writes
  * they guard.
  *
  * Key space: every frame here — mutations, `primaryKey`, and the ops
  * these builders emit — is in STORAGE space, because the lock payload
  * and the conflict probes join against the log's own `row_key`. On a
  * hash-sharded table that means the caller prefixes keys
  * ([[graft.GraftTable.storageKey]]) and commits batches via
  * [[graft.GraftTable.putStored]] — a plain `put` would hash the data
  * cells' keys a second time while the lock payload kept the logical
  * primary, and lock resolution would then roll back committed writes.
  *
  * Seqs: every builder numbers channel k of its frame (a prewrite's
  * data cells are channel 0, its lock cells channel 1)
  * `seqBase + monotonically_increasing_id() + k·2^31` — inside each
  * partition's 2^33 id block, for channels of under 2^31 rows per
  * partition. A frame thus spans `numPartitions << 33` seqs from
  * `seqBase`, like any frame numbered by `monotonically_increasing_id`;
  * its own partition count bounds numPartitions (a union has at least
  * as many partitions as its largest child). Take `seqBase` above every
  * seq the log holds: reserve that span from the table's allocator
  * ([[graft.sources.CellLogStore.reserveSeqs]]), or use a caller's own
  * monotone clock.
  */
object BatchTxn {

  /** Seqs of channel `k` of a builder's frame (see the object doc). */
  private def seqs(seqBase: Long, k: Int): Column =
    (lit(seqBase + (k.toLong << 31)) + monotonically_increasing_id()).as("seq")

  /** Batch CheckAndApply: each intent row carries its mutation (the
    * CellOp columns) plus a condition — `check_cf`, `check_qualifier`,
    * `expected` (bytes). The intent applies iff the CURRENT visible
    * value of (row_key, check_cf, check_qualifier) in `current` equals
    * `expected` (absent column => fails, like the reference's
    * string-compare against a read value).
    *
    * Returns the intents annotated with a boolean `applied`; the caller
    * writes `.where($"applied")`'s CellOp columns and can route the
    * rejects to a retry/report path.
    */
  def checkAndApply(current: DataFrame, intents: DataFrame): DataFrame = {
    // the condition is against the NEWEST visible version only —
    // `current` may expose multiple versions (max_versions > 1), and a
    // CAS matching a stale version (or fanning one intent out per
    // version) would be wrong
    val cur = current
      .groupBy(col("row_key"), col("cf").as("check_cf"),
        col("qualifier").as("check_qualifier"))
      .agg(max_by(col("value"), struct(col("ts"), col("seq"))).as("_cur"))
    intents
      .join(cur, Seq("row_key", "check_cf", "check_qualifier"), "left")
      .withColumn("applied", col("_cur").isNotNull && col("_cur") === col("expected"))
      .drop("_cur")
  }

  /** Percolator prewrite: stage `mutations` (row_key, cf, qualifier,
    * value) at `startTs`. A mutation conflicts when its column holds a
    * pending lock (any ts) or a commit pointer at-or-after `startTs`
    * (write-write conflict) — Percolator's two prewrite checks. The
    * returned frame annotates each mutation with `conflict`; accepted
    * rows expand to their data cell + `!L` lock cell (lock payload =
    * the txn's primary row, `primaryKey`) via [[prewriteOps]].
    */
  def prewrite(log: DataFrame, mutations: DataFrame, startTs: Long,
      /** Refuse a `startTs` some COMMITTED txn already consumed (its
        * commit pointer's ts, or the data ts the pointer's payload
        * names): staging data there would collide with committed
        * versions. One pushed-filter probe, short-circuited at the
        * first hit; allocator-issued timestamps
        * ([[graft.sources.CellLogStore.allocateTxnTs]]) never collide,
        * so callers on that path may pass `validateTs = false`. */
      validateTs: Boolean = true): DataFrame = {
    if (validateTs) {
      val clash = log.where(col("op") === OpType.Value &&
        col("qualifier").startsWith("!W") &&
        (col("ts") === startTs || be64_decode(col("value")) === startTs))
        .limit(1).count()
      require(clash == 0L,
        s"startTs $startTs collides with a stored commit pointer — another " +
          "transaction already committed at this timestamp; allocate " +
          "timestamps through the table's txn-ts allocator (allocateTxnTs)")
    }
    val locks = PercolatorRead.pendingLocks(log, snapshotTs = Long.MaxValue)
      .select(col("row_key"), col("cf"), col("qualifier"), lit(true).as("_locked"))
    val laterWrites = log
      .where(col("qualifier").startsWith("!W") && col("ts") >= startTs &&
        col("op") === OpType.Value)
      .select(col("row_key"), col("cf"),
        expr("substring(qualifier, 3)").as("qualifier"), lit(true).as("_written"))
      .distinct()
    mutations
      .join(locks, Seq("row_key", "cf", "qualifier"), "left")
      .join(laterWrites, Seq("row_key", "cf", "qualifier"), "left")
      .withColumn("conflict",
        coalesce(col("_locked"), lit(false)) || coalesce(col("_written"), lit(false)))
      .drop("_locked", "_written")
  }

  /** Expand accepted prewrites into their cell-log ops: the data cell at
    * `startTs` plus the `!L` lock cell pointing at the primary row.
    * `seqBase` as in the object doc.
    */
  def prewriteOps(accepted: DataFrame, startTs: Long, primaryKey: String,
      seqBase: Long): DataFrame =
    prewriteOpsPayload(accepted, startTs,
      encode(lit(primaryKey), "UTF-8"), seqBase)

  /** Binary-raw-key twin: the primary row key is arbitrary bytes, and
    * the lock payload carries them verbatim (PercolatorRead.pendingLocks
    * surfaces them back as bytes on a binary log). */
  def prewriteOps(accepted: DataFrame, startTs: Long,
      primaryKey: Array[Byte], seqBase: Long): DataFrame =
    prewriteOpsPayload(accepted, startTs, lit(primaryKey), seqBase)

  private def prewriteOpsPayload(accepted: DataFrame, startTs: Long,
      primaryPayload: Column, seqBase: Long): DataFrame = {
    val base = accepted.where(!col("conflict"))
      .select(col("row_key"), col("cf"), col("qualifier"), col("value"))
    val data = base.select(
      col("row_key"), col("cf"), col("qualifier"),
      lit(startTs).as("ts"), lit(OpType.Value).as("op"), col("value"),
      seqs(seqBase, 0))
    val lock = base.select(
      col("row_key"), col("cf"),
      concat(lit("!L"), col("qualifier")).as("qualifier"),
      lit(startTs).as("ts"), lit(OpType.Value).as("op"),
      primaryPayload.as("value"),
      seqs(seqBase, 1))
    data.unionAll(lock)
  }

  /** Percolator commit: for every column still locked at `startTs`,
    * write the `!W` commit pointer at `commitTs` (payload = BE64 of the
    * data ts, exactly what [[PercolatorRead.resolve]] reads back) and
    * delete the lock with a ts-bounded tombstone — the second phase of
    * 2PC as one mutation batch.
    */
  def commitOps(log: DataFrame, startTs: Long, commitTs: Long,
      seqBase: Long): DataFrame = {
    val locked = PercolatorRead.pendingLocks(log, snapshotTs = Long.MaxValue)
      .where(col("lock_ts") === startTs)
      .select(col("row_key"), col("cf"), col("qualifier"))
    val writes = locked.select(
      col("row_key"), col("cf"),
      concat(lit("!W"), col("qualifier")).as("qualifier"),
      lit(commitTs).as("ts"), lit(OpType.Value).as("op"),
      be64_encode(lit(startTs)).as("value"),
      seqs(seqBase, 0))
    val unlocks = locked.select(
      col("row_key"), col("cf"),
      concat(lit("!L"), col("qualifier")).as("qualifier"),
      lit(startTs).as("ts"), lit(OpType.DelQualifiers).as("op"),
      lit(null).cast("binary").as("value"),
      seqs(seqBase, 1))
    writes.unionAll(unlocks)
  }

  // ---- dangling-lock resolution (the read side's missing half) ------
  // A crashed transaction leaves `!L` locks behind. Reference readers
  // resolve them by consulting the txn's PRIMARY lock: a committed
  // primary rolls the stragglers forward, anything else rolls them back
  // (tera lock-resolution paths in src/sdk/global_txn.cc; the primary
  // row is the lock payload, global_txn_internal.h:47-53).

  /** Roll back the txn that prewrote at `startTs`: erase its pending
    * locks (ts-bounded tombstone, like commit's unlock) and remove the
    * staged data cells (exact-version delete at `startTs`), leaving the
    * log as if the prewrite never happened.
    */
  def rollbackOps(log: DataFrame, startTs: Long, seqBase: Long): DataFrame = {
    val pend = PercolatorRead.pendingLocks(log, snapshotTs = Long.MaxValue)
      .where(col("lock_ts") === startTs)
      .select(col("row_key"), col("cf"), col("qualifier"))
    val unlocks = pend.select(
      col("row_key"), col("cf"),
      concat(lit("!L"), col("qualifier")).as("qualifier"),
      lit(startTs).as("ts"), lit(OpType.DelQualifiers).as("op"),
      lit(null).cast("binary").as("value"),
      seqs(seqBase, 0))
    val dataDels = pend.select(
      col("row_key"), col("cf"), col("qualifier"),
      lit(startTs).as("ts"), lit(OpType.DelQualifier).as("op"),
      lit(null).cast("binary").as("value"),
      seqs(seqBase, 1))
    unlocks.unionAll(dataDels)
  }

  /** Roll forward the txn that prewrote at `startTs` after its primary
    * committed: identical to the commit's second phase, re-run for the
    * columns a partial commit missed.
    */
  def rollForwardOps(log: DataFrame, startTs: Long, commitTs: Long,
      seqBase: Long): DataFrame =
    commitOps(log, startTs, commitTs, seqBase)

  /** Resolve ALL dangling locks in one batch, the decision made per lock
    * as data: each pending lock consults its primary row (the lock
    * payload); locks whose primary shows a commit pointer for their
    * start ts roll FORWARD (commit pointer written at the primary's
    * commit ts, lock released); every other lock rolls BACK (lock erased,
    * staged data removed). One pass cleans any number of crashed
    * transactions; afterwards `resolve` and `pendingLocks` agree with a
    * log those transactions never touched.
    */
  def resolveLockOps(log: DataFrame, seqBase: Long): DataFrame = {
    val pend = PercolatorRead.pendingLocks(log, snapshotTs = Long.MaxValue)
    val primCommits = log
      .where(col("qualifier").startsWith("!W") && col("op") === OpType.Value)
      .select(col("row_key").as("primary"),
        be64_decode(col("value")).as("lock_ts"), col("ts").as("commit_ts"))
      .groupBy(col("primary"), col("lock_ts"))
      .agg(max(col("commit_ts")).as("commit_ts"))
    val decided = pend.join(primCommits, Seq("primary", "lock_ts"), "left")
    val fwdWrites = decided.where(col("commit_ts").isNotNull).select(
      col("row_key"), col("cf"),
      concat(lit("!W"), col("qualifier")).as("qualifier"),
      col("commit_ts").as("ts"), lit(OpType.Value).as("op"),
      be64_encode(col("lock_ts")).as("value"),
      seqs(seqBase, 0))
    val unlocks = decided.select(
      col("row_key"), col("cf"),
      concat(lit("!L"), col("qualifier")).as("qualifier"),
      col("lock_ts").as("ts"), lit(OpType.DelQualifiers).as("op"),
      lit(null).cast("binary").as("value"),
      seqs(seqBase, 1))
    val dataDels = decided.where(col("commit_ts").isNull).select(
      col("row_key"), col("cf"), col("qualifier"),
      col("lock_ts").as("ts"), lit(OpType.DelQualifier).as("op"),
      lit(null).cast("binary").as("value"),
      seqs(seqBase, 2))
    fwdWrites.unionAll(unlocks).unionAll(dataDels)
  }
}
