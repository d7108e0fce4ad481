package graft.operators

import graft.functions.cellfunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch read-side resolution of Percolator-style transactions
  * (tera global transactions, src/sdk/global_txn.cc; column layout
  * `qual` = data, `!Lqual` = prewrite lock, `!Wqual` = commit pointer —
  * src/sdk/global_txn_internal.h:47-53).
  *
  * A data version is committed iff a `!W` pointer exists whose decoded
  * value equals the data cell's ts and whose own ts (the commit ts) is
  * within the snapshot. The write-side 2PC is OLTP and out of scope;
  * this reproduces what a snapshot reader observes.
  *
  * Scale: the pointer table and the data table shuffle once on
  * (row_key, cf, qualifier); the join is a plain equi sort-merge /
  * broadcast join that Catalyst plans like any other.
  */
object PercolatorRead {

  /** Resolve committed cells visible at `snapshotTs`. */
  def resolve(log: DataFrame, snapshotTs: Long): DataFrame = {
    val writes = log
      .where(col("qualifier").startsWith("!W") && col("ts") <= snapshotTs)
      .select(
        col("row_key"), col("cf"),
        expr("substring(qualifier, 3)").as("qualifier"),
        be64_decode(col("value")).as("data_ts"),
        col("ts").as("commit_ts"))
    // newest commit pointer per column within the snapshot
    val latest = writes
      .groupBy(col("row_key"), col("cf"), col("qualifier"))
      .agg(max_by(col("data_ts"), col("commit_ts")).as("data_ts"))
    val data = log.where(
      !col("qualifier").startsWith("!W") && !col("qualifier").startsWith("!L"))
    data.join(latest, Seq("row_key", "cf", "qualifier"))
      .where(col("ts") === col("data_ts"))
      .select(col("row_key"), col("cf"), col("qualifier"), col("ts"),
        col("value"), col("seq"))
  }

  /** Strict snapshot read. An interactive Percolator reader must NOT
    * return a column while a prewrite lock at-or-before its snapshot is
    * outstanding — the writing txn may yet commit with a ts inside the
    * snapshot, so the reader backs off and resolves the lock first
    * (tera readers, src/sdk/global_txn.cc lock-resolution paths;
    * isolation levels include/tera/transaction.h:23-26). The batch
    * analogue of "back off": EXCLUDE those columns from this pass —
    * run the cleanup ([[BatchTxn.resolveLockOps]] over [[pendingLocks]])
    * and re-read; [[resolve]] alone is the read-committed-style view
    * that ignores in-flight writers.
    */
  def resolveStrict(log: DataFrame, snapshotTs: Long): DataFrame =
    resolve(log, snapshotTs).join(
      pendingLocks(log, snapshotTs)
        .select(col("row_key"), col("cf"), col("qualifier")),
      Seq("row_key", "cf", "qualifier"), "left_anti")

  /** Unresolved prewrite locks visible at `snapshotTs` — the cells an
    * interactive reader would back off on / clean up (tera readers
    * resolve `!L` locks by rollback or roll-forward,
    * src/sdk/global_txn.cc). A batch reader surfaces them for a cleanup
    * pass ([[BatchTxn.resolveLockOps]]): a lock is PENDING if it is not
    * tombstoned (commit and rollback both erase locks with ts-bounded
    * deletes — applied here through the engine's own resolve) and no
    * commit pointer at-or-after it exists for the same column.
    *
    * Output: (row_key, cf, qualifier, lock_ts, primary) — `primary` is
    * the lock payload, the txn's primary row (global_txn_internal.h:47-53).
    * Building the frame runs no job: the lock log's op-set is declared,
    * so its resolve plans the tombstone join (lock tombstones are one per
    * released lock, sparse by construction) without counting them, or
    * the window when the log is clustered on `row_key`.
    */
  def pendingLocks(log: DataFrame, snapshotTs: Long): DataFrame = {
    val lockLog = log.where(col("qualifier").startsWith("!L") &&
      col("ts") <= snapshotTs)
    val visible = Resolve.resolve(lockLog,
      graft.model.TableDesc(graft.model.CfSpec(maxVersions = Int.MaxValue)),
      opsPresent = Some(Set(graft.model.OpType.Value,
        graft.model.OpType.DelQualifiers, graft.model.OpType.DelQualifier)))
    // the lock payload names the txn's primary ROW KEY, so it carries
    // the log's key type: raw bytes on a binary-raw-key log (a UTF-8
    // decode would throw on arbitrary key bytes), decoded text on a
    // readable log — either way `primary` joins row_key type-exactly
    // in BatchTxn.resolveLockOps
    val primary =
      if (log.schema("row_key").dataType ==
          org.apache.spark.sql.types.BinaryType) col("value")
      else decode(col("value"), "UTF-8")
    val locks = visible.select(col("row_key"), col("cf"),
      expr("substring(qualifier, 3)").as("qualifier"),
      col("ts").as("lock_ts"),
      primary.as("primary"))
    val commits = log
      .where(col("qualifier").startsWith("!W") && col("ts") <= snapshotTs &&
        col("op") === graft.model.OpType.Value)
      .groupBy(col("row_key"), col("cf"),
        expr("substring(qualifier, 3)").as("qualifier"))
      .agg(max(col("ts")).as("commit_ts"))
    locks.join(commits, Seq("row_key", "cf", "qualifier"), "left")
      .where(col("commit_ts").isNull || col("commit_ts") < col("lock_ts"))
      .select(col("row_key"), col("cf"), col("qualifier"), col("lock_ts"),
        col("primary"))
  }
}
