package graft.sources

import graft.model.{OpType, TableDesc}
import graft.operators.Resolve
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Durable cell-log storage: append-only parquet plus the background
  * compaction job. The table's state (descriptor, op-set, delete hint,
  * txn-ts allocator) is the [[TableState]] file next to the data.
  *
  * Reference analogues: `TabletWriter` group commit batches mutations
  * into one LevelDB write (tera src/io/tablet_writer.cc:107-230) — here
  * a DataFrame of CellOps IS the batch (S7/S8). A driver-resident batch
  * (a local `Seq[CellOp]`) commits from the driver as one sorted file
  * per touched bucket, with no Spark job ([[DriverCommit]]); any other
  * batch is one distributed parquet write through [[LogLayout.write]].
  * Background compaction physically applies the fold/drop logic to
  * bound read amplification (src/io/default_compact_strategy.cc:59-120)
  * — here a rewrite of the resolved log (§4).
  *
  * The physical layout — flat, LG-partitioned or bucketed; clustering,
  * sort order, blooms — is [[LogLayout]]'s, picked from the stored
  * state on every read and write. `spark.sql.files.maxPartitionBytes` bounds
  * per-task memory at any table size.
  */
object CellLogStore {

  /** Writes `batch` in the descriptor's layout. With `countDeletes`,
    * also returns the batch's tombstone count.
    *
    * A driver-resident append ([[DriverCommit]]: the batch's optimized
    * plan is a `LocalRelation` whose columns match the log schema) on a
    * flat or bucketed log is written from the driver with no Spark job,
    * and its tombstones are counted there. Every other write — a
    * distributed batch, `numFiles`, Overwrite, the LG layout — is a
    * Spark write; its count is a Spark [[Observation]] placed ABOVE the
    * write's exchange (below a range exchange it would count every
    * tombstone twice, since the range partitioner's sampling job
    * re-runs the plan under the exchange). None when the metrics never
    * arrive. */
  private def writeBatch(batch: DataFrame, logDir: String, mode: SaveMode,
      desc: TableDesc, numFiles: Int = 0,
      countDeletes: Boolean = false): Option[Long] = {
    val spark = batch.sparkSession
    if (desc.buckets > 0)
      require(desc.lgs.isEmpty,
        "bucketed layout and locality groups are mutually exclusive " +
          "(one physical clustering per table)")
    val layout = LogLayout.cells(desc)
    val local =
      if (mode == SaveMode.Append && numFiles == 0 && desc.lgs.isEmpty)
        DriverCommit.localRows(batch, layout.schema)
      else None
    local match {
      case Some(rows) =>
        DriverCommit.write(spark, rows, layout.schema, logDir, layout.sortCols,
          layout.key, Some(desc.buckets).filter(_ > 0).map(layout.key -> _))
        if (!countDeletes) None
        else {
          val op = layout.schema.fieldIndex("op")
          Some(rows.count(r => OpType.deletes.contains(r.getInt(op))).toLong)
        }
      case None =>
        // an LG-partitioned append next to existing FLAT files would
        // leave a mixed-depth layout that partition discovery rejects
        // (and a basePath read would prune the flat rows as lg=null) —
        // refuse now, while the state is still recoverable
        if (mode == SaveMode.Append && desc.lgs.nonEmpty)
          require(!hasFlatFiles(spark, logDir),
            s"$logDir holds un-partitioned parquet but the descriptor declares " +
              "locality groups; compact/replace the log into an LG layout " +
              "(or open it with an LG-free descriptor) before appending")
        val tally = if (countDeletes) Some(Observation()) else None
        layout.write(batch, logDir, mode, numFiles, df => tally.fold(df)(obs =>
          df.observe(obs, count(when(col("op").isin(OpType.deletes: _*), 1)))))
        tally.flatMap(obs => scala.util.Try(scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(60, "s")).getLong(0))
          .toOption)
    }
  }

  /** True when the directory directly holds parquet data files (a flat,
    * un-partitioned log). One driver-side listing. */
  private def hasFlatFiles(spark: SparkSession, logDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(logDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.listStatus(path).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Layout guard for an append, checked against the `stored` state
    * (the bucketed mirror of the LG [[hasFlatFiles]] check): a flat file
    * landing in a bucketed location poisons every later bucketed read
    * with INVALID_BUCKET_FILE, and a bucketed file in a flat log is
    * unreadable noise — refuse a mismatched append NOW, while the state
    * is still recoverable. */
  private def checkLayout(spark: SparkSession, logDir: String,
      desc: TableDesc, stored: Option[TableState]): Unit = {
    val buckets = stored.map(_.desc.buckets).filter(_ > 0)
    if (desc.buckets > 0)
      require(buckets.contains(desc.buckets) ||
          (buckets.isEmpty && !hasFlatFiles(spark, logDir)),
        s"$logDir holds a ${buckets.fold("flat")(b => s"$b-bucket")} log " +
          s"but the write descriptor says buckets=${desc.buckets}; open " +
          "the table to pick up its stored descriptor (or compact to a " +
          "new dir to change layout)")
    else
      require(buckets.isEmpty,
        s"$logDir is a bucketed table (buckets=${buckets.get}) but this " +
          "append carries a bucket-less descriptor; open the table to " +
          "pick up its stored descriptor before writing")
  }

  /** Group-commit an op batch to the log (S7). */
  def append(batch: DataFrame, logDir: String, numFiles: Int = 0,
      desc: TableDesc = TableDesc()): Unit = {
    checkLayout(batch.sparkSession, logDir, desc,
      TableState.read(batch.sparkSession, logDir))
    writeBatch(batch, logDir, SaveMode.Append, desc, numFiles)
  }

  /** Group-commit a batch of a stored table whose log may hold the op
    * tags `ops` (None = undeclared), keeping its tombstone-count hint
    * current. Three regimes, each paying the least it can:
    *  - declared op-set WITHOUT deletes: nothing to track;
    *  - declared WITH deletes: the append's own write job counts the
    *    batch's tombstones — no extra job;
    *  - undeclared: don't guess — drop the stored hint, and resolve
    *    falls back to its own probe. A wrong low hint would defeat the
    *    window strategy's OOM guard.
    * A tracked append reads the state once and replaces it only when
    * the hint changed, all under [[Sidecar.locked]], so concurrent puts
    * of one JVM keep the count exact.
    */
  def appendTracked(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]]): Unit = {
    val spark = batch.sparkSession
    if (ops.exists(o => !OpType.deletes.exists(o.contains)))
      append(batch, logDir, desc = desc)
    else Sidecar.locked {
      val stored = TableState.read(spark, logDir)
      checkLayout(spark, logDir, desc, stored)
      val n = writeBatch(batch, logDir, SaveMode.Append, desc,
        countDeletes = ops.isDefined)
      // a count whose metrics never arrived drops the hint too
      stored.foreach { s =>
        val count = for (c <- s.deleteCount; d <- n) yield c + d
        if (count != s.deleteCount)
          TableState.write(spark, logDir, s.copy(deleteCount = count))
      }
    }
  }

  /** Replace a log's content wholesale (index rebuilds, imports).
    * Parquet Overwrite clears the directory INCLUDING the state file, so
    * the state is read first and rewritten after the data lands; the
    * txn-ts allocator survives (timestamps it handed out must never be
    * reissued). */
  def replace(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]] = None): Unit = {
    val spark = batch.sparkSession
    // the hint must describe THIS batch, not assume it is delete-free:
    // a replacement carrying tombstones with a 0 hint would steer
    // resolve's "auto" to the broadcast-join path on an arbitrarily
    // delete-heavy log. A declared delete-free op-set skips the count;
    // otherwise the write job itself counts.
    val deleteFree = ops.exists(o => !OpType.deletes.exists(o.contains))
    Sidecar.locked {
      val txnTs = TableState.read(spark, logDir).flatMap(_.nextTxnTs)
      val delCount = writeBatch(batch, logDir, SaveMode.Overwrite, desc,
        countDeletes = !deleteFree)
      TableState.write(spark, logDir, TableState(desc, ops,
        if (deleteFree) Some(0L) else delCount, txnTs))
    }
  }

  /** True when the log is LG-partitioned (`lg=<name>/` directories).
    * One driver-side directory listing — only for a directory without
    * a state file; a stored table's state says whether it has LGs. */
  def hasLgLayout(spark: SparkSession, logDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(logDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.listStatus(path).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("lg="))
  }

  /** A cell log as one state read sees it: the `stored` state, the log
    * laid out as that state declares, and — on an LG-partitioned log —
    * a reader pruned to the named LGs ([[LogLayout.readLgs]]). */
  final case class Source(stored: Option[TableState], log: DataFrame,
      lgRead: Option[Seq[String] => DataFrame]) {
    /** The stored tombstone count, when the state carries one. */
    def deleteHint: Option[Long] = stored.flatMap(_.deleteCount)
  }

  /** The cell log at `logDir` through one state read. A directory
    * without a state file is read flat, or LG-partitioned when it holds
    * `lg=` directories, with `fallback`'s key mode — so a bare binary
    * log opened with `TableDesc(rawKeyBinary = true)` is not silently
    * read through the string schema. A stored state always wins. */
  def source(spark: SparkSession, logDir: String,
      fallback: TableDesc = TableDesc()): Source =
    sourceOf(spark, logDir, TableState.read(spark, logDir), fallback)

  private def sourceOf(spark: SparkSession, logDir: String,
      stored: Option[TableState], fallback: TableDesc): Source = {
    val layout = LogLayout.cells(TableDesc(
      buckets = stored.fold(0)(_.desc.buckets),
      rawKeyBinary = stored.fold(fallback)(_.desc).rawKeyBinary))
    if (stored.fold(hasLgLayout(spark, logDir))(_.desc.lgs.nonEmpty))
      Source(stored, layout.readLgs(spark, logDir, None),
        Some((wanted: Seq[String]) =>
          layout.readLgs(spark, logDir, Some(wanted))))
    else Source(stored, layout.read(spark, logDir), None)
  }

  def read(spark: SparkSession, logDir: String): DataFrame =
    source(spark, logDir).log

  /** Seq-era width for generated mutation batches:
    * `monotonically_increasing_id` is partitionId << 33 + offset, so ids
    * reach P·2^33 — 2^49 holds up to 65,536 partitions. */
  val SeqEra: Long = 1L << 50

  /** Second id channel inside one era (e.g. a prewrite's lock cells
    * alongside its data cells). */
  val SeqSubEra: Long = 1L << 49

  /** Next free seq era for generated mutation batches (notify/ack,
    * prewrite/commit): the stored max seq rounded UP to a [[SeqEra]]
    * boundary. Ops built with `seqBase + monotonically_increasing_id()`
    * then stay above every existing seq and below the next era — the
    * arrival-order contract CellOp.seq (and KvEntry.seq) requires. One
    * pushed max-aggregation over the seq column of `log`, a cell or KV
    * log; empty log → era 1. A signed Long holds eras up to 8191: a log
    * whose max seq is already in the last era is refused, since the
    * next era would wrap to a negative seq that loses every ordering.
    */
  def nextSeqEra(log: DataFrame): Long = {
    val row = log.agg(max(col("seq"))).collect()(0)
    if (row.isNullAt(0)) SeqEra
    else {
      val era = row.getLong(0) >> 50
      if (era >= Long.MaxValue / SeqEra)
        throw new IllegalStateException(s"seq space exhausted: the log " +
          s"holds seq ${row.getLong(0)} in the last seq era ($era); a " +
          "further era would wrap to a negative seq")
      (era + 1) * SeqEra
    }
  }

  /** [[nextSeqEra]] of the cell log at `logDir`. */
  def nextSeqEra(spark: SparkSession, logDir: String): Long =
    nextSeqEra(read(spark, logDir))

  /** Timestamp-oracle analogue for batch transactions (tera centralizes
    * allocation in `Timeoracle::GetTimestamp`,
    * src/timeoracle/timeoracle.h:33-41): a monotone counter in the
    * table state, so two batch txns against the same table can never
    * pick colliding start/commit timestamps. Returns the first of `n`
    * consecutive reserved timestamps. Seeding a table that predates
    * the allocator costs one max-ts job; every later allocation is a
    * driver-side state read and replace.
    *
    * Monotonicity holds across allocations from ONE driver (the
    * read-modify-write runs under [[Sidecar.locked]]) — the same
    * single-writer-per-table posture as the append path itself. Two
    * independent drivers allocating against one table can still race
    * the state file; that is why [[graft.operators.BatchTxn
    * .prewrite]] keeps its collision check ON by default.
    */
  def allocateTxnTs(spark: SparkSession, logDir: String,
      n: Int = 1): Long = Sidecar.locked {
    require(n > 0, s"must reserve at least one timestamp, got $n")
    val s = TableState.require(spark, logDir)
    val base = s.nextTxnTs.getOrElse {
      // seed ABOVE every timestamp the log already holds: reusing a
      // stored cell's ts would collide staged data with committed data
      val row = sourceOf(spark, logDir, Some(s), s.desc).log
        .agg(max(col("ts"))).collect()(0)
      (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1
    }
    TableState.write(spark, logDir, s.copy(nextTxnTs = Some(base + n)))
    base
  }

  /** Background compaction: rewrite the log as its resolved state.
    * Resolved cells re-enter the log as plain VALUE ops (their folds and
    * tombstones applied), preserving `ts` and `seq` so later appends
    * still order correctly against them. Output replaces `logDir`
    * content at `outDir`.
    */
  def compact(spark: SparkSession, logDir: String, outDir: String,
      desc: TableDesc = TableDesc(), nowUs: Long = Long.MaxValue): Unit = {
    val src = source(spark, logDir)
    val resolved = Resolve.resolve(src.log, desc, nowUs)
      .select(col("row_key"), col("cf"), col("qualifier"), col("ts"),
        lit(graft.model.OpType.Value).as("op"), col("value"), col("seq"))
    // LG layout carries over: the compacted table prunes the same way
    writeBatch(resolved, outDir, SaveMode.Overwrite, desc)
    // the compacted table keeps its descriptor; its log is now VALUE-only
    // (folds and tombstones physically applied), so declare that op-set
    // and a zero delete count. The txn-ts allocator carries over:
    // timestamps reserved on the source but never written must not be
    // reissued on the output
    TableState.write(spark, outDir, TableState(desc,
      Some(Set(graft.model.OpType.Value)), Some(0L),
      src.stored.flatMap(_.nextTxnTs)))
  }
}
