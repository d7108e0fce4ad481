package graft.sources

import graft.model.{OpType, TableDesc}
import graft.operators.Resolve
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Durable cell-log storage: append-only parquet plus the background
  * compaction job. The table's state (descriptor, op-set, delete hint,
  * seq and txn-ts allocator) is the [[TableState]] file next to the
  * data.
  *
  * Reference analogues: `TabletWriter` group commit batches mutations
  * into one LevelDB write (tera src/io/tablet_writer.cc:107-230) — here
  * a DataFrame of CellOps IS the batch (S7/S8). [[LogLayout.write]]
  * commits a driver-resident batch (a local `Seq[CellOp]`) from the
  * driver as one sorted file per touched bucket, with no Spark job
  * ([[DriverCommit]]); any other batch is one distributed parquet write.
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

  /** Writes `batch` in the descriptor's layout ([[LogLayout.write]]:
    * a driver commit or a Spark write), tallying what is asked for. */
  private def writeBatch(batch: DataFrame, logDir: String, mode: SaveMode,
      desc: TableDesc, numFiles: Int = 0, countDeletes: Boolean = false,
      maxSeq: Boolean = false): LogLayout.Tally = {
    if (desc.buckets > 0)
      require(desc.lgs.isEmpty,
        "bucketed layout and locality groups are mutually exclusive " +
          "(one physical clustering per table)")
    // an LG-partitioned append next to existing FLAT files would leave a
    // mixed-depth layout that partition discovery rejects (and a
    // basePath read would prune the flat rows as lg=null) — refuse now,
    // while the state is still recoverable
    if (mode == SaveMode.Append && desc.lgs.nonEmpty)
      require(!hasFlatFiles(batch.sparkSession, logDir),
        s"$logDir holds un-partitioned parquet but the descriptor declares " +
          "locality groups; compact/replace the log into an LG layout " +
          "(or open it with an LG-free descriptor) before appending")
    LogLayout.cells(desc).write(batch, logDir, mode, numFiles, countDeletes,
      maxSeq)
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
      desc: TableDesc = TableDesc()): Unit =
    commit(batch, logDir, desc, numFiles, countDeletes = false,
      keepHint = true)

  /** Group-commit a batch of a stored table whose log may hold the op
    * tags `ops` (None = undeclared), keeping its tombstone-count hint
    * current. Three regimes, each paying the least it can:
    *  - declared op-set WITHOUT deletes: nothing to track;
    *  - declared WITH deletes: the append's own write counts the
    *    batch's tombstones — no extra job;
    *  - undeclared: don't guess — drop the stored hint, and resolve
    *    falls back to its own probe. A wrong low hint would defeat the
    *    window strategy's OOM guard.
    */
  def appendTracked(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]]): Unit = {
    val deleteFree = ops.exists(o => !OpType.deletes.exists(o.contains))
    commit(batch, logDir, desc, 0, countDeletes = ops.isDefined && !deleteFree,
      keepHint = deleteFree)
  }

  /** Every append: reads the state once, writes the batch and replaces
    * the state only when it changed — the delete hint (unless
    * `keepHint`) and a seeded [[TableState.nextSeq]], raised above the
    * batch's max seq so a later reservation orders after every
    * caller-supplied seq. A table that never reserved seqs tallies no
    * max. All under the table's [[TableState.locked]], so concurrent
    * appends of one JVM keep the state exact. */
  private def commit(batch: DataFrame, logDir: String, desc: TableDesc,
      numFiles: Int, countDeletes: Boolean, keepHint: Boolean): Unit = {
    val spark = batch.sparkSession
    TableState.locked(spark, logDir) {
      val stored = TableState.read(spark, logDir)
      checkLayout(spark, logDir, desc, stored)
      val tally = writeBatch(batch, logDir, SaveMode.Append, desc, numFiles,
        countDeletes, maxSeq = stored.exists(_.nextSeq.isDefined))
      stored.foreach { s =>
        // a count whose metrics never arrived drops the hint too
        val next = s.written(maxSeqOf(tally, sourceOf(spark, logDir, stored,
          desc).log)).copy(deleteCount =
          if (keepHint) s.deleteCount
          else for (c <- s.deleteCount; d <- tally.deletes) yield c + d)
        if (next != s) TableState.write(spark, logDir, next)
      }
    }
  }

  /** A write's max seq: its tally, or — when a Spark write's metrics
    * never arrived — one max job over the `log` it wrote into (an
    * upper bound), so the seq counter stays a floor. */
  private[graft] def maxSeqOf(tally: LogLayout.Tally, log: => DataFrame): Long =
    tally.maxSeq.getOrElse(maxOf(log, "seq"))

  /** The max of `column` over `log`, `Long.MinValue` when it holds none
    * — one Spark job. */
  private def maxOf(log: DataFrame, column: String): Long = {
    val row = log.agg(max(col(column))).collect()(0)
    if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
  }

  /** Replace a log's content wholesale (index rebuilds, imports).
    * Parquet Overwrite clears the directory INCLUDING the state file, so
    * the state is read first and rewritten after the data lands; both
    * allocator counters survive (values they handed out must never be
    * reissued), the seq counter raised above the new batch. */
  def replace(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]] = None): Unit = {
    val spark = batch.sparkSession
    // the hint must describe THIS batch, not assume it is delete-free:
    // a replacement carrying tombstones with a 0 hint would steer
    // resolve's "auto" to the broadcast-join path on an arbitrarily
    // delete-heavy log. A declared delete-free op-set skips the count;
    // otherwise the write job itself counts.
    val deleteFree = ops.exists(o => !OpType.deletes.exists(o.contains))
    TableState.locked(spark, logDir) {
      val stored = TableState.read(spark, logDir)
      val tally = writeBatch(batch, logDir, SaveMode.Overwrite, desc,
        countDeletes = !deleteFree,
        maxSeq = stored.exists(_.nextSeq.isDefined))
      TableState.write(spark, logDir, TableState(desc, ops,
        if (deleteFree) Some(0L) else tally.deletes,
        stored.flatMap(_.nextTxnTs), stored.flatMap(_.nextSeq))
        .written(maxSeqOf(tally,
          sourceOf(spark, logDir, Some(TableState(desc)), desc).log)))
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

  /** Seq base for loaders that number a whole bulk load from one
    * base ([[RelationalLoader.toCellLog]]): `monotonically_increasing_id`
    * is partitionId << 33 + offset, so such a frame's ids reach P·2^33,
    * and 2^50 holds up to 65,536 partitions above 0. */
  val SeqEra: Long = 1L << 50

  /** The table-state allocator — tera numbers writes once, at write
    * time (LevelDB sequence numbers, `Timeoracle::GetTimestamp`,
    * src/timeoracle/timeoracle.h:33-41). Two counters on one path:
    * [[TableState.nextSeq]] for seqs and [[TableState.nextTxnTs]] for
    * batch-txn timestamps. Returns the first of `n` consecutive values
    * reserved over `column`.
    *
    * The first reservation seeds its counter ABOVE every value the log
    * already holds — one max job (reusing a stored value would order a
    * new write level with an old one). Every later reservation is a
    * driver-side state read and replace that advances the counter by
    * exactly `n`. A reservation that would pass `Long.MaxValue` throws
    * instead of wrapping to a negative value that loses every ordering.
    * A directory without a state file (`bare`, seqs only) stores no
    * counter: each reservation there is one max job over the log, read
    * as a cell log (a bare KV log has the same `seq` column), and two
    * reservations with no write between them return the same base.
    *
    * Monotonicity holds across reservations from ONE driver, whatever
    * the session (the read-modify-write runs under the table's
    * [[TableState.locked]]) — the same single-writer-per-table posture
    * as the append path itself. Two independent drivers reserving
    * against one table can still race the state file; that is why
    * [[graft.operators.BatchTxn.prewrite]] keeps its collision check ON
    * by default.
    */
  private def reserve(spark: SparkSession, logDir: String, n: Long,
      column: String, what: String, bare: Boolean)(
      counter: TableState => Option[Long],
      advance: (TableState, Long) => TableState): Long =
    TableState.locked(spark, logDir) {
      require(n > 0, s"must reserve at least one $what, got $n")
      val stored =
        if (bare) TableState.read(spark, logDir)
        else Some(TableState.require(spark, logDir))
      val base = stored.flatMap(counter).getOrElse {
        val log = stored match {
          case Some(s) if s.desc.kvMode =>
            LogLayout.kv(s.desc.rawKeyBinary, s.desc.buckets).read(spark, logDir)
          case _ => sourceOf(spark, logDir, stored, TableDesc()).log
        }
        val m = maxOf(log, column)
        if (m == Long.MinValue) 1L else TableState.above(m)
      }
      if (base > Long.MaxValue - n)
        throw new IllegalStateException(s"$what space exhausted: reserving " +
          s"$n from $base would pass Long.MaxValue")
      stored.foreach(s => TableState.write(spark, logDir, advance(s, base + n)))
      base
    }

  /** Reserve `n` consecutive seqs above every seq the log holds and
    * every seq reserved before; returns the first. A batch built with
    * `seqBase + monotonically_increasing_id()` spans
    * `numPartitions << 33` seqs ([[withSeqs]] reserves that). */
  def reserveSeqs(spark: SparkSession, logDir: String, n: Long): Long =
    reserve(spark, logDir, n, "seq", "seq", bare = true)(_.nextSeq,
      (s, next) => s.copy(nextSeq = Some(next)))

  /** Reserve `n` consecutive batch-txn timestamps above every ts the log
    * holds; returns the first. Two batch txns against one table can
    * never pick colliding start/commit timestamps. Needs a created
    * table: a bare directory has nowhere to keep the counter. */
  def allocateTxnTs(spark: SparkSession, logDir: String, n: Int = 1): Long =
    reserve(spark, logDir, n, "ts", "txn-ts", bare = false)(_.nextTxnTs,
      (s, next) => s.copy(nextTxnTs = Some(next)))

  /** `frame` with a `seq` column from a fresh reservation. A
    * driver-resident frame (a `LocalRelation`) reserves its row count
    * and is numbered on the driver, so it stays driver-resident and
    * commits with no Spark job. Any other frame reserves
    * `numPartitions << 33` and is numbered by
    * `monotonically_increasing_id`; learning its partition count plans
    * it, and runs its shuffle stages when it has any. */
  def withSeqs(frame: DataFrame, logDir: String): DataFrame = {
    val spark = frame.sparkSession
    frame.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val rows = frame.collect()
        if (rows.isEmpty) frame.withColumn("seq", lit(0L))
        else {
          val base = reserveSeqs(spark, logDir, rows.length)
          spark.createDataFrame(
            java.util.Arrays.asList(rows.indices.map(i =>
              org.apache.spark.sql.Row.fromSeq(rows(i).toSeq :+ (base + i))): _*),
            frame.schema.add("seq", org.apache.spark.sql.types.LongType,
              nullable = false))
        }
      case _ =>
        val parts = frame.rdd.getNumPartitions max 1
        frame.withColumn("seq", lit(reserveSeqs(spark, logDir,
          parts.toLong << 33)) + monotonically_increasing_id())
    }
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
    // and a zero delete count. Both allocator counters carry over:
    // values reserved on the source but never written must not be
    // reissued on the output
    TableState.write(spark, outDir, TableState(desc,
      Some(Set(graft.model.OpType.Value)), Some(0L),
      src.stored.flatMap(_.nextTxnTs), src.stored.flatMap(_.nextSeq)))
  }
}
