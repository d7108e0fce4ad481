package graft.sources

import graft.model.{OpType, TableDesc}
import graft.operators.{KvStore, Resolve}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one owner of a table's log, cell or KV: every read goes through
  * one [[Source]] per call, and every commit is one read-modify-write of
  * the table's [[TableState]] ([[TableState.update]]). The state
  * (descriptor, op-set, delete hint, seq and txn-ts allocator) is the
  * file next to the data.
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

  /** A log as one state read sees it: the `stored` state and the layout
    * it declares. A directory without a state file is read flat, or
    * LG-partitioned when it holds `lg=` directories, with `fallback`'s
    * key mode and log kind (cell or KV) — so a bare binary log opened
    * with `TableDesc(rawKeyBinary = true)` is not silently read through
    * the string schema. Nothing is listed before a read asks for it,
    * and the directory is probed at most once. */
  final class Source private[CellLogStore] (val spark: SparkSession,
      logDir: String, val stored: Option[TableState], fallback: TableDesc) {

    /** The layout descriptor: the stored one, or the fallback's key mode
      * and log kind (a bare directory is never bucketed). */
    val desc: TableDesc = stored.map(_.desc).getOrElse(TableDesc(
      kvMode = fallback.kvMode, rawKeyBinary = fallback.rawKeyBinary))

    private lazy val dir: Probe = probe(spark, logDir)

    /** Whether the log is LG-partitioned: the stored descriptor says, a
      * bare directory's `lg=` directories show. */
    lazy val lgPartitioned: Boolean =
      !desc.kvMode && stored.fold(dir.lgDirs)(_.desc.lgs.nonEmpty)

    private val layout = LogLayout.of(desc.copy(lgs = Map.empty))

    /** The stored tombstone count, when the state carries one. */
    def deleteHint: Option[Long] = stored.flatMap(_.deleteCount)

    /** The log schema (cell or KV, string or binary keys). */
    def schema: StructType = layout.schema

    private lazy val conf = spark.sessionState.newHadoopConf()

    /** A bucketed log's data files: one listing, made on first use and
      * shared by every read of this source — the driver reads and the
      * Spark plan's file index alike. */
    private lazy val listing: LogLayout.Listing = LogLayout.list(conf, logDir)

    /** An LG-partitioned log with its `lg` column: one listing, shared by
      * the whole log and every LG-pruned read. */
    private lazy val lgLog: DataFrame = layout.readLgs(spark, logDir)

    /** The whole log. Built on first use: a flat read lists its files
      * when it is built, a bucketed one reads [[listing]]. */
    lazy val log: DataFrame =
      if (lgPartitioned) layout.pruneLgs(lgLog, None)
      else if (desc.buckets > 0) layout.read(spark, listing)
      else layout.read(spark, logDir)

    /** On an LG-partitioned log, a reader pruned to the named LGs
      * ([[LogLayout.pruneLgs]]). */
    def lgRead: Option[Seq[String] => DataFrame] =
      Option.when(lgPartitioned)((wanted: Seq[String]) =>
        layout.pruneLgs(lgLog, Some(wanted)))

    /** The bytes of a bucketed log's files, from its listing (taking it
      * now, when no read has). */
    def sizeInBytes: BigInt = listing.files.iterator.map(f => BigInt(f.getLen)).sum

    /** On a bucketed log, its rows whose key passes every one of
      * `bounds`, read on the driver ([[DriverRead]]) from the files of
      * [[listing]]: all of them, or only the bucket of `point` (a
      * `UTF8String` or a binary key's bytes) when the bounds hold that
      * one key. None when the rows of the pages the bounds keep number
      * more than `maxRows`. */
    def keyRows(bounds: Seq[DriverRead.Bound], point: Option[Any],
        maxRows: Long = Long.MaxValue): Option[Seq[InternalRow]] = {
      val bucket = point.map(LogLayout.bucketOf(layout.schema(layout.key).dataType,
        desc.buckets))
      DriverRead.rows(conf, LogLayout.bucketFiles(listing.files, bucket), layout.schema,
        layout.key, bounds, maxRows)
    }

    /** The log as a change feed: a file stream in the log's schema. */
    def stream: DataFrame = layout.stream(spark, logDir, lgPartitioned)

    /** The layout a batch appended with `write` lands in: a KV log's
      * own, a cell batch's `write` descriptor — refused, before any file
      * lands, when it would mix layouts: a flat file in a bucketed
      * location poisons every later bucketed read with
      * INVALID_BUCKET_FILE, a bucketed file in a flat log is unreadable
      * noise, and an LG append next to flat files leaves a mixed-depth
      * layout that partition discovery rejects (a basePath read would
      * prune the flat rows as lg=null). */
    private[CellLogStore] def appendLayout(write: TableDesc): LogLayout =
      if (desc.kvMode) layout
      else {
        val buckets = stored.map(_.desc.buckets).filter(_ > 0)
        if (write.buckets > 0)
          require(buckets.contains(write.buckets) ||
              (buckets.isEmpty && !dir.flatFiles),
            s"$logDir holds a ${buckets.fold("flat")(b => s"$b-bucket")} log " +
              s"but the write descriptor says buckets=${write.buckets}; open " +
              "the table to pick up its stored descriptor (or compact to a " +
              "new dir to change layout)")
        else
          require(buckets.isEmpty,
            s"$logDir is a bucketed table (buckets=${buckets.get}) but this " +
              "append carries a bucket-less descriptor; open the table to " +
              "pick up its stored descriptor before writing")
        if (write.lgs.nonEmpty)
          require(!dir.flatFiles,
            s"$logDir holds un-partitioned parquet but the descriptor declares " +
              "locality groups; compact/replace the log into an LG layout " +
              "(or open it with an LG-free descriptor) before appending")
        LogLayout.cells(write)
      }
  }

  /** What a log directory holds directly: parquet data files (a flat
    * log) and `lg=` directories (an LG-partitioned one). */
  private final case class Probe(flatFiles: Boolean, lgDirs: Boolean)

  /** The one probe of a log directory's layout: one driver-side
    * listing, made only for what the state does not say. */
  private def probe(spark: SparkSession, logDir: String): Probe = {
    val path = new org.apache.hadoop.fs.Path(logDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = if (fs.exists(path)) fs.listStatus(path).toSeq else Nil
    Probe(entries.exists(st => st.isFile && st.getPath.getName.endsWith(".parquet")),
      entries.exists(st => st.isDirectory && st.getPath.getName.startsWith("lg=")))
  }

  /** The log at `logDir` through one state read. */
  def source(spark: SparkSession, logDir: String,
      fallback: TableDesc = TableDesc()): Source =
    new Source(spark, logDir, TableState.read(spark, logDir), fallback)

  /** Group-commit a batch to the log (S7): a cell batch laid out as
    * `desc` declares (which must agree with the stored layout), or —
    * `desc.kvMode` — a KV batch (key, value, expire_ts_us, seq) in the
    * stored KV layout. A cell log whose ops may hold the tags `ops`
    * (None = undeclared) keeps its tombstone-count hint current, paying
    * the least it can:
    *  - declared op-set WITHOUT deletes: nothing to track;
    *  - declared WITH deletes: the append's own write counts the
    *    batch's tombstones — no extra job;
    *  - undeclared: don't guess — drop the stored hint, and resolve
    *    falls back to its own probe. A wrong low hint would defeat the
    *    window strategy's OOM guard.
    * A table that has reserved seqs gets its [[TableState.nextSeq]]
    * raised above the batch's max seq, so a later reservation orders
    * after every caller-supplied seq; one that never reserved tallies
    * no max. One state read and at most one state replace, under the
    * table's lock, so concurrent appends of one JVM keep it exact. */
  def append(batch: DataFrame, logDir: String, desc: TableDesc = TableDesc(),
      ops: Option[Set[Int]] = None): Unit = {
    val spark = batch.sparkSession
    val deleteFree = ops.exists(o => !OpType.deletes.exists(o.contains))
    TableState.update(spark, logDir) { stored =>
      val src = new Source(spark, logDir, stored, desc)
      val tally = src.appendLayout(desc).write(batch, logDir, SaveMode.Append,
        countDeletes = !src.desc.kvMode && ops.isDefined && !deleteFree,
        maxSeq = stored.exists(_.nextSeq.isDefined))
      // a count whose metrics never arrived drops the hint too
      (stored.map(s => s.written(maxSeqOf(tally, src.log)).copy(deleteCount =
        if (deleteFree) s.deleteCount
        else for (c <- s.deleteCount; d <- tally.deletes) yield c + d))
        .filterNot(stored.contains), ())
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

  /** The one overwrite: replace `dir`'s content with `batch`, laid out
    * as `desc` declares, and restate the table there as `restate` gives
    * it from `dir`'s stored state (None = no state). Parquet Overwrite
    * clears the directory INCLUDING the state file, so the state is read
    * first and written after the data lands. A restated hint-less cell
    * table gets the batch's tombstone count, tallied by the write, and a
    * seeded seq counter rises above the batch. */
  private def overwrite(batch: DataFrame, dir: String, desc: TableDesc)(
      restate: Option[TableState] => Option[TableState]): Unit = {
    val spark = batch.sparkSession
    TableState.update(spark, dir) { stored =>
      val next = restate(stored)
      val count = !desc.kvMode && next.exists(_.deleteCount.isEmpty)
      val tally = LogLayout.of(desc).write(batch, dir, SaveMode.Overwrite,
        countDeletes = count, maxSeq = next.exists(_.nextSeq.isDefined))
      (next.map(s => (if (count) s.copy(deleteCount = tally.deletes) else s)
        .written(maxSeqOf(tally, new Source(spark, dir, Some(s), desc).log))), ())
    }
  }

  /** `s` for a table whose earlier values came from `from`: both
    * allocator counters carry over — values handed out must never be
    * reissued. */
  private def carried(s: TableState, from: Option[TableState]): TableState =
    s.copy(nextTxnTs = from.flatMap(_.nextTxnTs), nextSeq = from.flatMap(_.nextSeq))

  /** Replace a log's content wholesale (index rebuilds, imports), its
    * state restated with the descriptor, the op-set and this batch's
    * tombstone count. */
  def replace(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]] = None): Unit = {
    // the hint must describe THIS batch, not assume it is delete-free:
    // a replacement carrying tombstones with a 0 hint would steer
    // resolve to the broadcast-join path on an arbitrarily
    // delete-heavy log. A declared delete-free op-set skips the count;
    // otherwise the write job itself counts.
    val deleteFree = ops.exists(o => !OpType.deletes.exists(o.contains))
    overwrite(batch, logDir, desc)(stored => Some(carried(TableState(desc, ops,
      Option.when(deleteFree)(0L)), stored)))
  }

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
    TableState.update(spark, logDir) { stored =>
      require(n > 0, s"must reserve at least one $what, got $n")
      if (!bare && stored.isEmpty) TableState.require(spark, logDir)
      val base = stored.flatMap(counter).getOrElse {
        val m = maxOf(new Source(spark, logDir, stored, TableDesc()).log, column)
        if (m == Long.MinValue) 1L else TableState.above(m)
      }
      if (base > Long.MaxValue - n)
        throw new IllegalStateException(s"$what space exhausted: reserving " +
          s"$n from $base would pass Long.MaxValue")
      (stored.map(advance(_, base + n)), base)
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
    * `numPartitions << 33` and its rows are numbered `base +
    * (partition << 33) + row index` in the very RDD whose partition
    * count was read: learning that count runs the frame's shuffle
    * stages when it has any, and the write reuses their output. */
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
        val rows = frame.rdd
        val base = reserveSeqs(spark, logDir, (rows.getNumPartitions max 1).toLong << 33)
        spark.createDataFrame(
          rows.mapPartitionsWithIndex { (p, it) =>
            var seq = base + (p.toLong << 33) - 1
            it.map { r => seq += 1; org.apache.spark.sql.Row.fromSeq(r.toSeq :+ seq) }
          },
          frame.schema.add("seq", org.apache.spark.sql.types.LongType, nullable = false))
    }
  }

  /** Background compaction: rewrite the log as its resolved state at
    * `outDir`. A cell log's resolved cells re-enter as plain VALUE ops
    * (folds and tombstones applied), preserving `ts` and `seq` so later
    * appends still order correctly against them, laid out as `desc`
    * declares; the stored op-set and delete hint spare the resolve its
    * op probe. A KV log (`desc.kvMode`, or a stored KV table) keeps its
    * resolved entries — dead KVs (expired at `nowUs`, superseded
    * writes) physically dropped (tera KvCompactStrategy::Drop,
    * src/io/ttlkv_compact_strategy.cc:40-70), live ones keeping their
    * baked expiry — in its own layout. Both allocator counters carry
    * over to the output.
    */
  def compact(spark: SparkSession, logDir: String, outDir: String,
      desc: TableDesc = TableDesc(), nowUs: Long = Long.MaxValue): Unit = {
    val src = source(spark, logDir, desc)
    if (src.desc.kvMode)
      overwrite(KvStore.resolveEntries(src.log, nowUs), outDir, src.desc)(_ =>
        src.stored.map(s => carried(TableState(s.desc), src.stored)))
    else {
      val resolved = Resolve.resolve(src.log, desc, nowUs,
          opsPresent = src.stored.flatMap(_.ops),
          deleteCountHint = src.deleteHint)
        .select(col("row_key"), col("cf"), col("qualifier"), col("ts"),
          lit(OpType.Value).as("op"), col("value"), col("seq"))
      // the compacted table keeps its descriptor (and LG layout); its
      // log is now VALUE-only, so it declares that op-set and a zero
      // delete count
      overwrite(resolved, outDir, desc)(_ => Some(carried(TableState(desc,
        Some(Set(OpType.Value)), Some(0L)), src.stored)))
    }
  }
}
