package graft.sources

import graft.model.{CfSpec, OpType, TableDesc}
import graft.operators.Resolve
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Durable cell-log storage: append-only parquet plus the background
  * compaction job, and the stored descriptor next to the data.
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
  * sort order, blooms — is [[LogLayout]]'s, picked from the descriptor
  * on every read and write. `spark.sql.files.maxPartitionBytes` bounds
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
    // layout guard (the bucketed mirror of the LG hasFlatFiles check):
    // a flat file landing in a bucketed location poisons every later
    // bucketed read with INVALID_BUCKET_FILE, and a bucketed file in a
    // flat log is unreadable noise — refuse a mismatched append NOW,
    // while the state is still recoverable. One props read.
    if (mode == SaveMode.Append) {
      val stored = bucketCount(spark, logDir)
      if (desc.buckets > 0)
        require(stored.contains(desc.buckets) ||
            (stored.isEmpty && !hasFlatFiles(spark, logDir)),
          s"$logDir holds a ${stored.fold("flat")(b => s"$b-bucket")} log " +
            s"but the write descriptor says buckets=${desc.buckets}; open " +
            "the table to pick up its stored descriptor (or compact to a " +
            "new dir to change layout)")
      else
        require(stored.isEmpty,
          s"$logDir is a bucketed table (buckets=${stored.get}) but this " +
            "append carries a bucket-less descriptor; open the table to " +
            "pick up its stored descriptor before writing")
    }
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

  /** Group-commit an op batch to the log (S7). */
  def append(batch: DataFrame, logDir: String, numFiles: Int = 0,
      desc: TableDesc = TableDesc()): Unit =
    writeBatch(batch, logDir, SaveMode.Append, desc, numFiles)

  /** Group-commit a batch of a stored table whose log may hold the op
    * tags `ops` (None = undeclared), keeping its tombstone-count hint
    * current. Three regimes, each paying the least it can:
    *  - declared op-set WITHOUT deletes: nothing to track;
    *  - declared WITH deletes: the append's own write job counts the
    *    batch's tombstones — no extra job;
    *  - undeclared: don't guess — drop the stored hint (a file touch),
    *    and resolve falls back to its own probe. A wrong low hint would
    *    defeat the window strategy's OOM guard.
    */
  def appendTracked(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]]): Unit = {
    val spark = batch.sparkSession
    ops match {
      case Some(o) if !OpType.deletes.exists(o.contains) =>
        append(batch, logDir, desc = desc)
      case Some(_) =>
        writeBatch(batch, logDir, SaveMode.Append, desc, countDeletes = true)
        match {
          case Some(n) => bumpDeleteCount(spark, logDir, n)
          case None => clearDeleteCount(spark, logDir)
        }
      case None =>
        append(batch, logDir, desc = desc)
        clearDeleteCount(spark, logDir)
    }
  }

  /** Replace a log's content wholesale (index rebuilds, imports).
    * Parquet Overwrite clears the directory INCLUDING the metadata
    * files, so the descriptor is rewritten after the data lands. */
  def replace(batch: DataFrame, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]] = None): Unit = {
    val spark = batch.sparkSession
    // the hint must describe THIS batch, not assume it is delete-free:
    // a replacement carrying tombstones with a 0 hint would steer
    // resolve's "auto" to the broadcast-join path on an arbitrarily
    // delete-heavy log. A declared delete-free op-set skips the count;
    // otherwise the write job itself counts.
    val deleteFree = ops.exists(o => !OpType.deletes.exists(o.contains))
    val delCount = writeBatch(batch, logDir, SaveMode.Overwrite, desc,
      countDeletes = !deleteFree)
    writeDesc(spark, logDir, desc, ops)
    if (deleteFree) setDeleteCount(spark, logDir, 0L)
    else delCount match {
      case Some(n) => setDeleteCount(spark, logDir, n)
      case None => clearDeleteCount(spark, logDir)
    }
  }

  /** True when the log is LG-partitioned (`lg=<name>/` directories).
    * One driver-side directory listing at plan-build time — the same
    * class of cost as the descriptor read. */
  def hasLgLayout(spark: SparkSession, logDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(logDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.listStatus(path).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("lg="))
  }

  def read(spark: SparkSession, logDir: String,
      /** Key mode to assume for a BARE log directory (no stored
        * descriptor) — [[graft.Graft.openTable]]'s fallback descriptor
        * reaches the reader through this, so a descriptor-less binary
        * log opened with `TableDesc(rawKeyBinary = true)` is not
        * silently read through the string schema. A stored descriptor
        * always wins. */
      fallbackBinaryKey: Boolean = false): DataFrame = {
    // descriptor probe first (bucketed layouts look like flat parquet on
    // disk — only the descriptor knows the files are hash-clustered, and
    // only it knows the key mode), then one layout probe, then straight
    // to the matching reader — routing through readLgs would re-probe
    // the directory it just listed
    val props = loadProps(spark, logDir)
    val layout = LogLayout.cells(TableDesc(
      buckets = props.fold(0)(bucketsIn),
      rawKeyBinary = props.fold(fallbackBinaryKey)(isBinaryKeyed)))
    if (layout.buckets == 0 && hasLgLayout(spark, logDir))
      layout.readLgs(spark, logDir, None)
    else layout.read(spark, logDir)
  }

  private def isBinaryKeyed(p: java.util.Properties): Boolean =
    p.getProperty("rawKey") == "binary"

  private def bucketsIn(p: java.util.Properties): Int =
    p.getProperty("buckets", "0").toInt max 0

  /** True when the stored descriptor declares binary raw keys. One
    * driver-side properties read — plan-build-time cost. */
  def binaryKeyMode(spark: SparkSession, logDir: String): Boolean =
    loadProps(spark, logDir).exists(isBinaryKeyed)

  /** The stored bucket count, when the descriptor declares a bucketed
    * layout. One driver-side properties read — plan-build-time cost. */
  def bucketCount(spark: SparkSession, logDir: String): Option[Int] =
    loadProps(spark, logDir).map(bucketsIn).filter(_ > 0)

  /** Read an LG-partitioned log, pruned to `wanted` LGs (None = all;
    * see [[LogLayout.readLgs]]). */
  def readLgs(spark: SparkSession, logDir: String,
      wanted: Option[Seq[String]]): DataFrame = {
    val layout = LogLayout.cells(
      TableDesc(rawKeyBinary = binaryKeyMode(spark, logDir)))
    // a descriptor can declare LGs over a log whose FILES are not (yet)
    // LG-partitioned: a table before its first append, or hand-imported
    // parquet. Filtering a null lg column would silently drop every row
    // — fall back to the plain read (all CFs in all files; the scan's
    // cf projection still applies downstream).
    if (!hasLgLayout(spark, logDir)) layout.read(spark, logDir)
    else layout.readLgs(spark, logDir, wanted)
  }

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
    * log; empty log → era 1.
    */
  def nextSeqEra(log: DataFrame): Long = {
    val row = log.agg(max(col("seq"))).collect()(0)
    if (row.isNullAt(0)) SeqEra else ((row.getLong(0) >> 50) + 1) * SeqEra
  }

  /** [[nextSeqEra]] of the cell log at `logDir`. */
  def nextSeqEra(spark: SparkSession, logDir: String): Long =
    nextSeqEra(read(spark, logDir))

  // ---- durable table metadata -------------------------------------
  // The reference persists schema knobs in the master's meta table
  // (table_schema.proto:31-64, master_rpc.proto:207-216); here the
  // descriptor lives NEXT TO the data as an underscore-prefixed
  // properties file (Spark's file listing ignores `_*`), so a table
  // reopened elsewhere keeps max_versions/TTL/hash mode, and the
  // declared op-set lets resolve skip its op probe.

  private val DescFile = "_graft_desc.properties"

  /** Keys [[writeDesc]] owns. Every other key in the file is engine
    * state riding beside the descriptor (the delete hint, the txn-ts
    * allocator) and survives a descriptor rewrite. */
  private def isDescKey(k: String): Boolean =
    Set("cf.default", "hashKeys", "kvMode", "rawKey", "buckets", "ops")
      .contains(k) || k.startsWith("cf.named.") || k.startsWith("lg.")

  def writeDesc(spark: SparkSession, logDir: String, desc: TableDesc,
      ops: Option[Set[Int]] = None): Unit = {
    val p = new java.util.Properties()
    loadProps(spark, logDir).foreach { old =>
      old.stringPropertyNames().forEach { k =>
        if (!isDescKey(k)) p.setProperty(k, old.getProperty(k))
      }
    }
    def put(key: String, s: CfSpec): Unit =
      p.setProperty(key, s"${s.maxVersions},${s.minVersions},${s.ttlSec}")
    put("cf.default", desc.default)
    desc.cfs.foreach { case (name, s) => put(s"cf.named.$name", s) }
    p.setProperty("hashKeys", desc.hashKeys.toString)
    p.setProperty("kvMode", desc.kvMode.toString)
    p.setProperty("rawKey", if (desc.rawKeyBinary) "binary" else "readable")
    if (desc.buckets > 0) p.setProperty("buckets", desc.buckets.toString)
    desc.lgs.foreach { case (cf, lg) => p.setProperty(s"lg.$cf", lg) }
    ops.foreach(o => p.setProperty("ops", o.toSeq.sorted.mkString(",")))
    storeProps(spark, logDir, p)
  }

  def readDesc(spark: SparkSession, logDir: String)
      : Option[(TableDesc, Option[Set[Int]])] =
    loadProps(spark, logDir).map { p =>
      def spec(s: String): CfSpec = s.split(",") match {
        case Array(mx, mn, ttl) => CfSpec(mx.toInt, mn.toInt, ttl.toLong)
      }
      import scala.jdk.CollectionConverters._
      val cfs = p.stringPropertyNames().asScala.toSeq
        .filter(_.startsWith("cf.named."))
        .map(k => k.stripPrefix("cf.named.") -> spec(p.getProperty(k)))
        .toMap
      val lgs = p.stringPropertyNames().asScala.toSeq
        .filter(_.startsWith("lg."))
        .map(k => k.stripPrefix("lg.") -> p.getProperty(k))
        .toMap
      val desc = TableDesc(spec(p.getProperty("cf.default")), cfs,
        p.getProperty("hashKeys", "false").toBoolean,
        p.getProperty("kvMode", "false").toBoolean,
        lgs,
        p.getProperty("buckets", "0").toInt,
        rawKeyBinary = isBinaryKeyed(p))
      val ops = Option(p.getProperty("ops"))
        .map(_.split(",").iterator.filter(_.nonEmpty).map(_.toInt).toSet)
      (desc, ops)
    }

  // ---- descriptor-carried delete hint ------------------------------
  // On an input NOT already clustered by row_key (flat and LG logs),
  // Resolve's "auto" tombstone strategy sizes itself on the delete
  // count; a bucketed read always takes the ordered window and never
  // asks. For a stored table the count rides the descriptor file,
  // maintained by the write path: the append's own write job counts
  // the batch's tombstones ([[appendTracked]]), so neither a put nor a
  // reopen-and-resolve runs a count job. The count is a strategy hint
  // only: both strategies are exact, so a stale value cannot affect
  // correctness.

  private def loadProps(spark: SparkSession, logDir: String)
      : Option[java.util.Properties] = {
    val path = new org.apache.hadoop.fs.Path(logDir, DescFile)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else {
      val p = new java.util.Properties()
      val in = fs.open(path)
      try p.load(in) finally in.close()
      Some(p)
    }
  }

  private def storeProps(spark: SparkSession, logDir: String,
      p: java.util.Properties): Unit = {
    val path = new org.apache.hadoop.fs.Path(logDir, DescFile)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try p.store(out, "graft table descriptor") finally out.close()
  }

  def readDeleteCount(spark: SparkSession, logDir: String): Option[Long] =
    loadProps(spark, logDir)
      .flatMap(p => Option(p.getProperty("deleteCount")))
      .map(_.toLong)

  def setDeleteCount(spark: SparkSession, logDir: String, n: Long): Unit =
    loadProps(spark, logDir).foreach { p =>
      p.setProperty("deleteCount", n.toString)
      storeProps(spark, logDir, p)
    }

  /** Add `delta` to the stored count — ONLY when a count is already
    * present (created/compacted tables initialize one). A table whose
    * descriptor predates the hint must stay hint-less: seeding it with
    * 0+delta would ignore every tombstone already in the log and could
    * steer "auto" to the broadcast-join strategy against a log that
    * needs the window sort. Single-writer, like the append path itself.
    */
  def bumpDeleteCount(spark: SparkSession, logDir: String, delta: Long): Unit =
    if (delta != 0)
      readDeleteCount(spark, logDir)
        .foreach(cur => setDeleteCount(spark, logDir, cur + delta))

  /** Timestamp-oracle analogue for batch transactions (tera centralizes
    * allocation in `Timeoracle::GetTimestamp`,
    * src/timeoracle/timeoracle.h:33-41): a monotone counter riding the
    * descriptor, so two batch txns against the same table can never
    * pick colliding start/commit timestamps. Returns the first of `n`
    * consecutive reserved timestamps. Seeding a table that predates
    * the allocator costs one max-ts job; every later allocation is a
    * driver-side properties read+write.
    *
    * Monotonicity holds across allocations from ONE driver (the
    * read-modify-write is synchronized JVM-wide) — the same
    * single-writer-per-table posture as the append path itself. Two
    * independent drivers allocating against one table can still race
    * the properties file; that is why [[graft.operators.BatchTxn
    * .prewrite]] keeps its collision check ON by default.
    */
  private val txnTsGate = new Object
  def allocateTxnTs(spark: SparkSession, logDir: String,
      n: Int = 1): Long = txnTsGate.synchronized {
    require(n > 0, s"must reserve at least one timestamp, got $n")
    val p = loadProps(spark, logDir).getOrElse(
      throw new IllegalArgumentException(
        s"no table descriptor at $logDir — the txn-ts allocator rides the " +
          "descriptor (create the table first)"))
    val base = Option(p.getProperty("nextTxnTs")).map(_.toLong).getOrElse {
      // seed ABOVE every timestamp the log already holds: reusing a
      // stored cell's ts would collide staged data with committed data
      val row = read(spark, logDir).agg(max(col("ts"))).collect()(0)
      (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1
    }
    p.setProperty("nextTxnTs", (base + n).toString)
    storeProps(spark, logDir, p)
    base
  }

  /** Drop the stored count — for writes whose tombstone content is
    * unknown; resolve then falls back to its count job. */
  def clearDeleteCount(spark: SparkSession, logDir: String): Unit =
    loadProps(spark, logDir).foreach { p =>
      if (p.getProperty("deleteCount") != null) {
        p.remove("deleteCount")
        storeProps(spark, logDir, p)
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
    // the source's txn-ts allocator, carried to the output below
    val txnTs = loadProps(spark, logDir).flatMap(p =>
      Option(p.getProperty("nextTxnTs")))
    val resolved = Resolve.resolve(read(spark, logDir), desc, nowUs)
      .select(col("row_key"), col("cf"), col("qualifier"), col("ts"),
        lit(graft.model.OpType.Value).as("op"), col("value"), col("seq"))
    // LG layout carries over: the compacted table prunes the same way
    writeBatch(resolved, outDir, SaveMode.Overwrite, desc)
    // the compacted table keeps its descriptor; its log is now VALUE-only
    // (folds and tombstones physically applied), so declare that op-set
    // and a zero delete count
    writeDesc(spark, outDir, desc, Some(Set(graft.model.OpType.Value)))
    // the txn-ts allocator carries over: timestamps reserved on the
    // source but never written must not be reissued on the output
    loadProps(spark, outDir).foreach { p =>
      p.setProperty("deleteCount", "0")
      txnTs.foreach(p.setProperty("nextTxnTs", _))
      storeProps(spark, outDir, p)
    }
  }
}
