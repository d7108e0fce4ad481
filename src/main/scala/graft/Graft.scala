package graft

import graft.model.{CellOp, OpType, TableDesc}
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.operators.{CellFold, CellRead, Resolve, ScanFilter, ScanQuery}
import graft.sources.{CellLogStore, TableState, Tables}
import graft.streaming.Observers
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SortedRunsCollect
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.streaming.StreamingQuery

/** The user-facing SDK surface — what `tera::Client`/`tera::Table`
  * offer (include/tera/table.h:43-163), re-expressed over Spark. A user
  * of the reference maps their calls 1:1:
  *
  *   - `Table::Scan(ScanDescriptor)` → [[GraftTable.scan]] builder
  *   - `Table::Get(RowReader)`       → [[GraftTable.get]]
  *   - `Table::Put/ApplyMutation`    → [[GraftTable.put]] of CellOp batches
  *   - `RowMutation::Add/Append/PutIfAbsent/Delete*` → tagged [[CellOp]]s
  *   - `Table::Observe`              → [[GraftTable.observe]]
  *   - snapshot reads                → [[GraftTable.snapshot]]
  *   - `teracli compact`             → [[GraftTable.compact]]
  */
class GraftTable(
    val spark: SparkSession,
    val logDir: String,
    val desc: TableDesc = TableDesc(),
    /** Op tags this table's log may contain, when declared
      * ([[Graft.createTable]]) or read back from the stored descriptor —
      * lets every resolve skip its op-distribution probe. */
    val opsPresent: Option[Set[Int]] = None) {

  /** The log and the stored tombstone count through ONE state read per
    * call (a driver-side file read, no Spark job), so the count tracks
    * appends; it lets resolve's delete strategy size itself on a flat
    * or LG log (a bucketed read never needs it). The stored state lays the log out; this table's `desc`
    * is the fallback for a bare directory. */
  private def source: CellLogStore.Source =
    CellLogStore.source(spark, logDir, desc)

  /** The raw tagged mutation log. */
  def log: DataFrame = source.log

  /** Resolved visible cells (versions/TTL/tombstones/folds applied). */
  def cells(nowUs: Long = Long.MaxValue): DataFrame = {
    val src = source
    Resolve.resolve(src.log, desc, nowUs, opsPresent = opsPresent,
      deleteCountHint = src.deleteHint)
  }

  /** Scan builder over this table. On an LG-partitioned table a
    * CF-projected scan reads only the matching `lg=` directories. */
  def scan: ScanQuery = {
    val src = source
    ScanQuery(src.log, desc, opsPresent = opsPresent,
      deleteCountHint = src.deleteHint, table = Some(src))
  }

  /** Storage form of a logical row key: murmur-hex-prefixed on a
    * hash-sharded table (tera `hash_method_`, src/sdk/table_impl.cc:98),
    * the key itself otherwise. */
  def storageKey(rowKey: String): String =
    if (desc.hashKeys) graft.functions.Codecs.hashedKey(rowKey) else rowKey

  /** Point get: all visible cells of one row (routed by hashed key on a
    * hash table, like the reference reader — table_impl.cc:1417). */
  def get(rowKey: String): DataFrame = pointGet(storageKey(rowKey))

  /** Binary point get ([[TableDesc.rawKeyBinary]] tables): exact-bytes
    * equality — binary tables never hash-shard, so the raw key IS the
    * storage key. */
  def get(rowKey: Array[Byte]): DataFrame = {
    require(desc.rawKeyBinary,
      "binary get on a readable-key table (keys are StringType; use " +
        "get(String))")
    pointGet(rowKey)
  }

  /** The resolved cells of one storage key (a String, or a binary key's
    * bytes). On a bucketed table the frame is one [[CellRead]] leaf over
    * the files listed now: its `collect()` reads the key's bucket on the
    * driver ([[graft.sources.DriverRead]]) and folds the row with
    * [[CellFold]], with no Spark job; every other consumer runs the
    * bucket-pruned resolve plan over the same files. */
  private def pointGet(key: Any): DataFrame =
    CellRead.frame(source, desc, opsPresent, None, Long.MaxValue, CellRead.Point(key match {
      case s: String => UTF8String.fromString(s)
      case b: Array[Byte] => b
    }))

  /** Wide-row view of a point get (`RowReader::ToMap`). */
  def getRow(rowKey: String): DataFrame =
    Resolve.toWideRows(get(rowKey))

  /** Group-commit a mutation batch (any mix of puts/deletes/atomics).
    * On a hash-sharded table the batch carries LOGICAL keys and the
    * write path prefixes them (reference mutations hash at apply time).
    * A local batch (`Seq[CellOp]`, `Seq.toDF`) commits from the driver
    * with no Spark job; a distributed one is a Spark write. Either way
    * the stored tombstone-count hint is kept without an extra job
    * ([[CellLogStore.append]]). */
  def put(batch: DataFrame): Unit = {
    val missing = graft.model.CellOp.schema.fieldNames
      .filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"put batch is missing cell-log columns: ${missing.mkString(", ")} " +
        s"(need ${graft.model.CellOp.schema.fieldNames.mkString(", ")})")
    val stored =
      if (desc.hashKeys)
        batch.withColumn("row_key",
          graft.functions.cellfunctions.hashed_key(col("row_key")))
      else batch
    CellLogStore.append(stored, logDir, desc, opsPresent)
  }

  /** Group-commit ops whose row keys are ALREADY in storage space —
    * required for batches derived FROM this table's log (acks, 2PC
    * commit ops): on a hash-sharded table those keys carry the shard
    * prefix, and [[put]] would prefix them a second time, targeting
    * nonexistent rows. */
  def putStored(batch: DataFrame): Unit =
    CellLogStore.append(batch, logDir, desc, opsPresent)

  def put(ops: Seq[CellOp]): Unit = {
    val session = spark
    import session.implicits._
    put(ops.toDF())
  }

  /** Reserve `n` consecutive batch-txn timestamps from this table's
    * monotone allocator (the timeoracle analogue,
    * src/timeoracle/timeoracle.h:33-41, [[CellLogStore.allocateTxnTs]])
    * — returns the first. Use for [[graft.operators.BatchTxn]]
    * start/commit timestamps: txns interleaved within one driver never
    * collide (the allocator is JVM-synchronized; cross-driver writers
    * keep prewrite's default collision check as the backstop). */
  def allocateTxnTs(n: Int = 1): Long =
    CellLogStore.allocateTxnTs(spark, logDir, n)

  /** Time-travel read bound by sequence number (tera snapshots). On a
    * bucketed table the frame is one [[CellRead]] leaf over the files
    * listed now: a `collect()` of it filtered to one key
    * (`.where(col("row_key") === k)`, any other conjuncts and
    * projections on top) reads the key's bucket on the driver and folds
    * the row as of `seq`, with no Spark job; every other consumer runs
    * the resolve plan over the same files, bucket-pruned by such a
    * filter. */
  def snapshot(seq: Long): DataFrame =
    CellRead.frame(source, desc, opsPresent, Some(seq), Long.MaxValue, CellRead.AnyKey)

  /** Background compaction into `outDir` (physically applies folds,
    * drops dead versions — keeps read amplification bounded). */
  def compact(outDir: String, nowUs: Long = Long.MaxValue): Unit =
    CellLogStore.compact(spark, logDir, outDir, desc, nowUs)

  /** Build (or REBUILD) a secondary index table over one (cf,
    * qualifier) — the reference's index-table pattern
    * ([[graft.operators.SecondaryIndex]]). Rebuilding an existing index
    * replaces its log wholesale (repairing stale/missing entries). Keep
    * it fresh between rebuilds by appending [[indexOpsForBatch]]
    * alongside every [[put]]. Staleness asymmetry: STALE entries are
    * harmless (the lookup's base-table verify discards them), but a
    * MISSING entry silently omits matching base rows until the next
    * rebuild — lookups are only as complete as index maintenance, so a
    * writer that skips [[indexOpsForBatch]] trades recall, not wrong
    * rows. (The reference avoids this by transactional maintenance;
    * a batch engine cannot assume every writer did.) */
  def buildIndex(indexLogDir: String, cf: String, qualifier: String): GraftTable = {
    require(!desc.rawKeyBinary,
      "secondary indexes require readable (string) base keys: an index " +
        "entry embeds the base key after a NUL separator, which arbitrary " +
        "binary keys may themselves contain")
    val valueOnly = Some(Set(graft.model.OpType.Value))
    val idxOps = graft.operators.SecondaryIndex.buildOps(cells(), cf, qualifier)
    if (TableState.read(spark, indexLogDir).isEmpty) {
      val idx = Graft.createTable(spark, indexLogDir, ops = valueOnly)
      idx.put(idxOps)
      idx
    } else {
      CellLogStore.replace(idxOps, indexLogDir, TableDesc(), valueOnly)
      Graft.openTable(spark, indexLogDir)
    }
  }

  /** Index mutations for a put batch of THIS table, in the index's key
    * space: on a hash-sharded table the batch carries LOGICAL keys but
    * [[buildIndex]] indexed STORAGE keys, so the keys are prefixed here
    * first — [[graft.operators.SecondaryIndex.opsForBatch]] alone would
    * emit entries the lookup verify can never match. */
  def indexOpsForBatch(batch: DataFrame, cf: String, qualifier: String): DataFrame = {
    val stored =
      if (desc.hashKeys)
        batch.withColumn("row_key",
          graft.functions.cellfunctions.hashed_key(col("row_key")))
      else batch
    graft.operators.SecondaryIndex.opsForBatch(stored, cf, qualifier)
  }

  /** Verified equality lookup through an index table: index prefix
    * range scan narrows, base resolved cells decide. Returns base row
    * keys.
    *
    * Scale shape: the base LOG is pruned to the candidate rows BEFORE
    * resolving — resolution is per-(row,cf,qualifier) and row-wide
    * tombstones share the row_key, so it commutes with row selection.
    * A lookup therefore costs (index prefix scan) + (resolve of the
    * candidate rows), not a whole-table resolve — the reference's
    * "index scan, then primary get" plan (tera_tpccdb.cc
    * OrderStatus-by-last-name), where the per-key gets are the pruned
    * semi-join here. AQE broadcasts the candidate list when small.
    */
  def lookupViaIndex(index: GraftTable, cf: String, qualifier: String,
      value: String): DataFrame = {
    val cand = graft.operators.SecondaryIndex.candidatesEq(index.cells(), value)
      .select(col("base_key").as("row_key"))
    val src = source
    val prunedLog = src.log.join(cand, Seq("row_key"), "left_semi")
    Resolve.resolve(prunedLog, desc, opsPresent = opsPresent,
        deleteCountHint = src.deleteHint)
      .where(col("cf") === cf && col("qualifier") === qualifier &&
        decode(col("value"), "UTF-8") === value)
      .select(col("row_key").as("base_key"))
      // a multi-version CF (maxVersions > 1) resolves several cells per
      // matching (row, cf, qualifier) — report each base row ONCE
      .distinct()
  }

  /** Observe columns: streaming callback over new appends. The default
    * `AvailableNow` trigger drains pending appends and stops; pass a
    * processing-time trigger for a resident observer (see
    * [[graft.streaming.Observers.observe]]). One checkpoint dir = one
    * consumer — a second concurrent observer on the same checkpoint is
    * refused. */
  def observe(columns: Seq[(String, String)], checkpointDir: String,
      buckets: Int = 16,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      (onNotify: (DataFrame, Long) => Unit): StreamingQuery =
    Observers.observe(Observers.cellLogStream(spark, logDir, desc),
      columns, checkpointDir, buckets, trigger = trigger)(onNotify)
}

/** KV-mode table (tera's key-value table flavor: 2-column model, single
  * version per key, optional per-KV TTL baked at write time — the TTLKv
  * strategy, src/io/ttlkv_compact_strategy.h:18-49; KV write path
  * src/io/tablet_io.cc:731). Log schema is [[graft.model.KvEntry]].
  */
class GraftKvTable(val spark: SparkSession, val logDir: String) {
  import graft.operators.KvStore

  /** The KV log through one state read ([[CellLogStore.Source]]); a
    * bare directory reads as a flat, string-keyed KV log. */
  private def source: CellLogStore.Source =
    CellLogStore.source(spark, logDir, GraftKvTable.Kv)

  /** The raw KV write log. */
  def log: DataFrame = source.log

  /** Visible (key, value) pairs at `nowUs`: newest write per key wins,
    * then the winner's own baked expiry is checked. */
  def kvs(nowUs: Long = Long.MaxValue): DataFrame = KvStore.resolve(log, nowUs)

  /** Visible entries with their expiry and seq (the compaction shape). */
  def entries(nowUs: Long = Long.MaxValue): DataFrame =
    KvStore.resolveEntries(log, nowUs)

  def get(key: String, nowUs: Long = Long.MaxValue): DataFrame =
    kvs(nowUs).where(col("key") === key)

  /** Binary point get (binary-keyed KV tables): exact-bytes equality. */
  def get(key: Array[Byte], nowUs: Long): DataFrame = {
    val src = source
    require(src.desc.rawKeyBinary,
      "binary get on a readable-key KV table (keys are StringType; use " +
        "get(String, nowUs))")
    KvStore.resolve(src.log, nowUs).where(col("key") === lit(key))
  }

  /** Group-commit (key, value[, ttl_sec]) rows. Expiry is baked at
    * WRITE time — `expire_ts_us = nowUs + ttl_sec` (a missing or
    * non-positive `ttl_sec` never expires), exactly the reference's
    * TTLKv write path. `nowUs` is explicit for determinism. Seqs come
    * from the table's allocator ([[CellLogStore.withSeqs]]): a local
    * batch reserves its row count and, once the allocator is seeded,
    * commits from the driver with no Spark job.
    */
  def put(batch: DataFrame, nowUs: Long): Unit = {
    val withTtl =
      if (batch.columns.contains("ttl_sec")) batch
      else batch.withColumn("ttl_sec", lit(0L))
    putEntries(CellLogStore.withSeqs(withTtl.select(
      col("key"), col("value"),
      when(col("ttl_sec") <= 0L, lit(0L))
        .otherwise(lit(nowUs) + col("ttl_sec") * 1000000L).as("expire_ts_us")),
      logDir))
  }

  def put(kvs: Seq[(String, Array[Byte], Long)], nowUs: Long): Unit = {
    val session = spark
    import session.implicits._
    put(kvs.toDF("key", "value", "ttl_sec"), nowUs)
  }

  /** Append entries that already carry `expire_ts_us` (and `seq`) —
    * for replicating an existing KV log verbatim. */
  def putEntries(batch: DataFrame): Unit =
    CellLogStore.append(batch, logDir, GraftKvTable.Kv)

  /** Compaction: physically drop dead KVs (expired at `nowUs`,
    * superseded writes); live KVs keep their baked expiry. */
  def compact(outDir: String, nowUs: Long = Long.MaxValue): Unit =
    CellLogStore.compact(spark, logDir, outDir, GraftKvTable.Kv, nowUs)
}

private object GraftKvTable {
  /** The descriptor a KV table's log is read and written through when
    * its directory holds no state. */
  val Kv: TableDesc = TableDesc(kvMode = true)
}

/** Entry points + the SQL façade (tera's MySQL handler analogue,
  * sql/src/ha_tera.cc: full SQL over stored tables — here the catalog
  * registration that makes `spark.sql` work over resolved cell views).
  */
object Graft {

  /** Create a table: persist the descriptor (+ declared op-set) next to
    * the log (the master-meta analogue, table_schema.proto:31-64) so a
    * later [[openTable]] anywhere recovers it.
    */
  def createTable(spark: SparkSession, logDir: String,
      desc: TableDesc = TableDesc(), ops: Option[Set[Int]] = None): GraftTable = {
    require(!desc.kvMode, s"use createKvTable for a KV-mode table")
    require(!(desc.hashKeys && desc.rawKeyBinary),
      "hashKeys and rawKeyBinary are mutually exclusive: the hash prefix " +
        "is a hex STRING over a readable key (table_impl.cc:98); binary " +
        "raw keys are already arbitrary bytes — bucket them instead " +
        "(buckets > 0) for uniform spread")
    require(desc.buckets >= 0, s"buckets must be >= 0, got ${desc.buckets}")
    require(desc.buckets == 0 || desc.lgs.isEmpty,
      "bucketed layout and locality groups are mutually exclusive " +
        "(one physical clustering per table)")
    create(spark, logDir, TableState(desc, ops, deleteCount = Some(0L)),
      "openTable")
    SortedRunsCollect.install(spark)
    new GraftTable(spark, logDir, desc, ops)
  }

  /** Store `state` as a new table's: like the reference master,
    * creating over an existing table is an error — silently replacing
    * the descriptor of a non-empty log could flip key hashing or TTL
    * semantics under stored data. One check-and-write under the table's
    * lock, so of two concurrent creates exactly one succeeds. */
  private def create(spark: SparkSession, logDir: String, state: TableState,
      open: String): Unit =
    TableState.update(spark, logDir) { stored =>
      require(stored.isEmpty, s"table already exists at $logDir (use $open)")
      (Some(state), ())
    }

  /** Open a table. A descriptor stored next to the log is authoritative
    * (like the reference's master-held schema); `desc` is the fallback
    * for bare log directories.
    *
    * Opening or creating a table installs the session's ordered-collect
    * strategy ([[SortedRunsCollect]]): an ordered scan's `collect()`
    * then merges per-partition sorted runs on the driver instead of
    * range-shuffling the result.
    */
  def openTable(spark: SparkSession, logDir: String,
      desc: TableDesc = TableDesc()): GraftTable = {
    SortedRunsCollect.install(spark)
    TableState.read(spark, logDir) match {
      case Some(s) =>
        require(!s.desc.kvMode, s"$logDir is a KV-mode table (use openKvTable)")
        new GraftTable(spark, logDir, s.desc, s.ops)
      case None => new GraftTable(spark, logDir, desc)
    }
  }

  /** Online schema change (tera `UpdateTable`, master_rpc.proto:207-216;
    * README.md:20 "online schema change"): replace the stored
    * descriptor's resolve knobs — max_versions / min_versions / TTL per
    * CF take effect on the NEXT read, exactly like the reference where
    * schema lives in master meta and the data files are untouched.
    * Physical-layout modes cannot change under stored data: flipping
    * `hashKeys` would re-address every row, flipping `kvMode` changes
    * the log schema — both refused.
    */
  def alterTable(spark: SparkSession, logDir: String,
      desc: TableDesc): GraftTable = TableState.update(spark, logDir) { before =>
    val state = before.getOrElse(TableState.require(spark, logDir))
    val stored = state.desc
    require(!stored.kvMode && !desc.kvMode,
      "alterTable is for cell tables; a KV-mode table has no resolve knobs " +
        "to alter (and its log is KvEntry-schema)")
    require(stored.hashKeys == desc.hashKeys,
      "cannot change hashKeys under stored data (keys are physically prefixed)")
    require(stored.rawKeyBinary == desc.rawKeyBinary,
      "cannot change the raw-key mode under stored data (row keys are " +
        "physically typed in the parquet files) — load into a new table " +
        "with the new descriptor to migrate")
    require(stored.lgs == desc.lgs,
      "cannot change locality groups under stored data (cells are physically " +
        "partitioned by LG) — compact to a new dir with the new descriptor " +
        "to migrate")
    require(stored.buckets == desc.buckets,
      "cannot change the bucket count under stored data (files are physically " +
        "hash-clustered) — compact to a new dir with the new descriptor to " +
        "migrate")
    (Some(state.copy(desc = desc)), new GraftTable(spark, logDir, desc, state.ops))
  }

  /** Bulk-load a relational DataFrame as a new cell table (the
    * `terautil dump` analogue): create the table with a declared
    * VALUE-only op-set (so every resolve skips its probe), reshape the
    * rows via [[graft.sources.RelationalLoader.toCellLog]], and
    * group-commit them.
    */
  def loadRelational(spark: SparkSession, logDir: String, df: DataFrame,
      keyCol: String, cfMap: Map[String, Seq[String]],
      ts: Column = lit(0L), desc: TableDesc = TableDesc()): GraftTable = {
    val t = createTable(spark, logDir, desc, ops = Some(Set(OpType.Value)))
    t.put(graft.sources.RelationalLoader.toCellLog(df, keyCol, cfMap, ts))
    t
  }

  /** Create a KV-mode table: the kv flag persists in the descriptor so
    * any later open recovers the mode (tera `kv_only`,
    * table_schema.proto). `buckets` > 0 picks the bucketed physical
    * layout — per-key resolution then plans with zero shuffle and a
    * point lookup prunes to one bucket (see [[TableDesc.buckets]]). */
  def createKvTable(spark: SparkSession, logDir: String,
      buckets: Int = 0, binaryKeys: Boolean = false): GraftKvTable = {
    require(buckets >= 0, s"buckets must be >= 0, got $buckets")
    create(spark, logDir, TableState(
      TableDesc(kvMode = true, buckets = buckets, rawKeyBinary = binaryKeys)),
      "openKvTable")
    new GraftKvTable(spark, logDir)
  }

  /** Open a KV-mode table (a stored descriptor must agree on the mode;
    * a bare directory of KvEntry parquet also opens). */
  def openKvTable(spark: SparkSession, logDir: String): GraftKvTable = {
    TableState.read(spark, logDir).foreach { s =>
      require(s.desc.kvMode, s"$logDir is not a KV-mode table (use openTable)")
    }
    new GraftKvTable(spark, logDir)
  }

  /** Release the per-process fixture/graph caches [[SparkEntry]] pins
    * for bench/verify drives (checkpointed purchase-graph edges, LPA
    * labels, converged sssp, SCC digraph/labels, walk corpus, fixture
    * stores, trained models): unpersists their block-manager blocks
    * and clears the maps, so a long-lived service embedding the entry
    * point returns storage to baseline between drives. A subsequent
    * drive rebuilds everything and returns identical results (the
    * caches are pure memoization). */
  def clearCaches(): Unit = SparkEntry.clearProcessCaches()

  /** Register the driver test tables plus resolved cell-log views in
    * the session catalog, making `spark.sql(...)` the query façade.
    */
  def registerSqlCatalog(spark: SparkSession, sfDir: String): Unit = {
    Tables.registerAll(spark, sfDir)
    registerFunctions(spark)
    graft.sources.CellLogs.eventsLog(spark, sfDir)
      .createOrReplaceTempView("events_log")
    Resolve.resolve(graft.sources.CellLogs.eventsLog(spark, sfDir),
        opsPresent = graft.sources.CellLogs.valueOnly)
      .createOrReplaceTempView("events_cells")
  }

  /** Register the engine's codec/hash expressions as SQL functions, so
    * `spark.sql("SELECT murmur64a(...)")` works (the extension-point
    * path of SURVEY §2.9 — these are native codegen'd expressions, not
    * UDFs).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Name → builder for every engine SQL function — the single source
    * shared by [[registerFunctions]] (patches one live session) and
    * [[graft.GraftExtensions]] (injects at session build time). */
  private[graft] def functionBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import graft.functions._
    def one(name: String, f: Expression => Expression)
        : (String, Seq[Expression] => Expression) =
      name -> (es => f(es.head))
    def litOf(e: Expression): Any =
      e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal].value
    Seq(
      one("murmur64a", e => Murmur64A(e, 0L)),
      one("be64_decode", Be64Decode),
      one("be64_encode", Be64Encode),
      one("le64_decode", Le64Decode),
      one("le64_encode", Le64Encode),
      one("f64_decode", F64Decode),
      one("f64_encode", F64Encode),
      one("key_successor", KeySuccessor),
      one("simhash64", SimHash64),
      one("byte_histogram", ByteHistogram),
      one("nfc_normalize", NfcNormalize),
      // deflate_size(bytes, level) — level is a literal
      "deflate_size" -> (es =>
        DeflateSize(es.head, litOf(es(1)).asInstanceOf[Number].intValue())),
      "vec_dot" -> (es => VecDot(es(0), es(1))),
      one("vec_quant_i8", VecQuantI8),
      "vec_dot_i8" -> (es => VecDotI8(es(0), es(1))),
      // le_int_decode(bytes, width, signed) — width/signed are literals
      "le_int_decode" -> (es =>
        LeIntDecode(es.head, litOf(es(1)).asInstanceOf[Number].intValue(),
          litOf(es(2)).asInstanceOf[Boolean])))
  }
}
