package graft.streaming

import graft.model.TableDesc
import graft.operators.Resolve
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured-Streaming reproduction of the reference's observer /
  * notification framework (tera Percolator-style observers:
  * `Scanner::Observe` include/observer/scanner.h:53-54, callback
  * `Observer::OnNotify` include/observer/observer.h:32-40, notification
  * discovery over the `_N_` column family
  * src/observer/executor/scanner_impl.cc:244-295).
  *
  * Mapping (SURVEY.md §2.8):
  *  - the cell-log append directory IS the change feed — no polling scan
  *    over a notify CF is needed (N2); a file-source stream tails it;
  *  - `observe(cf, qual)` filters the feed to observed columns (N1);
  *  - bucket partitioning ≙ `ScanStrategy::kTabletBucket` (N3);
  *  - exactly-once via checkpointed offsets + idempotent foreachBatch —
  *    stronger than the reference's at-least-once row locks (N4);
  *  - micro-batch offset commit ≙ notification Ack (N5).
  */
object Observers {

  /** Notify column family constant (tera src/types.h:53). */
  val NotifyCf = "_N_"

  // ---- concurrent-observer guard ------------------------------------
  // One checkpoint dir = one consumer. The reference serializes
  // concurrent observers on a row via its rowlock service
  // (src/observer/rowlocknode/, TryLockRow scanner_impl.cc:278-283);
  // here one exactly-once streaming query replaces row locks, but TWO
  // INDEPENDENT observer queries sharing a checkpoint dir would race
  // its offset log and double-deliver. A best-effort lock makes the
  // second start fail loudly instead: in-process liveness is exact
  // (query registry); cross-process is advisory via a lock file the
  // holder's JVM name is written into — a foreign lock always refuses,
  // with the remedy (delete the stale file) in the message.

  /** Normalized checkpoint → its consuming query. Holds the query
    * reference itself: identity for cleanup must be `runId` (unique per
    * run) — `query.id` is checkpoint-stable across restarts, so an id
    * keyed registry would let a LATE termination event from round N
    * release round N+1's lock. */
  private val activeObservers = scala.collection.concurrent.TrieMap
    .empty[String, StreamingQuery]

  /** runId → (normalized checkpoint, checkpoint dir) for lock cleanup
    * when the query terminates. */
  private val observerLocks = scala.collection.concurrent.TrieMap
    .empty[java.util.UUID, (String, String)]

  /** Sessions that already carry the lock-cleanup listener. WEAK keys:
    * a long-lived process cycling many short-lived sessions must not
    * pin every session (and its listener) for the process lifetime.
    * Guarded by [[startGate]] (WeakHashMap is not thread-safe). */
  private val cleanupListenerSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Serializes acquire→start→register: without it two concurrent
    * same-JVM observe() calls could both pass the liveness check before
    * either registered (check-then-act). Observer starts are rare,
    * driver-side events — a coarse gate costs nothing. */
  private val startGate = new Object

  private val jvmName =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName

  private def lockFile(checkpointDir: String) =
    new org.apache.hadoop.fs.Path(checkpointDir, "_graft_observer.lock")

  private def normCheckpoint(spark: SparkSession, dir: String): String =
    org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(dir)).toString

  /** Acquire the one-consumer lock for `checkpointDir` or refuse.
    * Same-JVM: exact — an ACTIVE query on this checkpoint raises; a
    * terminated one releases implicitly (its lock is stolen). Foreign
    * lock files always raise; a crashed foreign observer's lock must be
    * deleted by the operator (best effort — this is an advisory file,
    * not a lease). */
  private def acquireObserverLock(spark: SparkSession,
      checkpointDir: String): Unit = {
    val norm = normCheckpoint(spark, checkpointDir)
    activeObservers.get(norm).foreach { q =>
      if (q.isActive)
        throw new IllegalStateException(
          s"an active observer already consumes checkpoint $checkpointDir " +
            "(one checkpoint dir = one consumer; a second query would race " +
            "the offset log and double-deliver) — stop it first, or give " +
            "this observer its own checkpoint dir")
      activeObservers.remove(norm)
    }
    val path = lockFile(checkpointDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // ATOMIC create (overwrite = false) first: two processes racing an
    // unclaimed checkpoint cannot both win — exactly one create
    // succeeds where the filesystem supports atomic create (HDFS does;
    // object stores degrade to advisory, as documented).
    def writeLock(overwrite: Boolean): Boolean = {
      // only a failed CREATE means "someone else holds it"; a failed
      // WRITE after a successful create is OUR half-written lock —
      // remove it and propagate, or every later acquire would read an
      // empty holder and refuse forever
      val out =
        try fs.create(path, overwrite)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException
              if !overwrite => return false
          // raw local FS signals an existing file as a plain IOException
          case _: java.io.IOException if !overwrite && fs.exists(path) =>
            return false
        }
      try { try out.write(jvmName.getBytes("UTF-8")) finally out.close() }
      catch { case e: Throwable =>
        try fs.delete(path, false) catch { case _: Throwable => () }
        throw e
      }
      true
    }
    if (!writeLock(overwrite = false)) {
      val in = fs.open(path)
      val holder = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (holder != jvmName)
        throw new IllegalStateException(
          s"observer lock at $path is held by JVM '$holder' " +
            "(one checkpoint dir = one consumer). If that observer is " +
            "still running, give this one its own checkpoint dir; if it " +
            "crashed, delete the lock file to recover.")
      // our own JVM's lock with no active query: a finished round —
      // steal it (same-JVM acquires serialize under startGate, so the
      // overwrite cannot race another acquire in this process)
      writeLock(overwrite = true)
    }
  }

  /** Release a terminated run's lock: registry entries out, lock file
    * deleted — but ONLY while this run still owns the checkpoint (a
    * successor round may have re-acquired before this run's async
    * termination event arrived; its lock must survive). Idempotent. */
  private def releaseObserverLock(spark: SparkSession,
      runId: java.util.UUID): Unit =
    observerLocks.remove(runId).foreach { case (norm, ckptDir) =>
      if (activeObservers.get(norm).exists(_.runId == runId)) {
        activeObservers.remove(norm)
        try {
          val p = lockFile(ckptDir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
        } catch { case _: Throwable => () }  // advisory; next acquire steals
      }
    }

  /** The lock must outlive observe()'s return but not the query: a
    * per-session listener deletes it at termination, so the NORMAL
    * cross-process cadence (AvailableNow round per JVM) never needs
    * manual cleanup — only a crashed JVM leaves a stale lock behind. */
  private def ensureCleanupListener(spark: SparkSession): Unit =
    if (cleanupListenerSessions.add(spark)) {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
            releaseObserverLock(spark, e.runId)
        })
    }

  /** Acquire the lock, start the query, register it as the checkpoint's
    * consumer — atomically w.r.t. other observer starts in this JVM. */
  private def startGuarded(spark: SparkSession, checkpointDir: String)
      (start: => StreamingQuery): StreamingQuery = startGate.synchronized {
    acquireObserverLock(spark, checkpointDir)
    ensureCleanupListener(spark)
    val query = start
    val norm = normCheckpoint(spark, checkpointDir)
    activeObservers.put(norm, query)
    observerLocks.put(query.runId, (norm, checkpointDir))
    // a fast AvailableNow query can terminate before the registration
    // above lands, losing the async cleanup event — settle it inline
    if (!query.isActive) releaseObserverLock(spark, query.runId)
    query
  }

  // ---- T4/N5: notify-cell round trip as data ------------------------
  // The reference writes a `_N_:<cf>:<qual>` cell in-txn when an
  // observed column mutates (NotificationImpl::Notify,
  // src/observer/executor/notification_impl.cc:83-110, qualifier packing
  // PackNotifyName src/sdk/global_txn_internal.h:84-86), and Ack deletes
  // the notify versions <= the observer's start timestamp
  // (NotificationImpl::Ack :43-67). Here both are mutation batches over
  // the same cell log, so a Percolator-style incremental pipeline
  // round-trips notify -> observe -> ack entirely as data.

  /** Notify mutations for a batch of observed-column writes: one
    * `_N_:cf:qual` VALUE cell per distinct (row, cf, qualifier), carrying
    * the notify timestamp as its payload (reference writes
    * NumberToString(ts)). `seqBase` places the batch in arrival order:
    * reserve it from the table's allocator
    * ([[graft.sources.CellLogStore.reserveSeqs]]) — ids from
    * `monotonically_increasing_id` reach numPartitions << 33, the span
    * to reserve ([[graft.sources.CellLogStore.withSeqs]] does both).
    */
  def notifyOps(mutations: DataFrame, notifyTs: Long, seqBase: Long): DataFrame =
    mutations
      .select(col("row_key"), col("cf"), col("qualifier")).distinct()
      .select(
        col("row_key"),
        lit(NotifyCf).as("cf"),
        concat(col("cf"), lit(":"), col("qualifier")).as("qualifier"),
        lit(notifyTs).as("ts"),
        lit(graft.model.OpType.Value).as("op"),
        encode(lit(notifyTs.toString), "UTF-8").as("value"),
        (lit(seqBase) + monotonically_increasing_id()).as("seq"))

  /** Ack mutations: a ts-bounded DEL_QUALIFIERS tombstone per pending
    * notification, killing notify versions <= `startTs` (exactly the
    * reference's DeleteColumns(_N_, qual, start_timestamp_)). A
    * re-notification written with a later timestamp survives the ack.
    */
  def ackOps(notifications: DataFrame, startTs: Long, seqBase: Long): DataFrame =
    ackCells(notifications
        .select(col("row_key"), col("qualifier"), lit(startTs).as("ts"))
        .distinct())
      .withColumn("seq", lit(seqBase) + monotonically_increasing_id())

  /** The ack tombstone, without its seq, of each (row_key, qualifier,
    * ts) of `acks`. */
  private def ackCells(acks: DataFrame): DataFrame =
    acks.select(
      col("row_key"),
      lit(NotifyCf).as("cf"),
      col("qualifier"),
      col("ts"),
      lit(graft.model.OpType.DelQualifiers).as("op"),
      lit(null).cast("binary").as("value"))

  /** The full reference observer loop — discover pending `_N_` cells,
    * deliver, Ack — as one self-contained streaming query (tera
    * ScannerImpl's scan→OnNotify→Ack cycle,
    * src/observer/executor/scanner_impl.cc:244-295): tail the notify CF
    * of the change feed, hand each micro-batch to `onNotify`, then
    * append the ack tombstones bounded at the batch's newest notify ts.
    * Ack rows are DEL ops, so the stream's own `op == VALUE` filter
    * never re-delivers them; re-notifications written later than the
    * ack survive, exactly like the reference.
    *
    * A delivering round collects the live set once, hands `onNotify`
    * that set as a driver-resident frame, numbers its acks from exactly
    * their count reserved from the table's seq allocator
    * ([[graft.sources.CellLogStore.withSeqs]]) and commits them as a
    * local batch from the driver — no max(seq) job and no Spark write
    * for the acks.
    */
  def observeNotifications(table: graft.GraftTable, checkpointDir: String,
      hook: Option[ScanHook] = None,
      /** `AvailableNow` = one batch-checkable round over everything
        * pending (the gate shape); a processing-time trigger keeps the
        * observer RESIDENT, picking up new appends without restart —
        * the reference scanner's continuous rounds
        * (src/observer/executor/scanner_impl.cc:244-295). */
      trigger: Trigger = Trigger.AvailableNow())
      (onNotify: DataFrame => Unit): StreamingQuery =
    startGuarded(table.spark, checkpointDir) {
    cellLogStream(table.spark, table.logDir, table.desc)
      .where(col("cf") === NotifyCf &&
        col("op") === graft.model.OpType.Value)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        hook.foreach(_.before(id))
        val t0 = System.nanoTime()
        // deliver only notifications still LIVE after resolution: the
        // feed is the raw log, so an observer starting from a fresh
        // checkpoint re-reads already-acked notify cells — the semi-join
        // against the resolved pending set drops them (the reference
        // scanner gets this from the LSM applying its tombstones).
        // Collected once (the live set is small by construction):
        // delivery, the ack batch and the hook's count all read it.
        val live = batch.join(
          pendingNotifications(table.log)
            .select(col("row_key"), col("qualifier"), col("ts")),
          Seq("row_key", "qualifier", "ts"), "left_semi")
        val rows = live.collect()
        if (rows.nonEmpty) {
          val spark = table.spark
          onNotify(spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), live.schema))
          // ack each (row, qualifier) at its newest DELIVERED ts, not a
          // batch-global bound, so a concurrent lower-ts
          // re-notification of another row is not swallowed
          val Seq(key, qual, ts) =
            Seq("row_key", "qualifier", "ts").map(live.schema.fieldIndex)
          val acks = rows.groupBy(r => (r.get(key) match {
              case b: Array[Byte] => b.toSeq
              case k => k
            }, r.getString(qual))).values.map(_.maxBy(_.getLong(ts))).toSeq
          // keys came FROM the log (storage space) — putStored
          table.putStored(graft.sources.CellLogStore.withSeqs(
            ackCells(spark.createDataFrame(java.util.Arrays.asList(acks: _*),
              live.schema)), table.logDir))
        }
        hook.foreach(_.after(id, rows.length,
          (System.nanoTime() - t0) / 1000000L))
      }
      .trigger(trigger)
      .start()
    }

  /** Pending notifications: resolve the `_N_` column family of the log
    * (the cf restriction is a pushed parquet filter — the analogue of
    * the reference scanner reading only the notify CF,
    * src/observer/executor/scanner_impl.cc:257). Output: one row per
    * live notification with the observed column unpacked.
    */
  def pendingNotifications(log: DataFrame): DataFrame =
    Resolve.resolve(
        log.where(col("cf") === NotifyCf),
        TableDesc(graft.model.CfSpec(maxVersions = 1)),
        opsPresent = Some(Set(graft.model.OpType.Value,
          graft.model.OpType.DelQualifiers)))
      .select(
        col("row_key"),
        substring_index(col("qualifier"), ":", 1).as("observed_cf"),
        substring_index(col("qualifier"), ":", -1).as("observed_qualifier"),
        col("qualifier"),
        col("ts"))

  /** Tail a cell-log parquet directory as a change-feed stream, in the
    * layout its state declares ([[graft.sources.CellLogStore.Source.stream]]);
    * `fallback` gives a directory without state its key mode. */
  def cellLogStream(spark: SparkSession, logDir: String,
      fallback: TableDesc = TableDesc()): DataFrame =
    graft.sources.CellLogStore.source(spark, logDir, fallback).stream

  /** One observed notification — what `OnNotify` sees. */
  case class Notification(
      row_key: String, cf: String, qualifier: String, ts: Long,
      value: Array[Byte], bucket: Int)

  /** N1/N3: filter the feed to observed (cf, qualifier) columns and
    * assign consumption buckets by row hash.
    */
  def observed(feed: DataFrame, columns: Seq[(String, String)],
      buckets: Int = 16): DataFrame = {
    val colPred = columns
      .map { case (cf, q) => col("cf") === cf && col("qualifier") === q }
      .reduceOption(_ || _)
      .getOrElse(lit(true))
    feed.where(colPred && col("op") === graft.model.OpType.Value)
      .withColumn("bucket", pmod(hash(col("row_key")), lit(buckets)).cast("int"))
  }

  /** Before/after callbacks around each observer scan round — the
    * ScanHook analogue (tera `ScanHook`: user callbacks the scanner
    * invokes around every scan session, include/observer/scanner.h:
    * 28-43). Invoked by the observer loop itself, like the reference —
    * NOT scraped from engine metrics: with a foreachBatch sink the
    * engine never executes the batch plan, so listener-side
    * numInputRows is structurally zero there.
    */
  trait ScanHook extends Serializable {
    def before(batchId: Long): Unit = ()
    def after(batchId: Long, deliveredRows: Long, durationMs: Long): Unit = ()
  }

  /** N1: run an observer callback per micro-batch. The callback receives
    * the batch of notifications; offset commit on return is the Ack.
    * An attached [[ScanHook]] sees each round's delivered-row count and
    * wall time (counting costs one extra pass over the already-pinned
    * batch — zero cost when no hook is attached).
    */
  def observe(
      feed: DataFrame,
      columns: Seq[(String, String)],
      checkpointDir: String,
      buckets: Int = 16,
      hook: Option[ScanHook] = None,
      /** See [[observeNotifications]]: `AvailableNow` (default) drains
        * what is pending and stops; a processing-time trigger stays
        * resident and picks up later appends without restart. */
      trigger: Trigger = Trigger.AvailableNow())(
      onNotify: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = feed.sparkSession
    startGuarded(spark, checkpointDir) {
      observed(feed, columns, buckets).writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          hook.foreach(_.before(id))
          val t0 = System.nanoTime()
          val pinned = if (hook.isDefined) batch.localCheckpoint() else batch
          onNotify(pinned, id)
          hook.foreach(_.after(id, pinned.count(),
            (System.nanoTime() - t0) / 1000000L))
        }
        .trigger(trigger)
        .start()
    }
  }

  /** Streaming exact dedup over the change feed: drop re-deliveries of
    * the same document (by content fingerprint) within the watermark
    * horizon — the incremental twin of the batch exact-dedup operator,
    * for pipelines that ingest continuously. State is bounded by the
    * watermark (Spark evicts seen keys older than it).
    */
  def streamingDedup(feed: DataFrame, fingerprintCols: Seq[String],
      watermark: String): DataFrame =
    feed.withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(fingerprintCols)

  /** Streaming curation gate: the batch [[graft.operators.TextAnalysis]]
    * quality + language expressions applied to a document stream
    * (`doc_id`, `text`, `ts` µs), then watermarked exact dedup on the
    * content fingerprint — continuous ingest with the same gates the
    * batch `curate` applies. Every gate is a stateless per-row
    * expression; the fingerprint dedup is the only state, bounded by the
    * watermark. (The batch `curate`'s min-doc_id keep rule is a global
    * aggregate, meaningless on an unbounded stream — first-arrival-wins
    * is the streaming analogue.)
    */
  /** Streaming attrition counts — the continuous twin of the batch
    * [[graft.operators.Curation]] report: every arriving document is
    * labeled with the FIRST gate that drops it (the same stateless
    * per-row expressions batch `Curation.run` evaluates: length, punct,
    * language, then caller `extraGates` under their own names), and the
    * per-window per-stage counts aggregate under the watermark — the
    * live data-card a continuous ingest dashboards. Gate labeling adds
    * NO state; the windowed count is the one stateful operator, bounded
    * by the watermark. (The batch report's exact-dedup/decontamination
    * stages are corpus-global aggregates — on a stream their analogues
    * are [[streamingDedup]] and [[streamingNearDupMatches]] downstream
    * of this gate, so those labels intentionally do not appear here.)
    */
  def streamingCurationAttrition(docs: DataFrame, lang: String = "en",
      minTokens: Int = 5, maxPunctRatio: Double = 0.2,
      window: String = "1 hour", watermark: String = "10 minutes",
      extraGates: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = TextAnalysis.tokens(col("text"))
    val builtIn =
      when(size(toks) < minTokens, "short")
        .when(TextAnalysis.punctRatio(col("text")) > maxPunctRatio, "punct")
        .when(TextAnalysis.langId(col("text")) =!= lang, "lang")
    val gated = extraGates.foldLeft(builtIn) { case (acc, (name, keep)) =>
      acc.when(!coalesce(keep, lit(false)), name)
    }
    docs.withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermark)
      .withColumn("stage", coalesce(gated, lit("kept")))
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col("stage"))
      .agg(count(lit(1)).as("docs"))
      .select(col("window.start").as("window_start"), col("stage"), col("docs"))
  }

  def streamingCurate(docs: DataFrame, lang: String = "en",
      minTokens: Int = 5, maxPunctRatio: Double = 0.2,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.TextAnalysis
    streamingDedup(
      docs
        .where(TextAnalysis.tokenCount(col("text")) >= minTokens &&
          TextAnalysis.punctRatio(col("text")) <= maxPunctRatio &&
          TextAnalysis.langId(col("text")) === lang)
        .withColumn("fp", TextAnalysis.fingerprint(col("text"))),
      fingerprintCols = Seq("fp"), watermark = watermark)
  }

  /** Streaming near-dup matching AGAINST a static corpus index — the
    * continuous half of [[graft.operators.Dedup.minhashNearDuplicatesBetween]]:
    * each stream document derives its minhash signature PER ROW
    * ([[graft.operators.Dedup.rowMinhashSignature]] — bit-identical to
    * the batch signatures, no aggregation), explodes its band buckets,
    * and stream-static-joins the corpus side's bucket index; candidate
    * pairs verify by signature estimate (matching components /
    * numHashes >= `threshold`). Emits `(doc_id, corpus_id,
    * est_jaccard)` in APPEND mode with ZERO stateful operators (no
    * watermark needed, nothing buffered) — the quarantine feed a
    * continuous ingest anti-joins at load time. A pair sharing several
    * bands emits up to `bands` duplicate rows; membership is what the
    * consumer keys on, and deduping here would buy a stateful operator
    * for cosmetics. The estimate's std at J is sqrt(J(1-J)/numHashes)
    * (≈ 0.05 at J = 0.8, numHashes = 64) — size `numHashes` to the
    * precision the quarantine decision needs; exact-Jaccard re-check of
    * the (tiny) matched feed is a batch job.
    *
    * `corpusSigned` is [[graft.operators.Dedup.minhashSignaturesHashed]]
    * output (doc_id, sig) — pass the PERSISTED index (a parquet load),
    * not an inline-built aggregation: the static side re-executes per
    * micro-batch, and the setup validation below runs it once more, so
    * an unpersisted signature job would recompute the corpus signature
    * aggregation every trigger.
    */
  def streamingNearDupMatches(docStream: DataFrame, corpusSigned: DataFrame,
      shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup
    val rpb = numHashes / bands
    // a corpus index built with a different numHashes would slice past
    // the signature's end and divide the estimate by the wrong base —
    // every true duplicate silently missed; fail loudly at setup
    // instead (one-row bounded handshake on the static frame)
    corpusSigned.select(size(col("sig"))).limit(1).collect()
      .foreach(r => require(r.getInt(0) == numHashes,
        s"corpus index carries ${r.getInt(0)}-hash signatures but the " +
          s"stream is configured for $numHashes"))
    val streamSide = docStream
      .select(col("doc_id"),
        Dedup.rowMinhashSignature(col("text"), shingleLen, numHashes)
          .as("_sig"))
      .where(col("_sig").isNotNull)
      .select(col("doc_id"), col("_sig"),
        explode(Dedup.bandEntries(col("_sig"), bands, rpb)).as("_bb"))
      .select(col("doc_id"), col("_sig"),
        col("_bb.band").as("band"), col("_bb.bucket").as("bucket"))
    val corpusSide = corpusSigned
      .select(col("doc_id").as("corpus_id"), col("sig").as("_csig"),
        explode(Dedup.bandEntries(col("sig"), bands, rpb)).as("_bb"))
      .select(col("corpus_id"), col("_csig"),
        col("_bb.band").as("band"), col("_bb.bucket").as("bucket"))
    val matches = aggregate(
      zip_with(col("_sig"), col("_csig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    streamSide.join(corpusSide, Seq("band", "bucket"))
      .withColumn("est_jaccard",
        matches.cast("double") / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= threshold)
      .select(col("doc_id"), col("corpus_id"), col("est_jaccard"))
  }

  /** Streaming simhash matching AGAINST stored corpus fingerprints —
    * the continuous half of
    * [[graft.operators.Dedup.matchAgainstSimhashIndex]]: each arriving
    * document fingerprints PER ROW (simhash64 is a stateless
    * expression), explodes its `maxDistance + 1` bit-block band keys
    * (the same [[graft.operators.Dedup.hammingBandRows]] expressions
    * the batch path uses — stream and batch agree bit-for-bit), and
    * stream-static-joins the corpus side's banded fingerprints. The
    * verify is EXACT `bit_count(xor) <= maxDistance` — like the
    * semantic twin there is no estimate and no batch re-check; unlike
    * it, a pair agreeing on several blocks emits up to
    * `maxDistance + 1` duplicate rows (membership is what a quarantine
    * consumer keys on; deduping would buy a stateful operator for
    * cosmetics). APPEND mode, ZERO stateful operators.
    *
    * `corpusFps` is the stored `(doc_id, fp)` frame
    * ([[graft.operators.Dedup.readSimhashIndex]]) — 8 bytes per corpus
    * doc; pass the persisted parquet, not an inline fingerprint job
    * (the static side re-executes per micro-batch). Output:
    * `(doc_id, corpus_id, distance)`. */
  def streamingSimhashMatches(docStream: DataFrame, corpusFps: DataFrame,
      maxDistance: Int = 3): DataFrame = {
    import graft.operators.Dedup
    require(maxDistance >= 0 && maxDistance < 64,
      s"maxDistance must be in [0, 64), got $maxDistance")
    val blocks = Dedup.hammingBlocks(maxDistance + 1)
    val streamSide = Dedup.hammingBandRows(
      docStream.select(col("doc_id"),
        Dedup.simhash64(Dedup.tokens(col("text"))).as("fp")), blocks)
    val corpusSide = Dedup.hammingBandRows(
        corpusFps.select(col("doc_id"), col("fp")), blocks)
      .select(col("doc_id").as("corpus_id"), col("fp").as("_cfp"),
        col("band"), col("bucket"))
    streamSide.join(corpusSide, Seq("band", "bucket"))
      .withColumn("distance",
        Dedup.hamming64(col("fp"), col("_cfp")).cast("int"))
      .where(col("distance") <= maxDistance)
      .select(col("doc_id"), col("corpus_id"), col("distance"))
  }

  /** Streaming edit-distance matching against a corpus of strings —
    * the continuous half of
    * [[graft.operators.StringJoin.editMatchesBetween]]: each arriving
    * string explodes its PassJoin probe substrings PER ROW (the same
    * [[graft.operators.StringJoin.editProbeRows]] expressions the
    * batch path uses — stream and batch agree bit-for-bit on the
    * candidate keys), stream-static-joins the corpus side's segment
    * index rows on `(len, key)`, and verifies with the EXACT
    * threshold-bounded `levenshtein` — no estimate, no batch
    * re-check, and the PassJoin completeness guarantee carries over
    * unchanged. APPEND mode, ZERO stateful operators. A pair whose
    * strings agree on several segment windows emits duplicate rows
    * (the [[streamingSimhashMatches]] membership contract; deduping
    * would buy a stateful operator for cosmetics).
    *
    * `corpusStrs` is a STORED `(doc_id, s)` frame — the static side
    * re-executes per micro-batch, so pass persisted parquet, not an
    * expensive inline job. Both sides carry their strings through the
    * band join for the verify; the corpus side moves
    * `maxDistance + 1` rows per string. Output:
    * `(doc_id, corpus_id, distance)`. */
  def streamingEditMatches(strStream: DataFrame, corpusStrs: DataFrame,
      maxDistance: Int = 2): DataFrame = {
    import graft.operators.StringJoin
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val prb = StringJoin.editProbeRows(
      strStream.select(col("doc_id"), col("s")), maxDistance, carry = true)
    val idx = StringJoin.editIndexRows(
        corpusStrs.select(col("doc_id"), col("s")), maxDistance, carry = true)
      .select(col("doc_id").as("corpus_id"), col("len"), col("key"),
        col("_s").as("_cs"))
    prb.join(idx, Seq("len", "key"))
      .select(col("doc_id"), col("corpus_id"),
        levenshtein(col("_s"), col("_cs"), maxDistance).as("distance"))
      .where(col("distance") >= 0)
  }

  /** Streaming benchmark-contamination matching — the continuous half
    * of [[graft.operators.TextAnalysis.decontaminate]]: each arriving
    * document derives its n-gram hashes PER ROW (the same
    * [[graft.operators.Dedup.shingleHashArray]] expression the batch
    * path explodes, so stream and batch agree bit-for-bit on what a
    * gram is) and stream-static-joins the benchmark's distinct gram
    * set, which BROADCASTS — a benchmark is small by definition. Emits
    * `(doc_id, s)` per matched gram in APPEND mode with ZERO stateful
    * operators; a document sharing several grams emits several rows —
    * membership is what the quarantine consumer keys on (the
    * [[streamingNearDupMatches]] contract), and distinct-ing here
    * would buy a stateful operator for cosmetics. Documents shorter
    * than `n` tokens cannot carry a gram and are dropped by predicate,
    * mirroring the batch path. */
  def streamingContaminationMatches(docStream: DataFrame,
      benchmark: DataFrame, n: Int = 3): DataFrame = {
    import graft.operators.Dedup
    val benchGrams = Dedup.shingleHashRows(benchmark, n, distinctRows = false)
      .select(col("s")).distinct()
    val toks = Dedup.tokens(col("text"))
    docStream
      .where(size(toks) >= n)
      .select(col("doc_id"), explode(Dedup.shingleHashArray(toks, n)).as("s"))
      .join(broadcast(benchGrams), Seq("s"))
      .select(col("doc_id"), col("s"))
  }

  /** Streaming SEMANTIC matching against a stored IVF index — the
    * continuous half of
    * [[graft.operators.Dedup.semanticMatchesAgainstIndex]], and the
    * embedding twin of [[streamingNearDupMatches]]: each stream vector
    * probes its `nprobe` nearest cells of the index's stored quantizer
    * (a driver-side reference object, loaded once at setup) and
    * stream-static-joins the persisted inverted file on the cell id.
    * Emits `(vec_id, corpus_id, cosine)` in APPEND mode with ZERO
    * stateful operators.
    *
    * Two ways this is STRONGER than the minhash twin: the emitted
    * cosine is EXACT (embeddings carry full information per row, so
    * there is no signature estimate and no batch re-verify loop), and a
    * pair can never emit twice (the corpus vector has exactly ONE
    * stored cell, so the cell equi-join matches a (stream, corpus)
    * pair at most once — vs up to `bands` rows per pair there).
    * Approximation lives only in candidate recall: a pair is caught
    * iff the corpus vector's stored cell is among the stream vector's
    * `nprobe` probes — the same rule as the batch path, so
    * stream-match ≡ batch-match on the same data (spec-proven).
    * Stream rows of the wrong width or zero norm are dropped by
    * predicate (a streaming source cannot be one-row-probed at setup
    * the way the batch entry points validate their inputs).
    *
    * The static side re-executes per micro-batch — that is a parquet
    * scan of the index per trigger, not a re-assignment (the index
    * stores cells and norms; nothing per-vector recomputes).
    */
  def streamingSemanticMatches(embStream: DataFrame, indexDir: String,
      threshold: Double, nprobe: Int = 2): DataFrame = {
    import graft.operators.Similarity
    val spark = embStream.sparkSession
    val ix = Similarity.readIvfIndex(spark, indexDir)
    require(!ix.quantized,
      s"IVF index at $indexDir is int8-quantized; the streaming matcher " +
        "emits EXACT cosine — build the index without quantize for this " +
        "consumer")
    val (idx, centroids) = (ix.vectors, ix.centroids)
    val dim = centroids.head.length
    val streamSide = embStream
      .select(col("vec_id"), col("embedding").as("_sv"))
      .where(size(col("_sv")) === dim)
      .withColumn("_snrm", Similarity.norm(col("_sv")))
      .where(col("_snrm") > 0)
      .withColumn("cell",
        explode(Similarity.probeClusters(col("_sv"), centroids, nprobe)))
    val corpusSide = idx.select(col("vec_id").as("corpus_id"),
      col("embedding").as("_cv"), col("nrm").as("_cnrm"), col("cell"))
    streamSide.join(corpusSide, Seq("cell"))
      .withColumn("cosine",
        Similarity.dot(col("_sv"), col("_cv")) /
          (col("_snrm") * col("_cnrm")))
      .where(col("cosine") >= threshold)
      .select(col("vec_id"), col("corpus_id"), col("cosine"))
  }

  /** Streaming BPE token accounting — the live twin of
    * [[graft.operators.Bpe.tokenCounts]]: every arriving document gains
    * an exact `n_tokens` under the broadcast merge table. Stateless
    * (one per-row projection, no joins, no aggregation), so it rides
    * any downstream mode. The batch path's distinct-word amortization
    * is a corpus-global rewrite with no append-mode analogue; a stream
    * labels each document as it arrives, so the encode cost here is per
    * document — independent of corpus size, which is exactly the
    * property an unbounded feed needs. Differential-tested: stream
    * labels ≡ batch `tokenCounts` on the same rows (StreamingSpec). */
  def streamingTokenCounts(docs: DataFrame,
      model: graft.operators.Bpe.BpeModel): DataFrame = {
    import graft.operators.Bpe
    val modelB = docs.sparkSession.sparkContext.broadcast(model)
    val cnt = udf { text: String =>
      if (text == null) 0L
      else text.toLowerCase(java.util.Locale.ROOT)
        .split(" ").iterator.filter(_.nonEmpty)
        .map(w => Bpe.encodeWord(w, modelB.value).length.toLong).sum
    }
    docs.withColumn("n_tokens", cnt(col("text")))
  }

  /** N6: event-time tumbling/sliding window aggregation with watermark
    * over the change feed (capability absent in the reference, required
    * for the events north star).
    */
  def windowedCounts(feed: DataFrame, window_ : String, slide: Option[String],
      watermark: String): DataFrame = {
    val ts = feed.withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermark)
    val win = slide match {
      case Some(s) => window(col("event_time"), window_, s)
      case None    => window(col("event_time"), window_)
    }
    ts.groupBy(win, col("cf"), col("qualifier"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cf"),
        col("qualifier"), col("cnt"))
  }

  /** N6: session windows — activity sessions per row key closed after
    * `gap` of silence. */
  def sessionCounts(feed: DataFrame, gap: String, watermark: String): DataFrame = {
    val ts = feed.withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", watermark)
    ts.groupBy(session_window(col("event_time"), gap), col("row_key"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("row_key"), col("cnt"))
  }

  /** One retained event of a live streaming-funnel chain. */
  case class FunnelEv(ts: Long, mask: Int)

  /** Per-key streaming-funnel state: the current anchor (`Long.MaxValue`
    * until a step-1 event arrives), the one-emission tombstone, and the
    * retained in-horizon events. */
  case class FunnelState(t0: Long, emitted: Boolean, events: List[FunnelEv])

  /** A finalized funnel row (times use `Long.MinValue` as the
    * not-reached sentinel until the column projection nulls them). */
  case class FunnelHit(key: String, steps_completed: Int, times: Seq[Long])

  /** STREAMING twin of [[graft.operators.EventAnalytics.funnel]]:
    * per-key custom state via `flatMapGroupsWithState` emits each
    * key's funnel row once, when the event-time watermark passes
    * `anchor + withinUs` — at that point every event that could
    * participate in the chain has arrived (given the `delay`
    * out-of-orderness contract), so the emitted row EQUALS the batch
    * funnel on the same feed, spec-proven on replayed random streams.
    *
    * All four batch chain-advance `mode`s are supported — the timeout
    * replay applies the SAME deterministic rule as the batch fold
    * over the retained in-window events, which is sound because every
    * event a strict rule can inspect lies in `(t_{i-1}, candidate)`
    * ⊆ the anchor window (the candidate itself is in-window):
    *  - Greedy / StrictIncrease: `>=` vs `>` on the previous step time;
    *  - StrictOrder: the candidate must be the very next event — ANY
    *    retained event strictly between breaks the chain, so
    *    non-step (mask 0) events are retained too in this mode (the
    *    one mode whose state must hold them);
    *  - StrictDedup: a repeat of an already-matched condition strictly
    *    between breaks the chain (a repeat AT the candidate does not).
    *
    * Contracts and bounds:
    *  - `withinUs` must be finite here (the open-ended batch default
    *    has no finalization point a stream can reach);
    *  - exactness holds when event disorder stays within `delay` —
    *    the same caveat as every watermarked operator;
    *  - state per key is the retained event list, bounded by the
    *    events inside a `withinUs + delay` horizon (older events evict
    *    as the watermark passes them unless they sit inside the live
    *    anchor window), plus a 2-field tombstone after emission (one
    *    row per key, ever — a later second anchor epoch does NOT
    *    re-emit, where the batch funnel would fold it into the same
    *    single row anyway);
    *  - keys that never anchor clear their state as the watermark
    *    passes their events (an event-time timeout on the last
    *    retained event enforces it — without one,
    *    flatMapGroupsWithState never revisits a quiet key); keys
    *    whose window never closes before the feed ends emit on the
    *    next round over the same checkpoint once something advances
    *    the watermark (the observers' sequential AvailableNow
    *    cadence).
    *
    * Output mirrors the batch funnel: `(key, steps_completed,
    * step1_us .. stepK_us)` with the key cast to string (typed state
    * needs one concrete key type).
    */
  def streamingFunnel(events: DataFrame, key: Column, tsUs: Column,
      steps: Seq[Column], withinUs: Long, delay: String,
      mode: graft.operators.EventAnalytics.FunnelMode =
        graft.operators.EventAnalytics.FunnelMode.Greedy): DataFrame = {
    import graft.operators.EventAnalytics.FunnelMode
    require(steps.nonEmpty && steps.size <= 30,
      s"funnel needs 1..30 steps, got ${steps.size}")
    require(withinUs >= 0 && withinUs <= (1L << 60),
      s"withinUs must be a finite window in [0, 2^60], got $withinUs")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val k = steps.length
    val mask = steps.zipWithIndex.map { case (p, i) =>
      when(p, lit(1 << i)).otherwise(lit(0)) }
      .reduce((a, b) => a.bitwiseOR(b))
    val ev = events
      .select(key.cast("string").as("_k"), tsUs.cast("long").as("_ts"),
        mask.as("_mask"))
      .where(col("_k").isNotNull && col("_ts").isNotNull)
      .withColumn("_evt", timestamp_micros(col("_ts")))
      .withWatermark("_evt", delay)
    // non-step (mask 0) events are NOT filtered here: a deterministic
    // filter gets pushed below the EventTimeWatermark operator by the
    // optimizer, and then quiet-feed heartbeat events would never
    // advance the clock that closes windows — the state function skips
    // them instead
    def msOf(us: Long): Long = Math.floorDiv(us, 1000L)
    // the watermarked _evt column must survive into the stateful
    // operator's child (the event-time-timeout checker requires it);
    // the function itself reads only (_k, _ts, _mask)
    val out = ev.select(col("_k"), col("_ts"), col("_mask"), col("_evt"))
      .as[(String, Long, Int, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (kk, rows, state) =>
          val st = state.getOption.getOrElse(
            FunnelState(Long.MaxValue, emitted = false, Nil))
          if (st.emitted) {
            rows.size // drain; one emission per key, ever
            Iterator.empty
          } else if (state.hasTimedOut && st.t0 == Long.MaxValue) {
            // anchor-less timeout: it was set to the watermark passing
            // the LAST retained event, so no future anchor (which must
            // arrive at/above the watermark, at a ts <= the event's)
            // can use any of them — evict the whole state
            state.remove()
            Iterator.empty
          } else if (state.hasTimedOut) {
            // watermark passed t0 + withinUs: the chain is final —
            // replicate the batch fold (the selected mode's rule) over
            // the retained events
            val strict = mode != FunnelMode.Greedy
            var times = List(st.t0)
            var tPrev = st.t0
            var done = false
            (1 until k).foreach { i =>
              if (!done) {
                val cand = st.events.iterator
                  .filter(e => (e.mask & (1 << i)) != 0 &&
                    (if (strict) e.ts > tPrev else e.ts >= tPrev) &&
                    e.ts - st.t0 <= withinUs)
                  .map(_.ts).minOption
                val ti = cand.filter { b =>
                  mode match {
                    case FunnelMode.Greedy | FunnelMode.StrictIncrease =>
                      true
                    case FunnelMode.StrictOrder =>
                      // the candidate must be the very NEXT event: any
                      // retained event strictly between t_{i-1} and it
                      // breaks (all such events are in-window, so the
                      // retained list is complete for this check)
                      !st.events.exists(e => e.ts > tPrev && e.ts < b)
                    case FunnelMode.StrictDedup =>
                      // a repeat of an already-matched condition
                      // strictly between breaks; a repeat AT the
                      // candidate's timestamp does not (advance wins)
                      val dupMask = (1 << i) - 1
                      !st.events.exists(e => (e.mask & dupMask) != 0 &&
                        e.ts > tPrev && e.ts < b)
                  }
                }
                ti match {
                  case Some(t) => times ::= t; tPrev = t
                  case None => done = true
                }
              }
            }
            val completed = times.size
            val full = times.reverse ++
              List.fill(k - completed)(Long.MinValue)
            state.update(FunnelState(st.t0, emitted = true, Nil))
            Iterator.single(FunnelHit(kk, completed, full))
          } else {
            var t0 = st.t0
            var evs = st.events
            rows.foreach { case (_, ts, m, _) =>
              // step events always retain; StrictOrder also retains
              // non-step (mask 0) events — its "very next event" rule
              // is the one rule an unrelated event can break. In every
              // other mode heartbeats just tick the clock.
              if (m != 0 || mode == FunnelMode.StrictOrder) {
                if ((m & 1) != 0 && ts < t0) t0 = ts
                evs = FunnelEv(ts, m) :: evs
              }
            }
            // evict what no feasible chain can use: a FUTURE anchor
            // only lowers t0 (it is a min) and arrives at or above the
            // watermark, so once the watermark passes an event it
            // matters only inside the live anchor window
            val wm = state.getCurrentWatermarkMs()
            evs = evs.filter { e =>
              val inWindow = t0 != Long.MaxValue &&
                e.ts >= t0 && e.ts - t0 <= withinUs
              inWindow || wm <= 0L || msOf(e.ts) >= wm
            }
            if (t0 == Long.MaxValue && evs.isEmpty) state.remove()
            else {
              state.update(FunnelState(t0, emitted = false, evs))
              if (t0 != Long.MaxValue) {
                // fire once the watermark clears the window end; a
                // late-learned anchor whose window already closed fires
                // on the next clock tick
                val target = msOf(t0 + withinUs) + 1
                state.setTimeoutTimestamp(math.max(target, wm + 1))
              } else {
                // anchor-less retained events: flatMapGroupsWithState
                // never revisits a quiet key without a timeout, so set
                // one at the watermark passing the LAST retained event
                // — the timeout handler above then evicts the state
                // (without this, one-off keys accumulate state forever)
                val target = msOf(evs.iterator.map(_.ts).max) + 1
                state.setTimeoutTimestamp(math.max(target, wm + 1))
              }
            }
            Iterator.empty
          }
      }
    out.select(
      col("key") +: col("steps_completed") +:
        (0 until k).map { i =>
          val t = element_at(col("times"), i + 1)
          when(t =!= Long.MinValue, t).as(s"step${i + 1}_us")
        }: _*)
  }

  /** Custom keyed state (tera observers keep per-row processing state via
    * row locks; here arbitrary state via flatMapGroupsWithState):
    * running per-row cell counter emitted on every update.
    */
  def runningCellCounts(spark: SparkSession, feed: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    feed.select(col("row_key")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((key, total))
      }
  }
}
