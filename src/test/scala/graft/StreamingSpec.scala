package graft

import graft.model.{CellOp, OpType, TableDesc}
import graft.operators.Resolve
import graft.sources.CellLogStore
import graft.streaming.Observers
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Observer/notification pipeline (SURVEY §2.8) + write/compaction path. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ops(n: Int): Seq[CellOp] =
    (0 until n).map { i =>
      CellOp(s"r${i % 7}", if (i % 2 == 0) "cf1" else "cf2",
        s"q${i % 3}", 1000L + i, OpType.Value, s"v$i".getBytes, i.toLong)
    }

  test("observer sees only observed columns, exactly once, bucketed") {
    import spark.implicits._
    val logDir = tmp("celllog")
    val ckpt = tmp("ckpt")
    CellLogStore.append(ops(60).toDF(), logDir)

    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val q = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      columns = Seq(("cf1", "q0"), ("cf1", "q1")),
      checkpointDir = ckpt,
      buckets = 4) { (batch, _) =>
      collected ++= batch.select("row_key", "cf", "qualifier")
        .as[(String, String, String)].collect()
      val buckets = batch.select("bucket").distinct().as[Int].collect()
      assert(buckets.forall(b => b >= 0 && b < 4))
    }
    q.awaitTermination()

    val expected = ops(60)
      .filter(c => c.cf == "cf1" && (c.qualifier == "q0" || c.qualifier == "q1"))
      .map(c => (c.row_key, c.cf, c.qualifier))
    assert(collected.sorted == expected.sorted)

    // restart with same checkpoint: no new files -> no redelivery (the ack)
    val before = collected.size
    val q2 = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      Seq(("cf1", "q0"), ("cf1", "q1")), ckpt, 4) { (batch, _) =>
      collected ++= batch.select("row_key", "cf", "qualifier")
        .as[(String, String, String)].collect()
    }
    q2.awaitTermination()
    assert(collected.size == before)
  }

  test("processing-time observer picks up a second append without restart") {
    import spark.implicits._
    val logDir = tmp("cont-log")
    val ckpt = tmp("cont-ckpt")
    CellLogStore.append(ops(10).toDF(), logDir)

    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      columns = Seq(("cf1", "q0")), checkpointDir = ckpt, buckets = 4,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("250 milliseconds")) { (batch, _) =>
      batch.select("seq").as[Long].collect().foreach(s => seen.add(s))
    }
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!cond && System.nanoTime() < deadline && q.isActive)
        Thread.sleep(100)
      assert(cond, s"condition not met; seen=$seen")
    }
    try {
      val firstSeqs = ops(10)
        .filter(c => c.cf == "cf1" && c.qualifier == "q0").map(_.seq).toSet
      waitFor(firstSeqs.subsetOf(scala.jdk.CollectionConverters
        .SetHasAsScala(seen).asScala))
      // the observer is RESIDENT: a second append arrives with no restart
      // (the reference scanner's continuous rounds, scanner_impl.cc:244)
      CellLogStore.append(Seq(
        CellOp("r9", "cf1", "q0", 5000L, OpType.Value, "late".getBytes, 100L),
        CellOp("r9", "cf1", "q0", 5001L, OpType.Value, "late2".getBytes, 101L))
        .toDF(), logDir)
      waitFor(seen.contains(100L) && seen.contains(101L))
    } finally {
      q.stop()
      q.awaitTermination()
    }
  }

  test("second observer on the same checkpoint is refused while the first is active") {
    import spark.implicits._
    val logDir = tmp("guard-log")
    val ckpt = tmp("guard-ckpt")
    CellLogStore.append(ops(10).toDF(), logDir)

    val q = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      columns = Seq(("cf1", "q0")), checkpointDir = ckpt, buckets = 4,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("1 second")) { (_, _) => () }
    try {
      // a second consumer of the same checkpoint would race the offset
      // log and double-deliver — it must fail loudly, not start
      val ex = intercept[IllegalStateException] {
        Observers.observe(
          Observers.cellLogStream(spark, logDir),
          Seq(("cf1", "q0")), ckpt, 4) { (_, _) => () }
      }
      assert(ex.getMessage.contains("one checkpoint dir"))
    } finally {
      q.stop()
      q.awaitTermination()
    }
    // once the first terminates, the same checkpoint resumes cleanly
    // (sequential rounds are the normal AvailableNow cadence)
    val q2 = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      Seq(("cf1", "q0")), ckpt, 4) { (_, _) => () }
    q2.awaitTermination(60000)
    // clean termination releases the lock FILE too, so the next round
    // from a DIFFERENT JVM isn't refused against a dead consumer; the
    // async listener does the delete — allow it a moment
    val lock = new org.apache.hadoop.fs.Path(ckpt, "_graft_observer.lock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (fs.exists(lock) && System.nanoTime() < deadline) Thread.sleep(100)
    assert(!fs.exists(lock), "observer lock not released on termination")
  }

  test("observer stream over a binary-raw-key table keeps keys byte-exact") {
    import spark.implicits._
    val logDir = tmp("bin-obs-log")
    val ckpt = tmp("bin-obs-ckpt")
    val k = Array[Byte](0x00, 0x80.toByte, 0xFF.toByte)  // invalid UTF-8
    val t = Graft.createTable(spark, logDir,
      graft.model.TableDesc(rawKeyBinary = true),
      ops = Some(Set(OpType.Value)))
    t.put(Seq((k, "cf1", "q0", 1L, OpType.Value, "v".getBytes, 1L))
      .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq"))

    val seen = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val q = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      Seq(("cf1", "q0")), ckpt, 4) { (batch, _) =>
      seen ++= batch.select("row_key").collect().map(_.getAs[Array[Byte]](0))
    }
    q.awaitTermination(60000)
    assert(seen.length == 1 && java.util.Arrays.equals(seen(0), k),
      s"key mangled: ${seen.map(_.mkString(",")).mkString("; ")}")
  }

  test("observer maintains a secondary index incrementally (tera's canonical use)") {
    // the reference's flagship observer pattern: a trigger watches a
    // column and keeps an index table in sync (tpcc index tables +
    // observer framework). Observed batches carry STORAGE-space keys,
    // so SecondaryIndex.opsForBatch applies directly.
    val baseDir = tmp("obs-ix-base")
    val ixDir = tmp("obs-ix-idx")
    val ckpt = tmp("obs-ix-ckpt")
    val t = Graft.openTable(spark, baseDir)
    t.put(Seq(
      CellOp("r1", "c", "seg", 100, OpType.Value, "A".getBytes, 1),
      CellOp("r2", "c", "seg", 100, OpType.Value, "B".getBytes, 2)))
    val ix = Graft.createTable(spark, ixDir,
      ops = Some(Set(OpType.Value)))

    // second append lands BEFORE the observer run; the stream delivers
    // both files and the index materializes from the callbacks alone
    t.put(Seq(CellOp("r3", "c", "seg", 200, OpType.Value, "A".getBytes, 3)))

    val q = Observers.observe(
      Observers.cellLogStream(spark, baseDir),
      columns = Seq(("c", "seg")), checkpointDir = ckpt) { (batch, _) =>
      ix.put(graft.operators.SecondaryIndex.opsForBatch(
        batch.select("row_key", "cf", "qualifier", "ts", "op", "value", "seq"),
        "c", "seg"))
    }
    q.awaitTermination()

    def keys(v: String): Set[String] =
      t.lookupViaIndex(ix, "c", "seg", v).collect().map(_.getString(0)).toSet
    assert(keys("A") == Set("r1", "r3"))
    assert(keys("B") == Set("r2"))
  }

  test("scan hook sees before/after per round with delivered counts") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val logDir = tmp("celllog-hook")
    val ckpt = tmp("ckpt-hook")
    CellLogStore.append(ops(60).toDF(), logDir)

    val befores = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val afters = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val hook = new Observers.ScanHook {
      override def before(batchId: Long): Unit = befores.add(batchId)
      override def after(batchId: Long, rows: Long, ms: Long): Unit =
        afters.add((batchId, rows, ms))
    }
    val q = Observers.observe(
      Observers.cellLogStream(spark, logDir),
      columns = Seq(("cf1", "q0")), checkpointDir = ckpt,
      hook = Some(hook))((_, _) => ())
    q.awaitTermination()

    // the loop invoked the hook synchronously: every round paired,
    // delivered == the observed-column subset (cf1 ∧ q0 → i % 6 == 0)
    assert(befores.size() > 0 && befores.size() == afters.size())
    assert(befores.asScala.toSet == afters.asScala.map(_._1).toSet)
    assert(afters.asScala.map(_._2).sum == 10)
    assert(afters.asScala.forall(_._3 >= 0))
  }

  test("observer discovers only newly-appended mutations on resume (N2)") {
    import spark.implicits._
    val logDir = tmp("celllog-incr")
    val ckpt = tmp("ckpt-incr")
    CellLogStore.append(Seq(
      CellOp("r1", "cf1", "q0", 1, OpType.Value, "old".getBytes, 1)).toDF(), logDir)

    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = Observers.observe(Observers.cellLogStream(spark, logDir),
        Seq(("cf1", "q0")), ckpt, 4) { (batch, _) =>
        seen ++= batch.select("seq").as[Long].collect()
      }
      q.awaitTermination()
    }
    drain()
    assert(seen.sorted == Seq(1L))

    // a second group commit lands; resume sees exactly the new ops
    CellLogStore.append(Seq(
      CellOp("r2", "cf1", "q0", 2, OpType.Value, "new".getBytes, 2),
      CellOp("r3", "cf2", "q0", 2, OpType.Value, "other-cf".getBytes, 3)).toDF(), logDir)
    drain()
    assert(seen.sorted == Seq(1L, 2L))
  }

  test("notify-cell round trip: notify -> observe -> ack -> re-observe sees nothing") {
    import spark.implicits._
    val logDir = tmp("notifylog")
    val t = Graft.openTable(spark, logDir)

    // era 1: observed-column mutations + their in-txn notify cells
    val writes = Seq(
      CellOp("r1", "data", "url", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "data", "url", 101, OpType.Value, "b".getBytes, 2)).toDF()
    t.put(writes)
    t.put(Observers.notifyOps(writes, notifyTs = 100L, seqBase = 1L << 40))

    // observe: both rows pending, observed column unpacked
    val pending1 = Observers.pendingNotifications(t.log)
    assert(pending1.count() == 2)
    val row = pending1.where(col("row_key") === "r1").collect()(0)
    assert(row.getAs[String]("observed_cf") == "data" &&
      row.getAs[String]("observed_qualifier") == "url" &&
      row.getAs[String]("qualifier") == "data:url")

    // ack at the observer's start ts: tombstones all pending versions.
    // pending1 came FROM the log, so its keys are storage-space ->
    // putStored (put would re-hash them on a hashKeys table)
    t.putStored(Observers.ackOps(pending1, startTs = 150L, seqBase = 2L << 40))
    assert(Observers.pendingNotifications(t.log).count() == 0)

    // a LATER re-notification survives acks bounded at 150
    t.put(Observers.notifyOps(
      writes.where(col("row_key") === "r1"), notifyTs = 200L, seqBase = 3L << 40))
    val pending2 = Observers.pendingNotifications(t.log).collect()
    assert(pending2.length == 1 && pending2(0).getAs[String]("row_key") == "r1"
      && pending2(0).getAs[Long]("ts") == 200L)
  }

  test("observeNotifications runs the full discover -> deliver -> ack loop") {
    import spark.implicits._
    val logDir = tmp("autoack")
    // a HASHED table: regression for acks double-prefixing storage keys
    val t = Graft.createTable(spark, logDir,
      graft.model.TableDesc(hashKeys = true))
    val writes = Seq(
      CellOp("r1", "data", "url", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "data", "url", 101, OpType.Value, "b".getBytes, 2)).toDF()
    t.put(writes)
    // the notify frame's ids span its 4 shuffle partitions << 33
    t.put(Observers.notifyOps(writes, notifyTs = 100L,
      seqBase = CellLogStore.reserveSeqs(spark, logDir, 4L << 33)))

    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val afters = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val hook = new Observers.ScanHook {
      override def after(batchId: Long, rows: Long, ms: Long): Unit =
        afters.add((batchId, rows))
    }
    val q = Observers.observeNotifications(t, tmp("autoack-ckpt"),
        hook = Some(hook)) { batch =>
      // observers see STORAGE keys (the reference scanner reads the
      // stored, hash-prefixed row key too); unhash for the assertion
      seen ++= batch.collect().map(r =>
        graft.functions.Codecs.logicalKey(r.getString(0)))
    }
    q.awaitTermination(60000)
    assert(seen.sorted == Seq("r1", "r2"))
    // the hook saw the delivered round
    import scala.jdk.CollectionConverters._
    assert(afters.asScala.map(_._2).sum == 2)
    // the loop acked: nothing pending, no explicit ackOps call needed
    assert(Observers.pendingNotifications(t.log).count() == 0)
    // a fresh observer run re-delivers nothing (acks are DEL ops)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val q2 = Observers.observeNotifications(t, tmp("autoack-ckpt2")) { batch =>
      seen2 ++= batch.collect().map(_.getString(0))
    }
    q2.awaitTermination(60000)
    assert(seen2.isEmpty)
  }

  test("observe loop works over a BUCKETED table (stream + ack append)") {
    import spark.implicits._
    val logDir = tmp("bktobs")
    // bucketed files are plain parquet under the log dir, so the file
    // stream discovers them; acks append by path into the same bucketed
    // layout, and the next read lists them without any refresh
    val t = Graft.createTable(spark, logDir,
      graft.model.TableDesc(buckets = 4))
    val writes = Seq(
      CellOp("r1", "data", "url", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "data", "url", 101, OpType.Value, "b".getBytes, 2)).toDF()
    t.put(writes)
    // the notify frame's ids span its 4 shuffle partitions << 33
    t.put(Observers.notifyOps(writes, notifyTs = 100L,
      seqBase = CellLogStore.reserveSeqs(spark, logDir, 4L << 33)))

    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = Observers.observeNotifications(t, tmp("bktobs-ckpt")) { batch =>
      seen ++= batch.collect().map(_.getString(0))
    }
    q.awaitTermination(60000)
    assert(seen.sorted == Seq("r1", "r2"))
    assert(Observers.pendingNotifications(t.log).count() == 0)
    // the acks appended as bucketed files, not a clobbered layout
    assert(graft.sources.TableState.read(spark, logDir)
      .exists(_.desc.buckets == 4))
  }

  test("an observer acks on a bare log directory, with no table state") {
    import spark.implicits._
    val logDir = tmp("bareobs")
    val t = Graft.openTable(spark, logDir)
    val writes = Seq(
      CellOp("r1", "data", "url", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "data", "url", 101, OpType.Value, "b".getBytes, 2)).toDF()
    t.put(writes)
    t.put(Observers.notifyOps(writes, notifyTs = 100L,
      seqBase = CellLogStore.reserveSeqs(spark, logDir, 4L << 33)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = Observers.observeNotifications(t, tmp("bareobs-ckpt")) { batch =>
      seen ++= batch.collect().map(_.getString(0))
    }
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, q.exception)
    assert(seen.sorted == Seq("r1", "r2"))
    assert(Observers.pendingNotifications(t.log).count() == 0)
    // the directory stays bare: no state file was written for it
    assert(graft.sources.TableState.read(spark, logDir).isEmpty)
  }

  test("an observer keeps acking when the log's max seq is in the last seq era") {
    import spark.implicits._
    val logDir = tmp("lastera")
    val t = Graft.createTable(spark, logDir)
    // caller-supplied seqs in the last 2^50-wide era a signed Long holds
    val last = 8191L << 50
    val writes = Seq(
      CellOp("r1", "data", "url", 100, OpType.Value, "a".getBytes, last + 1),
      CellOp("r2", "data", "url", 101, OpType.Value, "b".getBytes, last + 2)).toDF()
    t.put(writes)
    val ckpt = tmp("lastera-ckpt")
    for (round <- 1 to 3) {
      // each round re-notifies both rows above every seq so far
      t.put(Observers.notifyOps(writes, notifyTs = 100L * round,
        seqBase = last + (round.toLong << 40)))
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = Observers.observeNotifications(t, ckpt) { batch =>
        seen ++= batch.collect().map(_.getString(0))
      }
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception)
      assert(seen.sorted == Seq("r1", "r2"), s"round $round")
      // the acks ordered above the notify cells: nothing pending
      assert(Observers.pendingNotifications(t.log).count() == 0, s"round $round")
    }
    assert(t.log.agg(min(col("seq"))).collect()(0).getLong(0) > last)
  }

  /** One delivering observer round of `t` (two notified rows): the
    * jobs it starts and the plans of its SQL executions. */
  private def deliveringRound(t: GraftTable, writes: DataFrame, ckpt: String,
      notifyTs: Long, seqBase: Long): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    t.put(Observers.notifyOps(writes, notifyTs, seqBase))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    val hook = new Observers.ScanHook {
      override def after(batchId: Long, rows: Long, ms: Long): Unit =
        delivered.addAndGet(rows)
    }
    org.apache.spark.sql.graft.Shim.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val (_, jobs) =
      try JobCount.during(spark) {
        Observers.observeNotifications(t, ckpt, hook = Some(hook))(_ => ())
          .awaitTermination(60000)
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(delivered.get() == 2, t.desc)
    assert(Observers.pendingNotifications(t.log).count() == 0, t.desc)
    (jobs, plans.asScala.toSeq)
  }

  private def notifiedTable(desc: TableDesc, name: String): (GraftTable, DataFrame) = {
    import spark.implicits._
    val t = Graft.createTable(spark, tmp(name), desc)
    val writes = Seq(
      CellOp("r1", "data", "url", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "data", "url", 101, OpType.Value, "b".getBytes, 2)).toDF()
    t.put(writes)
    (t, writes)
  }

  test("a delivering observer round runs no max(seq) job and no Spark write for its acks") {
    for (desc <- Seq(TableDesc(), TableDesc(buckets = 4))) {
      val (t, writes) = notifiedTable(desc, "ackjobs")
      val ckpt = tmp("ackjobs-ckpt")
      // the first ack reservation seeds the table's seq counter
      deliveringRound(t, writes, ckpt, 100L, 1L << 40)
      val (jobs, plans) = deliveringRound(t, writes, ckpt, 200L, 2L << 40)
      assert(!plans.exists(_.contains("InsertIntoHadoopFsRelationCommand")),
        s"$desc: the acks took a Spark write")
      assert(!plans.exists(_.contains("max(seq")), s"$desc: a max(seq) job ran")
      info(s"buckets=${desc.buckets}: $jobs jobs in a delivering round")
    }
  }

  test("a delivering observer round on a flat table runs no tombstone-count job") {
    val (t, writes) = notifiedTable(TableDesc(), "ackcount")
    val ckpt = tmp("ackcount-ckpt")
    deliveringRound(t, writes, ckpt, 100L, 1L << 40)
    val (_, plans) = deliveringRound(t, writes, ckpt, 200L, 2L << 40)
    // resolving the pending set with a declared op-set, no stored hint
    // and no row_key clustering must not count its ack tombstones
    val counts = plans.filter(_.contains("count(1)"))
    assert(counts.isEmpty, counts.mkString("\n---\n"))
  }

  test("event-time windows with watermark over the change feed") {
    import spark.implicits._
    val logDir = tmp("celllog-win")
    // two one-hour buckets of VALUE cells
    val hour = 3600L * 1000000L
    val cells = (0 until 20).map { i =>
      CellOp("r1", "ev", "click", (if (i < 12) 0L else hour) + i * 1000L,
        OpType.Value, Array[Byte](1), i.toLong)
    }
    CellLogStore.append(cells.toDF(), logDir)

    val agg = Observers.windowedCounts(
      Observers.cellLogStream(spark, logDir),
      window_ = "1 hour", slide = None, watermark = "10 minutes")
    val q = agg.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val res = spark.sql("SELECT cnt FROM win_counts ORDER BY window_start")
      .as[Long].collect().toSeq
    assert(res == Seq(12L, 8L))
  }

  test("streaming dedup drops re-delivered duplicates within the watermark") {
    import spark.implicits._
    val logDir = tmp("deduplog")
    // 30 distinct cells, each delivered twice (re-delivery ts +1s)
    val once = (0 until 30).map(i =>
      CellOp(s"r$i", "cf", "q", 1000000L * i, OpType.Value, s"v$i".getBytes, i.toLong))
    val dups = once.map(c => c.copy(ts = c.ts + 1000000L, seq = c.seq + 100))
    CellLogStore.append((once ++ dups).toDF(), logDir)

    val q = Observers.streamingDedup(
        Observers.cellLogStream(spark, logDir),
        fingerprintCols = Seq("row_key", "cf", "qualifier", "value"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("deduped")
      .option("checkpointLocation", tmp("dedup-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.sql("SELECT row_key FROM deduped").collect().map(_.getString(0))
    assert(out.length == 30 && out.toSet.size == 30)
  }

  test("streaming near-dup matches vs a static corpus index, zero state") {
    import spark.implicits._
    val dir = tmp("incdedup-stream")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((100L, base),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    // the persisted corpus index, grown by APPEND (base doc written,
    // second doc appended with the sidecar's own parameters): the
    // stream rides exactly the index a continuous pipeline accumulates,
    // and the batch/stream signature differential extends through the
    // append path (signatures are bit-identical either way — proven
    // directly in PipelineOpsSpec's append lifecycle test)
    val ixDir = tmp("incdedup-index")
    graft.operators.Dedup.writeMinhashIndex(
      corpus.where(col("doc_id") === 100L), ixDir)
    graft.operators.Dedup.appendToMinhashIndex(
      corpus.where(col("doc_id") === 101L), ixDir)
    val signed = spark.read.parquet(ixDir)
    // stream: an exact copy, a near copy, a clean doc, a short doc
    Seq((1L, base), (2L, base + " lambda"),
        (3L, "unrelated totally different words entirely written here"),
        (4L, "too short")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(dir)
    val q = Observers.streamingNearDupMatches(stream, signed, threshold = 0.5)
      .writeStream.format("memory").queryName("incmatches")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // the stateless claim IS the design: no stateful operator ran
    assert(q.lastProgress.stateOperators.isEmpty,
      q.lastProgress.prettyJson)
    val got = spark.sql("SELECT DISTINCT doc_id, corpus_id FROM incmatches")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 100L)), got.toString)
    // the exact copy's estimate is exactly 1.0 (identical signatures)
    val est = spark.sql(
      "SELECT max(est_jaccard) FROM incmatches WHERE doc_id = 1")
      .head.getDouble(0)
    assert(est == 1.0, s"est=$est")

    // batch close of the loop: verifyMatches re-scores the matched feed
    // with EXACT Jaccard — stream-match → verify equals a direct
    // minhashNearDuplicatesBetween run on the same data, values included
    val newDocs = spark.read.parquet(dir)
    val verified = graft.operators.Dedup.verifyMatches(
        spark.table("incmatches"), newDocs, corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = graft.operators.Dedup.minhashNearDuplicatesBetween(
        newDocs, corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(verified == direct && direct.nonEmpty, s"$verified vs $direct")
  }

  test("streaming simhash matches: stateless, exact distances, equals the batch index match") {
    import spark.implicits._
    val dir = tmp("simhash-stream")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((100L, base),
      (101L, "phi chi psi omega one two three four five six seven eight " +
        "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    // store built through the lifecycle (write + append)
    val ixDir = tmp("simhash-stream-ix")
    graft.operators.Dedup.writeSimhashIndex(
      corpus.where(col("doc_id") === 100L), ixDir)
    graft.operators.Dedup.appendToSimhashIndex(
      corpus.where(col("doc_id") === 101L), ixDir)
    val fps = graft.operators.Dedup.readSimhashIndex(spark, ixDir)
    // stream: an exact copy, a near copy (two tokens swapped), a clean doc
    Seq((1L, base), (2L, base.replace("alpha beta", "zz1 zz2")),
        (3L, "unrelated totally different words entirely written here now"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(dir)
    val q = Observers.streamingSimhashMatches(stream, fps, maxDistance = 16)
      .writeStream.format("memory").queryName("shmatches")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    val got = spark
      .sql("SELECT DISTINCT doc_id, corpus_id, distance FROM shmatches")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // differential: the batch index match over the same data
    val batch = graft.operators.Dedup.matchAgainstSimhashIndex(
        spark.read.parquet(dir), ixDir, maxDistance = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == batch, s"$got vs $batch")
    // the exact copy matched its source at distance exactly 0
    assert(got.contains((1L, 100L, 0)))
    // the near copy matched the same source at a small nonzero distance
    assert(got.exists { case (d, c, dist) => d == 2L && c == 100L && dist > 0 })
  }

  test("streaming edit matches: stateless, exact distances, equals the batch between-join") {
    import spark.implicits._
    val dir = tmp("edit-stream")
    val corpus = Seq((100L, "conference"), (101L, "statistics"),
      (102L, "zebra")).toDF("doc_id", "s")
    // stream: an exact copy, one edit, two edits, three edits (out of
    // bound at tau=2), and an unrelated string
    Seq((1L, "conference"), (2L, "conferende"), (3L, "cnferenceX"),
        (4L, "cnfxrenceX"), (5L, "acrobatics"))
      .toDF("doc_id", "s")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id LONG, s STRING").parquet(dir)
    val q = Observers.streamingEditMatches(stream, corpus, maxDistance = 2)
      .writeStream.format("memory").queryName("editmatches")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    val got = spark
      .sql("SELECT DISTINCT doc_id, corpus_id, distance FROM editmatches")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.operators.StringJoin.editMatchesBetween(
        spark.read.parquet(dir), corpus, maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == batch, s"$got vs $batch")
    assert(got.contains((1L, 100L, 0)))
    assert(got.contains((2L, 100L, 1)))
    assert(got.contains((3L, 100L, 2)))
    assert(!got.exists(_._1 == 4L) && !got.exists(_._1 == 5L), got.toString)
  }

  test("stream-static interval join: stateless, equals the batch band join") {
    import spark.implicits._
    val dir = tmp("ivj-stream")
    val corpus = Seq((10L, 100L, "a"), (11L, 150L, "b"), (12L, 305L, "c"),
      (13L, 95L, "d")).toDF("rid", "rts", "rv")
    Seq((1L, 100L), (2L, 200L), (3L, 400L)).toDF("lid", "ts")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("lid LONG, ts LONG").parquet(dir)
    val q = graft.operators.IntervalJoin.join(stream, corpus, key = None,
        leftTs = "ts", rightTs = "rts", lowerUs = -50L, upperUs = 60L,
        carried = Seq("rid"))
      .writeStream.format("memory").queryName("ivjoin")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    val got = spark.sql("SELECT lid, rid FROM ivjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.IntervalJoin.join(
        spark.read.parquet(dir), corpus, None, "ts", "rts", -50L, 60L,
        Seq("rid"))
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch && got.nonEmpty, s"$got vs $batch")
  }

  test("stream-stream interval join: watermark-bounded state, equals the batch band join") {
    import spark.implicits._
    val ldir = tmp("ivj2-left")
    val rdir = tmp("ivj2-right")
    // band [-50, +60] around each left ts; pairs straddle bucket
    // boundaries (width 110) and include a no-match on each side
    Seq((1L, 100L), (2L, 200L), (3L, 400L), (4L, 999L)).toDF("lid", "ts")
      .write.mode("overwrite").parquet(ldir)
    Seq((10L, 100L, "a"), (11L, 150L, "b"), (12L, 305L, "c"),
      (13L, 95L, "d"), (14L, 700L, "e"))
      .toDF("rid", "rts", "rv")
      .write.mode("overwrite").parquet(rdir)
    val ls = spark.readStream.schema("lid LONG, ts LONG").parquet(ldir)
    val rs = spark.readStream.schema("rid LONG, rts LONG, rv STRING")
      .parquet(rdir)
    val q = graft.operators.IntervalJoin.joinStreams(ls, rs, key = None,
        leftTs = "ts", rightTs = "rts", lowerUs = -50L, upperUs = 60L,
        carried = Seq("rid"), delay = "1 hour")
      .writeStream.format("memory").queryName("ivj2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // stateful by design — the symmetric hash join holds both sides'
    // in-band rows; the watermark + band bound that state
    assert(q.lastProgress.stateOperators.nonEmpty, q.lastProgress.prettyJson)
    val got = spark.sql("SELECT lid, rid FROM ivj2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.IntervalJoin.join(
        spark.read.parquet(ldir), spark.read.parquet(rdir), None,
        "ts", "rts", -50L, 60L, Seq("rid"))
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch && got.nonEmpty, s"$got vs $batch")
    assert(!got.exists(_._1 == 4L) && !got.exists(_._2 == 14L), got.toString)
  }

  test("stream-stream interval join: keyed variant matches the keyed batch join") {
    import spark.implicits._
    val ldir = tmp("ivj3-left")
    val rdir = tmp("ivj3-right")
    // same timestamps, two keys — the key equality must prune the
    // cross-key in-band pairs the band alone would admit
    Seq(("k1", 1L, 100L), ("k2", 2L, 100L), ("k1", 3L, 300L))
      .toDF("k", "lid", "ts").write.mode("overwrite").parquet(ldir)
    Seq(("k1", 10L, 120L), ("k2", 11L, 120L), ("k1", 12L, 310L))
      .toDF("k", "rid", "rts").write.mode("overwrite").parquet(rdir)
    val ls = spark.readStream.schema("k STRING, lid LONG, ts LONG")
      .parquet(ldir)
    val rs = spark.readStream.schema("k STRING, rid LONG, rts LONG")
      .parquet(rdir)
    val q = graft.operators.IntervalJoin.joinStreams(ls, rs,
        key = Some("k"), leftTs = "ts", rightTs = "rts",
        lowerUs = 0L, upperUs = 30L, carried = Seq("rid"),
        delay = "1 hour")
      .writeStream.format("memory").queryName("ivj3")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT lid, rid FROM ivj3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.IntervalJoin.join(
        spark.read.parquet(ldir), spark.read.parquet(rdir), Some("k"),
        "ts", "rts", 0L, 30L, Seq("rid"))
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, s"$got vs $batch")
    assert(got == Set((1L, 10L), (2L, 11L), (3L, 12L)), got.toString)
  }

  test("stream-stream interval join: random feeds equal the batch join (differential)") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    // several band shapes incl. negative-only and zero-width; multiple
    // parquet files per side force multi-batch AvailableNow processing
    for (((lo, hi), round) <- Seq((-50L, 60L), (-40L, -10L), (0L, 0L),
        (25L, 90L)).zipWithIndex) {
      val ldir = tmp(s"ivjf-l$round")
      val rdir = tmp(s"ivjf-r$round")
      val left = Seq.fill(300)((rng.nextInt(1000).toLong,
        rng.nextInt(5000).toLong))
        .zipWithIndex.map { case ((_, ts), i) => (i.toLong, ts) }
      val right = Seq.fill(300)((rng.nextInt(1000).toLong,
        rng.nextInt(5000).toLong))
        .zipWithIndex.map { case ((_, ts), i) => (i.toLong + 1000L, ts) }
      left.toDF("lid", "ts").repartition(3)
        .write.mode("overwrite").parquet(ldir)
      right.toDF("rid", "rts").repartition(3)
        .write.mode("overwrite").parquet(rdir)
      val ls = spark.readStream.schema("lid LONG, ts LONG").parquet(ldir)
      val rs = spark.readStream.schema("rid LONG, rts LONG").parquet(rdir)
      val q = graft.operators.IntervalJoin.joinStreams(ls, rs, key = None,
          leftTs = "ts", rightTs = "rts", lowerUs = lo, upperUs = hi,
          carried = Seq("rid"), delay = "1 hour")
        .writeStream.format("memory").queryName(s"ivjf$round")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.sql(s"SELECT lid, rid FROM ivjf$round")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // ground truth from first principles, not from the batch operator
      val brute = (for {
        (lid, ts) <- left; (rid, rts) <- right
        if rts >= ts + lo && rts <= ts + hi
      } yield (lid, rid)).toSet
      assert(got == brute, s"band [$lo,$hi]: ${got.size} vs ${brute.size}")
      assert(round > 0 || got.nonEmpty)
    }
  }

  test("streaming funnel equals the batch funnel once the watermark closes windows") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    val dir = tmp("funnel-stream")
    val ckpt = tmp("funnel-ckpt")
    val rng = new scala.util.Random(41)
    val types = Seq("A", "B", "C", "X")
    // dense random feed: plenty of ties, duplicates, and mid-chain noise
    val events = Seq.fill(2000)((rng.nextInt(40).toLong,
      rng.nextInt(5000).toLong * 1000, types(rng.nextInt(types.size))))
    events.toDF("k", "ts", "typ").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val within = 400000L
    val steps = Seq(col("typ") === "A", col("typ") === "B",
      col("typ") === "C")
    val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def round(): Unit = {
      val stream = spark.readStream.schema("k LONG, ts LONG, typ STRING")
        .parquet(dir)
      val q = Observers.streamingFunnel(stream, col("k"), col("ts"), steps,
          withinUs = within, delay = "10 seconds")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          results.synchronized { results ++= b.collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    round()
    // flush round: one far-future NON-step event pushes the watermark
    // past every live window; the same checkpoint resumes, timers fire
    Seq((999L, 100000000L * 1000, "X")).toDF("k", "ts", "typ")
      .write.mode("append").parquet(dir)
    round() // timers fire in this round's trailing no-data batch
    val got = results
      .map(r => r.getString(0) -> (r.getInt(1), (2 to 4).map(i =>
        if (r.isNullAt(i)) None else Some(r.getLong(i))).toSeq))
      .toMap
    assert(results.size == got.size, "a key emitted twice")
    val batch = EventAnalytics.funnel(spark.read.parquet(dir),
        col("k"), col("ts"), steps, withinUs = within)
      .collect()
      .map(r => r.getLong(0).toString -> (r.getInt(1), (2 to 4).map(i =>
        if (r.isNullAt(i)) None else Some(r.getLong(i))).toSeq))
      .toMap
    assert(got == batch, s"${got.size} streamed vs ${batch.size} batch keys")
    assert(got.nonEmpty && got.values.exists(_._1 > 1))
  }

  test("stream-stream LEFT-OUTER interval join equals the batch left-outer (differential)") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val ldir = tmp("ivjo-left")
    val rdir = tmp("ivjo-right")
    val ckpt = tmp("ivjo-ckpt")
    val (lo, hi) = (-50L, 60L)
    val left = (0 until 250).map(i => (i.toLong,
      rng.nextInt(5000).toLong * 1000))
    val right = (0 until 250).map(i => (i.toLong + 1000L,
      rng.nextInt(5000).toLong * 1000))
    left.toDF("lid", "ts").repartition(3)
      .write.mode("overwrite").parquet(ldir)
    right.toDF("rid", "rts").repartition(3)
      .write.mode("overwrite").parquet(rdir)
    val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def round(): Unit = {
      val ls = spark.readStream.schema("lid LONG, ts LONG").parquet(ldir)
      val rs = spark.readStream.schema("rid LONG, rts LONG").parquet(rdir)
      val q = graft.operators.IntervalJoin.joinStreams(ls, rs, key = None,
          leftTs = "ts", rightTs = "rts", lowerUs = lo, upperUs = hi,
          carried = Seq("rid"), delay = "1 second",
          joinType = "left_outer")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          results.synchronized { results ++= b.select("lid", "rid").collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    round()
    // flush: far-future rows on BOTH sides push the global watermark
    // past every left row's match horizon so the unmatched nulls emit
    // (their own timestamps are band-disjoint across sides)
    Seq((9999L, 100000000L * 1000)).toDF("lid", "ts")
      .write.mode("append").parquet(ldir)
    Seq((9998L, 200000000L * 1000)).toDF("rid", "rts")
      .write.mode("append").parquet(rdir)
    round()
    // the left flush row's own horizon never closes (nothing advances
    // the watermark past it) — exclude it from the comparison; every
    // ORIGINAL left row must agree exactly
    val got = results
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .filter(_._1 != 9999L)
      .groupBy(identity).view.mapValues(_.size).toMap
    val batch = graft.operators.IntervalJoin.join(
        spark.read.parquet(ldir), spark.read.parquet(rdir), None,
        "ts", "rts", lo, hi, Seq("rid"), joinType = "left_outer")
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .filter(_._1 != 9999L)
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == batch, s"${got.size} streamed vs ${batch.size} batch")
    // the outer rows actually materialized
    assert(got.keys.exists(_._2.isEmpty), "no null-carried rows emitted")
    assert(got.keys.exists(_._2.nonEmpty))
  }

  test("stream-stream FULL-OUTER interval join equals the batch full-outer (differential)") {
    import spark.implicits._
    val rng = new scala.util.Random(59)
    val ldir = tmp("ivjfo-left")
    val rdir = tmp("ivjfo-right")
    val ckpt = tmp("ivjfo-ckpt")
    val (lo, hi) = (-50L, 60L)
    // sparser than the left-outer feed so BOTH unmatched kinds occur
    val left = (0 until 150).map(i => (i.toLong,
      rng.nextInt(20000).toLong * 1000))
    val right = (0 until 150).map(i => (i.toLong + 1000L,
      rng.nextInt(20000).toLong * 1000))
    left.toDF("lid", "ts").repartition(3)
      .write.mode("overwrite").parquet(ldir)
    right.toDF("rid", "rts").repartition(3)
      .write.mode("overwrite").parquet(rdir)
    val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def round(): Unit = {
      val ls = spark.readStream.schema("lid LONG, ts LONG").parquet(ldir)
      val rs = spark.readStream.schema("rid LONG, rts LONG").parquet(rdir)
      val q = graft.operators.IntervalJoin.joinStreams(ls, rs, key = None,
          leftTs = "ts", rightTs = "rts", lowerUs = lo, upperUs = hi,
          carried = Seq("rid"), delay = "1 second",
          joinType = "full_outer")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          results.synchronized { results ++= b.select("lid", "rid").collect() }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    round()
    // flush rows on BOTH sides close every original row's horizon; the
    // flush rows' own horizons never close — exclude them
    Seq((9999L, 100000000L * 1000)).toDF("lid", "ts")
      .write.mode("append").parquet(ldir)
    Seq((9998L, 200000000L * 1000)).toDF("rid", "rts")
      .write.mode("append").parquet(rdir)
    round()
    def keyOf(r: org.apache.spark.sql.Row) = (
      if (r.isNullAt(0)) None else Some(r.getLong(0)),
      if (r.isNullAt(1)) None else Some(r.getLong(1)))
    val got = results.map(keyOf)
      .filter(p => !p._1.contains(9999L) && !p._2.contains(9998L))
      .groupBy(identity).view.mapValues(_.size).toMap
    val batch = graft.operators.IntervalJoin.join(
        spark.read.parquet(ldir), spark.read.parquet(rdir), None,
        "ts", "rts", lo, hi, Seq("rid"), joinType = "full_outer")
      .select("lid", "rid").collect().map(keyOf)
      .filter(p => !p._1.contains(9999L) && !p._2.contains(9998L))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == batch, s"${got.size} streamed vs ${batch.size} batch")
    // all three row kinds materialized
    assert(got.keys.exists(_._1.isEmpty), "no unmatched-right rows emitted")
    assert(got.keys.exists(_._2.isEmpty), "no unmatched-left rows emitted")
    assert(got.keys.exists(p => p._1.nonEmpty && p._2.nonEmpty))
  }

  test("streaming strict-mode funnels equal their batch twins (differential)") {
    import graft.operators.EventAnalytics
    import graft.operators.EventAnalytics.FunnelMode
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val types = Seq("A", "B", "C", "X")
    // window sweep: a tight window exercises the in-window eviction
    // rule, a wide one the chain-length extremes — ON TOP of the mode
    // sweep (StrictOrder gets both windows, the costliest state shape)
    for ((mode, tag, within) <- Seq(
        (FunnelMode.StrictIncrease, "inc", 800000L),
        (FunnelMode.StrictOrder, "ord", 800000L),
        (FunnelMode.StrictOrder, "ordw", 200000L),
        (FunnelMode.StrictDedup, "ded", 800000L),
        (FunnelMode.StrictDedup, "dedw", 3000000L))) {
      val dir = tmp(s"funnel-$tag")
      val ckpt = tmp(s"funnel-$tag-ckpt")
      // coarse timestamps force ties; X rows are mid-chain noise that
      // only StrictOrder may break on. Timestamps start at 10000, not
      // 0: an epoch-0 event is dropped as late by the initial
      // watermark's ts <= wm(=0) boundary — a 1970-only artifact no
      // real feed hits, not an operator property under test
      val events = Seq.fill(1500)((rng.nextInt(30).toLong,
        (rng.nextInt(400).toLong + 1) * 10000, types(rng.nextInt(types.size))))
      events.toDF("k", "ts", "typ").repartition(3)
        .write.mode("overwrite").parquet(dir)
      val steps = Seq(col("typ") === "A", col("typ") === "B",
        col("typ") === "C")
      val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      def round(): Unit = {
        val stream = spark.readStream.schema("k LONG, ts LONG, typ STRING")
          .parquet(dir)
        val q = Observers.streamingFunnel(stream, col("k"), col("ts"),
            steps, withinUs = within, delay = "10 seconds", mode = mode)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            results.synchronized { results ++= b.collect() }; ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      round()
      Seq((999L, 100000000L * 1000, "X")).toDF("k", "ts", "typ")
        .write.mode("append").parquet(dir)
      round()
      val got = results
        .map(r => r.getString(0) -> (r.getInt(1), (2 to 4).map(i =>
          if (r.isNullAt(i)) None else Some(r.getLong(i))).toSeq))
        .toMap
      assert(results.size == got.size, s"$tag: a key emitted twice")
      val batch = EventAnalytics.funnel(spark.read.parquet(dir),
          col("k"), col("ts"), steps, withinUs = within, mode = mode)
        .collect()
        .map(r => r.getLong(0).toString -> (r.getInt(1), (2 to 4).map(i =>
          if (r.isNullAt(i)) None else Some(r.getLong(i))).toSeq))
        .toMap
      assert(got == batch,
        s"$tag: ${got.size} streamed vs ${batch.size} batch keys")
      assert(got.nonEmpty && got.values.exists(_._1 > 1), tag)
    }
  }

  test("streaming contamination matches agree with the batch decontaminate verdict") {
    import spark.implicits._
    val dir = tmp("contam-stream")
    val bench = Seq(
      (900L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    // stream: one doc leaking a benchmark trigram, one clean, one short
    Seq((1L, "we observed the quick brown fox in the wild yesterday"),
        (2L, "completely unrelated clean text with no leaks present"),
        (3L, "too short")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(dir)
    val q = Observers.streamingContaminationMatches(stream, bench)
      .writeStream.format("memory").queryName("contam")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    val flagged = spark.sql("SELECT DISTINCT doc_id FROM contam")
      .collect().map(_.getLong(0)).toSet
    // batch verdict on the same data: the docs decontaminate DROPS are
    // exactly the docs the stream flags
    val docs = spark.read.parquet(dir)
    val kept = graft.operators.TextAnalysis.decontaminate(docs, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == all -- kept, s"stream $flagged vs batch ${all -- kept}")
    assert(flagged == Set(1L))
  }

  test("streaming semantic matches ride the stored IVF index, stateless and exact") {
    import spark.implicits._
    val dir = tmp("semstream")
    // corpus: 40 deterministic 8-dim vectors, persisted as an IVF index
    // grown by append (base write + append, like a real accumulation)
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(j => (((seed * 31 + j * 7) % 13) - 6).toFloat / 6f)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val ixDir = tmp("semstream-idx")
    graft.operators.Similarity.writeIvfIndex(
      corpus.where(col("vec_id") < 20), ixDir, dim = 8, nlist = 4, iters = 2)
    graft.operators.Similarity.appendToIvfIndex(
      corpus.where(col("vec_id") >= 20), ixDir)
    // stream: exact copies of two corpus vectors (fresh ids), one clean
    // vector, one zero vector, one wrong-width vector
    (Seq((100L, vec(3)), (101L, vec(17)),
        (102L, Array.tabulate(8)(j => if (j == 0) 1f else -1f)),
        (103L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
      .unionByName(Seq((104L, Array.fill(4)(1f))).toDF("vec_id", "embedding")))
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(dir)
    val q = Observers.streamingSemanticMatches(stream, ixDir,
        threshold = 0.99, nprobe = 2)
      .writeStream.format("memory").queryName("semmatches")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    // no DISTINCT needed: one stored cell per corpus vector means a
    // pair can join at most once — row count == pair count
    val rows = spark.sql("SELECT vec_id, corpus_id, cosine FROM semmatches")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == rows.map(t => (t._1, t._2)).distinct.length)
    // exact copies match their source at cosine 1.0 (± an ulp of the
    // float->double fold); the zero and wrong-width rows never surface
    val exactCopies = rows.filter(t => t._1 == 100L || t._1 == 101L)
    assert(exactCopies.exists(t => t._1 == 100L && t._2 == 3L && t._3 > 0.9999)
      && exactCopies.exists(t => t._1 == 101L && t._2 == 17L && t._3 > 0.9999),
      rows.mkString(", "))
    assert(!rows.exists(t => t._1 == 103L || t._1 == 104L))
    // stream-match ≡ batch-match on the same data (same candidate rule,
    // same exact verify — no estimate gap to close, unlike the minhash
    // twin's quarantine feed)
    val batchRows = graft.operators.Dedup.semanticMatchesAgainstIndex(
        spark.read.parquet(dir).where(size(col("embedding")) === 8),
        ixDir, threshold = 0.99, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(t => (t._1, t._2)).toSet == batchRows)
  }

  test("streaming curation gate: quality + language + watermarked dedup") {
    import spark.implicits._
    val dir = tmp("curate-stream")
    val docs = Seq(
      (1L, "the house of the rising sun and more words here", 1000L), // good en
      (2L, "el la de que y el la de que y", 2000L),                   // spanish
      (3L, "short", 3000L),                                           // too short
      (4L, "the house of the rising sun and more words here", 4000L), // dup of 1
      (5L, "a completely different english text with the a of and is", 5000L)
    ).toDF("doc_id", "text", "ts")
    docs.write.mode("overwrite").parquet(dir)
    val q = Observers.streamingCurate(
        spark.readStream.schema(docs.schema).parquet(dir))
      .writeStream.format("memory").queryName("curated")
      .option("checkpointLocation", tmp("curate-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.sql("SELECT doc_id FROM curated")
      .collect().map(_.getLong(0)).toSet
    // spanish and too-short dropped; exactly one of the duplicate pair
    // survives (first-arrival-wins inside one micro-batch is unordered)
    assert(out.contains(5L) && out.size == 2 &&
      (out - 5L).subsetOf(Set(1L, 4L)), out.toString)
  }

  test("streaming attrition counts mirror the batch gate labels") {
    import spark.implicits._
    val dir = tmp("attrition-stream")
    val docs = Seq(
      (1L, "the house of the rising sun and more words here", 1000L), // kept
      (2L, "el la de que y el la de que y", 2000L),                   // lang
      (3L, "short", 3000L),                                           // short
      (4L, "the house with a very big id of the and is words", 4000L),// odd_id gate
      (5L, "a completely different english text with the a of and is", 5000L)
    ).toDF("doc_id", "text", "ts")
    // one file -> one micro-batch, so update mode emits each
    // (window, stage) count exactly once (the hour window never closes
    // at these 1970-epoch test timestamps, so append would emit nothing)
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = Observers.streamingCurationAttrition(
        spark.readStream.schema(docs.schema).parquet(dir),
        extraGates = Seq("odd_id" -> (col("doc_id") % 2 === 1)))
      .writeStream.format("memory").queryName("attrition")
      .outputMode("update")
      .option("checkpointLocation", tmp("attrition-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val counts = spark.sql("SELECT stage, max(docs) FROM attrition GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // doc 4 passes the built-ins but has an even id -> the caller gate
    // label; docs 1 and 5 are odd-id and pass everything
    assert(counts == Map("kept" -> 2L, "lang" -> 1L, "short" -> 1L,
      "odd_id" -> 1L), counts.toString)
  }

  test("compaction preserves resolved state and drops folded history") {
    import spark.implicits._
    val logDir = tmp("celllog-compact")
    val log = Seq(
      CellOp("r1", "cf", "q", 10, OpType.Value, "old".getBytes, 1),
      CellOp("r1", "cf", "q", 20, OpType.Value, "new".getBytes, 2),
      CellOp("r2", "cf", "q", 10, OpType.Add,
        graft.functions.Codecs.encodeBE64(5), 3),
      CellOp("r2", "cf", "q", 20, OpType.Add,
        graft.functions.Codecs.encodeBE64(7), 4),
      CellOp("r3", "cf", "q", 10, OpType.Value, "dead".getBytes, 5),
      CellOp("r3", "cf", "q", 50, OpType.DelRow, null, 6))
    CellLogStore.append(log.toDF(), logDir)

    val outDir = tmp("celllog-compacted")
    CellLogStore.compact(spark, logDir, outDir)

    def state(dir: String): Set[(String, Long, String)] =
      Resolve.resolve(CellLogStore.source(spark, dir).log).collect().map { r =>
        val v = r.getAs[Array[Byte]]("value")
        val decoded = if (r.getString(0) == "r2")
          graft.functions.Codecs.decodeBE64(v).toString
        else new String(v, "UTF-8")
        (r.getString(0), r.getAs[Long]("ts"), decoded)
      }.toSet

    assert(state(outDir) == state(logDir))
    assert(state(outDir) == Set(("r1", 20L, "new"), ("r2", 20L, "12")))
    // history physically gone: compacted log has exactly the live cells
    assert(CellLogStore.source(spark, outDir).log.count() == 2)
  }

  test("streaming BPE token counts equal the batch accounting row for row, stateless") {
    import graft.operators.Bpe
    val docs = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .where(col("doc_id") % 50 === 0)
    val model = Bpe.train(docs, numMerges = 80, maxWords = 3000)
    val dir = tmp("bpestream")
    docs.select("doc_id", "text").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(dir)
    val q = Observers.streamingTokenCounts(stream, model)
      .select("doc_id", "n_tokens")
      .writeStream.format("memory").queryName("bpetoks")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // per-row labeling adds no state
    assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    val got = spark.sql("SELECT doc_id, n_tokens FROM bpetoks")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Bpe.tokenCounts(docs, model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got.nonEmpty && got.values.forall(_ > 0))
  }
}
