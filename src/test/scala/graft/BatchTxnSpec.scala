package graft

import graft.model.{CellOp, OpType}
import graft.operators.{BatchTxn, PercolatorRead}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch conditional writes: CheckAndApply and the Percolator 2PC cell
  * protocol as mutation batches.
  */
class BatchTxnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("batch check-and-apply applies only value-matching intents") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cas").toString
    val t = Graft.openTable(spark, dir)
    t.put(Seq(
      CellOp("r1", "cf", "q", 100, OpType.Value, "v1".getBytes, 1),
      CellOp("r2", "cf", "q", 100, OpType.Value, "v2".getBytes, 2)))

    val intents = Seq(
      // matches current value -> applies
      ("r1", "cf", "q", 200L, OpType.Value, "w1".getBytes, 10L, "cf", "q", "v1".getBytes),
      // wrong expected value -> rejected
      ("r2", "cf", "q", 200L, OpType.Value, "w2".getBytes, 11L, "cf", "q", "XX".getBytes),
      // absent check column -> rejected (reference compares a read value)
      ("r3", "cf", "q", 200L, OpType.Value, "w3".getBytes, 12L, "cf", "q", "v?".getBytes))
      .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq",
        "check_cf", "check_qualifier", "expected")

    val annotated = BatchTxn.checkAndApply(t.cells(), intents)
    val applied = annotated.where(col("applied"))
      .select("row_key", "cf", "qualifier", "ts", "op", "value", "seq")
    assert(annotated.where(col("applied")).collect().map(_.getString(0)).toSet
      == Set("r1"))
    t.put(applied)
    val r1 = t.get("r1").collect()
    assert(r1.length == 1 && new String(r1(0).getAs[Array[Byte]]("value")) == "w1")
  }

  test("percolator 2PC batch: prewrite conflicts, commit visibility, pending cleanup") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-2pc").toString
    val t = Graft.openTable(spark, dir)

    // txn1 stages r1+r2 at startTs=10: no conflicts on an empty table
    val m1 = Seq(("r1", "cf", "q", "a".getBytes), ("r2", "cf", "q", "b".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    val p1 = BatchTxn.prewrite(t.log, m1, startTs = 10)
    assert(p1.where(col("conflict")).count() == 0)
    t.put(BatchTxn.prewriteOps(p1, startTs = 10, primaryKey = "r1", seqBase = 1L << 40))

    // txn2 overlaps on r2 -> lock conflict; r3 is free
    val m2 = Seq(("r2", "cf", "q", "c".getBytes), ("r3", "cf", "q", "d".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    val p2 = BatchTxn.prewrite(t.log, m2, startTs = 12)
    assert(p2.where(col("conflict")).collect().map(_.getString(0)).toSet == Set("r2"))
    t.put(BatchTxn.prewriteOps(p2, startTs = 12, primaryKey = "r3", seqBase = 2L << 40))

    // commit txn1 at commitTs=20
    t.put(BatchTxn.commitOps(t.log, startTs = 10, commitTs = 20, seqBase = 3L << 40))

    // a snapshot reader sees exactly txn1's data; txn2 is uncommitted
    val visible = PercolatorRead.resolve(t.log, snapshotTs = 25)
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]]("value"))))
      .toSet
    assert(visible == Set(("r1", "a"), ("r2", "b")))
    // txn2's lock (primary r3) is the only pending one
    val pending = PercolatorRead.pendingLocks(t.log, snapshotTs = 25)
      .collect().map(_.getString(0)).toSet
    assert(pending == Set("r3"))

    // write-write conflict: a later txn with startTs BELOW txn1's commit
    val m3 = Seq(("r1", "cf", "q", "e".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    val p3 = BatchTxn.prewrite(t.log, m3, startTs = 15)
    assert(p3.where(col("conflict")).count() == 1)
    // ...but a txn starting after the commit proceeds
    val p4 = BatchTxn.prewrite(t.log, m3, startTs = 30)
    assert(p4.where(col("conflict")).count() == 0)

    // seq allocation: the reserved base is above every stored seq
    val base = graft.sources.CellLogStore.reserveSeqs(spark, t.logDir, 4L << 33)
    val maxSeq = t.log.agg(max(col("seq"))).collect()(0).getLong(0)
    assert(base > maxSeq)
  }

  private def committedSet(log: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    PercolatorRead.resolve(log, snapshotTs = Long.MaxValue)
      .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]]("value"))))
      .toSet

  test("every builder's frame spans numPartitions << 33 seqs from its base") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-txn-span").toString
    val t = Graft.createTable(spark, dir)
    val m = (0 until 40).map(i => (s"r$i", "cf", "q", s"v$i".getBytes))
      .toDF("row_key", "cf", "qualifier", "value").repartition(3)
    val accepted = BatchTxn.prewrite(t.log, m, startTs = 10)
    def check(what: String, ops: org.apache.spark.sql.DataFrame,
        base: Long): Unit = {
      val seqs = ops.collect().map(_.getAs[Long]("seq"))
      val span = ops.rdd.getNumPartitions.toLong << 33
      assert(seqs.nonEmpty, what)
      assert(seqs.distinct.length == seqs.length, s"$what: repeated seqs")
      assert(seqs.forall(s => s >= base && s < base + span),
        s"$what: a seq outside [$base, $base + $span)")
    }
    var base = t.log.count() + 1
    val pre = BatchTxn.prewriteOps(accepted, 10, "r0", base)
    check("prewriteOps", pre, base)
    t.put(pre)
    // a crashed txn at 20 whose primary committed: roll-forward and
    // rollback channels both present in one resolve
    base += 4L << 33
    val pre2 = BatchTxn.prewriteOps(BatchTxn.prewrite(t.log,
      m.withColumn("qualifier", lit("q2")), startTs = 20), 20, "r0", base)
    t.put(pre2)
    base += 4L << 33
    val commit = BatchTxn.commitOps(t.log, 10, 11, base)
    check("commitOps", commit, base)
    t.put(commit.where(col("row_key") === "r0"))
    base += 4L << 33
    check("rollbackOps", BatchTxn.rollbackOps(t.log, 20, base), base)
    check("resolveLockOps", BatchTxn.resolveLockOps(t.log, base), base)
  }

  test("allocator-issued timestamps: interleaved txns never collide, reuse refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ts-alloc").toString
    val t = Graft.createTable(spark, dir)

    // both txns draw (start, commit) pairs from the table's timeoracle
    // analogue — monotone by construction, no coordination between them
    val s1 = t.allocateTxnTs(2); val c1 = s1 + 1
    val s2 = t.allocateTxnTs(2); val c2 = s2 + 1
    assert(Set(s1, c1, s2, c2).size == 4 && s2 > c1)

    val m1 = Seq(("r1", "cf", "q", "a".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    val m2 = Seq(("r2", "cf", "q", "b".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")

    // interleaved: txn1 prewrites, txn2 prewrites (disjoint rows — no
    // lock conflict), then both commit
    val p1 = BatchTxn.prewrite(t.log, m1, startTs = s1)
    assert(p1.where(col("conflict")).count() == 0)
    t.put(BatchTxn.prewriteOps(p1, s1, "r1", 1L << 40))
    val p2 = BatchTxn.prewrite(t.log, m2, startTs = s2)
    assert(p2.where(col("conflict")).count() == 0)
    t.put(BatchTxn.prewriteOps(p2, s2, "r2", (1L << 40) + (1L << 30)))
    t.put(BatchTxn.commitOps(t.log, s1, c1, 2L << 40))
    t.put(BatchTxn.commitOps(t.log, s2, c2, 3L << 40))

    val visible = PercolatorRead.resolve(t.log, snapshotTs = Long.MaxValue)
    assert(visible.count() == 2)
    assert(PercolatorRead.pendingLocks(t.log, Long.MaxValue).count() == 0)

    // a startTs some committed txn consumed is refused — both the
    // commit pointer's own ts and the data ts its payload names
    intercept[IllegalArgumentException] {
      BatchTxn.prewrite(t.log, m1, startTs = s1)
    }
    intercept[IllegalArgumentException] {
      BatchTxn.prewrite(t.log, m1, startTs = c1)
    }

    // the allocator resumes past everything handed out, including after
    // reopen (the counter rides the descriptor, not the session)
    assert(Graft.openTable(spark, dir).allocateTxnTs() > c2)
  }

  test("crashed prewrite rolls back: log behaves as if never prewritten") {
    import spark.implicits._
    val t = Graft.openTable(spark, Files.createTempDirectory("graft-rb").toString)
    val twin = Graft.openTable(spark, Files.createTempDirectory("graft-rb2").toString)

    // txn0 commits (a, b) on both tables via full 2PC
    val m0 = Seq(("r1", "cf", "q", "a".getBytes), ("r2", "cf", "q", "b".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    for (tab <- Seq(t, twin)) {
      val p0 = BatchTxn.prewrite(tab.log, m0, startTs = 10)
      tab.put(BatchTxn.prewriteOps(p0, startTs = 10, primaryKey = "r1", seqBase = 1L << 40))
      tab.put(BatchTxn.commitOps(tab.log, startTs = 10, commitTs = 20, seqBase = 2L << 40))
    }

    // txn1 prewrites on t at startTs=30 (primary r1) and CRASHES before commit
    val m1 = Seq(("r1", "cf", "q", "x".getBytes), ("r3", "cf", "q", "y".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    val p1 = BatchTxn.prewrite(t.log, m1, startTs = 30)
    assert(p1.where(col("conflict")).count() == 0)
    t.put(BatchTxn.prewriteOps(p1, startTs = 30, primaryKey = "r1", seqBase = 3L << 40))
    assert(PercolatorRead.pendingLocks(t.log, Long.MaxValue).count() == 2)

    // cleanup: primary never committed -> both locks roll back
    t.put(BatchTxn.resolveLockOps(t.log, seqBase = 4L << 40))

    // the cleaned log agrees with the never-prewritten twin
    assert(committedSet(t.log) == committedSet(twin.log))
    assert(committedSet(t.log) == Set(("r1", "a"), ("r2", "b")))
    assert(PercolatorRead.pendingLocks(t.log, Long.MaxValue).count() == 0)
    assert(PercolatorRead.pendingLocks(twin.log, Long.MaxValue).count() == 0)
    // and the same columns prewrite cleanly again on both
    assert(BatchTxn.prewrite(t.log, m1, startTs = 50)
      .where(col("conflict")).count() == 0)
    assert(BatchTxn.prewrite(twin.log, m1, startTs = 50)
      .where(col("conflict")).count() == 0)
  }

  test("strict snapshot read excludes locked columns until cleanup") {
    import spark.implicits._
    val t = Graft.openTable(spark, Files.createTempDirectory("graft-strict").toString)

    // txn0 commits (r1 -> a)
    val m0 = Seq(("r1", "cf", "q", "a".getBytes)).toDF("row_key", "cf", "qualifier", "value")
    val p0 = BatchTxn.prewrite(t.log, m0, startTs = 10)
    t.put(BatchTxn.prewriteOps(p0, startTs = 10, primaryKey = "r1", seqBase = 1L << 40))
    t.put(BatchTxn.commitOps(t.log, startTs = 10, commitTs = 20, seqBase = 2L << 40))

    // txn1 prewrites r1 at startTs=30 and stalls
    val m1 = Seq(("r1", "cf", "q", "x".getBytes)).toDF("row_key", "cf", "qualifier", "value")
    t.put(BatchTxn.prewriteOps(BatchTxn.prewrite(t.log, m1, startTs = 30),
      startTs = 30, primaryKey = "r1", seqBase = 3L << 40))

    // plain resolve (read-committed-style) still shows the old value;
    // the strict snapshot reader backs off the whole locked column
    assert(committedSet(t.log) == Set(("r1", "a")))
    assert(PercolatorRead.resolveStrict(t.log, Long.MaxValue).count() == 0)
    // a snapshot BEFORE the lock is unaffected
    assert(PercolatorRead.resolveStrict(t.log, 25).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq == Seq("a"))

    // cleanup rolls the crashed txn back -> strict view returns
    t.put(BatchTxn.resolveLockOps(t.log, seqBase = 4L << 40))
    assert(PercolatorRead.resolveStrict(t.log, Long.MaxValue).collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"))).toSeq == Seq("a"))
  }

  test("partially committed txn rolls forward: secondaries become visible") {
    import spark.implicits._
    val t = Graft.openTable(spark, Files.createTempDirectory("graft-rf").toString)

    val m = Seq(("r1", "cf", "q", "a".getBytes), ("r2", "cf", "q", "b".getBytes))
      .toDF("row_key", "cf", "qualifier", "value")
    val p = BatchTxn.prewrite(t.log, m, startTs = 10)
    t.put(BatchTxn.prewriteOps(p, startTs = 10, primaryKey = "r1", seqBase = 1L << 40))

    // the commit batch half-lands: only the PRIMARY's ops reach the log
    val full = BatchTxn.commitOps(t.log, startTs = 10, commitTs = 20, seqBase = 2L << 40)
    t.put(full.where(col("row_key") === "r1"))
    assert(committedSet(t.log) == Set(("r1", "a")))
    assert(PercolatorRead.pendingLocks(t.log, Long.MaxValue)
      .collect().map(_.getString(0)).toSet == Set("r2"))

    // cleanup: the primary's commit pointer rolls r2 forward at the
    // primary's commit ts
    t.put(BatchTxn.resolveLockOps(t.log, seqBase = 3L << 40))
    assert(committedSet(t.log) == Set(("r1", "a"), ("r2", "b")))
    assert(PercolatorRead.resolve(t.log, snapshotTs = 20)
      .collect().map(_.getString(0)).toSet == Set("r1", "r2"))
    assert(PercolatorRead.pendingLocks(t.log, Long.MaxValue).count() == 0)
  }
}
