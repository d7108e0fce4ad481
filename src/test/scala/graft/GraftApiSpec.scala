package graft

import graft.functions.Codecs
import graft.model.{CellOp, OpType}
import graft.operators.{ScanFilter, TypedValue}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end SDK surface: open table, put mutations, scan/get,
  * snapshot, compact, SQL façade — the reference user's workflow.
  */
class GraftApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("put / get / delete / counter / scan / snapshot lifecycle") {
    val dir = Files.createTempDirectory("graft-table").toString
    val t = Graft.openTable(spark, dir)

    // batch 1: two rows, a counter, then batch 2: overwrite + delete
    t.put(Seq(
      CellOp("alice", "prof", "name", 100, OpType.Value, "Alice".getBytes, 1),
      CellOp("alice", "stats", "visits", 100, OpType.Add, Codecs.encodeBE64(1), 2),
      CellOp("bob", "prof", "name", 100, OpType.Value, "Bob".getBytes, 3)))
    t.put(Seq(
      CellOp("alice", "stats", "visits", 200, OpType.Add, Codecs.encodeBE64(4), 4),
      CellOp("bob", "prof", "name", 150, OpType.DelQualifiers, null, 5)))

    // get: alice has name + folded counter 5
    val alice = t.get("alice").collect()
      .map(r => (r.getString(2), r.getAs[Array[Byte]]("value"))).toMap
    assert(new String(alice("name")) == "Alice")
    assert(Codecs.decodeBE64(alice("visits")) == 5L)
    // bob's name deleted
    assert(t.get("bob").count() == 0)

    // scan with a typed filter on the counter
    val rows = t.scan
      .withFilter(ScanFilter.ValueFilter("stats", "visits", ">=",
        TypedValue.Int64BE(5L), filterIfMissing = true))
      .run().select("row_key").distinct().collect().map(_.getString(0)).toSet
    assert(rows == Set("alice"))

    // snapshot before the delete still sees bob
    val snap = t.snapshot(4).where(col("row_key") === "bob").count()
    assert(snap == 1)

    // compaction keeps exactly the live cells
    val cdir = Files.createTempDirectory("graft-compact").toString
    t.compact(cdir)
    val compacted = Graft.openTable(spark, cdir)
    assert(compacted.log.count() == 2)
    assert(Codecs.decodeBE64(
      compacted.get("alice").where(col("qualifier") === "visits")
        .collect()(0).getAs[Array[Byte]]("value")) == 5L)
  }

  test("bucketed layout: shuffle-free resolve, pruned point get, reopen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bkt").toString
    val desc = model.TableDesc(buckets = 8)
    val t = Graft.createTable(spark, dir, desc,
      ops = Some(Set(OpType.Value, OpType.Add, OpType.DelQualifiers)))
    t.put(Seq(
      CellOp("alice", "prof", "name", 100, OpType.Value, "Alice".getBytes, 1),
      CellOp("alice", "stats", "visits", 100, OpType.Add, Codecs.encodeBE64(1), 2),
      CellOp("bob", "prof", "name", 100, OpType.Value, "Bob".getBytes, 3)))
    t.put(Seq(
      CellOp("alice", "stats", "visits", 200, OpType.Add, Codecs.encodeBE64(4), 4),
      CellOp("bob", "prof", "name", 150, OpType.DelQualifiers, null, 5)))

    // same answers as the flat layout
    val alice = t.get("alice").collect()
      .map(r => (r.getString(2), r.getAs[Array[Byte]]("value"))).toMap
    assert(new String(alice("name")) == "Alice")
    assert(Codecs.decodeBE64(alice("visits")) == 5L)
    assert(t.get("bob").count() == 0)

    // the layout's point: the scan reports HashPartitioning(row_key), so
    // the whole resolve pipeline plans WITHOUT a hash exchange...
    val plan = t.cells().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // ...and a point get prunes to a single bucket's files
    val gplan = t.get("alice").queryExecution.executedPlan.toString
    assert(gplan.contains("SelectedBucketsCount: 1 out of 8"), gplan)

    // fresh-session reopen: the descriptor alone carries the bucket
    // spec, answers and plan shape survive
    val re = Graft.openTable(spark.newSession(), dir)
    assert(re.desc.buckets == 8)
    assert(Codecs.decodeBE64(re.get("alice").where(col("qualifier") === "visits")
      .collect()(0).getAs[Array[Byte]]("value")) == 5L)
    assert(!re.cells().queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))

    // compaction carries the bucketed layout to the output table
    val cdir = Files.createTempDirectory("graft-bkt-compact").toString
    re.compact(cdir)
    val c = Graft.openTable(spark, cdir)
    assert(c.desc.buckets == 8)
    assert(c.log.count() == 2)

    // physical-layout guards: no bucket change under data, no LG mix
    intercept[IllegalArgumentException] {
      Graft.alterTable(spark, cdir, c.desc.copy(buckets = 4))
    }
    intercept[IllegalArgumentException] {
      Graft.createTable(spark, Files.createTempDirectory("graft-bad").toString,
        model.TableDesc(buckets = 4, lgs = Map("a" -> "hot")))
    }
    // layout-mismatch appends are refused BEFORE any file lands: a flat
    // (default-desc) write into this bucketed log would poison every
    // later bucketed read with INVALID_BUCKET_FILE
    val stray = Seq(CellOp("x", "cf", "q", 1, OpType.Value, null, 99)).toDF()
    intercept[IllegalArgumentException] {
      graft.sources.CellLogStore.append(stray, dir)
    }
    intercept[IllegalArgumentException] {   // wrong bucket count, same hazard
      graft.sources.CellLogStore.append(stray, dir,
        desc = model.TableDesc(buckets = 4))
    }
  }

  test("bucketed catalog: location with a quote registers intact") {
    // bucketed logs are read and written by path: a quote in the
    // directory name must reach the file listing intact, on the driver
    // commit, the bucketed read and its bucket pruning alike
    val dir = Files.createTempDirectory("graft-esc").toString + "/o'brien"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
      ops = Some(Set(OpType.Value)))
    t.put(Seq(CellOp("alice", "cf", "q", 100, OpType.Value, "x".getBytes, 1)))
    // a distributed batch takes the Spark write, also by path
    import spark.implicits._
    t.put(Seq(CellOp("bob", "cf", "q", 100, OpType.Value, "y".getBytes, 2))
      .toDF().repartition(2))
    // the read resolves files at the REAL location
    val got = t.get("alice").collect()
    assert(got.length == 1 &&
      new String(got(0).getAs[Array[Byte]]("value")) == "x")
    assert(t.get("bob").count() == 1)
    assert(t.get("alice").queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount: 1 out of 4"))
  }

  test("hash-sharded table lifecycle: put / get / point scan round-trip") {
    import graft.model.TableDesc
    val dir = Files.createTempDirectory("graft-hash").toString
    val t = Graft.openTable(spark, dir, TableDesc(hashKeys = true))

    t.put(Seq(
      CellOp("user#1", "cf", "q", 100, OpType.Value, "v1".getBytes, 1),
      CellOp("user#2", "cf", "q", 100, OpType.Value, "v2".getBytes, 2),
      CellOp("user#11", "cf", "q", 100, OpType.Value, "v11".getBytes, 3)))

    // storage keys carry the reference's 16-hex murmur(seed 823) prefix
    val stored = t.log.select("row_key").collect().map(_.getString(0)).toSet
    assert(stored == Set("user#1", "user#2", "user#11").map(Codecs.hashedKey))
    assert(Codecs.hashedKey("user#1").take(16).forall(
      c => c.isDigit || ('a' to 'f').contains(c)))
    assert(Codecs.logicalKey(Codecs.hashedKey("user#1")) == "user#1")

    // point get routes by hashed key; "user#1" must not match "user#11"
    val got = t.get("user#1").collect()
    assert(got.length == 1 && new String(got(0).getAs[Array[Byte]]("value")) == "v1")

    // point scan via forRow: storage-space successor, exactly one row
    val scanned = t.scan.forRow("user#1").run()
      .collect().map(r => new String(r.getAs[Array[Byte]]("value")))
    assert(scanned.toSeq == Seq("v1"))

    // full scan sees all rows, in hashed (storage) order
    val all = t.scan.run().select("row_key").collect().map(_.getString(0))
    assert(all.length == 3 && all.sorted.sameElements(all))
  }

  test("secondary index: build, incremental maintain, stale-entry-safe lookup") {
    val dir = Files.createTempDirectory("graft-ix-base").toString
    val ixDir = Files.createTempDirectory("graft-ix").toString
    val t = Graft.openTable(spark, dir)
    t.put(Seq(
      CellOp("r1", "c", "seg", 100, OpType.Value, "A".getBytes, 1),
      CellOp("r2", "c", "seg", 100, OpType.Value, "B".getBytes, 2),
      CellOp("r3", "c", "seg", 100, OpType.Value, "A".getBytes, 3)))
    val ix = t.buildIndex(ixDir, "c", "seg")

    def keys(v: String): Set[String] =
      t.lookupViaIndex(ix, "c", "seg", v).collect().map(_.getString(0)).toSet
    assert(keys("A") == Set("r1", "r3"))
    assert(keys("B") == Set("r2"))

    // overwrite r1 A->B, maintaining the index like the reference's
    // transactional writers do (new entry appended; old entry left
    // stale — the verify-on-lookup rule makes it harmless)
    val batch = Seq(CellOp("r1", "c", "seg", 200, OpType.Value, "B".getBytes, 4))
    t.put(batch)
    val session = spark
    import session.implicits._
    ix.put(graft.operators.SecondaryIndex.opsForBatch(batch.toDF(), "c", "seg"))
    assert(keys("A") == Set("r3"))          // stale A->r1 entry verified away
    assert(keys("B") == Set("r1", "r2"))

    // base-side delete: index untouched, lookup still correct
    t.put(Seq(CellOp("r3", "c", "seg", 300, OpType.DelQualifiers, null, 5)))
    assert(keys("A") == Set.empty)

    // index entries are range keys: a value prefix is one contiguous scan
    val cand = graft.operators.SecondaryIndex
      .candidatesEq(ix.cells(), "B").collect().map(_.getString(0)).toSet
    assert(cand == Set("r1", "r2"))

    // rebuild IS allowed on an existing index dir, and repairs drift:
    // the stale A->r1 entry disappears from the candidates
    val ix2 = t.buildIndex(ixDir, "c", "seg")
    assert(graft.operators.SecondaryIndex
      .candidatesEq(ix2.cells(), "A").count() == 0)
    assert(keys("B") == Set("r1", "r2"))
  }

  test("locality groups: per-LG layout, row deletes visible to every projection") {
    import graft.model.TableDesc
    val dir = Files.createTempDirectory("graft-lg").toString
    val desc = TableDesc(lgs = Map("prof" -> "hot", "blob" -> "cold"))
    val t = Graft.createTable(spark, dir, desc,
      Some(Set(OpType.Value, OpType.DelRow)))
    t.put(Seq(
      CellOp("r1", "prof", "name", 100, OpType.Value, "n1".getBytes, 1),
      CellOp("r1", "blob", "img", 100, OpType.Value, "b1".getBytes, 2),
      CellOp("r1", "misc", "x", 100, OpType.Value, "m1".getBytes, 3),
      CellOp("r2", "prof", "name", 100, OpType.Value, "n2".getBytes, 4),
      CellOp("r2", "blob", "img", 100, OpType.Value, "b2".getBytes, 5)))

    // physical layout: one parquet partition directory per LG (misc is
    // unlisted, so it lands in the default LG)
    val lgDirs = new java.io.File(dir).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(lgDirs == Set("lg=hot", "lg=cold", "lg=default"))

    // unprojected reads see everything, schema unchanged (no lg column)
    assert(t.scan.run().count() == 5)
    assert(t.log.columns.toSeq == graft.model.CellOp.schema.fieldNames.toSeq)

    // a row-wide delete lands in the shared _row LG...
    t.put(Seq(CellOp("r2", "prof", "", 200, OpType.DelRow, null, 6)))
    assert(new java.io.File(dir, "lg=_row").isDirectory)
    // ...and a scan projected to a DIFFERENT cf still honors it
    val blob = t.scan.addColumnFamily("blob").run()
    assert(blob.select("row_key").collect().map(_.getString(0)).toSet
      == Set("r1"))

    // the pruned source physically reads only its LG dirs + _row:
    // lg=hot and lg=default are pruned at file-listing time (the
    // resolved scan is a self-join, where input_file_name is undefined —
    // PlanSpec asserts the scan-level PartitionFilters)
    val filesRead = graft.sources.CellLogStore.source(spark, dir).lgRead.get
      .apply(Seq("cold"))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(filesRead.nonEmpty)
    assert(filesRead.forall(f => f.contains("lg=cold") || f.contains("lg=_row")),
      filesRead.mkString("\n"))

    // descriptor round-trip: a fresh open recovers the LG map
    assert(Graft.openTable(spark, dir).desc == desc)
    // LG mapping is physical: alterTable refuses to change it
    intercept[IllegalArgumentException] {
      Graft.alterTable(spark, dir, desc.copy(lgs = Map("prof" -> "cold")))
    }

    // compaction preserves the LG layout and the resolved content
    val cdir = Files.createTempDirectory("graft-lg-compact").toString
    t.compact(cdir)
    val tc = Graft.openTable(spark, cdir)
    assert(new java.io.File(cdir, "lg=cold").isDirectory)
    assert(tc.scan.addColumnFamily("blob").run()
      .select("row_key").collect().map(_.getString(0)).toSet == Set("r1"))

    // a filter's verdict may need a cf OUTSIDE the projection (P9 order:
    // filter before projection) — its LG must be read too
    val filtered = t.scan.addColumnFamily("blob")
      .withFilter(ScanFilter.ValueFilter("prof", "name", "==",
        TypedValue.Utf8("n1"), filterIfMissing = true))
      .run()
    assert(filtered.collect().map(r =>
      (r.getString(0), r.getString(1))).toSet == Set(("r1", "blob")))
  }

  test("LG descriptor over a not-yet-partitioned log scans correctly") {
    import graft.model.TableDesc
    // a created-but-never-appended LG table has a descriptor declaring
    // LGs but no lg= directories yet; projected scans must fall back to
    // the plain read, not filter every row out on a null lg column
    val dir = Files.createTempDirectory("graft-lg-empty").toString
    val desc = TableDesc(lgs = Map("prof" -> "hot"))
    val t = Graft.createTable(spark, dir, desc, Some(Set(OpType.Value)))
    assert(t.scan.addColumnFamily("prof").run().count() == 0)

    // same mismatch with DATA: a bare unpartitioned import opened with
    // an LG-declaring descriptor still returns its rows
    val bare = Files.createTempDirectory("graft-lg-bare").toString
    val t0 = Graft.createTable(spark, bare, TableDesc(),
      Some(Set(OpType.Value)))
    t0.put(Seq(
      CellOp("r1", "prof", "name", 100, OpType.Value, "n1".getBytes, 1),
      CellOp("r1", "blob", "img", 100, OpType.Value, "b1".getBytes, 2)))
    val viaLgDesc = new GraftTable(spark, bare, desc, Some(Set(OpType.Value)))
    val got = viaLgDesc.scan.addColumnFamily("prof").run()
    assert(got.collect().map(r => (r.getString(0), r.getString(1))).toSet
      == Set(("r1", "prof")))
    // ...but an LG append next to the flat files would leave a
    // mixed-depth layout partition discovery rejects — refused up front
    val ex = intercept[IllegalArgumentException] {
      viaLgDesc.put(Seq(
        CellOp("r2", "prof", "name", 100, OpType.Value, "n2".getBytes, 3)))
    }
    assert(ex.getMessage.contains("locality groups"))
  }

  test("secondary index refuses values containing reserved separator bytes") {
    val session = spark
    import session.implicits._
    // a NUL inside an indexed value would land the composite key inside
    // another value's [v\0, v\1) range — buildOps must fail loudly, not
    // build a silently mis-sorting index
    val bad = Seq(
      CellOp("r1", "c", "seg", 100, OpType.Value, "A\u0000B".getBytes("UTF-8"), 1))
    val ex = intercept[Exception] {
      graft.operators.SecondaryIndex.buildOps(bad.toDF(), "c", "seg").collect()
    }
    assert(ex.getMessage.contains("reserved byte"))
    // clean values still build
    val ok = Seq(CellOp("r1", "c", "seg", 100, OpType.Value, "AB".getBytes, 1))
    assert(graft.operators.SecondaryIndex.buildOps(ok.toDF(), "c", "seg")
      .count() == 1)
  }

  test("replace() records the batch's real delete count in the hint") {
    val session = spark
    import session.implicits._
    import graft.model.TableDesc
    val dir = Files.createTempDirectory("graft-replace-hint").toString
    Graft.createTable(spark, dir)
    val batch = Seq(
      CellOp("r1", "cf", "q", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "cf", "q", 100, OpType.DelRow, null, 2),
      CellOp("r3", "cf", "q", 100, OpType.DelQualifiers, null, 3)).toDF()
    // undeclared op-set: the hint must count the tombstones, not assume 0
    graft.sources.CellLogStore.replace(batch, dir, TableDesc(), None)
    assert(deleteHint(dir) == Some(2L))
    // a declared delete-free op-set skips the count and records 0
    val valueOnly = Seq(
      CellOp("r1", "cf", "q", 100, OpType.Value, "a".getBytes, 1)).toDF()
    graft.sources.CellLogStore.replace(valueOnly, dir, TableDesc(),
      Some(Set(OpType.Value)))
    assert(deleteHint(dir) == Some(0L))
  }

  test("secondary index on a hash-sharded base: incremental ops match storage keys") {
    val dir = Files.createTempDirectory("graft-ix-hash-base").toString
    val ixDir = Files.createTempDirectory("graft-ix-hash").toString
    val t = Graft.createTable(spark, dir,
      graft.model.TableDesc(hashKeys = true))
    t.put(Seq(CellOp("r1", "c", "seg", 100, OpType.Value, "A".getBytes, 1)))
    val ix = t.buildIndex(ixDir, "c", "seg")
    // incremental maintenance must index the STORAGE key, or the verify
    // semi-join can never match it
    val batch = Seq(CellOp("r2", "c", "seg", 100, OpType.Value, "A".getBytes, 2))
    t.put(batch)
    val session = spark
    import session.implicits._
    ix.put(t.indexOpsForBatch(batch.toDF(), "c", "seg"))
    val got = t.lookupViaIndex(ix, "c", "seg", "A")
      .collect().map(_.getString(0)).toSet
    assert(got == Set(t.storageKey("r1"), t.storageKey("r2")))
  }

  test("online schema change: resolve knobs flip on next read, modes refuse") {
    import graft.model.{CfSpec, TableDesc}
    val dir = Files.createTempDirectory("graft-alter").toString
    val t = Graft.createTable(spark, dir, ops = Some(Set(OpType.Value)))
    t.put(Seq(
      CellOp("r", "cf", "q", 100, OpType.Value, "v1".getBytes, 1),
      CellOp("r", "cf", "q", 200, OpType.Value, "v2".getBytes, 2)))
    assert(t.cells().count() == 1)             // default max_versions = 1

    // raise max_versions online: same data, next read sees both versions
    val t2 = Graft.alterTable(spark, dir, TableDesc(CfSpec(maxVersions = 2)))
    assert(t2.cells().count() == 2)
    // and the stored descriptor is authoritative for a fresh open
    assert(Graft.openTable(spark, dir).cells().count() == 2)
    // the delete hint survived the descriptor rewrite
    assert(deleteHint(dir).contains(0L))

    // physical modes refuse to change under stored data
    intercept[IllegalArgumentException] {
      Graft.alterTable(spark, dir, TableDesc(hashKeys = true))
    }
    intercept[IllegalArgumentException] {
      Graft.alterTable(spark, dir, TableDesc(kvMode = true))
    }
  }

  test("stored descriptor survives reopen: TTL/max_versions/hash/ops") {
    import graft.model.{CfSpec, TableDesc}
    val dir = Files.createTempDirectory("graft-desc").toString
    val desc = TableDesc(
      default = CfSpec(maxVersions = 3, minVersions = 1, ttlSec = 86400),
      cfs = Map("meta" -> CfSpec(maxVersions = 1)),
      hashKeys = true)
    val ops = Some(Set(OpType.Value, OpType.Add))
    val t = Graft.createTable(spark, dir, desc, ops)
    t.put(Seq(CellOp("k", "meta", "q", 100, OpType.Value, "v".getBytes, 1)))

    // reopen WITHOUT passing a descriptor: the stored one is recovered,
    // including the op-set (so resolve skips its probe) and hash mode
    val t2 = Graft.openTable(spark, dir)
    assert(t2.desc == desc)
    assert(t2.opsPresent == ops)
    assert(t2.get("k").count() == 1) // hashKeys round-trips through reopen

    // compaction carries the descriptor to the output table, with a
    // VALUE-only op-set (folds/tombstones are physically applied)
    val cdir = Files.createTempDirectory("graft-desc-compact").toString
    t2.compact(cdir)
    val t3 = Graft.openTable(spark, cdir)
    assert(t3.desc == desc)
    assert(t3.opsPresent == Some(Set(OpType.Value)))
  }

  test("stored delete hint: reopened table plans resolve with zero jobs") {
    import graft.model.{CfSpec, TableDesc}
    val dir = Files.createTempDirectory("graft-delhint").toString
    val ops = Some(Set(OpType.Value, OpType.DelRow))
    val t = Graft.createTable(spark, dir,
      TableDesc(CfSpec(maxVersions = Int.MaxValue)), ops)
    t.put(Seq(
      CellOp("r1", "cf", "q", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r2", "cf", "q", 100, OpType.Value, "b".getBytes, 2),
      CellOp("r1", "cf", "q", 100, OpType.DelRow, null, 3)))
    // the write path maintained the count
    assert(deleteHint(dir) == Some(1L))

    // reopen: building the resolve plan runs NO jobs — no op probe (the
    // stored op-set) and no tombstone count (the stored hint)
    val t2 = Graft.openTable(spark, dir)
    val (df, jobs) = JobCount.during(spark)(t2.cells())
    assert(jobs == 0, s"plan construction ran $jobs jobs")
    // and the plan is still correct: r1 is tombstoned
    assert(df.collect().map(_.getString(0)).toSet == Set("r2"))

    // a table whose descriptor PREDATES the hint must stay hint-less:
    // seeding 0+delta would ignore tombstones already in the log and
    // could steer auto to the join strategy against a window-sized log
    val oldDir = Files.createTempDirectory("graft-delhint-old").toString
    graft.sources.TableState.write(spark, oldDir, graft.sources.TableState(
      TableDesc(CfSpec(maxVersions = Int.MaxValue)), ops))
    val told = Graft.openTable(spark, oldDir)
    told.put(Seq(
      CellOp("r1", "cf", "q", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r1", "cf", "q", 100, OpType.DelRow, null, 2)))
    assert(deleteHint(oldDir).isEmpty)
    assert(told.cells().collect().isEmpty) // fallback count still correct
  }

  test("put keeps the delete hint exact on flat, bucketed and LG layouts") {
    import graft.model.TableDesc
    val session = spark
    import session.implicits._
    val ops = Some(Set(OpType.Value, OpType.DelRow, OpType.DelQualifiers))
    // 200 cells per batch: enough rows for the flat and LG range
    // exchanges to run their sampling job, which re-runs the plan below
    // the exchange — a tally placed there would count twice
    def batch(seq0: Long, dels: Int): Seq[CellOp] =
      (0 until 200).map(i => CellOp(f"r$i%03d", "cf", "q", 100,
        OpType.Value, "v".getBytes, seq0 + i)) ++
      (0 until dels).map(i => CellOp(f"r$i%03d", "cf", "q", 200,
        if (i % 2 == 0) OpType.DelRow else OpType.DelQualifiers, null,
        seq0 + 1000 + i))
    // local batches commit from the driver (flat, bucketed) or through
    // a Spark write (LG); repartitioned ones always take the Spark write
    for (desc <- Seq(TableDesc(), TableDesc(buckets = 4),
        TableDesc(lgs = Map("cf" -> "hot")));
        distributed <- Seq(false, true)) {
      def input(cells: Seq[CellOp]) =
        if (distributed) cells.toDF().repartition(3) else cells.toDF()
      val dir = Files.createTempDirectory("graft-hint-exact").toString
      val t = Graft.createTable(spark, dir, desc, ops)
      t.put(input(batch(0L, 3)))
      t.put(input(batch(10000L, 4)))
      assert(deleteHint(dir) ==
        Some(7L), s"layout $desc, distributed $distributed")
      assert(t.log.where(col("op") =!= OpType.Value).count() == 7)
    }
  }

  test("put on a declared-deletes table runs no extra job for the hint") {
    import graft.model.TableDesc
    val session = spark
    import session.implicits._
    val batch = (0 until 50).map(i => CellOp(f"r$i%03d", "cf", "q", 100,
      if (i % 10 == 0) OpType.DelRow else OpType.Value,
      if (i % 10 == 0) null else "v".getBytes, i.toLong)).toDF()
    def jobsOfPut(desc: TableDesc, ops: Set[Int]): Int = {
      val dir = Files.createTempDirectory("graft-hint-jobs").toString
      val t = Graft.createTable(spark, dir, desc, Some(ops))
      JobCount.during(spark)(t.put(batch))._2
    }
    Seq(TableDesc(), TableDesc(buckets = 4)).foreach { desc =>
      val withDeletes = jobsOfPut(desc, Set(OpType.Value, OpType.DelRow))
      val deleteFree = jobsOfPut(desc, Set(OpType.Value))
      assert(withDeletes <= deleteFree,
        s"layout $desc: $withDeletes jobs with deletes vs $deleteFree without")
    }
  }

  test("alterTable keeps the txn-ts allocator") {
    import graft.model.{CfSpec, TableDesc}
    val dir = Files.createTempDirectory("graft-alter-txnts").toString
    val t = Graft.createTable(spark, dir, ops = Some(Set(OpType.Value)))
    t.put(Seq(CellOp("r", "cf", "q", 100, OpType.Value, "v".getBytes, 1)))
    // reserved but never written: the log's max ts stays 100, so only
    // the stored allocator knows these are taken
    val first = t.allocateTxnTs(5)
    val t2 = Graft.alterTable(spark, dir, TableDesc(CfSpec(maxVersions = 2)))
    val second = t2.allocateTxnTs()
    assert(second >= first + 5, s"reissued a reserved ts: $first then $second")
    assert(t2.log.where(col("ts") >= first).count() == 0)
  }

  test("KV table lifecycle: put / overwrite / expire / compact / reopen") {
    val dir = Files.createTempDirectory("graft-kv").toString
    val t = Graft.createKvTable(spark, dir)

    // write at t=1s: a never expires, b carries a 10s TTL baked as
    // expire_ts_us = 11s
    t.put(Seq(("a", "1".getBytes, 0L), ("b", "2".getBytes, 10L)),
      nowUs = 1000000L)
    // overwrite a at t=2s
    t.put(Seq(("a", "1b".getBytes, 0L)), nowUs = 2000000L)

    def kvSet(tab: GraftKvTable, nowUs: Long): Set[(String, String)] =
      tab.kvs(nowUs).collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]]("value"))))
        .toSet

    // before b's expiry: newest a + live b; after: b is dead
    assert(kvSet(t, 5000000L) == Set(("a", "1b"), ("b", "2")))
    assert(kvSet(t, 20000000L) == Set(("a", "1b")))
    assert(t.get("a", 5000000L).collect().length == 1)

    // the persisted kv flag guards the open paths
    val reopened = Graft.openKvTable(spark, dir)
    assert(kvSet(reopened, 5000000L) == Set(("a", "1b"), ("b", "2")))
    intercept[IllegalArgumentException](Graft.openTable(spark, dir))
    intercept[IllegalArgumentException](Graft.createKvTable(spark, dir))

    // compact after b died: dead KV and a's superseded write are
    // physically gone; the live KV keeps its (empty) expiry
    val cdir = Files.createTempDirectory("graft-kv-compact").toString
    t.compact(cdir, nowUs = 20000000L)
    val c = Graft.openKvTable(spark, cdir)
    assert(c.log.count() == 1)
    assert(kvSet(c, Long.MaxValue) == Set(("a", "1b")))

    // a TTL'd KV compacted BEFORE its expiry keeps the baked expiry:
    // it still dies later
    t.put(Seq(("c", "3".getBytes, 10L)), nowUs = 20000000L) // expires at 30s
    val cdir2 = Files.createTempDirectory("graft-kv-compact2").toString
    t.compact(cdir2, nowUs = 25000000L)
    val c2 = Graft.openKvTable(spark, cdir2)
    assert(kvSet(c2, 25000000L) == Set(("a", "1b"), ("c", "3")))
    assert(kvSet(c2, 35000000L) == Set(("a", "1b")))
  }

  test("a KV put of a shuffled frame runs its shuffle once and numbers above the table") {
    val dir = Files.createTempDirectory("graft-kv-shuffled").toString
    val t = Graft.createKvTable(spark, dir)
    t.put(Seq(("a", "1".getBytes, 0L), ("b", "2".getBytes, 0L)), nowUs = 1L)
    val before = t.log.agg(max(col("seq"))).collect()(0).getLong(0)
    // the repartition's map side is the only stage of 3 tasks
    val frame = spark.range(0, 1000, 1, 3).repartition(2)
      .select(concat(lit("k"), col("id").cast("string")).as("key"),
        col("id").cast("string").cast("binary").as("value"))
    val mapRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.numTasks == 3 &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          mapRuns.incrementAndGet()
    }
    org.apache.spark.sql.graft.Shim.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val jobs =
      try jobsDuring(t.put(frame, nowUs = 2L))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(mapRuns.get() == 1, s"the repartition's map stage ran ${mapRuns.get()} times")
    assert(jobs < 5, s"$jobs jobs")
    info(s"$jobs jobs for a KV put of a repartitioned frame")
    val seqs = t.log.where(col("key").startsWith("k")).select(col("seq"))
      .collect().map(_.getLong(0))
    assert(seqs.length == 1000 && seqs.distinct.length == 1000)
    assert(seqs.min > before, s"seq ${seqs.min} not above $before")
  }

  test("bucketed MIXED-op fold: streaming fold plans without a hash exchange") {
    val dir = Files.createTempDirectory("graft-bkt-mixed").toString
    val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
      ops = Some(Set(OpType.Value, OpType.Append)))
    t.put(Seq(
      CellOp("r1", "cf", "q", 100, OpType.Value, "a".getBytes, 1),
      CellOp("r1", "cf", "q", 200, OpType.Append, "b".getBytes, 2)))
    // the sorted-group fold keys on the real grouping columns, so the
    // bucketed scan's partitioning satisfies it — no exchange (an
    // opaque groupByKey lambda would force the shuffle back in)
    val plan = t.cells().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(new String(t.get("r1").collect()(0)
      .getAs[Array[Byte]]("value")) == "ab")
  }

  test("two bucketed tables co-locate a resolved join: no exchange anywhere") {
    import spark.implicits._
    def mk(rows: Seq[(String, String)]): GraftTable = {
      val dir = Files.createTempDirectory("graft-bkt-join").toString
      val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
        ops = Some(Set(OpType.Value)))
      t.put(rows.zipWithIndex.map { case ((k, v), i) =>
        CellOp(k, "cf", "q", 100, OpType.Value, v.getBytes, i + 1) }.toDF())
      t
    }
    val a = mk(Seq("r1" -> "a1", "r2" -> "a2"))
    val b = mk(Seq("r1" -> "b1", "r3" -> "b3"))
    // broadcast would hide the property (tiny sides broadcast and no
    // hash exchange appears for ANY layout) — force the sort-merge
    // plan so the assert actually exercises bucket co-location
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // same bucket count on both sides: resolve preserves the scan's
      // partitioning, so even the cross-TABLE equi-join needs no shuffle
      // (the reference's tablets cannot co-locate across tables at all)
      val joined = a.cells().select(col("row_key"), col("value").as("va"))
        .join(b.cells().select(col("row_key"), col("value").as("vb")), "row_key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(joined.collect().map(r => r.getString(0)).toSeq == Seq("r1"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed KV table: same answers, shuffle-free resolve, layout carries") {
    val dir = Files.createTempDirectory("graft-kv-bkt").toString
    val t = Graft.createKvTable(spark, dir, buckets = 4)
    t.put(Seq(("a", "1".getBytes, 0L), ("b", "2".getBytes, 10L)),
      nowUs = 1000000L)
    t.put(Seq(("a", "1b".getBytes, 0L)), nowUs = 2000000L)

    def kvSet(tab: GraftKvTable, nowUs: Long): Set[(String, String)] =
      tab.kvs(nowUs).collect()
        .map(r => (r.getString(0), new String(r.getAs[Array[Byte]]("value"))))
        .toSet
    assert(kvSet(t, 5000000L) == Set(("a", "1b"), ("b", "2")))
    assert(kvSet(t, 20000000L) == Set(("a", "1b")))

    // the layout's point: per-key max_by plans without a hash exchange,
    // and a point lookup prunes to one of 4 buckets
    val plan = t.kvs(5000000L).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    val gplan = t.get("a", 5000000L).queryExecution.executedPlan.toString
    assert(gplan.contains("SelectedBucketsCount: 1 out of 4"), gplan)

    // fresh-session reopen: the descriptor alone carries the layout
    assert(kvSet(Graft.openKvTable(spark.newSession(), dir), 5000000L)
      == Set(("a", "1b"), ("b", "2")))

    // compaction carries the bucketed layout
    val cdir = Files.createTempDirectory("graft-kv-bkt-compact").toString
    t.compact(cdir, nowUs = 20000000L)
    val c = Graft.openKvTable(spark, cdir)
    assert(c.log.count() == 1)
    assert(graft.sources.TableState.read(spark, cdir)
      .exists(_.desc.buckets == 4))
    assert(kvSet(c, Long.MaxValue) == Set(("a", "1b")))
  }

  /** The stored tombstone-count hint of the table at `dir`. */
  private def deleteHint(dir: String): Option[Long] =
    graft.sources.TableState.read(spark, dir).flatMap(_.deleteCount)

  /** The parquet data files under `dir`, LG directories included. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
    } finally walk.close()
  }

  /** (name, type) of every column each data file under `dir` carries. */
  private def fileSchemas(dir: String): Set[Seq[(String, String)]] =
    dataFiles(dir).map(f => spark.read.parquet(f.toString).schema
      .map(c => (c.name, c.dataType.simpleString))).toSet

  test("off-schema batches reconcile to the log schema on every layout") {
    import graft.model.TableDesc
    import spark.implicits._
    val ops = Seq(
      CellOp("a", "cf", "q", 100, OpType.Value, "1".getBytes, 1),
      CellOp("a", "cf", "q", 200, OpType.Value, "2".getBytes, 2),
      CellOp("b", "hot", "q", 100, OpType.Value, "3".getBytes, 3),
      CellOp("c", "cf", "q", 100, OpType.Value, "4".getBytes, 4),
      CellOp("c", "cf", "q", 150, OpType.DelRow, null, 5)).toDF()
    // reordered columns, INT ts/seq and an extra column: a distributed
    // batch, so it takes the Spark write
    val offSchema = ops.select(col("seq").cast("int").as("seq"),
      col("qualifier"), col("row_key"), col("cf"),
      col("ts").cast("int").as("ts"), col("op"), lit("x").as("note"),
      col("value")).repartition(2)
    val logSchema = CellOp.schema.map(c => (c.name, c.dataType.simpleString))
    def cellSet(t: GraftTable): Set[(String, String, String, Long, String)] =
      t.cells().collect().map(r => (r.getAs[String]("row_key"),
        r.getAs[String]("cf"), r.getAs[String]("qualifier"),
        r.getAs[Long]("ts"), new String(r.getAs[Array[Byte]]("value")))).toSet
    Seq(TableDesc(), TableDesc(buckets = 4),
        TableDesc(lgs = Map("hot" -> "hot"))).foreach { desc =>
      def table(): GraftTable = Graft.createTable(spark,
        Files.createTempDirectory("graft-offschema").toString, desc)
      val ref = table()
      ref.put(ops)
      val t = table()
      t.put(offSchema)
      assert(cellSet(t) == cellSet(ref) && cellSet(t).size == 2, desc)
      assert(fileSchemas(t.logDir) == Set(logSchema), desc)
      // a string ts is no safe cast: refused, local or distributed,
      // before any file lands
      val before = dataFiles(t.logDir).toSet
      val stringTs = ops.withColumn("ts", col("ts").cast("string"))
      Seq(stringTs, stringTs.repartition(2)).foreach { bad =>
        intercept[org.apache.spark.sql.AnalysisException](t.put(bad))
      }
      assert(dataFiles(t.logDir).toSet == before, desc)
    }

    // KV entries, flat and bucketed
    val entries = Seq(("k1", "1", 1L), ("k2", "2", 2L), ("k1", "1b", 3L))
      .toDF("key", "v", "seq")
      .select(col("key"), encode(col("v"), "UTF-8").as("value"),
        lit(0L).as("expire_ts_us"), col("seq"))
    val kvOffSchema = entries.select(col("seq").cast("int").as("seq"),
      lit("x").as("note"), col("expire_ts_us").cast("int").as("expire_ts_us"),
      col("value"), col("key")).repartition(2)
    val kvSchema = model.KvEntry.schema
      .map(c => (c.name, c.dataType.simpleString))
    def kvSet(t: GraftKvTable): Set[(String, String)] = t.kvs().collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]]("value"))))
      .toSet
    Seq(0, 4).foreach { buckets =>
      def table(): GraftKvTable = Graft.createKvTable(spark,
        Files.createTempDirectory("graft-kv-offschema").toString, buckets)
      val ref = table()
      ref.putEntries(entries)
      val t = table()
      t.putEntries(kvOffSchema)
      assert(kvSet(t) == kvSet(ref) &&
        kvSet(t) == Set(("k1", "1b"), ("k2", "2")), buckets)
      assert(fileSchemas(t.logDir) == Set(kvSchema), buckets)
      val before = dataFiles(t.logDir).toSet
      intercept[org.apache.spark.sql.AnalysisException] {
        t.putEntries(entries.withColumn("expire_ts_us",
          col("expire_ts_us").cast("string")))
      }
      assert(dataFiles(t.logDir).toSet == before, buckets)
    }
  }

  test("bucketed tables leave the session catalog untouched and read across sessions") {
    import graft.model.TableDesc
    import spark.implicits._
    def tables(): Set[String] =
      spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    def tmp(name: String) = Files.createTempDirectory(name).toString
    val dir = tmp("graft-nocat")
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 4),
      Some(Set(OpType.Value)))
    t.put(Seq(CellOp("a", "cf", "q", 1L, OpType.Value, "1".getBytes, 1L)))
    t.put(Seq(CellOp("b", "cf", "q", 1L, OpType.Value, "2".getBytes, 2L))
      .toDF().repartition(2))
    assert(t.get("a").count() == 1)
    assert(t.scan.run().count() == 2)
    val cdir = tmp("graft-nocat-c")
    t.compact(cdir)
    assert(Graft.openTable(spark, cdir).get("b").count() == 1)
    val kdir = tmp("graft-nocat-kv")
    val kv = Graft.createKvTable(spark, kdir, buckets = 4)
    kv.put(Seq(("k1", "1".getBytes, 0L)), 1L)
    kv.put(Seq(("k2", "2".getBytes, 0L)).toDF("key", "value", "ttl_sec")
      .repartition(2), 1L)
    assert(kv.get("k1").count() == 1)
    val kcdir = tmp("graft-nocat-kv-c")
    kv.compact(kcdir)
    assert(Graft.openKvTable(spark, kcdir).kvs().count() == 2)
    assert(tables() == before)

    // a put made through another session shows on this session's next
    // read, with no refresh step
    val other = spark.newSession()
    Graft.openTable(other, dir)
      .put(Seq(CellOp("c", "cf", "q", 1L, OpType.Value, "3".getBytes, 3L)))
    assert(t.get("c").count() == 1)
    Graft.openKvTable(other, kdir).put(Seq(("k3", "3".getBytes, 0L)), 1L)
    assert(kv.get("k3").count() == 1)
    assert(tables() == before)
  }

  test("relational bulk load round-trips: resolve == source projection") {
    val sfDir = "/root/testdata/sf0.001"
    def cellSet(t: GraftTable): Set[(String, String, String, String)] =
      t.cells().select(col("row_key"), col("cf"), col("qualifier"),
          decode(col("value"), "UTF-8").as("v")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
        .toSet

    // shape 1: lineitem (dup (orderkey, linenumber) keys in the synthetic
    // data -> aggregate first, the loader's documented contract), two CFs
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max("l_quantity").as("qty"), max("l_returnflag").as("rf"))
      .withColumn("k", concat_ws(":", col("l_orderkey"), col("l_linenumber")))
    val dir1 = Files.createTempDirectory("graft-load1").toString
    val t1 = Graft.loadRelational(spark, dir1, li, "k",
      Map("m" -> Seq("qty"), "f" -> Seq("rf")))
    val want1 = li.select(col("k"),
        col("qty").cast("string").as("qty"), col("rf")).collect()
      .flatMap(r => Seq((r.getString(0), "m", "qty", r.getString(1)),
        (r.getString(0), "f", "rf", r.getString(2)))).toSet
    assert(cellSet(t1) == want1)
    // the declared VALUE-only op-set survives reopen
    assert(Graft.openTable(spark, dir1).opsPresent
      == Some(Set(graft.model.OpType.Value)))

    // shape 2: nation, one CF, string + int columns
    val nation = graft.sources.Tables.load(spark, sfDir, "nation")
    val dir2 = Files.createTempDirectory("graft-load2").toString
    val t2 = Graft.loadRelational(spark, dir2, nation, "n_nationkey",
      Map("n" -> Seq("n_name", "n_regionkey")))
    val want2 = nation.collect().flatMap(r => Seq(
      (r.getAs[Any]("n_nationkey").toString, "n", "n_name", r.getAs[String]("n_name")),
      (r.getAs[Any]("n_nationkey").toString, "n", "n_regionkey",
        r.getAs[Any]("n_regionkey").toString)))
      .toSet
    assert(cellSet(t2) == want2)
    assert(t2.cells().count() == nation.count() * 2)

    // export direction: cells -> relational, NULL for absent cells,
    // typed values round-trip through their SQL string form
    val back = graft.sources.RelationalLoader.fromCellLog(
        t2.cells(), Map("n" -> Seq("n_name", "n_regionkey")), "n_nationkey")
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val src = nation.select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(back == src)
    // a key with only one CF's columns exports NULLs for the rest
    val sparse = graft.sources.RelationalLoader.fromCellLog(
      t2.cells().where(col("qualifier") === "n_name"),
      Map("n" -> Seq("n_name", "n_regionkey")), "n_nationkey")
    assert(sparse.where(col("n_regionkey").isNull).count() == nation.count())
  }

  test("any Spark source loads as a cell table: CSV round-trip") {
    // the loader is source-agnostic by construction — anything
    // spark.read produces becomes a cell table (terautil-load analogue
    // for arbitrary formats)
    val csvDir = Files.createTempDirectory("graft-csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(csvDir, "in.csv"),
      "id,seg,score\n10,alpha,3\n11,beta,5\n")
    val src = spark.read.option("header", "true").csv(csvDir)
    val dir = Files.createTempDirectory("graft-csv-table").toString
    val t = Graft.loadRelational(spark, dir, src, "id",
      Map("c" -> Seq("seg", "score")))
    val cells = t.cells().collect()
      .map(r => (r.getString(0), r.getString(2),
        new String(r.getAs[Array[Byte]]("value")))).toSet
    assert(cells == Set(
      ("10", "seg", "alpha"), ("10", "score", "3"),
      ("11", "seg", "beta"), ("11", "score", "5")))
  }

  test("sql facade answers over resolved cell views") {
    Graft.registerSqlCatalog(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT count(*) FROM events_cells c
        |JOIN customer ON CAST(c_custkey AS STRING) = c.row_key
        |WHERE c.qualifier = 'purchase'""".stripMargin)
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("percolator pending locks surface uncommitted transactions") {
    import spark.implicits._
    val log = Seq(
      // committed column: lock at 10 superseded by commit at 20
      CellOp("r1", "cf", "!Lq", 10, OpType.Value, Array[Byte](0), 1),
      CellOp("r1", "cf", "q", 10, OpType.Value, "v".getBytes, 2),
      CellOp("r1", "cf", "!Wq", 20, OpType.Value, Codecs.encodeBE64(10), 3),
      // dangling lock: never committed
      CellOp("r2", "cf", "!Lq", 15, OpType.Value, Array[Byte](0), 4),
      CellOp("r2", "cf", "q", 15, OpType.Value, "w".getBytes, 5)).toDF()
    val pending = graft.operators.PercolatorRead.pendingLocks(log, snapshotTs = 25)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(pending == Set(("r2", 15L)))
    val committed = graft.operators.PercolatorRead.resolve(log, snapshotTs = 25)
      .collect().map(_.getString(0)).toSet
    assert(committed == Set("r1"))
  }

  test("engine expressions are callable from SQL") {
    Graft.registerFunctions(spark)
    val r = spark.sql(
      """SELECT murmur64a(CAST('hello-tera' AS BINARY)) AS h,
        |       be64_decode(be64_encode(42L)) AS rt,
        |       f64_decode(f64_encode(2.5D)) AS d""".stripMargin).collect()(0)
    assert(r.getLong(0) == Codecs.murmur64a("hello-tera".getBytes("UTF-8")))
    assert(r.getLong(1) == 42L && r.getDouble(2) == 2.5)
    val r2 = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       le_int_decode(le64_encode(-7L), 8, true) AS li,
        |       le_int_decode(le64_encode(255L), 1, false) AS u8""".stripMargin)
      .collect()(0)
    assert(r2.getDouble(0) == 11.0 && r2.getLong(1) == -7L && r2.getLong(2) == 255L)
    val r3 = spark.sql(
      s"""SELECT element_at(byte_histogram(CAST('aab' AS BINARY)), 98) AS a_cnt,
        |       nfc_normalize('é') AS nfc,
        |       deflate_size(CAST(repeat('x', 1000) AS BINARY), 6) AS dz""".stripMargin)
      .collect()(0)
    assert(r3.getLong(0) == 2L) // 'a' = byte 97 -> bin index 98 (1-based)
    assert(r3.getString(1) == "é")
    assert(r3.getInt(2) > 0 && r3.getInt(2) < 50) // 1000 x's deflate tiny
  }

  test("GraftExtensions injects the function surface at session build") {
    // getOrCreate returns the active session, bypassing extensions —
    // clear both handles so the builder constructs a fresh session
    // (same SparkContext) with the extensions applied, as a
    // `spark.sql.extensions=graft.GraftExtensions` deployment would
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = ext.sql(
        """SELECT murmur64a(CAST('hello-tera' AS BINARY)) AS h,
          |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp""".stripMargin)
        .collect()(0)
      assert(r.getLong(0) == Codecs.murmur64a("hello-tera".getBytes("UTF-8")))
      assert(r.getDouble(1) == 11.0)
      // injected into the catalog registry: visible from a derived
      // session too (temp-function registration would not be)
      val derived = ext.newSession()
      assert(derived.sql("SELECT be64_decode(be64_encode(7L)) AS x")
        .collect()(0).getLong(0) == 7L)
      // and the ordered-collect strategy is injected with them
      val ordered = ext.range(10).toDF().orderBy(col("id").desc)
      assert(ordered.queryExecution.executedPlan.toString
        .contains("SortedRunsCollect"), ordered.queryExecution.executedPlan)
      assert(ordered.collect().map(_.getLong(0)).toSeq == (9L to 0L by -1L))
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("clearCaches: drive → clear → re-drive round-trips and releases the pinned checkpoint blocks") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    // make sure we start from a released state (other tests in the
    // same JVM may have populated the entry-point caches)
    Graft.clearCaches()
    val baseline = s.sparkContext.getPersistentRDDs.size
    val first = SparkEntry.queries("q_x_graph_communities")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the drive pinned the purchase-edge + LPA-label checkpoints
    assert(s.sparkContext.getPersistentRDDs.size > baseline)
    Graft.clearCaches()
    assert(s.sparkContext.getPersistentRDDs.size == baseline,
      "block-manager storage did not return to baseline after clearCaches")
    // re-drive rebuilds the caches and returns the identical labeling
    val again = SparkEntry.queries("q_x_graph_communities")(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first)
    Graft.clearCaches()
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = JobCount.during(spark)(body)._2

  /** A table of every driver-commit flavour (flat, bucketed,
    * hash-keyed, binary-keyed) with its batch as a local DataFrame. */
  private def driverCommitCases(): Seq[(String, model.TableDesc,
      org.apache.spark.sql.DataFrame)] = {
    import graft.model.TableDesc
    val session = spark
    import session.implicits._
    val ops = (0 until 120).map(i => CellOp(f"r${i % 40}%03d", "cf",
      s"q${i % 3}", 100L + i % 7,
      if (i % 17 == 0) OpType.DelQualifiers else OpType.Value,
      if (i % 17 == 0) null else s"v$i".getBytes, i.toLong))
    val binary = ops.map(o => (o.row_key.getBytes("UTF-8") :+ 0.toByte,
        o.cf, o.qualifier, o.ts, o.op, o.value, o.seq))
      .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq")
    Seq(("flat", TableDesc(), ops.toDF()),
      ("bucketed", TableDesc(buckets = 4), ops.toDF()),
      ("hash-keyed", TableDesc(hashKeys = true), ops.toDF()),
      ("binary-key", TableDesc(rawKeyBinary = true), binary))
  }

  private def cellSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(r => r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSet

  test("driver commit: a local batch and the same rows distributed resolve identically") {
    val ops = Some(Set(OpType.Value, OpType.DelQualifiers))
    driverCommitCases().foreach { case (name, desc, local) =>
      val a = Graft.createTable(spark,
        Files.createTempDirectory("graft-dc-local").toString, desc, ops)
      val b = Graft.createTable(spark,
        Files.createTempDirectory("graft-dc-dist").toString, desc, ops)
      // half the batch per put: the second commit lands next to the first
      val (first, second) = (local.where(col("seq") < 60L),
        local.where(col("seq") >= 60L))
      a.put(first); a.put(second)
      b.put(first.repartition(3)); b.put(second.repartition(3))
      assert(cellSet(a.cells()) == cellSet(b.cells()), name)
      assert(cellSet(a.log) == cellSet(b.log), name)
      assert(a.cells().count() > 0, name)
      assert(deleteHint(a.logDir) ==
        deleteHint(b.logDir), name)
    }
  }

  test("driver commit: a local put starts no Spark job") {
    driverCommitCases().foreach { case (name, desc, local) =>
      val t = Graft.createTable(spark,
        Files.createTempDirectory("graft-dc-jobs").toString, desc,
        Some(Set(OpType.Value, OpType.DelQualifiers)))
      assert(jobsDuring(t.put(local)) == 0, name)
      // the distributed twin is a Spark write
      assert(jobsDuring(t.put(local.repartition(2))) > 0, name)
    }
  }

  test("driver commit: point gets find every row written by driver puts on a bucketed table") {
    import graft.model.TableDesc
    val dir = Files.createTempDirectory("graft-dc-get").toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 8),
      Some(Set(OpType.Value)))
    val keys = (0 until 24).map(i => f"k$i%04d")
    keys.grouped(5).zipWithIndex.foreach { case (ks, b) =>
      t.put(ks.map(k => CellOp(k, "cf", "q", 1L, OpType.Value,
        s"$k-$b".getBytes, b.toLong * 100 + ks.indexOf(k))))
    }
    // one file per touched bucket per commit, each carrying its bucket id
    val names = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
    assert(names.nonEmpty && names.forall(n =>
      org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(n).exists(id => id >= 0 && id < 8)), names.toSeq)
    keys.foreach { k =>
      val got = t.get(k).collect()
      assert(got.length == 1 &&
        new String(got(0).getAs[Array[Byte]]("value")).startsWith(k), k)
    }
    assert(t.get(keys.head).queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount: 1 out of 8"))
  }

  test("driver commit: no in-progress file remains, also after a failed write") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft-dc-tmp").toString
    val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
      Some(Set(OpType.Value)))
    t.put(Seq(CellOp("a", "cf", "q", 1L, OpType.Value, "v".getBytes, 1L),
      CellOp("b", "cf", "q", 1L, OpType.Value, "v".getBytes, 2L)))
    // a row whose value column throws once the parquet writer reaches
    // it: the sort (on key columns) passes, the file is half written
    def row(k: String, bad: Boolean) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(k), UTF8String.fromString("cf"),
        UTF8String.fromString("q"), 1L, OpType.Value, "v".getBytes, 3L)) {
      override def getBinary(i: Int): Array[Byte] =
        if (bad) throw new IllegalStateException("boom") else super.getBinary(i)
    }
    val err = intercept[IllegalStateException] {
      graft.sources.DriverCommit.write(spark,
        Seq(row("c", bad = false), row("d", bad = true)),
        model.CellOp.schema, dir, Seq("row_key"), "row_key")
    }
    assert(err.getMessage == "boom")
    val files = new java.io.File(dir).list().toSet
    val hidden = files.filter(_.startsWith("."))
    // only the checksum files of visible data files may be hidden
    assert(hidden.forall(h => h.endsWith(".crc") &&
      files.contains(h.stripPrefix(".").stripSuffix(".crc"))), hidden)
    assert(t.log.count() == 2)
  }

  test("compact carries the txn-ts allocator to the compacted table") {
    val dir = Files.createTempDirectory("graft-compact-txnts").toString
    val t = Graft.createTable(spark, dir, ops = Some(Set(OpType.Value)))
    t.put(Seq(CellOp("r", "cf", "q", 100, OpType.Value, "v".getBytes, 1)))
    // reserved but never written: only the allocator knows them
    val first = t.allocateTxnTs(5)
    val out = Files.createTempDirectory("graft-compact-txnts-out").toString
    t.compact(out)
    val second = Graft.openTable(spark, out).allocateTxnTs()
    assert(second > first + 4, s"reissued a reserved ts: $first then $second")
  }

  test("ordered scan collect equals a driver-side sort of the unordered scan") {
    import graft.model.TableDesc
    val session = spark
    import session.implicits._
    Seq(TableDesc(), TableDesc(buckets = 4),
        TableDesc(lgs = Map("a" -> "hot"))).foreach { desc =>
      val dir = Files.createTempDirectory("graft-merge-scan").toString
      val t = Graft.createTable(spark, dir,
        desc.copy(default = model.CfSpec(maxVersions = 3)),
        Some(Set(OpType.Value)))
      // several commits (local and distributed) so the runs interleave
      (0 until 3).foreach { b =>
        val ops = (0 until 90).map(i => CellOp(f"r${(i * 7 + b) % 60}%03d",
          if (i % 2 == 0) "a" else "b", s"q${i % 4}", 1000L * b + i,
          OpType.Value, s"v$b-$i".getBytes, b * 1000L + i))
        if (b == 1) t.put(ops.toDF().repartition(4)) else t.put(ops)
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(r => (r.getAs[String]("row_key"),
          r.getAs[String]("cf"), r.getAs[String]("qualifier"),
          r.getAs[Long]("ts"), new String(r.getAs[Array[Byte]]("value"))))
      val ordered = t.scan.run()
      assert(ordered.queryExecution.executedPlan.toString
        .contains("SortedRunsCollect"), desc)
      val got = rows(ordered)
      val want = rows(t.scan.unordered.run())
        .sortBy { case (k, cf, q, ts, _) => (k, cf, q, -ts) }
      assert(got.length > 60, desc)
      assert(got == want, desc)
    }
  }

  test("ordered frames stay globally ordered through toLocalIterator, rdd and writes") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-merge-other").toString
    // bucketed: each scan partition is one bucket, so its rows
    // interleave with every other partition's in key order
    val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
      Some(Set(OpType.Value)))
    val session = spark
    import session.implicits._
    t.put((0 until 400).map(i => CellOp(f"r${(i * 37) % 400}%04d", "cf", "q",
      1L, OpType.Value, "v".getBytes, i.toLong)).toDF().repartition(4))
    val df = t.scan.run()
    val want = df.collect().map(_.getString(0)).toSeq
    assert(want == want.sorted && want.length == 400)
    assert(df.toLocalIterator().asScala.map(_.getString(0)).toSeq == want)
    assert(df.rdd.map(_.getString(0)).collect().toSeq == want)
    val out = Files.createTempDirectory("graft-merge-write").toString + "/o"
    // keep the write's range partitions apart: several ordered files
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try df.write.parquet(out) finally spark.conf.unset(coalesce)
    val parts = new java.io.File(out).list().filter(_.endsWith(".parquet")).sorted
    assert(parts.length > 1, parts.toSeq)
    val written = parts.toSeq.flatMap(p => spark.read.parquet(s"$out/$p")
      .collect().map(_.getString(0)))
    assert(written == want)
  }

  private def stateFile(dir: String) =
    java.nio.file.Paths.get(dir, "_graft_desc.properties")

  test("table state: a zero-byte state file refuses open, naming the file") {
    val dir = Files.createTempDirectory("graft-state-empty").toString
    Graft.createTable(spark, dir, ops = Some(Set(OpType.Value)))
    Files.write(stateFile(dir), Array.emptyByteArray)
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "._graft_desc.properties.crc"))
    val e = intercept[IllegalStateException](Graft.openTable(spark, dir))
    assert(e.getMessage.contains(stateFile(dir).toString) &&
      e.getMessage.contains("cf.default"), e.getMessage)
  }

  test("table state: a torn replace refuses instead of opening a bare log") {
    val dir = Files.createTempDirectory("graft-state-torn").toString
    val t = Graft.createTable(spark, dir, model.TableDesc(hashKeys = true),
      Some(Set(OpType.Value)))
    t.put(Seq(CellOp("alice", "cf", "q", 100, OpType.Value, "a".getBytes, 1)))
    // a write that died between deleting the old file and renaming its
    // temp into place
    def move(from: String, to: String): Unit = Files.move(
      java.nio.file.Paths.get(dir, from), java.nio.file.Paths.get(dir, to))
    move("_graft_desc.properties", "_graft_desc.properties.tmp")
    move("._graft_desc.properties.crc", "._graft_desc.properties.tmp.crc")
    val e = intercept[IllegalStateException](Graft.openTable(spark, dir))
    assert(e.getMessage.contains(stateFile(dir).toString + " ") &&
      e.getMessage.contains(stateFile(dir).toString + ".tmp"), e.getMessage)
    intercept[IllegalStateException](t.get("alice"))
    intercept[IllegalStateException](Graft.createTable(spark, dir))
    // the rename completes the write: the table opens as it was
    move("_graft_desc.properties.tmp", "_graft_desc.properties")
    move("._graft_desc.properties.tmp.crc", "._graft_desc.properties.crc")
    assert(Graft.openTable(spark, dir).get("alice").count() == 1)
  }

  test("table state: put, alterTable and allocateTxnTs replace the file by rename") {
    import graft.model.{CfSpec, TableDesc}
    val dir = Files.createTempDirectory("graft-state-rename").toString
    val t = Graft.createTable(spark, dir, ops = Some(Set(OpType.Value, OpType.DelRow)))
    def inode: AnyRef = Files.getAttribute(stateFile(dir), "unix:ino")
    var last = inode
    def replaced(by: String): Unit = {
      val now = inode
      assert(now != last, s"$by rewrote the state file in place")
      assert(!Files.exists(java.nio.file.Paths.get(dir, "_graft_desc.properties.tmp")), by)
      last = now
    }
    t.put(Seq(CellOp("r", "cf", "q", 100, OpType.Value, "v".getBytes, 1),
      CellOp("r", "cf", "q", 200, OpType.DelRow, null, 2)))
    replaced("put")
    Graft.alterTable(spark, dir, TableDesc(CfSpec(maxVersions = 2)))
    replaced("alterTable")
    t.allocateTxnTs()
    replaced("allocateTxnTs")
    assert(deleteHint(dir).contains(1L))
  }

  test("table state: a state file as earlier builds wrote it opens unchanged") {
    import graft.model.{CfSpec, TableDesc}
    val dir = Files.createTempDirectory("graft-state-compat").toString
    // java.util.Properties.store output: a comment, a date, escaped keys,
    // hash order
    Files.write(stateFile(dir), Seq(
      "#graft table descriptor",
      "#Sat Oct 17 12:00:00 UTC 2026",
      "nextTxnTs=42",
      "cf.named.a\\ b\\:c=2,0,0",
      "hashKeys=true",
      "deleteCount=3",
      "ops=0,1",
      "rawKey=readable",
      "cf.default=3,1,86400",
      "kvMode=false").mkString("", "\n", "\n").getBytes("ISO-8859-1"))
    val desc = TableDesc(CfSpec(3, 1, 86400), Map("a b:c" -> CfSpec(2, 0, 0)),
      hashKeys = true)
    val ops = Some(Set(OpType.Value, OpType.DelRow))
    val t = Graft.openTable(spark, dir)
    assert(t.desc == desc && t.opsPresent == ops)
    assert(deleteHint(dir).contains(3L))
    assert(t.allocateTxnTs() == 42L)
    // rewritten by this build, it reads back the same
    val again = Graft.openTable(spark, dir)
    assert(again.desc == desc && again.opsPresent == ops)
    assert(deleteHint(dir).contains(3L))
    assert(again.allocateTxnTs() == 43L)
  }

  test("puts from 4 threads keep the delete hint exact") {
    val dir = Files.createTempDirectory("graft-state-threads").toString
    val t = Graft.createTable(spark, dir,
      ops = Some(Set(OpType.Value, OpType.DelRow)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      (0 until 4).map { th =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 5).foreach { b =>
            val seq = th * 1000L + b * 10L
            t.put(Seq(
              CellOp(s"r$th-$b", "cf", "q", 100, OpType.Value, "v".getBytes, seq),
              CellOp(s"x$th-$b", "cf", "q", 100, OpType.DelRow, null, seq + 1),
              CellOp(s"y$th-$b", "cf", "q", 100, OpType.DelRow, null, seq + 2)))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(t.log.where(col("op") =!= OpType.Value).count() == 40)
    assert(deleteHint(dir).contains(40L))
  }

  test("KV put refuses once the seq space is exhausted") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-kv-era").toString
    val t = Graft.createKvTable(spark, dir)
    // a stored seq at the top of the seq space: no seq is left above it
    t.putEntries(Seq(("k", "old".getBytes, 0L, Long.MaxValue))
      .toDF("key", "value", "expire_ts_us", "seq"))
    val e = intercept[IllegalStateException](
      t.put(Seq(("k", "new".getBytes, 0L)), nowUs = 1L))
    assert(e.getMessage.contains("seq"), e.getMessage)
    assert(t.log.count() == 1)
    assert(t.get("k").collect().map(r => new String(r.getAs[Array[Byte]]("value")))
      .toSeq == Seq("old"))
  }

  test("seq allocator: two sessions reserving from 4 threads get disjoint ranges") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-seq-alloc").toString
    val t = Graft.createTable(spark, dir)
    t.put(Seq(CellOp("r", "cf", "q", 1, OpType.Value, "v".getBytes, 5)))
    val sessions = Seq(spark, spark.newSession())
    def reserve(s: SparkSession, n: Long): Long =
      graft.sources.CellLogStore.reserveSeqs(s, dir, n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ranges = try {
      (0 until 4).map { th =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Long, Long)]] {
          def call(): Seq[(Long, Long)] = (0 until 10).map { i =>
            val n = 1L + (th * 10 + i) % 7
            val base = reserve(sessions(th % 2), n)
            (base, base + n)
          }
        })
      }.flatMap(_.get())
    } finally pool.shutdown()
    val sorted = ranges.sortBy(_._1)
    assert(sorted.head._1 > 5, "a reservation reused a stored seq")
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a._2 <= b._1, s"overlapping reservations $a and $b")
    }
    // a put with a higher caller-supplied seq, from either session and
    // by either write path, moves the next reservation above it
    for ((s, i) <- sessions.zipWithIndex; distributed <- Seq(false, true)) {
      val high = 1L << (40 + 2 * i + (if (distributed) 1 else 0))
      val batch = Seq(CellOp(s"h$i", "cf", "q", 1, OpType.Value,
        "v".getBytes, high)).toDF()
      Graft.openTable(s, dir).put(
        if (distributed) batch.repartition(2) else batch)
      val next = reserve(sessions(1 - i), 1)
      assert(next > high, s"session $i, distributed=$distributed: $next <= $high")
    }
  }

  test("KV put of a local batch starts no Spark job after its first put") {
    val session = spark
    import session.implicits._
    for (buckets <- Seq(0, 4)) {
      val dir = Files.createTempDirectory("graft-kv-local").toString
      val t = Graft.createKvTable(spark, dir, buckets = buckets)
      // the first put seeds the table's seq allocator
      t.put(Seq(("a", "1".getBytes, 0L)), nowUs = 1L)
      assert(jobsDuring(t.put(Seq(("b", "2".getBytes, 0L),
        ("a", "3".getBytes, 0L)), nowUs = 2L)) == 0, s"buckets=$buckets")
      // a distributed put still numbers above every local one
      t.put(Seq(("a", "4", 0L)).toDF("key", "value", "ttl_sec")
        .select(col("key"), encode(col("value"), "UTF-8").as("value"),
          col("ttl_sec")).repartition(2), nowUs = 3L)
      assert(t.kvs().collect().map(r =>
          r.getString(0) -> new String(r.getAs[Array[Byte]]("value"))).toMap ==
        Map("a" -> "4", "b" -> "2"), s"buckets=$buckets")
      assert(t.log.select("seq").distinct().count() == 4)
    }
  }

  test("KV put on a bare directory of KvEntry parquet numbers above its seqs") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-kv-bare").toString
    val t = Graft.openKvTable(spark, dir)
    t.putEntries(Seq(("k", "old".getBytes, 0L, 1000L))
      .toDF("key", "value", "expire_ts_us", "seq"))
    t.put(Seq(("k", "new".getBytes, 0L)), nowUs = 1L)
    t.put(Seq(("j", "x".getBytes, 0L), ("k", "newer".getBytes, 0L)), nowUs = 2L)
    assert(t.kvs().collect().map(r =>
        r.getString(0) -> new String(r.getAs[Array[Byte]]("value"))).toMap ==
      Map("k" -> "newer", "j" -> "x"))
    val seqs = t.log.collect().map(_.getAs[Long]("seq"))
    assert(seqs.length == 4 && seqs.distinct.length == 4)
    assert(seqs.count(_ > 1000L) == 3)
    // the directory stays bare: no state file was written for it
    assert(graft.sources.TableState.read(spark, dir).isEmpty)
  }

  test("seq counter stays a floor when a write's max seq is unknown") {
    val dir = Files.createTempDirectory("graft-seq-floor").toString
    val t = Graft.createTable(spark, dir)
    t.put(Seq(CellOp("r", "cf", "q", 1, OpType.Value, "v".getBytes, 5)))
    // a range handed out but not yet written is not in the log
    val base = graft.sources.CellLogStore.reserveSeqs(spark, dir, 1000)
    val s = graft.sources.TableState.require(spark, dir)
    val unknown = graft.sources.LogLayout.Tally(None, None)
    assert(s.written(graft.sources.CellLogStore.maxSeqOf(unknown, t.log))
      .nextSeq.contains(base + 1000))
    // ...and the log's own max still raises it
    t.put(Seq(CellOp("r", "cf", "q", 2, OpType.Value, "w".getBytes, 1L << 40)))
    assert(s.written(graft.sources.CellLogStore.maxSeqOf(unknown, t.log))
      .nextSeq.contains((1L << 40) + 1))
  }

  test("table state locks: a writer of one table does not wait on another's") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val a = Files.createTempDirectory("graft-lock-a").toString
    val b = Files.createTempDirectory("graft-lock-b").toString
    val ta = Graft.createTable(spark, a)
    val tb = Graft.createTable(spark, b)
    def cell(seq: Long) = Seq(CellOp("r", "cf", "q", seq, OpType.Value,
      "v".getBytes, seq))
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.sources.TableState.locked(spark, a) {
        held.countDown()
        release.await()
      })
    holder.start()
    held.await()
    val waiting = try {
      // b's put and reservation proceed while a's lock is held...
      Await.result(Future {
        tb.put(cell(1))
        graft.sources.CellLogStore.reserveSeqs(spark, b, 10)
      }, 60.seconds)
      // ...while a's own writer waits for it
      val fa = Future(ta.put(cell(2)))
      Thread.sleep(500)
      assert(!fa.isCompleted, "a put ran while its table's lock was held")
      fa
    } finally {
      release.countDown()
      holder.join()
    }
    Await.result(waiting, 60.seconds)
    assert(ta.log.count() == 1 && tb.log.count() == 1)
  }

  test("an index rebuild keeps the index table's txn-ts allocator") {
    val dir = Files.createTempDirectory("graft-ix-txnts").toString
    val ixDir = Files.createTempDirectory("graft-ix-txnts-ix").toString
    val t = Graft.createTable(spark, dir, ops = Some(Set(OpType.Value)))
    t.put(Seq(CellOp("r1", "c", "seg", 100, OpType.Value, "A".getBytes, 1)))
    val first = t.buildIndex(ixDir, "c", "seg").allocateTxnTs(5)
    // the rebuild overwrites the index log, state file included
    val second = t.buildIndex(ixDir, "c", "seg").allocateTxnTs()
    assert(second >= first + 5, s"reissued a reserved ts: $first then $second")
  }

  /** Collected rows of a get or resolve frame, order-free. */
  private def cellRows(rows: Array[org.apache.spark.sql.Row])
      : Seq[(String, String, String, Long, Seq[Byte], Long)] =
    rows.toSeq.map { r =>
      val key = r.get(0) match {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case k => k.toString
      }
      (key, r.getString(1), r.getString(2), r.getLong(3),
        Option(r.getAs[Array[Byte]](4)).map(_.toSeq).orNull, r.getLong(5))
    }.sorted(Ordering.by((c: (String, String, String, Long, Seq[Byte], Long)) =>
      (c._1, c._2, c._3, c._4, c._6)))

  test("a collected get on a bucketed table starts no Spark job") {
    import model.TableDesc
    val session = spark
    import session.implicits._
    val ops = Some(Set(OpType.Value, OpType.DelRow, OpType.DelColumn,
      OpType.DelQualifiers, OpType.DelQualifier, OpType.Add, OpType.Append))
    def batch(round: Int): Seq[CellOp] = (0 until 12).flatMap { i =>
      val k = f"k$i%02d"
      val seq = round * 1000L + i * 10
      Seq(
        CellOp(k, "cf", "v", 10L + round, OpType.Value, s"$k-$round".getBytes, seq),
        CellOp(k, "cf", "n", 10L + round, OpType.Add, Codecs.encodeBE64(i + round), seq + 1),
        CellOp(k, "cf", "log", 10L + round, OpType.Append, s"$round".getBytes, seq + 2),
        CellOp(k, "old", "q", 10L + round, OpType.Value, "o".getBytes, seq + 3)) ++
        (if (round == 2 && i % 3 == 0)
          Seq(CellOp(k, "", "", 11L, OpType.DelRow, null, seq + 4))
        else if (round == 2 && i % 3 == 1)
          Seq(CellOp(k, "old", "", 12L, OpType.DelColumn, null, seq + 4),
            CellOp(k, "cf", "v", 11L, OpType.DelQualifier, null, seq + 5))
        else if (round == 2)
          Seq(CellOp(k, "cf", "log", 12L, OpType.DelQualifiers, null, seq + 4))
        else Nil)
    }
    for ((name, desc) <- Seq(
        "string" -> TableDesc(buckets = 4),
        "hashed" -> TableDesc(buckets = 4, hashKeys = true),
        "binary" -> TableDesc(buckets = 4, rawKeyBinary = true))) {
      val dir = Files.createTempDirectory(s"graft-get-jobs-$name").toString
      val t = Graft.createTable(spark, dir, desc, ops)
      def put(cells: Seq[CellOp]): Unit = t.put(
        if (desc.rawKeyBinary) cells.toDF().withColumn("row_key", col("row_key").cast("binary"))
        else cells.toDF())
      // local puts: driver commits, one file per touched bucket each
      (1 to 3).foreach(round => put(batch(round)))
      val (_, putJobs) = JobCount.during(spark)(put(batch(4).take(3)))
      assert(putJobs == 0, s"$name: a local put ran $putJobs jobs")
      (0 until 12).map(i => f"k$i%02d").foreach { k =>
        val frame = if (desc.rawKeyBinary) t.get(k.getBytes("UTF-8")) else t.get(k)
        val (got, jobs) = JobCount.during(spark)(frame.collect())
        assert(jobs == 0, s"$name $k: collect ran $jobs jobs")
        val want = t.cells().where(col("row_key") === (
          if (desc.rawKeyBinary) lit(k.getBytes("UTF-8")) else lit(t.storageKey(k))))
        assert(cellRows(got) == cellRows(want.collect()), s"$name $k")
        assert(cellRows(got) == cellRows(frame.rdd.collect()), s"$name $k")
        assert(got.nonEmpty, s"$name $k")
      }
    }
  }

  test("a get frame answers from the files listed when get was called") {
    val dir = Files.createTempDirectory("graft-get-snap").toString
    val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
      Some(Set(OpType.Value)))
    t.put(Seq(CellOp("alice", "cf", "q", 1L, OpType.Value, "a".getBytes, 1L)))
    val frame = t.get("alice")
    t.put(Seq(CellOp("alice", "cf", "q", 2L, OpType.Value, "b".getBytes, 2L),
      CellOp("alice", "cf", "q2", 2L, OpType.Value, "c".getBytes, 3L)))
    val rows = frame.collect()
    assert(rows.length == 1 && new String(rows(0).getAs[Array[Byte]]("value")) == "a")
    assert(frame.count() == rows.length)
    assert(cellRows(frame.rdd.collect()) == cellRows(rows))
    assert(t.get("alice").collect().map(r =>
      new String(r.getAs[Array[Byte]]("value"))).toSet == Set("b", "c"))
  }

  test("a non-bucket file in a bucketed log fails the get with an error on both paths") {
    val dir = Files.createTempDirectory("graft-get-stray").toString
    val t = Graft.createTable(spark, dir, model.TableDesc(buckets = 4),
      Some(Set(OpType.Value)))
    t.put(Seq(CellOp("alice", "cf", "q", 1L, OpType.Value, "a".getBytes, 1L),
      CellOp("bob", "cf", "q", 1L, OpType.Value, "b".getBytes, 2L)))
    val data = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    // a hidden file is skipped by both paths, as by Spark's listing
    Files.copy(data.head.toPath, java.nio.file.Paths.get(dir, "_stray.parquet"))
    assert(t.get("alice").collect().length == 1 && t.get("alice").count() == 1)
    // a visible file with no bucket id fails every read of the log
    Files.copy(data.head.toPath, java.nio.file.Paths.get(dir, "part-00000-stray.c000.parquet"))
    def failure(read: => Any): String = {
      val e = intercept[Exception](read)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
    }
    Seq("alice", "bob").foreach { k =>
      assert(failure(t.get(k).collect()).contains("INVALID_BUCKET_FILE"), k)
      assert(failure(t.get(k).count()).contains("INVALID_BUCKET_FILE"), k)
    }
  }

  test("compacting a created table runs no op-probe job") {
    val dir = Files.createTempDirectory("graft-compact-probe").toString
    val t = Graft.createTable(spark, dir, model.TableDesc(),
      Some(Set(OpType.Value, OpType.Add, OpType.DelRow)))
    t.put(Seq(
      CellOp("a", "cf", "q", 1L, OpType.Value, "x".getBytes, 1L),
      CellOp("a", "cf", "n", 1L, OpType.Add, Codecs.encodeBE64(2L), 2L),
      CellOp("b", "cf", "q", 1L, OpType.Value, "y".getBytes, 3L),
      CellOp("b", "cf", "", 2L, OpType.DelRow, null, 4L)))
    // every plan executed while the compaction runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = plans.add(qe.executedPlan.toString)
    }
    org.apache.spark.sql.graft.Shim.waitListenerBus(spark)
    spark.listenerManager.register(listener)
    val out = Files.createTempDirectory("graft-compact-probe-out").toString
    try {
      t.compact(out)
      org.apache.spark.sql.graft.Shim.waitListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(plans.asScala.nonEmpty)
    assert(!plans.asScala.exists(_.contains("collect_set")),
      plans.asScala.mkString("\n---\n"))
    assert(Graft.openTable(spark, out).cells().count() == 2)
  }

  test("two concurrent creates of one table: exactly one wins, its descriptor stored") {
    import graft.model.{CfSpec, TableDesc}
    (1 to 20).foreach { round =>
      val dir = Files.createTempDirectory("graft-create-race").toString
      val descs = Seq(TableDesc(CfSpec(maxVersions = 2)),
        TableDesc(CfSpec(maxVersions = 3)))
      val start = new java.util.concurrent.CyclicBarrier(descs.size)
      val results = descs.map { d =>
        val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, TableDesc]]()
        val th = new Thread(() => out.set(
          try { start.await(); Graft.createTable(spark, dir, d); Right(d) }
          catch { case e: Throwable => Left(e) }))
        th.start()
        (th, out)
      }
      results.foreach(_._1.join())
      val outcomes = results.map(_._2.get)
      val won = outcomes.collect { case Right(d) => d }
      assert(won.size == 1, s"round $round: $outcomes")
      outcomes.collect { case Left(e) => e }.foreach(e =>
        assert(e.isInstanceOf[IllegalArgumentException] &&
          e.getMessage.contains("already exists"), e))
      assert(graft.sources.TableState.read(spark, dir).map(_.desc) == won.headOption,
        s"round $round")
    }
  }

  test("an LG-projected scan lists the log once") {
    import graft.model.TableDesc
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val dir = Files.createTempDirectory("graft-lg-listing").toString
    val t = Graft.createTable(spark, dir,
      TableDesc(lgs = Map("a" -> "hot", "b" -> "cold")), Some(Set(OpType.Value)))
    (0 until 3).foreach(b => t.put(Seq(
      CellOp(s"r$b", "a", "q", 1L, OpType.Value, "x".getBytes, 2L * b),
      CellOp(s"r$b", "b", "q", 1L, OpType.Value, "y".getBytes, 2L * b + 1))))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".parquet")).count()
    HiveCatalogMetrics.reset()
    val got = t.scan.addColumnFamily("a").run()
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    assert(got.count() == 3)
    assert(listed == files, s"listed $listed files for a $files-file log")
  }
}
