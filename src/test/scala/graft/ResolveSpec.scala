package graft

import graft.functions.Codecs
import graft.model._
import graft.operators.Resolve
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Resolve-pipeline semantics, mirroring the reference server tests
  * (tera src/io/test/tablet_io_test.cc: OverWrite :215, Compact :241,
  * LowLevelScan :421) and the atomic-merge semantics
  * (src/io/atomic_merge_strategy.cc).
  */
class ResolveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import OpType._

  private def df(ops: CellOp*): DataFrame = {
    import spark.implicits._
    ops.toSeq.toDF()
  }

  private def v(row: String, q: String, ts: Long, seq: Long, s: String,
      cf: String = "cf") =
    CellOp(row, cf, q, ts, Value, s.getBytes("UTF-8"), seq)

  private def del(op: Int, row: String, q: String, ts: Long, seq: Long,
      cf: String = "cf") =
    CellOp(row, cf, q, ts, op, null, seq)

  private def visible(res: DataFrame): Set[(String, String, String, Long, String)] =
    res.collect().map(r => (
      r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
      new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSet

  test("overwrite: newest version wins; same-ts resolved by seq") {
    val log = df(
      v("r1", "q", 10, 1, "old"),
      v("r1", "q", 20, 2, "new"),
      v("r2", "q", 10, 3, "first"),
      v("r2", "q", 10, 4, "second"))
    val res = visible(Resolve.resolve(log))
    assert(res == Set(
      ("r1", "cf", "q", 20L, "new"),
      ("r2", "cf", "q", 10L, "second")))
  }

  test("del_row kills all cfs at ts <= del.ts; later ts and later writes survive") {
    val log = df(
      v("r1", "q1", 10, 1, "a", cf = "cf1"),
      v("r1", "q2", 10, 2, "b", cf = "cf2"),
      v("r1", "q1", 30, 3, "high-ts"),     // ts above tombstone
      del(DelRow, "r1", "", 20, 4),
      v("r1", "q1", 15, 5, "after-del"))   // written after delete: visible
    val res = visible(Resolve.resolve(log, TableDesc(CfSpec(maxVersions = 10))))
    assert(res == Set(
      ("r1", "cf", "q1", 30L, "high-ts"),
      ("r1", "cf", "q1", 15L, "after-del")))
  }

  test("del_column scopes to one cf, del_qualifiers to one column") {
    val log = df(
      v("r1", "q1", 10, 1, "cf1-q1", cf = "cf1"),
      v("r1", "q1", 10, 2, "cf2-q1", cf = "cf2"),
      v("r1", "q2", 10, 3, "cf2-q2", cf = "cf2"),
      del(DelColumn, "r1", "", 15, 4, cf = "cf1"),
      del(DelQualifiers, "r1", "q2", 15, 5, cf = "cf2"))
    val res = visible(Resolve.resolve(log))
    assert(res == Set(("r1", "cf2", "q1", 10L, "cf2-q1")))
  }

  test("del_qualifier removes exactly one version") {
    val log = df(
      v("r1", "q", 10, 1, "keep-old"),
      v("r1", "q", 20, 2, "zap"),
      v("r1", "q", 30, 3, "keep-new"),
      del(DelQualifier, "r1", "q", 20, 4))
    val res = visible(Resolve.resolve(log, TableDesc(CfSpec(maxVersions = 10))))
    assert(res == Set(
      ("r1", "cf", "q", 10L, "keep-old"),
      ("r1", "cf", "q", 30L, "keep-new")))
  }

  test("ttl drops expired cells but min_versions newest survive") {
    val desc = TableDesc(CfSpec(maxVersions = 10, minVersions = 1, ttlSec = 10))
    val log = df(
      v("r1", "q", 1000000, 1, "ancient"),
      v("r1", "q", 2000000, 2, "old"),
      v("r2", "q", 1000000, 3, "only-one"))
    // now = 20s: everything is past its 10s ttl -> min_versions keeps newest
    val res = visible(Resolve.resolve(log, desc, nowUs = 20000000L))
    assert(res == Set(
      ("r1", "cf", "q", 2000000L, "old"),
      ("r2", "cf", "q", 1000000L, "only-one")))
  }

  test("max_versions caps surviving versions") {
    val log = df((1 to 5).map(i => v("r1", "q", i * 10L, i.toLong, s"v$i")): _*)
    val res = visible(Resolve.resolve(log, TableDesc(CfSpec(maxVersions = 2))))
    assert(res == Set(
      ("r1", "cf", "q", 50L, "v5"),
      ("r1", "cf", "q", 40L, "v4")))
  }

  test("counter fold: base VALUE plus big-endian ADDs") {
    val log = df(
      CellOp("r1", "cf", "q", 10, Value, Codecs.encodeBE64(100), 1),
      CellOp("r1", "cf", "q", 20, Add, Codecs.encodeBE64(5), 2),
      CellOp("r1", "cf", "q", 30, Add, Codecs.encodeBE64(-3), 3))
    val out = Resolve.resolve(log).collect().head
    assert(Codecs.decodeBE64(out.getAs[Array[Byte]]("value")) == 102L)
    assert(out.getAs[Long]("ts") == 30L)
  }

  test("counter fold: VALUE written later resets the accumulation") {
    val log = df(
      CellOp("r1", "cf", "q", 10, Add, Codecs.encodeBE64(7), 1),
      CellOp("r1", "cf", "q", 20, Value, Codecs.encodeBE64(100), 2),
      CellOp("r1", "cf", "q", 30, Add, Codecs.encodeBE64(1), 3))
    val out = Resolve.resolve(log).collect().head
    assert(Codecs.decodeBE64(out.getAs[Array[Byte]]("value")) == 101L)
  }

  test("addint64 folds little-endian") {
    val log = df(
      CellOp("r1", "cf", "q", 10, AddInt64, Codecs.encodeLE64(40), 1),
      CellOp("r1", "cf", "q", 20, AddInt64, Codecs.encodeLE64(2), 2))
    val out = Resolve.resolve(log).collect().head
    assert(Codecs.decodeLE64(out.getAs[Array[Byte]]("value")) == 42L)
  }

  test("append concatenates chronologically; put_if_absent keeps oldest") {
    val log = df(
      CellOp("r1", "cf", "a", 20, Append, "world".getBytes, 2),
      CellOp("r1", "cf", "a", 10, Append, "hello ".getBytes, 1),
      CellOp("r1", "cf", "p", 20, PutIfAbsent, "late".getBytes, 4),
      CellOp("r1", "cf", "p", 10, PutIfAbsent, "first".getBytes, 3))
    val res = visible(Resolve.resolve(log))
    assert(res.map(t => (t._3, t._5)) == Set(("a", "hello world"), ("p", "first")))
  }

  test("mixed fold survives a poison null operand (state nulls, scan lives)") {
    // a null Append/Add operand nulls the fold state — the expression
    // semantics (concat/arithmetic propagate null) — instead of killing
    // the job with an NPE; a later VALUE reseeds it
    val log = df(
      CellOp("r1", "cf", "q", 10, Value, "x".getBytes, 1),
      CellOp("r1", "cf", "q", 20, Append, null, 2),
      CellOp("r2", "cf", "q", 10, Value, "y".getBytes, 3),
      CellOp("r2", "cf", "q", 20, Append, null, 4),
      CellOp("r2", "cf", "q", 30, Value, "z".getBytes, 5),
      CellOp("r2", "cf", "q", 40, Append, "!".getBytes, 6))
    val out = Resolve.resolve(log).collect()
      .map(r => r.getString(0) -> Option(r.getAs[Array[Byte]]("value"))
        .map(new String(_))).toMap
    assert(out == Map("r1" -> None, "r2" -> Some("z!")))
  }

  test("tombstone kills atomic ops written before it") {
    val log = df(
      CellOp("r1", "cf", "q", 10, Add, Codecs.encodeBE64(5), 1),
      CellOp("r1", "cf", "q", 15, Add, Codecs.encodeBE64(6), 2),
      del(DelQualifiers, "r1", "q", 15, 3),
      CellOp("r1", "cf", "q", 20, Add, Codecs.encodeBE64(1), 4))
    val out = Resolve.resolve(log).collect().head
    assert(Codecs.decodeBE64(out.getAs[Array[Byte]]("value")) == 1L)
  }

  test("snapshot bounds visibility by seq") {
    val log = df(
      v("r1", "q", 10, 1, "committed"),
      v("r1", "q", 20, 5, "future"))
    val res = visible(Resolve.resolve(log, snapshotSeq = Some(3L)))
    assert(res == Set(("r1", "cf", "q", 10L, "committed")))
  }

  test("wide row view nests cf -> qualifier -> versions newest-first") {
    val log = df(
      v("r1", "q1", 10, 1, "old"),
      v("r1", "q1", 20, 2, "new"),
      v("r1", "q2", 5, 3, "x", cf = "cf2"))
    val wide = Resolve.toWideRows(
      Resolve.resolve(log, TableDesc(CfSpec(maxVersions = 10)))).collect()
    assert(wide.length == 1)
    val cells = wide.head
      .getAs[Map[String, Map[String, scala.collection.Seq[org.apache.spark.sql.Row]]]]("cells")
    assert(cells.keySet == Set("cf", "cf2"))
    val q1 = cells("cf")("q1")
    assert(q1.map(_.getLong(0)).toSeq == Seq(20L, 10L))
  }

  test("resolving a declared-op log with tombstones and no hint starts no Spark job until it runs") {
    val dir = java.nio.file.Files.createTempDirectory("resolve-plan-jobs").toString
    df(v("r1", "q", 10, 1, "a"), del(DelRow, "r1", "", 10, 2), v("r2", "q", 10, 3, "b"))
      .write.mode("overwrite").parquet(dir)
    val log = spark.read.parquet(dir)
    val (res, jobs) = JobCount.during(spark)(
      Resolve.resolve(log, opsPresent = Some(Set(Value, DelRow))))
    assert(jobs == 0, s"$jobs jobs while the plan was built")
    assert(visible(res) == Set(("r2", "cf", "q", 10L, "b")))
  }
}
