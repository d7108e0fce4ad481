package perfbench

import scala.collection.mutable

import graft.{Graft, GraftTable}
import graft.model.{CellOp, OpType, TableDesc}
import graft.operators.{ScanFilter, TypedValue}
import graft.sources.{CellLogStore, RelationalLoader}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** serve_mixed: one closed-loop client over a bucketed table built from
  * `orders`. Op mix: 50% point get, 10% snapshot get, 25% short range
  * scan (CF projection + value filter), 15% small put group commit, row
  * keys Zipf(0.99). Every read is compared with [[ServeModel]], which
  * tracks what the client wrote. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val rng = new java.util.SplittableRandom(ctx.seed)

  private var model: ServeModel = _
  private var dir: String = _
  private var zipf: Zipf = _
  private var clock: Clock = _
  private var snapshots = Vector.empty[Long]

  private def keyOf(i: Int): String = f"o$i%07d"

  // columns of the served table, in model order: (cf, qualifier)
  private val cfMap = Map(
    "meta" -> Seq("status", "priority", "date"),
    "amt" -> Seq("price", "cust"))
  private val columns: IndexedSeq[(String, String)] =
    cfMap.toSeq.sortBy(_._1).flatMap { case (cf, qs) => qs.map(cf -> _) }.toIndexedSeq

  /** The generated orders as the strings the client writes. */
  private lazy val base: Array[Array[String]] = {
    val rows = spark.read.parquet(s"${ctx.dataDir}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        format_number(col("o_totalprice"), 2), col("o_custkey"))
      .collect()
    val out = new Array[Array[String]](rows.length)
    rows.foreach { r =>
      val byName = Map("status" -> r.getString(1), "priority" -> r.getString(2),
        "date" -> r.getString(3), "price" -> r.getString(4).replace(",", ""),
        "cust" -> r.getLong(5).toString)
      out(r.getLong(0).toInt) = columns.map { case (_, q) => byName(q) }.toArray
    }
    out
  }

  def build(rep: Int): Unit = {
    val n = base.length
    dir = s"${ctx.workDir}/serve_$rep"
    clock = new Clock
    model = new ServeModel(base, columns)
    val session = spark
    import session.implicits._
    val df = base.indices.map { i =>
      val Array(a, b, c, d, e) = base(i)
      (keyOf(i), a, b, c, d, e)
    }.toDF("row_key" +: columns.map(_._2): _*)
    val t = Graft.createTable(spark, dir, TableDesc(buckets = Buckets),
      ops = Some(Set(OpType.Value, OpType.DelRow, OpType.DelQualifiers)))
    t.put(RelationalLoader.toCellLog(df, "row_key", cfMap, lit(1L)))
    // overwrite and delete rounds: resolve then has versions and
    // tombstones to work through; the seq after each round is a
    // snapshot point for time-travel gets
    snapshots = Vector.empty
    (0 until 3).foreach { _ =>
      val ops = mutable.ArrayBuffer.empty[CellOp]
      (0 until n / 50).foreach(_ => ops ++= overwrite(rng.nextInt(n), 2))
      (0 until n / 300).foreach(_ => ops += delete(rng.nextInt(n), row = true))
      (0 until n / 200).foreach(_ => ops += delete(rng.nextInt(n), row = false))
      t.put(ops.toSeq.toDF())
      snapshots :+= clock.seq
    }
    zipf = new Zipf(n, 0.99, rng.split())
  }

  private def overwrite(i: Int, cols: Int): Seq[CellOp] =
    (0 until cols).map { _ =>
      val c = rng.nextInt(columns.length)
      val v = s"v${rng.nextInt(1000000)}"
      val (ts, seq) = clock.tick()
      model.put(i, c, v, seq)
      CellOp(keyOf(i), columns(c)._1, columns(c)._2, ts, OpType.Value,
        v.getBytes("UTF-8"), seq)
    }

  private def delete(i: Int, row: Boolean): CellOp = {
    val (ts, seq) = clock.tick()
    if (row) {
      model.delRow(i, seq)
      CellOp(keyOf(i), "", "", ts, OpType.DelRow, null, seq)
    } else {
      val c = rng.nextInt(columns.length)
      model.delCol(i, c, seq)
      CellOp(keyOf(i), columns(c)._1, columns(c)._2, ts, OpType.DelQualifiers,
        null, seq)
    }
  }

  private def open(): GraftTable = tr.span("open_table")(Graft.openTable(spark, dir))

  private def cellsOf(rows: Array[Row]): Seq[(String, String, String, String)] =
    rows.toSeq.map(r => (r.getAs[String]("row_key"), r.getAs[String]("cf"),
      r.getAs[String]("qualifier"),
      new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).sorted

  /** One client op: the next kind from the mix, on a Zipf row. */
  private def step(ph: Phase, kinds: mutable.Map[String, Samples]): Unit = {
    val kind = nextKind()
    val i = zipf.next()
    var want: Seq[(String, String, String, String)] = Nil
    var got: Seq[(String, String, String, String)] = Nil
    var ms = 0.0
    val before = ph.ops.n
    ph.attempt({
      kind match {
        case "get" =>
          want = model.cells(i, Long.MaxValue).map { case (c, v) =>
            (keyOf(i), columns(c)._1, columns(c)._2, v) }.sorted
          ms = tr.op("op.get") {
            val t = open()
            if (tr.enabled) tr.span("read_plan")(t.log)
            val df = tr.span("resolve.plan")(t.get(keyOf(i)))
            got = cellsOf(tr.span("resolve.exec")(df.collect()))
          }._2
        case "snapshot_get" =>
          val s = snapshots(rng.nextInt(snapshots.length))
          want = model.cells(i, s).map { case (c, v) =>
            (keyOf(i), columns(c)._1, columns(c)._2, v) }.sorted
          ms = tr.op("op.snapshot_get") {
            val t = open()
            if (tr.enabled) tr.span("read_plan")(t.log)
            val df = tr.span("resolve.plan")(
              t.snapshot(s).where(col("row_key") === keyOf(i)))
            got = cellsOf(tr.span("resolve.exec")(df.collect()))
          }._2
        case "scan" =>
          val hi = math.min(i + ScanRows, base.length)
          want = (i until hi).flatMap { r =>
            val cells = model.cells(r, Long.MaxValue).toMap
            val status = columns.indexOf("meta" -> "status")
            val pass = cells.get(status).forall(_ != "P")
            if (!pass) Nil
            else cells.toSeq.collect { case (c, v) if columns(c)._1 == "meta" =>
              (keyOf(r), columns(c)._1, columns(c)._2, v) }
          }.sorted
          ms = tr.op("op.scan") {
            val t = open()
            val df = tr.span("scan.plan")(t.scan
              .withStart(keyOf(i)).withStop(keyOf(hi))
              .addColumnFamily("meta")
              .withFilter(ScanFilter.ValueFilter("meta", "status", "!=",
                TypedValue.Utf8("P")))
              .run())
            val rows = tr.span("scan.exec")(df.collect())
            if (tr.enabled) ph.add("scan_rows_returned", rows.length)
            got = cellsOf(rows)
          }._2
        case "put" =>
          val session = spark
          import session.implicits._
          val ops = overwrite(i, 2) ++ overwrite(zipf.next(), 2) ++
            (if (rng.nextInt(10) == 0) Seq(delete(zipf.next(), row = false)) else Nil)
          val batch = ops.toDF()
          ms = tr.op("op.put") {
            val t = open()
            val before = if (tr.enabled) TableFiles.dataFiles(dir).size else 0
            tr.span("put")(t.put(batch))
            if (tr.enabled) {
              ph.add("files_written", TableFiles.dataFiles(dir).size - before)
              ph.add("puts", 1)
            }
          }._2
      }
      ms
    }, got == want, s"$kind of ${keyOf(i)}")
    if (ph.ops.n > before) kinds.getOrElseUpdate(kind, new Samples).add(ms)
  }

  /** Op kinds come in shuffled blocks of 20 that hold the mix exactly
    * (10 get, 2 snapshot get, 5 scan, 3 put), so every run of a few
    * seconds sees the same proportions. */
  private val block = mutable.ArrayBuffer.empty[String]
  private def nextKind(): String = {
    if (block.isEmpty) {
      block ++= Seq.fill(10)("get") ++ Seq.fill(2)("snapshot_get") ++
        Seq.fill(5)("scan") ++ Seq.fill(3)("put")
      (block.size - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
      }
    }
    block.remove(block.size - 1)
  }

  def warm(): Unit = {
    val ph = new Phase
    val kinds = mutable.Map.empty[String, Samples]
    (0 until WarmOps).foreach(_ => step(ph, kinds))
    fullScan(ph)
    if (ph.failed > 0) throw new IllegalStateException(
      s"warm pass failed: ${ph.notes.mkString("; ")}")
  }

  /** A full resolve of the served table, checked against the model;
    * returns its wall time in ms. */
  private def fullScan(ph: Phase): Double = {
    var n = 0L
    val (_, ms) = tr.op("op.full_scan") {
      val t = open()
      val df = tr.span("resolve.plan")(t.cells())
      n = tr.span("resolve.exec")(df.count())
    }
    ph.check(n == model.visibleCells, s"full resolve count $n vs model ${model.visibleCells}")
    ms
  }

  def measure(seconds: Double): Phase = {
    val ph = new Phase
    val kinds = mutable.Map.empty[String, Samples]
    // the whole-table step first, on the table as built: a full resolve
    // (tera's SCAN mode), several times
    (0 until FullScans).foreach(_ => ph.bulkS += fullScan(ph) / 1000)
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < end) step(ph, kinds)
    ph.wallS = (System.nanoTime() - t0) / 1e9
    ph.units = ph.ops.n
    kinds.foreach { case (k, s) =>
      ph.counts(s"$k.n") = s.n
      ph.counts(s"$k.p50_ms") = s.pct(50)
      ph.counts(s"$k.p90_ms") = s.pct(90)
    }
    ph.counts("log_files") = TableFiles.dataFiles(dir).size
    ph
  }

  override def facts: Map[String, String] = Map(
    "rows" -> base.length.toString,
    "cells_loaded" -> (base.length * columns.length).toString,
    "buckets" -> Buckets.toString,
    "scan_rows" -> ScanRows.toString,
    "loop" -> "closed, 1 client",
    "mix" -> "get 50, snapshot_get 10, scan 25, put 15; zipf 0.99")
}

object Serve {
  val Buckets = 8
  val ScanRows = 100
  val WarmOps = 40
  val FullScans = 7
}

/** Monotone (ts, seq) source for client writes: ts and seq both rise, so
  * the newest write of a cell is always the last one applied. */
final class Clock {
  private var ts = 1L
  private var s = 2 * CellLogStore.SeqEra
  def tick(): (Long, Long) = { ts += 1; s += 1; (ts, s) }
  /** Move to the next seq era and return its base, for batches whose
    * seqs are `base + monotonically_increasing_id()`. */
  def nextEra(): Long = { s = ((s >> 50) + 1) << 50; s }
  def seq: Long = s
}

/** What a client that wrote the served table expects to read back. Base
  * cells are the loaded rows; later writes are kept per row, in seq
  * order, so a snapshot read replays only the writes up to its seq. */
final class ServeModel(base: Array[Array[String]], columns: IndexedSeq[(String, String)]) {
  import ServeModel._
  private val upd = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Upd]]
  private def log(i: Int) = upd.getOrElseUpdate(i, mutable.ArrayBuffer.empty)

  def put(i: Int, c: Int, v: String, seq: Long): Unit = log(i) += Put(seq, c, v)
  def delRow(i: Int, seq: Long): Unit = log(i) += DelRow(seq)
  def delCol(i: Int, c: Int, seq: Long): Unit = log(i) += DelCol(seq, c)

  /** Visible (column, value) pairs of row i as of `seq`. */
  def cells(i: Int, seq: Long): Seq[(Int, String)] = {
    val cur = base(i).map(Option(_))
    upd.get(i).foreach(_.iterator.filter(_.seq <= seq).foreach {
      case Put(_, c, v) => cur(c) = Some(v)
      case DelRow(_)    => cur.indices.foreach(cur(_) = None)
      case DelCol(_, c) => cur(c) = None
    })
    cur.indices.flatMap(c => cur(c).map(c -> _))
  }

  def visibleCells: Long =
    base.length.toLong * columns.length +
      upd.keys.toSeq.map(i => cells(i, Long.MaxValue).size - columns.length).sum
}

object ServeModel {
  private sealed trait Upd { def seq: Long }
  private final case class Put(seq: Long, c: Int, v: String) extends Upd
  private final case class DelRow(seq: Long) extends Upd
  private final case class DelCol(seq: Long, c: Int) extends Upd
}

/** Zipf(theta) row sampler over n rows; ranks map to rows through a
  * seeded permutation so the hot rows are spread over the key space. */
final class Zipf(n: Int, theta: Double, rng: java.util.SplittableRandom) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, theta))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val perm = {
    val p = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }
  def next(): Int = {
    val u = rng.nextDouble()
    val k = java.util.Arrays.binarySearch(cdf, u)
    perm(math.min(n - 1, if (k >= 0) k else -k - 1))
  }
}
