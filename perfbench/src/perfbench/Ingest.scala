package perfbench

import scala.collection.mutable

import graft.{Graft, GraftTable}
import graft.model.{CellOp, OpType, TableDesc}
import graft.operators.{BatchTxn, PercolatorRead}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ingest_compact: group-commit put batches built from `lineitem`, then
  * the whole-table steps — full resolve, Percolator read, compaction
  * and a resolve of the compacted table.
  *
  * Each lineitem row writes a quantity and a price Value cell, an
  * AddInt64 line counter, an Append of its return flag and a
  * PutIfAbsent of its line number into its order's row. Every fifth
  * batch also carries row, column-family, column and single-version
  * deletes; every tenth batch is followed by a two-phase BatchTxn. A
  * round writes the same cells every time; rounds repeat on fresh
  * tables while they fit in the measured time. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private var okey: Array[Long] = _
  private var line: Array[Int] = _
  private var qty: Array[String] = _
  private var price: Array[String] = _
  private var flag: Array[String] = _
  private var round = 0

  def build(rep: Int): Unit = {
    val rows = spark.read.parquet(s"${ctx.dataDir}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").cast("string"),
        format_number(col("l_extendedprice"), 2), col("l_returnflag"))
      .collect()
    okey = rows.map(_.getLong(0)); line = rows.map(_.getInt(1))
    qty = rows.map(_.getString(2))
    price = rows.map(_.getString(3).replace(",", ""))
    flag = rows.map(_.getString(4))
  }

  private def key(k: Long): String = f"r$k%07d"

  def warm(): Unit = {
    val ph = new Phase
    runRound(ph, okey.length / 20)
    if (ph.failed > 0) throw new IllegalStateException(
      s"warm round failed: ${ph.notes.mkString("; ")}")
  }

  /** Whole rounds only: another round starts only if, at the last
    * round's pace, it ends within the measured time. */
  def measure(seconds: Double): Phase = {
    val ph = new Phase
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var roundNs = 0L
    do {
      val r0 = System.nanoTime()
      runRound(ph, okey.length)
      roundNs = System.nanoTime() - r0
    } while (System.nanoTime() + roundNs < end)
    ph
  }

  /** One round over the first `n` input rows, on a fresh table. */
  private def runRound(ph: Phase, n: Int): Unit = {
    round += 1
    val dir = s"${ctx.workDir}/ingest_$round"
    val outDir = s"${ctx.workDir}/ingest_${round}_compacted"
    val rng = new java.util.SplittableRandom(ctx.seed * 31 + n)
    val model = new IngestModel
    val clock = new Clock
    val t = Graft.createTable(spark, dir, TableDesc(), ops = Some(AllOps))
    val session = spark
    import session.implicits._
    var userBytes = 0L
    var cells = 0L
    var putMs = 0.0
    var batchNo = 0
    (0 until n by BatchRows).foreach { from =>
      batchNo += 1
      val ops = mutable.ArrayBuffer.empty[CellOp]
      def emit(row: Long, cf: String, q: String, op: Int, v: Array[Byte]): Unit = {
        val (ts, seq) = clock.tick()
        model(key(row), cf, q, op, ts, v)
        ops += CellOp(key(row), cf, q, ts, op, v, seq)
      }
      (from until math.min(n, from + BatchRows)).foreach { i =>
        val k = okey(i); val ln = line(i)
        emit(k, "li", s"q$ln", OpType.Value, qty(i).getBytes("UTF-8"))
        emit(k, "li", s"p$ln", OpType.Value, price(i).getBytes("UTF-8"))
        emit(k, "cnt", "n", OpType.AddInt64, le64(1L))
        emit(k, "cnt", "flags", OpType.Append, flag(i).getBytes("UTF-8"))
        emit(k, "pia", "first", OpType.PutIfAbsent, ln.toString.getBytes("UTF-8"))
      }
      if (batchNo % 5 == 0) {
        // deletes aimed at rows written so far
        def anyRow(): Long = okey(rng.nextInt(math.min(n, from + BatchRows)))
        (0 until BatchRows / 500).foreach(_ => emit(anyRow(), "", "", OpType.DelRow, null))
        (0 until BatchRows / 500).foreach(_ => emit(anyRow(), "li", "", OpType.DelColumn, null))
        (0 until BatchRows / 200).foreach(_ =>
          emit(anyRow(), "li", s"q${1 + rng.nextInt(7)}", OpType.DelQualifiers, null))
        (0 until BatchRows / 200).foreach { _ =>
          val r = key(anyRow()); val q = s"p${1 + rng.nextInt(7)}"
          model.newestTs(r, "li", q).foreach { vts =>
            val (ts, seq) = clock.tick()
            model(r, "li", q, OpType.DelQualifier, vts, null)
            ops += CellOp(r, "li", q, vts, OpType.DelQualifier, null, seq)
          }
        }
      }
      userBytes += ops.iterator.map(o => o.row_key.length + o.cf.length +
        o.qualifier.length + 8L + Option(o.value).fold(0)(_.length)).sum
      cells += ops.size
      val batch = ops.toSeq.toDF()
      val before = ph.ops.n
      ph.attempt(tr.op("op.put_batch") {
        val before = if (tr.enabled) TableFiles.dataFiles(dir).size else 0
        tr.span("put")(t.put(batch))
        if (tr.enabled) {
          ph.add("files_written", TableFiles.dataFiles(dir).size - before)
          ph.add("puts", 1)
        }
      }._2, true, s"put batch $batchNo")
      if (ph.ops.n > before) putMs += ph.ops.last
      if (batchNo % 10 == 0) txn(ph, t, clock, model, batchNo)
    }
    ph.units += cells
    ph.wallS += putMs / 1000

    // whole-table steps
    var bulk = 0.0
    def timed[T](name: String)(body: => T): T = {
      val (r, ms) = tr.op(name)(body)
      bulk += ms / 1000
      r
    }
    val pre = timed("op.resolve_full") {
      val df = tr.span("resolve.plan")(t.cells())
      tr.span("resolve.exec")(digest(df))
    }
    ph.check(pre._1 == model.visibleCells,
      s"round $round: full resolve has ${pre._1} cells, model ${model.visibleCells}")
    ph.check({
      val got = t.cells().where(col("cf") =!= "tx")
        .select(col("row_key"), col("cf"), col("qualifier"), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          hex(r.getAs[Array[Byte]](3)))).toSet
      val want = model.visible.map { case (r, c, q, v) => (r, c, q, hex(v)) }.toSet
      got == want
    }, s"round $round: resolved cells differ from the model")
    val committed = timed("op.percolator") {
      tr.span("percolator")(PercolatorRead.resolve(t.log, Long.MaxValue)
        .select(col("row_key"), col("qualifier"), col("value")).collect())
    }.map(r => (r.getString(0), r.getString(1),
      new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
    ph.check(committed == model.committedTxns,
      s"round $round: Percolator read differs from the committed txns")
    val filesIn = TableFiles.dataFiles(dir).size
    timed("op.compact")(tr.span("compact")(t.compact(outDir)))
    val post = timed("op.resolve_compacted") {
      val c = Graft.openTable(spark, outDir)
      val df = tr.span("resolve.plan")(c.cells())
      tr.span("resolve.exec")(digest(df))
    }
    ph.check(post == pre, s"round $round: resolve after compact $post != before $pre")
    ph.bulkS += bulk
    ph.counts("compact.files_in") = filesIn
    ph.counts("compact.files_out") = TableFiles.dataFiles(outDir).size
    ph.counts("compact.bytes_rewritten") = TableFiles.bytes(outDir).toDouble
    ph.counts("log_files") = filesIn
    ph.counts("stored_bytes_per_user_byte") = TableFiles.bytes(outDir).toDouble / userBytes
    ph.counts("cells_per_round") = cells.toDouble
    rm(new java.io.File(dir)); rm(new java.io.File(outDir))
  }

  /** A two-phase BatchTxn over the dedicated txn rows: prewrite, then
    * commit. */
  private def txn(ph: Phase, t: GraftTable, clock: Clock, model: IngestModel,
      batchNo: Int): Unit = ph.check({
    val session = spark
    import session.implicits._
    val startTs = t.allocateTxnTs(2)
    val rows = (0 until TxnRows).map(i => f"t$i%05d")
    val value = s"b$batchNo"
    val muts = rows.map(r => (r, "tx", "bal", value.getBytes("UTF-8")))
      .toDF("row_key", "cf", "qualifier", "value")
    tr.op("op.txn") {
      val pre = tr.span("txn")(BatchTxn.prewrite(t.log, muts, startTs, validateTs = false))
      tr.span("put")(t.put(BatchTxn.prewriteOps(pre, startTs, rows.head, clock.nextEra())))
      tr.span("put")(t.put(BatchTxn.commitOps(t.log, startTs, startTs + 1, clock.nextEra())))
      clock.nextEra()
    }
    rows.foreach(r => model.commitTxn(r, "bal", value))
    true
  }, s"txn after batch $batchNo")

  /** Cell count and an order-free checksum of every resolved cell. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("row_key"), col("cf"), col("qualifier"),
        col("ts"), col("value"))), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  override def facts: Map[String, String] = Map(
    "input_rows" -> okey.length.toString,
    "batch_rows" -> BatchRows.toString,
    "cells_per_input_row" -> "5 (+ deletes every 5th batch)",
    "txn_every_batches" -> "10")
}

object Ingest {
  val BatchRows = 5000
  val TxnRows = 20
  val AllOps: Set[Int] = Set(OpType.Value, OpType.DelRow, OpType.DelColumn,
    OpType.DelQualifiers, OpType.DelQualifier, OpType.AddInt64,
    OpType.PutIfAbsent, OpType.Append)

  def le64(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(v).array()

  def hex(b: Array[Byte]): String =
    if (b == null) "null" else java.util.HexFormat.of().formatHex(b)

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}

/** The ingest client's own account of what it wrote, applied in write
  * order (ts and seq rise together, so a delete removes every older
  * version it covers and nothing newer). Covers Value with row, family,
  * column and single-version deletes, AddInt64, Append and PutIfAbsent;
  * the txn columns are tracked as committed values only. */
final class IngestModel {
  import Ingest.le64
  import IngestModel._

  private val rows = mutable.HashMap.empty[String, mutable.HashMap[(String, String), State]]
  private val txns = mutable.HashMap.empty[(String, String), String]

  def apply(row: String, cf: String, q: String, op: Int, ts: Long, v: Array[Byte]): Unit = {
    lazy val cells = rows.getOrElseUpdate(row, mutable.HashMap.empty)
    op match {
      case OpType.Value => cells.get((cf, q)) match {
        case Some(s: Versions) => s.vs = (ts, v) :: s.vs
        case _ => cells((cf, q)) = Versions(List((ts, v)))
      }
      case OpType.AddInt64 => cells.get((cf, q)) match {
        case Some(c: Counter) => c.sum += java.nio.ByteBuffer.wrap(v)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        case _ => cells((cf, q)) = Counter(java.nio.ByteBuffer.wrap(v)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)
      }
      case OpType.Append => cells.get((cf, q)) match {
        case Some(a: Appended) => a.bytes = a.bytes ++ v
        case _ => cells((cf, q)) = Appended(v)
      }
      case OpType.PutIfAbsent =>
        if (!cells.contains((cf, q))) cells((cf, q)) = First(v)
      case OpType.DelRow => rows.remove(row)
      case OpType.DelColumn => rows.get(row).foreach(_.filterInPlace((k, _) => k._1 != cf))
      case OpType.DelQualifiers => rows.get(row).foreach(_.remove((cf, q)))
      case OpType.DelQualifier => rows.get(row).foreach { m =>
        m.get((cf, q)).foreach {
          case s: Versions =>
            s.vs = s.vs.filterNot(_._1 == ts)
            if (s.vs.isEmpty) m.remove((cf, q))
          case _ => ()
        }
      }
    }
  }

  def newestTs(row: String, cf: String, q: String): Option[Long] =
    rows.get(row).flatMap(_.get((cf, q))).collect { case Versions(vs) => vs.head._1 }

  def commitTxn(row: String, q: String, v: String): Unit = txns((row, q)) = v

  def committedTxns: Set[(String, String, String)] =
    txns.map { case ((r, q), v) => (r, q, v) }.toSet

  /** Visible (row, cf, qualifier, value bytes) of the non-txn columns. */
  def visible: Iterator[(String, String, String, Array[Byte])] =
    rows.iterator.flatMap { case (r, cells) =>
      cells.iterator.map { case ((cf, q), s) => (r, cf, q, s match {
        case Versions(vs) => vs.head._2
        case Counter(sum) => le64(sum)
        case Appended(b)  => b
        case First(v)     => v
      }) }
    }

  /** Cells a full resolve returns: the non-txn columns plus, per txn
    * row, its data cell and commit pointer (locks are deleted). */
  def visibleCells: Long =
    rows.valuesIterator.map(_.size.toLong).sum + 2L * txns.size
}

object IngestModel {
  private sealed trait State
  private final case class Versions(var vs: List[(Long, Array[Byte])]) extends State
  private final case class Counter(var sum: Long) extends State
  private final case class Appended(var bytes: Array[Byte]) extends State
  private final case class First(v: Array[Byte]) extends State
}
