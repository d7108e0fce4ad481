package graft.operators

import scala.collection.mutable

import graft.model.TableDesc
import graft.sources.CellLogStore
import graft.sources.DriverRead.Bound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{CellReadExec, Shim}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** A read of a stored bucketed table's resolved cells as one logical
  * leaf: the table's [[CellLogStore.Source]] (the files listed when the
  * read was built), its descriptor and op-set, the snapshot bound, the
  * TTL clock and a key bound — one point key, or a scan's key range
  * with its row steps (filter verdict, projection, time range,
  * qualifier cap). tera answers a get or a short scan in one pass of its
  * tablet server's scan loop (src/io/tablet_io.cc:939-1137,
  * `ProcessRowBuffer` :2287-2329); here a root `collect()` of a
  * key-bound leaf reads the bound's rows on the driver, folds each row
  * with [[CellFold.row]] and applies the steps, with no Spark job
  * ([[CellReadExec]]). A leaf with no key bound takes a point key from a
  * `row_key = literal` filter right above it. Under every other
  * consumer the optimizer puts [[plan]], the Resolve/ScanQuery plan of
  * the same cells, in the leaf's place
  * ([[org.apache.spark.sql.graft.InlineCellReads]]).
  */
final case class CellRead(
    output: Seq[Attribute],
    source: CellLogStore.Source,
    desc: TableDesc,
    opsPresent: Option[Set[Int]],
    snapshotSeq: Option[Long],
    nowUs: Long,
    key: CellRead.Key) extends LeafNode with MultiInstanceRelation {
  import CellRead._

  override def newInstance(): CellRead = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = Statistics(source.sizeInBytes)

  override def simpleString(maxFields: Int): String =
    s"CellRead ${output.mkString("[", ", ", "]")} $key"

  private def keyAttr: Attribute = output.head

  /** Whether a root collect of this leaf can be answered on the driver. */
  def keyed: Boolean = key != AnyKey

  /** This leaf with the point key of a `row_key = literal` conjunct of
    * `cond` (a filter right above it), when it has no key bound yet. */
  def keyedBy(cond: Expression): CellRead = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val point = if (keyed) None else conjuncts(cond).collectFirst {
      case EqualTo(a: Attribute, Literal(v, _)) if v != null && a.exprId == keyAttr.exprId => v
      case EqualTo(Literal(v, _), a: Attribute) if v != null && a.exprId == keyAttr.exprId => v
    }
    point.fold(this)(v => copy(key = Point(v)))
  }

  /** The same cells as a Spark plan. */
  def plan(): DataFrame = key match {
    case Range(query, _) => query.resolvedCells()
    case _ =>
      // an undeclared op-set is probed once per source, not per plan
      val resolved = Resolve.resolve(source.log, desc, nowUs, snapshotSeq,
        opsPresent.orElse(Some(source.opsPresent(snapshotSeq))), source.deleteHint)
      key match {
        case Point(k) =>
          resolved.where(col("row_key") === Shim.column(Literal(k, keyAttr.dataType)))
        case _ => resolved
      }
  }

  /** The cells read and folded on the driver: None with no key bound,
    * or when a range's pages hold more than its row bound. */
  def onDriver(): Option[Seq[InternalRow]] = key match {
    case AnyKey => None
    case Point(k) => source.keyRows(Seq(Bound.Eq(bytesOf(k))), Some(k)).map(fold(_).flatten)
    case Range(query, maxRows) => source.keyRows(query.keyBounds, query.keyPoint, maxRows)
      .map(fold(_).flatMap(query.rowSteps(DataTypeUtils.fromAttributes(output))))
  }

  /** The visible cells of `ops` (log rows: row_key, cf, qualifier, ts,
    * op, value, seq), row by row in first-seen order. */
  private def fold(ops: Seq[InternalRow]): Seq[Seq[InternalRow]] = {
    val rows = mutable.LinkedHashMap.empty[Any, (Any, mutable.ArrayBuffer[CellFold.Op])]
    ops.foreach { r =>
      def str(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
      val k = r.get(0, keyAttr.dataType)
      val id = k match {
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case other => other
      }
      rows.getOrElseUpdate(id, (k, mutable.ArrayBuffer.empty))._2 += CellFold.Op(
        str(1), str(2), r.getLong(3), r.getInt(4), r.getBinary(5), r.getLong(6))
    }
    rows.valuesIterator.map { case (k, rowOps) =>
      CellFold.row(rowOps.toSeq, desc, nowUs, snapshotSeq, opsPresent).map(c =>
        InternalRow(k, UTF8String.fromString(c.cf), UTF8String.fromString(c.qualifier),
          c.ts, c.value, c.seq))
    }.toSeq
  }
}

object CellRead {

  /** A read's key bound. */
  sealed trait Key
  /** No key bound: answered by the Spark plan. */
  case object AnyKey extends Key
  /** One storage key (a `UTF8String` or a binary key's bytes): its
    * bucket's files. */
  final case class Point(key: Any) extends Key {
    override def toString: String = key match {
      case b: Array[Byte] => s"point 0x${b.map("%02x".format(_)).mkString}"
      case k => s"point $k"
    }
  }
  /** A scan's key range ([[ScanQuery.keyBounds]]) and row steps: every
    * bucket's files, read on the driver while their pages hold at most
    * `maxRows` rows. */
  final case class Range(query: ScanQuery, maxRows: Long = MaxRangeRows) extends Key {
    override def toString: String = "range"
  }

  /** The most rows a range's pages may hold (after footer, row-group and
    * column-index pruning) for the driver to read it: past this a
    * driver read costs more than the Spark plan, measured on 4 cores
    * (CHANGES.md). */
  val MaxRangeRows: Long = 350000L

  /** `source`'s resolved cells under `key`: on a bucketed table a frame
    * over one leaf, over the files listed now; on any other its Spark
    * plan. */
  def frame(source: CellLogStore.Source, desc: TableDesc,
      opsPresent: Option[Set[Int]], snapshotSeq: Option[Long], nowUs: Long,
      key: Key): DataFrame = {
    val schema = StructType(source.schema.filter(_.name != "op").map(_.copy(nullable = true)))
    val leaf = CellRead(DataTypeUtils.toAttributes(schema), source, desc, opsPresent,
      snapshotSeq, nowUs, key)
    if (source.desc.buckets == 0) leaf.plan()
    else {
      source.sizeInBytes // list now
      CellReadExec.frame(source.spark, leaf)
    }
  }

  /** The bytes of a storage key. */
  def bytesOf(key: Any): Array[Byte] = key match {
    case s: UTF8String => s.getBytes
    case b: Array[Byte] => b
  }
}
