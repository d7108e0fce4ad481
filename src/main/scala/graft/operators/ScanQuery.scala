package graft.operators

import java.nio.charset.StandardCharsets

import graft.functions.cellfunctions._
import graft.model.TableDesc
import graft.sources.{CellLogStore, DriverRead}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CellReadExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Typed constants for value filters — the engine-side equivalent of the
  * reference's typed comparators (tera include/tera/filter_comparator.h:
  * IntegerComparator/DecimalComparator/BinaryComparator, 8 integer widths
  * + double + memcmp bytes). Cell bytes decode through the codec
  * expressions; comparison happens on the decoded type.
  */
sealed trait TypedValue {
  def decode(cell: Column): Column
  def literal: Column
}
object TypedValue {
  /** Big-endian int64 (counter cells). */
  case class Int64BE(v: Long) extends TypedValue {
    def decode(c: Column): Column = be64_decode(c)
    def literal: Column = lit(v)
  }
  /** Host-endian int64 (`AddInt64` cells). */
  case class Int64LE(v: Long) extends TypedValue {
    def decode(c: Column): Column = le64_decode(c)
    def literal: Column = lit(v)
  }
  /** 8-byte double. */
  case class Float64(v: Double) extends TypedValue {
    def decode(c: Column): Column = f64_decode(c)
    def literal: Column = lit(v)
  }
  /** Text compare. The cast is byte-preserving (never throws — ANSI
    * `decode()` would error the whole scan on one non-UTF-8 cell), and
    * Spark string order is byte-wise over UTF-8 bytes, so this IS the
    * reference's memcmp string comparator even against binary cells. */
  case class Utf8(v: String) extends TypedValue {
    def decode(c: Column): Column = c.cast("string")
    def literal: Column = lit(v)
  }
  /** Raw bytes, unsigned lexicographic (memcmp ≙ Spark BinaryType order). */
  case class Bytes(v: Array[Byte]) extends TypedValue {
    def decode(c: Column): Column = c
    def literal: Column = lit(v)
  }

  /** Fixed-width SIGNED little-endian integer — tera kInt8/16/32/64
    * (filter_comparator.h:40-50; wire format filter_comparator.cc:22-54:
    * low `width` bytes host-endian). Decodes sign-extended to long.
    */
  case class IntW(v: Long, width: Int) extends TypedValue {
    require(Set(1, 2, 4, 8).contains(width), s"bad width $width")
    def decode(c: Column): Column = le_int_decode(c, width, signed = true)
    def literal: Column = lit(v)
  }

  /** Fixed-width UNSIGNED little-endian integer — tera kUint8/16/32/64.
    * Widths < 8 zero-extend into a long (widening compare). Width 8
    * cannot widen, so both sides are biased by flipping the sign bit —
    * an order ISOMORPHISM from uint64 onto signed long, making plain
    * column comparisons implement unsigned compare
    * (CompareWith's uint64_t cast, filter_comparator.cc:111-113).
    * `v` holds the unsigned value's raw 64 bits.
    */
  case class UintW(v: Long, width: Int) extends TypedValue {
    require(Set(1, 2, 4, 8).contains(width), s"bad width $width")
    def decode(c: Column): Column = {
      val raw = le_int_decode(c, width, signed = false)
      if (width == 8) raw.bitwiseXOR(lit(Long.MinValue)) else raw
    }
    def literal: Column =
      if (width == 8) lit(v ^ Long.MinValue)
      else lit(v & ((1L << (8 * width)) - 1))
  }
}

/** Boolean filter tree over row contents — tera's `FilterList` AND/OR of
  * `ValueFilter`s (include/tera/filter_list.h:23-66,
  * include/tera/value_filter.h:28-99). The verdict is ROW-level: a filter
  * inspects the row's resolved cells and accepts or drops the whole row
  * (include/tera/filter.h:48-53).
  */
sealed trait ScanFilter
object ScanFilter {
  case class And(children: Seq[ScanFilter]) extends ScanFilter
  case class Or(children: Seq[ScanFilter]) extends ScanFilter

  /** @param cmp one of `< <= == != >= >`
    * @param filterIfMissing when the row has no (cf, qualifier) cell:
    *        `true` drops the row, `false` (reference default) passes it
    *        (include/tera/value_filter.h:51-58)
    */
  case class ValueFilter(
      cf: String,
      qualifier: String,
      cmp: String,
      value: TypedValue,
      filterIfMissing: Boolean = false) extends ScanFilter

  /** Legacy filter shapes (tera old-proto filters, still accepted:
    * src/proto/tabletnode_rpc.proto:169-204 — Regex / SubStr / Prefix /
    * BinComp over row/value fields; server conversion
    * `TabletIO::TransFilter` src/io/tablet_io.cc:1957+).
    */
  case class RowKeyPrefix(prefix: String) extends ScanFilter
  case class ValueRegex(cf: String, qualifier: String, pattern: String,
      filterIfMissing: Boolean = false) extends ScanFilter
  case class ValueSubstring(cf: String, qualifier: String, substr: String,
      filterIfMissing: Boolean = false) extends ScanFilter

  def and(fs: ScanFilter*): ScanFilter = And(fs)
  def or(fs: ScanFilter*): ScanFilter = Or(fs)
}

/** Scan builder — the engine's `ScanDescriptor` equivalent
  * (tera include/tera/scan.h:71-127). Declaratively composes onto the
  * resolve pipeline; everything stays one Catalyst plan, so predicate
  * pushdown and column pruning reach the parquet scan.
  *
  * Evaluation order mirrors the reference scan loop
  * (`TabletIO::LowLevelScan` src/io/tablet_io.cc:939-1137 →
  * `ProcessRowBuffer` :2287-2329): resolve (tombstones/TTL/version cap) →
  * row-level filter verdict → cf/column projection → time-range
  * post-filter → max_qualifiers → limit.
  */
case class ScanQuery(
    log: DataFrame,
    desc: TableDesc = TableDesc(),
    startKey: Option[String] = None,
    stopKey: Option[String] = None,
    cfSet: Seq[String] = Nil,
    columnSet: Seq[(String, String)] = Nil,
    tsRange: Option[(Long, Long)] = None,
    maxQualifiers: Option[Int] = None,
    pointKey: Option[String] = None,
    rowFilter: Option[ScanFilter] = None,
    snapshotSeq: Option[Long] = None,
    nowUs: Long = Long.MaxValue,
    limitRows: Option[Int] = None,
    opsPresent: Option[Set[Int]] = None,
    deleteCountHint: Option[Long] = None,
    /** Binary-raw-key bounds ([[TableDesc.rawKeyBinary]] tables, whose
      * `row_key` is `BinaryType`): memcmp-ordered, like the string
      * bounds are for readable tables. */
    startKeyBin: Option[Array[Byte]] = None,
    stopKeyBin: Option[Array[Byte]] = None,
    pointKeyBin: Option[Array[Byte]] = None,
    /** Resume-after key in STORAGE space — the reference's
      * `next_start_point` round trip (src/sdk/scan_impl.cc:84-89;
      * tabletnode_rpc.proto:263): the caller hands back the last row
      * key a previous page returned and the scan restarts STRICTLY
      * after that ROW (all its cells must have been consumed — for
      * page limits that can split a row, use [[afterPage]], which
      * resumes at cell granularity). Storage space because that is
      * what the scan emitted — on a hash-sharded table the key already
      * carries its shard prefix, so no re-prefixing here. */
    resumeAfterKey: Option[String] = None,
    resumeAfterKeyBin: Option[Array[Byte]] = None,
    /** Resume strictly after the last CELL of a previous page's
      * RESULT — pagination with no driver `collect()` in user code,
      * safe for page limits that split a multi-cell row. Internally
      * the bound is ONE bounded one-row handshake (the reference's
      * next_start_point round-trips through the client the same way,
      * scan_impl.cc:84-89), so the cut lands as literal predicates the
      * parquet scan prunes on. An empty previous page means nothing
      * was consumed: the scan runs unbounded. */
    resumeAfterPage: Option[DataFrame] = None,
    /** `false` skips the final global key sort (O1): a bulk consumer —
      * export, downstream aggregation, anything that re-orders anyway —
      * keeps the store's range clustering (per-file key order) without
      * paying a full range-exchange sort at 100 TB. Row SET is
      * identical; [[withLimit]] keeps its reference semantics (first k
      * in key order) only while `ordered` stays true. */
    ordered: Boolean = true,
    /** The stored table `log` reads ([[graft.sources.CellLogStore.Source]]),
      * when the scan is a table's: an LG-partitioned table's projected
      * scan reads only the LG directories it needs, and a key-bound
      * scan of a bucketed table is answered on the driver when
      * collected ([[CellRead]]). `None`: `log` is an ad-hoc frame. */
    table: Option[CellLogStore.Source] = None) {

  def withStart(k: String): ScanQuery = copy(startKey = Some(k))
  def withStop(k: String): ScanQuery = copy(stopKey = Some(k))
  def withStartBin(k: Array[Byte]): ScanQuery = copy(startKeyBin = Some(k))
  def withStopBin(k: Array[Byte]): ScanQuery = copy(stopKeyBin = Some(k))

  /** Resume a paged scan strictly after row `k` (a storage-space key
    * the previous page emitted, whose cells were fully consumed).
    * Composes with [[withLimit]]. */
  def withResumeAfter(k: String): ScanQuery = copy(resumeAfterKey = Some(k))
  def withResumeAfterBin(k: Array[Byte]): ScanQuery =
    copy(resumeAfterKeyBin = Some(k))

  /** Resume strictly after the last CELL of `prev` (a previous page's
    * result), bound computed in-plan — no driver collect, no lost
    * cells when a page limit splits a row. */
  def afterPage(prev: DataFrame): ScanQuery = copy(resumeAfterPage = Some(prev))

  /** Skip the final global key sort (bulk-consumer path). */
  def unordered: ScanQuery = copy(ordered = false)

  /** Point scan of exactly one logical row: [k, successor(k)) — with the
    * successor taken in STORAGE space, so it is also correct on a
    * hash-sharded table (where successor-then-hash would address an
    * unrelated shard; the reference SDK shares that trap and routes
    * point reads by hashed key instead, table_impl.cc:1417).
    */
  def forRow(k: String): ScanQuery = copy(pointKey = Some(k))

  /** Binary point scan: [k, k ++ 0x00) — the memcmp successor, exact in
    * raw-byte key space (no hash mode on binary tables). */
  def forRowBin(k: Array[Byte]): ScanQuery = copy(pointKeyBin = Some(k))
  def addColumnFamily(cf: String): ScanQuery = copy(cfSet = cfSet :+ cf)
  def addColumn(cf: String, qual: String): ScanQuery =
    copy(columnSet = columnSet :+ (cf, qual))
  def withTimeRange(from: Long, to: Long): ScanQuery = copy(tsRange = Some((from, to)))
  def withMaxQualifiers(k: Int): ScanQuery = copy(maxQualifiers = Some(k))
  def withFilter(f: ScanFilter): ScanQuery = copy(rowFilter = Some(f))
  def withSnapshot(seq: Long): ScanQuery = copy(snapshotSeq = Some(seq))
  def withNow(us: Long): ScanQuery = copy(nowUs = us)
  def withLimit(n: Int): ScanQuery = copy(limitRows = Some(n))

  /** Execute; result is key-ordered like a reference scan (O1).
    *
    * On a hash-sharded table (`desc.hashKeys`) the caller supplies
    * LOGICAL start/stop keys and the scan prefixes them with the murmur
    * shard hash at plan time, exactly like the reference SDK
    * (tera src/sdk/table_impl.cc:398-405) — and with the same
    * consequence: the key order observed is hashed order, and a
    * non-point [start, stop) range selects a hashed-space range, not a
    * logical one. For exact single-row reads use [[forRow]], which
    * takes the successor in storage space.
    *
    * A key-bound scan (start, stop, point or resume-after-key; not
    * [[afterPage]]) of a bucketed table's `scan` is one [[CellRead]]
    * leaf under the key sort and limit: its `collect()` reads the range
    * from every bucket's files on the driver, folds each row with
    * [[CellFold.row]] and applies the row steps, with no Spark job,
    * unless the range's pages hold more than [[CellRead.MaxRangeRows]]
    * rows. Every other consumer (`count`, `rdd`, joins) and every other
    * scan runs the Spark plan.
    */
  def run(): DataFrame = {
    val cells = driverRead.getOrElse(resolvedCells())
    // O1 key order (a limit then plans TakeOrdered); the unordered
    // opt-out keeps bulk scans shuffle-free — the store's range-
    // clustered files already carry per-file key order
    val finalDf =
      if (ordered)
        cells.orderBy(col("row_key"), col("cf"), col("qualifier"), col("ts").desc)
      else cells
    limitRows.fold(finalDf)(finalDf.limit)
  }

  /** A table's key-bound scan (a start, stop, point or resume-after-key
    * bound; not [[afterPage]]): on a bucketed table one [[CellRead]]
    * leaf, whose root collect reads the range on the driver. */
  private def driverRead: Option[DataFrame] =
    table.filter(_ => keyBounds.nonEmpty && resumeAfterPage.isEmpty)
      .map(CellRead.frame(_, desc, opsPresent, snapshotSeq, nowUs, CellRead.Range(this)))

  private def storageKey: String => String =
    if (desc.hashKeys) graft.functions.Codecs.hashedKey else identity

  private def utf8(k: String): Array[Byte] = k.getBytes(StandardCharsets.UTF_8)

  /** The key bounds of this scan, as the driver read applies them: the
    * same storage-space bounds [[resolvedCells]] prunes the log by. */
  private[operators] def keyBounds: Seq[DriverRead.Bound] = {
    import DriverRead.Bound._
    startKey.map(k => AtLeast(utf8(storageKey(k)))).toSeq ++
      stopKey.map(k => Below(utf8(storageKey(k)))) ++
      pointKey.toSeq.flatMap(k => Seq(AtLeast(utf8(storageKey(k))),
        Below(utf8(storageKey(k) + "\u0000")))) ++
      startKeyBin.map(AtLeast) ++ stopKeyBin.map(Below) ++
      pointKeyBin.toSeq.flatMap(k => Seq(AtLeast(k), Below(k :+ 0.toByte))) ++
      resumeAfterKey.map(k => Above(utf8(k))) ++ resumeAfterKeyBin.map(Above)
  }

  /** The one key a point scan holds (its bucket's files hold it). */
  private[operators] def keyPoint: Option[Any] =
    pointKey.map(k => UTF8String.fromString(storageKey(k))).orElse(pointKeyBin)

  /** The resolved cells of the scan, its row steps applied, before the
    * key order and limit: the Spark plan. */
  private[operators] def resolvedCells(): DataFrame = {
    // LG pruning FIRST: a projected scan of an LG-partitioned table
    // reads only the LG directories holding its CFs — projection plus
    // any CFs the row filter's verdict needs (tera opens only those
    // LGs' LevelDBs, src/io/tablet_io.cc:1018-1024)
    val projCfs = cfSet ++ columnSet.map(_._1)
    val source = table.flatMap(_.lgRead) match {
      case Some(readPruned) if projCfs.nonEmpty =>
        // plus the CFs the verdict reads (it may look at columns OUTSIDE
        // the projection — P9 evaluates the filter before projecting)
        val filterCfs = rowFilter.toSeq.flatMap(ScanQuery.leaves)
          .flatMap(ScanQuery.test(_)._1.map(_._1))
        val needCfs = (projCfs ++ filterCfs).distinct
        readPruned(needCfs.map(desc.lgOf).distinct)
      case _ => log
    }

    // row-range predicates prune BEFORE resolve: every op of a row shares
    // its row_key, so the bound commutes with resolution and reaches the
    // parquet scan as a pushed filter.
    var pruned = source
    startKey.foreach(k => pruned = pruned.where(col("row_key") >= storageKey(k)))
    stopKey.foreach(k => pruned = pruned.where(col("row_key") < storageKey(k)))
    pointKey.foreach { k =>
      pruned = pruned.where(col("row_key") >= storageKey(k) &&
        col("row_key") < storageKey(k) + "\u0000")
    }

    // binary bounds: literal byte comparisons — Spark BinaryType order
    // is unsigned-lexicographic, i.e. memcmp (BinaryRawKeyOperator,
    // raw_key_operator.h:27-29); the point successor is key ++ 0x00 so
    // [k, k++0x00) holds exactly k (any longer key extends past it)
    startKeyBin.foreach(k => pruned = pruned.where(col("row_key") >= lit(k)))
    stopKeyBin.foreach(k => pruned = pruned.where(col("row_key") < lit(k)))
    pointKeyBin.foreach { k =>
      pruned = pruned.where(col("row_key") >= lit(k) &&
        col("row_key") < lit(k :+ 0.toByte))
    }
    // resume-after-KEY bounds are STORAGE-space (what the scan emitted):
    // no hash re-prefixing, strictly-after-a-fully-consumed-ROW semantics
    resumeAfterKey.foreach(k => pruned = pruned.where(col("row_key") > k))
    resumeAfterKeyBin.foreach(k => pruned = pruned.where(col("row_key") > lit(k)))

    // afterPage resumes at CELL granularity (the reference's
    // next_start_point is the last CELL returned, scan_impl.cc:84-89):
    // withLimit counts cells, so a page boundary can split a multi-cell
    // row, and a row-level bound would silently drop that row's
    // remaining cells. The last delivered cell in scan order (row asc,
    // cf asc, qualifier asc, ts desc) is fetched by ONE bounded one-row
    // handshake — the reference round-trips next_start_point through
    // the client the same way. Literal bounds beat the previous
    // broadcast-crossJoin form three ways: the row cut PUSHES into the
    // parquet scan (file/row-group pruning — the 100 TB property the
    // withResumeAfter plan spec asserts), the previous page executes
    // exactly once instead of once per cut, and nothing is pinned in
    // the block manager across a pagination loop. An empty page (null
    // aggregate) leaves the scan unbounded.
    val resumeCell: Option[Row] = resumeAfterPage.flatMap { prev =>
      val r = prev.agg(
        max_by(
          struct(col("row_key").as("rk"), col("cf").as("c"),
            col("qualifier").as("q"), col("ts").as("t")),
          struct(col("row_key"), col("cf"), col("qualifier"), -col("ts")))
          .as("_graft_resume")).head()
      if (r.isNullAt(0)) None else Some(r.getStruct(0))
    }
    resumeCell.foreach { r =>
      // pre-resolve, ROW level only: rows strictly below the boundary
      // row drop before resolution (the bound commutes at row
      // granularity); the boundary row itself must resolve IN FULL —
      // cutting its ops mid-column would change version caps and folds
      pruned = pruned.where(col("row_key") >= lit(r.get(0)))
    }

    val resolvedAll = Resolve.resolve(pruned, desc, nowUs, snapshotSeq,
      opsPresent, deleteCountHint = deleteCountHint)

    // post-resolve: the cell-strict cut — mixed-direction lexicographic
    // strictly-after over (row, cf, qualifier, ts desc). Applied before
    // the row verdict: a rowFilter combined with a mid-row resume sees
    // the row's REMAINING cells, like the reference's streamed row
    // buffer does after a number-limit break.
    val resolved = resumeCell.fold(resolvedAll) { r =>
      val (rk, c, q, t) =
        (lit(r.get(0)), lit(r.getString(1)), lit(r.getString(2)),
          lit(r.getLong(3)))
      resolvedAll.where(
        col("row_key") > rk ||
          (col("row_key") === rk && (col("cf") > c ||
            (col("cf") === c && (col("qualifier") > q ||
              (col("qualifier") === q && col("ts") < t))))))
    }

    // row-level verdict: leaf states aggregate over the whole row
    val filtered = rowFilter match {
      case None => resolved
      case Some(f) =>
        val wRow = Window.partitionBy(col("row_key"))
        val leaves = ScanQuery.leaves(f).map { leaf =>
          val (target, pred, ifMissing) = ScanQuery.test(leaf)
          target.fold(pred) { case (cf, q) =>
            val isTarget = col("cf") === cf && col("qualifier") === q
            val present = max(when(isTarget, 1).otherwise(0)).over(wRow) === 1
            val ok = max(when(isTarget && pred, 1).otherwise(0)).over(wRow) === 1
            when(present, ok).otherwise(lit(!ifMissing))
          }
        }
        resolved.withColumn("_pass",
          ScanQuery.verdict[Column](f, leaves.iterator, _ && _, _ || _))
          .where(col("_pass")).drop("_pass")
    }

    // projection AFTER the verdict: the filter saw the whole row
    val projected = projection.fold(filtered)(filtered.where)
    val timed = timeRange.fold(projected)(projected.where)

    // Cross-page semantics under afterPage: the rank is computed over
    // the cells REMAINING after the resume cut, so a page boundary
    // inside a row restarts qualifier counting — REFERENCE PARITY, not
    // an accident: tera's sync-scan resume skips out-of-range records
    // reconstructing version_num ("keep record of version info to
    // prevent dirty data", tablet_io.cc:1034-1046) but NOT qu_num
    // (tablet_io.cc:1063-1070), so its qualifier cap also restarts
    // mid-row while its version cap does not (ours likewise: resolve
    // sees the boundary row IN FULL, so maxVersions stays exact).
    // Covered by "maxQualifiers across an afterPage boundary" spec.
    maxQualifiers.fold(timed) { k =>
      val wq = Window.partitionBy(col("row_key"), col("cf")).orderBy(col("qualifier"))
      timed.withColumn("_qrank", dense_rank().over(wq))
        .where(col("_qrank") <= k)
        .drop("_qrank")
    }
  }

  /** The cf/column projection's cell predicate. */
  private def projection: Option[Column] = (cfSet, columnSet) match {
    case (Nil, Nil) => None
    case (cfs, cols) =>
      val cfPred = if (cfs.isEmpty) lit(false) else col("cf").isin(cfs: _*)
      val colPred =
        if (cols.isEmpty) lit(false)
        else cols.map { case (cf, q) => col("cf") === cf && col("qualifier") === q }
          .reduce(_ || _)
      Some(cfPred || colPred)
  }

  /** The time range's cell predicate. */
  private def timeRange: Option[Column] =
    tsRange.map { case (from, to) => col("ts").between(from, to) }

  /** The row steps of [[resolvedCells]] on the driver, as a function of
    * one row's folded cells (cell rows of `schema`: row_key, cf,
    * qualifier, ts, value, seq), in the scan loop's order: verdict,
    * projection, time range, qualifier cap. The verdict's leaf tests and
    * the projection and time predicates are the Catalyst expressions
    * the Spark plan evaluates, bound to the cell row. */
  private[operators] def rowSteps(schema: StructType): Seq[InternalRow] => Seq[InternalRow] = {
    val leaves = rowFilter.toSeq.flatMap(ScanQuery.leaves).map(ScanQuery.test)
    val cellPreds = projection.toSeq ++ timeRange
    val tests = CellReadExec.boundTests(log.sparkSession, schema,
      leaves.map(_._2) ++ cellPreds)
    val columns = leaves.map(_._1.map { case (cf, q) =>
      (UTF8String.fromString(cf), UTF8String.fromString(q)) })
    def isTrue(r: InternalRow, i: Int) = !r.isNullAt(i) && r.getBoolean(i)
    cells => {
      val row = cells.toIndexedSeq
      val results = row.map(tests)
      def leaf(n: Int): Boolean = columns(n) match {
        case None => isTrue(results.head, n)
        case Some((cf, q)) =>
          val targets = results.indices.filter(c =>
            row(c).getUTF8String(1) == cf && row(c).getUTF8String(2) == q)
          if (targets.isEmpty) !leaves(n)._3 else targets.exists(c => isTrue(results(c), n))
      }
      if (row.isEmpty || !rowFilter.forall(f =>
          ScanQuery.verdict[Boolean](f, leaves.indices.iterator.map(leaf), _ && _, _ || _))) Nil
      else {
        val kept: Seq[InternalRow] = results.indices.filter(c =>
          cellPreds.indices.forall(p => isTrue(results(c), leaves.length + p))).map(row)
        maxQualifiers.fold(kept)(k => ScanQuery.capQualifiers(kept, k))
      }
    }
  }
}

object ScanQuery {

  /** A filter tree's leaves, left to right. */
  private def leaves(f: ScanFilter): Seq[ScanFilter] = f match {
    case ScanFilter.And(cs) => cs.flatMap(leaves)
    case ScanFilter.Or(cs) => cs.flatMap(leaves)
    case leaf => Seq(leaf)
  }

  /** A filter tree's verdict from its leaves' verdicts, given left to
    * right. */
  private def verdict[A](f: ScanFilter, leafVerdicts: Iterator[A],
      and: (A, A) => A, or: (A, A) => A): A = f match {
    case ScanFilter.And(cs) => cs.map(verdict(_, leafVerdicts, and, or)).reduce(and)
    case ScanFilter.Or(cs) => cs.map(verdict(_, leafVerdicts, and, or)).reduce(or)
    case _ => leafVerdicts.next()
  }

  /** A filter leaf's test: the (cf, qualifier) column whose cells it
    * tests (None: a test of the row key, which every cell carries), its
    * predicate over a cell, and its verdict when the row has no cell in
    * that column. */
  private def test(leaf: ScanFilter): (Option[(String, String)], Column, Boolean) = {
    // byte-preserving cast, not decode(): one non-UTF-8 cell in the
    // column must not error the scan (ANSI decode throws); regex /
    // substring then see the replacement-char rendering, matching
    // the reference's byte-level filters on binary content
    def utf8(c: Column): Column = c.cast("string")
    leaf match {
      case ScanFilter.ValueFilter(cf, q, cmp, tv, ifMissing) =>
        val decoded = tv.decode(col("value"))
        val pred = cmp match {
          case "<"  => decoded < tv.literal
          case "<=" => decoded <= tv.literal
          case "==" => decoded === tv.literal
          case "!=" => decoded =!= tv.literal
          case ">=" => decoded >= tv.literal
          case ">"  => decoded > tv.literal
        }
        (Some((cf, q)), pred, ifMissing)
      case ScanFilter.RowKeyPrefix(p) => (None, col("row_key").startsWith(p), false)
      case ScanFilter.ValueRegex(cf, q, pat, ifMissing) =>
        (Some((cf, q)), utf8(col("value")).rlike(pat), ifMissing)
      case ScanFilter.ValueSubstring(cf, q, sub, ifMissing) =>
        (Some((cf, q)), utf8(col("value")).contains(sub), ifMissing)
      case _: ScanFilter.And | _: ScanFilter.Or =>
        throw new IllegalArgumentException(s"not a filter leaf: $leaf")
    }
  }

  /** One row's cells (cell rows) whose qualifier ranks among the first
    * `k` of its cf, qualifiers ranked ascending with null first — the
    * Spark plan's `dense_rank` over (row_key, cf) ordered by qualifier. */
  private def capQualifiers(cells: Seq[InternalRow], k: Int): Seq[InternalRow] = {
    val order: Ordering[UTF8String] = Ordering.fromLessThan[UTF8String] {
      (a, b) => b != null && (a == null || a.compareTo(b) < 0)
    }
    val kept = cells.groupBy(c => Option(c.getUTF8String(1))).values.flatMap { cf =>
      cf.map(_.getUTF8String(2)).distinct.sorted(order).take(k)
        .map(q => (Option(cf.head.getUTF8String(1)), Option(q)))
    }.toSet
    cells.filter(c => kept((Option(c.getUTF8String(1)), Option(c.getUTF8String(2)))))
  }
}
