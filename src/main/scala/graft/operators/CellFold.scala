package graft.operators

import graft.functions.Codecs
import graft.model.{OpType, TableDesc}

/** The fold of one row's ops into its visible cells, in plain Scala —
  * tera's scan-loop merge (src/io/tablet_io.cc:939-1137) over one row,
  * with [[Resolve]]'s semantics in [[Resolve]]'s order: snapshot bound,
  * tombstones, TTL with min_versions survivors, then per column either
  * the chronological atomic fold (src/io/atomic_merge_strategy.cc:36-103)
  * or the newest max_versions versions.
  *
  * A driver-side point get folds the ops it read with [[row]]; Resolve's
  * mixed-op streaming fold runs [[column]] in each task.
  */
object CellFold {
  import OpType._

  /** One op of a row: a cell-log record without its row key. */
  final case class Op(cf: String, qualifier: String, ts: Long, op: Int,
      value: Array[Byte], seq: Long)

  /** One visible cell of a row. */
  final case class Cell(cf: String, qualifier: String, ts: Long,
      value: Array[Byte], seq: Long)

  /** The visible cells of one row whose ops are `ops` (any order).
    * `present`, when declared, is the op-set resolve trusts: ops with
    * other tags are ignored, as resolve's adaptive steps ignore them.
    * A TTL whose microseconds overflow a long raises an
    * `ArithmeticException`, as Spark's ANSI arithmetic does in resolve. */
  def row(ops: Seq[Op], desc: TableDesc, nowUs: Long = Long.MaxValue,
      snapshotSeq: Option[Long] = None,
      present: Option[Set[Int]] = None): Seq[Cell] = {
    val bounded = ops.filter(o => snapshotSeq.forall(o.seq <= _) &&
      present.forall(_.contains(o.op)))
    val (data, dels) = bounded.partition(o => dataOps.contains(o.op))
    // a later tombstone whose ts covers the cell kills it
    def killed(c: Op): Boolean = dels.exists { d =>
      d.seq > c.seq && (d.op match {
        case DelRow => d.ts >= c.ts
        case DelColumn => d.cf == c.cf && d.ts >= c.ts
        case DelQualifiers => d.cf == c.cf && d.qualifier == c.qualifier &&
          d.ts >= c.ts
        case DelQualifier => d.cf == c.cf && d.qualifier == c.qualifier &&
          d.ts == c.ts
        case _ => false
      })
    }
    val anyTtl = (desc.default +: desc.cfs.values.toSeq).exists(_.ttlSec > 0)
    data.filterNot(killed).groupBy(o => (o.cf, o.qualifier)).toSeq
      .sortBy(_._1)(Ordering.Tuple2(nullsFirst, nullsFirst))
      .flatMap { case ((cf, qualifier), versions) =>
        val spec = desc.spec(cf)
        val newestFirst = versions.sortBy(o => (o.ts, o.seq))(newest)
        val surviving =
          if (!anyTtl) newestFirst
          else {
            val ttlUs = Math.multiplyExact(spec.ttlSec, 1000000L)
            newestFirst.zipWithIndex.collect {
              case (o, i) if ttlUs == 0L || Math.addExact(o.ts, ttlUs) > nowUs ||
                  i < spec.minVersions => o
            }
          }
        if (surviving.exists(o => atomics.contains(o.op))) {
          val (ts, value, seq) = column(surviving.sorted(chronological)
            .iterator.map(o => (o.ts, o.op, o.value, o.seq)))
          Seq(Cell(cf, qualifier, ts, value, seq))
        } else
          surviving.take(math.max(0, spec.maxVersions))
            .map(o => Cell(cf, qualifier, o.ts, o.value, o.seq))
      }
  }

  /** The chronological fold of one column's ops, sorted by `(ts, seq, op,
    * value)`: the merged value with the max ts and the max seq. A VALUE
    * resets the state; ADD/ADDINT64 sum onto it; PUT_IF_ABSENT writes
    * only into emptiness; APPEND concatenates. A null ADD, ADDINT64 or
    * APPEND operand nulls the state, as expression arithmetic and concat
    * propagate null: a poison cell must not kill the scan. A sum past the
    * long range raises an `ArithmeticException`, as ANSI `sum` does in
    * resolve's counter fast paths. Input tuples are (ts, op, value,
    * seq). */
  def column(ops: Iterator[(Long, Int, Array[Byte], Long)])
      : (Long, Array[Byte], Long) = {
    var maxTs = Long.MinValue
    var maxSeq = Long.MinValue
    var state: Array[Byte] = null
    ops.foreach { case (ts, op, v, seq) =>
      if (ts > maxTs) maxTs = ts
      if (seq > maxSeq) maxSeq = seq
      state = step(state, op, v)
    }
    (maxTs, state, maxSeq)
  }

  /** One atomic step: the state after applying `op` with operand `v`. */
  private def step(state: Array[Byte], op: Int, v: Array[Byte]): Array[Byte] = op match {
    case Value => v
    case Add => if (v == null) null
      else Codecs.encodeBE64(Math.addExact(
        if (state == null) 0L else Codecs.decodeBE64(state), Codecs.decodeBE64(v)))
    case AddInt64 => if (v == null) null
      else Codecs.encodeLE64(Math.addExact(
        if (state == null) 0L else Codecs.decodeLE64(state), Codecs.decodeLE64(v)))
    case PutIfAbsent => if (state == null) v else state
    case Append => if (v == null) null
      else (if (state == null) Array.emptyByteArray else state) ++ v
    case _ => state
  }

  private val newest: Ordering[(Long, Long)] = Ordering[(Long, Long)].reverse

  private val nullsFirst: Ordering[String] = Ordering.fromLessThan[String] {
    (a, b) => b != null && (a == null || a < b)
  }

  /** Resolve's fold order: (ts, seq, op, value), a null value first and
    * values as unsigned bytes — Spark's ascending sort of those columns.
    * Caller-supplied seqs can repeat, so (ts, seq) alone is not total. */
  private val chronological: Ordering[Op] = (a: Op, b: Op) => {
    val c = java.lang.Long.compare(a.ts, b.ts)
    if (c != 0) c
    else {
      val s = java.lang.Long.compare(a.seq, b.seq)
      if (s != 0) s
      else {
        val o = Integer.compare(a.op, b.op)
        if (o != 0) o
        else if (a.value == null) (if (b.value == null) 0 else -1)
        else if (b.value == null) 1
        else java.util.Arrays.compareUnsigned(a.value, b.value)
      }
    }
  }
}
