package graft.operators

import graft.functions.cellfunctions._
import graft.model.{OpType, TableDesc}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** The resolve pipeline — the engine's core bespoke operator.
  *
  * Turns the append-only tagged cell log into the visible cells a reader
  * observes, reproducing the reference's lazy merge-on-read semantics
  * (tera folds the mutation log at scan/compaction time:
  * DefaultCompactStrategy::ScanDrop / ScanMergedValue,
  * src/io/default_compact_strategy.cc:59-330 and
  * src/io/atomic_merge_strategy.cc:36-103).
  *
  * Pipeline order matches the reference scan loop
  * (src/io/tablet_io.cc:939-1137): snapshot bound → tombstones → TTL
  * (with min_versions survivors) → version cap → atomic-op fold.
  *
  * Scale design:
  *  - every windowed step partitions on `row_key` or a superset, so the
  *    whole pipeline costs ONE shuffle plus within-partition sorts;
  *  - the pipeline is ADAPTIVE: each step materializes only if the op
  *    types / schema knobs that require it are present (`opsPresent`,
  *    statically known for engine-written logs). A delete-free,
  *    atomic-free, max_versions=1 table — the reference default
  *    (table_schema.proto:37) and the dominant analytical case —
  *    resolves as a single `max_by` hash aggregation: partial
  *    (map-side) + final, no window sort at all, the cheapest shape
  *    Spark can execute at 100 TB.
  */
object Resolve {
  import OpType._

  /** Resolve the visible versioned cells of a cell log.
    *
    * The physical form follows from the input alone. The op-set picks
    * the fold: a `max_by` aggregate, the uncapped pass-through, a
    * version-ranking window, the pure sum, or the streamed
    * [[CellFold.column]]. The tombstone strategy is window when the
    * input is clustered on `row_key` or its known delete count exceeds
    * 100,000, else join. Only an undeclared op-set (`opsPresent =
    * None`) runs a job while the plan is built: its one probe.
    *
    * @param log         DataFrame with [[graft.model.CellOp]] schema;
    *                    `seq` must be unique within the log
    * @param desc        per-CF max/min versions and TTL
    * @param nowUs       "current time" for TTL expiry — an explicit
    *                    parameter, never wall-clock, for determinism
    * @param snapshotSeq time-travel bound: only ops with seq <= snapshot
    *                    are visible (tera snapshot reads bound the
    *                    LevelDB sequence, src/io/tablet_io.cc:2331-2345)
    * @param opsPresent  the op tags the log may contain, when known
    *                    statically; `None` probes with a cheap
    *                    distinct-scan of the op column. Drives the
    *                    adaptive step elision.
    * @param deleteCountHint known tombstone count of the log (a stored
    *                    table's delete hint): sizes the tombstone
    *                    strategy of an unclustered log. A HINT only —
    *                    both strategies are exact, so a stale count
    *                    cannot affect correctness.
    * @return visible cells (row_key, cf, qualifier, ts, value, seq)
    */
  def resolve(
      log: DataFrame,
      desc: TableDesc = TableDesc(),
      nowUs: Long = Long.MaxValue,
      snapshotSeq: Option[Long] = None,
      opsPresent: Option[Set[Int]] = None,
      deleteCountHint: Option[Long] = None): DataFrame = {

    val bounded = snapshotSeq.fold(log)(s => log.where(col("seq") <= s))

    // ad-hoc logs (no declared op-set) probe ONCE for both adaptive
    // inputs — the op tags present AND the tombstone count — instead of
    // a distinct job now and a count job later; stored tables carry
    // both on their descriptor and never reach this
    val (present: Set[Int], probedDelCount: Option[Long]) = opsPresent match {
      case Some(p) => (p, None)
      case None =>
        val row = bounded.agg(
          collect_set(col("op")),
          count(when(col("op").isin(deletes: _*), 1))).collect()(0)
        (row.getSeq[Int](0).toSet, Some(row.getLong(1)))
    }
    val hasAtomic = present.exists(atomics.contains)
    val hasValue = present.contains(Value)

    def cfKnob(f: graft.model.CfSpec => Long): Column =
      desc.cfs.foldLeft(lit(f(desc.default)): Column) { case (acc, (cf, spec)) =>
        when(col("cf") === cf, lit(f(spec))).otherwise(acc)
      }
    val allSpecs = desc.default +: desc.cfs.values.toSeq
    val anyTtl = allSpecs.exists(_.ttlSec > 0)
    val anyMinVersions = allSpecs.exists(_.minVersions > 0)
    val uncapped = allSpecs.forall(_.maxVersions == Int.MaxValue)
    val allSingleVersion = allSpecs.forall(_.maxVersions == 1)

    // --- tombstones ---------------------------------------------------
    // A delete with (ts_d, seq_d) kills data cells in its scope with
    // cell.ts <= ts_d written before it (cell.seq < seq_d). Two
    // physical strategies:
    //  - "window": running max of delete-ts over strictly-later-seq ops,
    //    one ordered window pass per delete granularity present, all
    //    sharing the row_key exchange. Robust for ANY delete density
    //    (O((n+m) log) via sort, spills like any sort).
    //  - "join": collect the (few) tombstones per scope into arrays and
    //    left-join them to the data cells — no sort at all; the dels
    //    side is usually broadcast-sized. Wins when deletes are sparse,
    //    which is the realistic shape of a mutation log.
    // The input picks: its physical layout first, its known tombstone
    // count second:
    //  - input already clustered on row_key (a bucketed scan, through
    //    any row_key/seq/range filter): window. Every delete window's
    //    distribution is row_key-prefixed, so the windows plan with
    //    ZERO exchange and drop tombstoned cells in the same ordered
    //    pass that reads them — tera's ScanDrop shape — where a join
    //    would add one broadcast job per granularity, each re-scanning
    //    the same bucket files.
    //  - otherwise (flat / LG-partitioned logs): join, unless a known
    //    count (the ad-hoc probe's, else the stored hint) puts the
    //    tombstone side past broadcast size — then the window's sorts
    //    cost less than collecting that many tombstones per scope. No
    //    count job runs: a sparse tombstone side is the realistic shape
    //    of a mutation log, and a plan build stays job-free.
    val presentDels = deletes.filter(present.contains)
    val keepData = col("op").isin(dataOps.filter(present.contains): _*)

    val strategy =
      if (presentDels.isEmpty) "none"
      else if (clusteredOnRowKey(bounded)) "window"
      // the probe's count is EXACT and already paid for — a stored
      // hint (possibly stale) only decides when no probe ran
      else if (probedDelCount.orElse(deleteCountHint).exists(_ > 100000L)) "window"
      else "join"

    val alive = strategy match {
      case "none" => bounded.where(keepData)

      case "join" =>
        var cur = bounded.where(keepData)
        def applyDel(tag: Int, scope: Seq[String], tsScoped: Boolean): Unit =
          if (present.contains(tag)) {
            val dname = s"_dels_$tag"
            val dels = bounded.where(col("op") === tag)
              .groupBy(scope.map(col): _*)
              .agg(collect_list(struct(col("seq").as("dseq"),
                col("ts").as("dts"))).as(dname))
            val killed = exists(col(dname), d =>
              d.getField("dseq") > col("seq") &&
                (if (tsScoped) lit(true) else d.getField("dts") >= col("ts")))
            cur = cur.join(dels, scope, "left")
              .where(col(dname).isNull || !killed)
              .drop(dname)
          }
        applyDel(DelRow, Seq("row_key"), tsScoped = false)
        applyDel(DelColumn, Seq("row_key", "cf"), tsScoped = false)
        applyDel(DelQualifiers, Seq("row_key", "cf", "qualifier"), tsScoped = false)
        applyDel(DelQualifier, Seq("row_key", "cf", "qualifier", "ts"), tsScoped = true)
        cur

      case _ =>  // "window"
        val laterOps = Window.orderBy(col("seq").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        // the newest covering delete's ts, null when no later delete is
        // in scope: a cell survives above it, or with none at all (a
        // sentinel ts would kill a cell written at that very ts)
        def delScope(opTag: Int, parts: Seq[String]): Option[Column] =
          Option.when(present.contains(opTag))(
            max(when(col("op") === opTag, col("ts")))
              .over(laterOps.partitionBy(parts.map(col): _*)))
        val survives = (c: Column) => c.isNull || col("ts") > c
        val delCols: Seq[(String, Column, Column => Column)] = Seq(
          delScope(DelRow, Seq("row_key")).map(("_del_row_ts", _, survives)),
          delScope(DelColumn, Seq("row_key", "cf")).map(("_del_cf_ts", _,
            survives)),
          delScope(DelQualifiers, Seq("row_key", "cf", "qualifier"))
            .map(("_del_qual_ts", _, survives)),
          (if (!present.contains(DelQualifier)) None
           else Some(("_del_ver",
            coalesce(
              max(when(col("op") === DelQualifier, lit(1)))
                .over(laterOps.partitionBy(col("row_key"), col("cf"),
                  col("qualifier"), col("ts"))),
              lit(0)),
            (c: Column) => c === 0)))).flatten
        val withDels = delCols.foldLeft(bounded) { case (df, (name, c, _)) =>
          df.withColumn(name, c)
        }
        val pred = delCols.map { case (name, _, test) => test(col(name)) }
          .foldLeft(keepData)(_ && _)
        withDels.where(pred).drop(delCols.map(_._1): _*)
    }

    // --- TTL + min_versions survivors ---------------------------------
    val versionOrder = Window
      .partitionBy(col("row_key"), col("cf"), col("qualifier"))
      .orderBy(col("ts").desc, col("seq").desc)

    val surviving =
      if (!anyTtl) alive
      else {
        val ttlUs = cfKnob(_.ttlSec) * lit(1000000L)
        val fresh = ttlUs === 0L || (col("ts") + ttlUs) > lit(nowUs)
        if (!anyMinVersions) alive.where(fresh)
        else alive
          .withColumn("_vrank0", row_number().over(versionOrder))
          .where(fresh || col("_vrank0") <= cfKnob(_.minVersions.toLong))
          .drop("_vrank0")
      }

    // --- version cap + atomic fold ------------------------------------
    // Columns written only with plain VALUEs keep their newest
    // max_versions versions. Columns touched by atomic ops collapse to a
    // single merged cell: the chronological fold of the surviving ops
    // (VALUE resets the state; ADD/ADDINT64 sum onto it; PUT_IF_ABSENT
    // writes only into emptiness; APPEND concatenates) — the batch
    // equivalent of tera's AtomicMergeStrategy.
    val outCols = Seq("row_key", "cf", "qualifier", "ts", "value", "seq").map(col)

    def cappedPlain(df: DataFrame): DataFrame =
      if (uncapped) df.select(outCols: _*)
      else if (allSingleVersion)
        // max_versions=1 fast path: hash aggregation with map-side
        // partial combine — no window sort (SURVEY §4 optional strategy)
        df.groupBy(col("row_key"), col("cf"), col("qualifier"))
          .agg(max_by(struct(col("ts"), col("seq"), col("value")),
            struct(col("ts"), col("seq"))).as("_c"))
          .select(col("row_key"), col("cf"), col("qualifier"),
            col("_c.ts").as("ts"), col("_c.value").as("value"),
            col("_c.seq").as("seq"))
      else df
        .withColumn("_vrank", row_number().over(versionOrder))
        .where(col("_vrank") <= cfKnob(_.maxVersions.toLong))
        .select(outCols: _*)

    // Pure-counter fast path. NO fold path buffers a column's history:
    // the streamed fold ([[streamed]]) keeps O(1) state per column; for
    // ops ⊆ {Add} (or {AddInt64}) the fold IS the sum of the decoded
    // operands, which Spark executes as a partial (map-side) + final
    // hash aggregate — no sort, no window. It matches CellFold exactly:
    // an ADD with a null operand resets the fold to null (later ADDs
    // count from zero), and a sum past the long range raises, as ANSI
    // `sum` does.
    val keys = Seq(col("row_key"), col("cf"), col("qualifier"))
    val tsSeq = struct(col("ts"), col("seq"))
    def pureSum(df: DataFrame, dec: Column => Column, enc: Column => Column): DataFrame = {
      // the newest null operand per column: found by a pushed
      // `value IS NULL` scan (row groups without nulls are skipped) and
      // broadcast, so the sum stays one map-side-combined aggregate
      val resets = broadcast(df.where(col("value").isNull).groupBy(keys: _*)
        .agg(max(tsSeq).as("_reset")))
      df.join(resets, Seq("row_key", "cf", "qualifier"), "left")
        .groupBy(keys: _*)
        .agg(max(col("ts")).as("ts"),
          enc(sum(when(col("_reset").isNull || tsSeq > col("_reset"),
            dec(col("value"))))).as("value"),
          max(col("seq")).as("seq"))
        .select(outCols: _*)
    }

    def folded(df: DataFrame, ops: Set[Int]): DataFrame =
      if (ops.subsetOf(Set(Add))) pureSum(df, be64_decode, be64_encode)
      else if (ops.subsetOf(Set(AddInt64))) pureSum(df, le64_decode, le64_encode)
      else if (df.schema("row_key").dataType ==
          org.apache.spark.sql.types.BinaryType) streamed[Array[Byte]](df)
      else streamed[String](df)

    val presentData = present.intersect(dataOps.toSet)
    if (!hasAtomic) cappedPlain(surviving)
    else if (!hasValue) folded(surviving, presentData)
    else {
      // mixed log: split per column by whether atomic ops touched it
      val marked = surviving.withColumn("_has_atomic",
        max(when(col("op").isin(atomics.filter(present.contains): _*), 1).otherwise(0))
          .over(Window.partitionBy(col("row_key"), col("cf"), col("qualifier"))))
      cappedPlain(marked.where(col("_has_atomic") === 0).drop("_has_atomic"))
        .unionAll(folded(marked.where(col("_has_atomic") === 1).drop("_has_atomic"),
          presentData))
    }
  }

  /** The fold of every atomic column `pureSum` does not take (a VALUE
    * among Adds, PutIfAbsent, Append, both Add kinds): a STREAMING fold
    * over each column's (ts, seq)-sorted iterator — O(1) state per column, like the reference's
    * scan-loop merge (tera src/io/atomic_merge_strategy.cc:36-103). The
    * fold body is [[CellFold.column]], the one a driver-side point get
    * runs. `groupBy(...).as` plans a clustered distribution — a
    * bucketed table satisfies it straight from the scan (zero shuffle)
    * — and the per-group sort is a spillable SortExec, never an
    * in-memory array.
    *
    * `K` is the log's ACTUAL key type: a Dataset encoder over String
    * would silently up-cast a binary raw key, replacing invalid-UTF-8
    * bytes and collapsing distinct keys. */
  private def streamed[K: TypeTag](df: DataFrame): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    // grouping COLUMNS, not a key lambda: an opaque groupByKey key is an
    // appended attribute EnsureRequirements cannot equate with row_key,
    // which would force the shuffle back in.
    // op and value extend the sort key past (ts, seq): seqs the engine
    // reserves (CellLogStore.reserveSeqs) never repeat, but
    // caller-supplied seqs (put batches, BatchTxn/notify bases) can, so
    // two cells CAN share (ts, seq) — the full-struct key keeps the fold
    // order total and deterministic.
    df.select(col("row_key"), col("cf"), col("qualifier"), col("ts"),
        col("op"), col("value"), col("seq"))
      .groupBy(col("row_key"), col("cf"), col("qualifier"))
      .as[(K, String, String), (K, String, String, Long, Int, Array[Byte], Long)]
      .flatMapSortedGroups(col("ts"), col("seq"), col("op"), col("value")) {
        case ((rk, cfn, q), it) =>
          val (ts, v, seq) = CellFold.column(it.map(r => (r._4, r._5, r._6, r._7)))
          Iterator((rk, cfn, q, ts, v, seq))
      }
      .toDF("row_key", "cf", "qualifier", "ts", "value", "seq")
  }

  /** True when the log's physical plan already delivers its rows
    * clustered by `row_key` — a bucketed scan reports
    * `HashPartitioning(row_key)`, and filters keep it. Plan-build-time
    * only: planning the input runs no job. */
  private def clusteredOnRowKey(log: DataFrame): Boolean = {
    val plan = log.queryExecution.sparkPlan
    plan.output.find(_.name == "row_key").exists(k =>
      plan.outputPartitioning.satisfies(ClusteredDistribution(Seq(k))))
  }

  /** Wide row view — `RowReader::ToMap` equivalent
    * (tera include/tera/reader.h:52-55):
    * row_key -> map(cf -> map(qualifier -> array of (ts, value) desc)).
    */
  def toWideRows(resolved: DataFrame): DataFrame = {
    val versions = resolved
      .groupBy(col("row_key"), col("cf"), col("qualifier"))
      .agg(reverse(array_sort(collect_list(struct(col("ts"), col("value")))))
        .as("versions"))
    val cfMaps = versions
      .groupBy(col("row_key"), col("cf"))
      .agg(map_from_entries(collect_list(struct(col("qualifier"), col("versions"))))
        .as("quals"))
    cfMaps
      .groupBy(col("row_key"))
      .agg(map_from_entries(collect_list(struct(col("cf"), col("quals")))).as("cells"))
  }
}
