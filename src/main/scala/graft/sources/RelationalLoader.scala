package graft.sources

import graft.model.OpType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Generic relational → cell-log loader: turn ANY DataFrame into the
  * tagged mutation log a [[graft.GraftTable]] consumes, without writing
  * a bespoke fixture (the `terautil dump` analogue — tera's bulk loader
  * scans a source table and re-emits rows as mutation batches,
  * src/terautil.cc:2988-3013).
  *
  * Mapping: each source row becomes one VALUE cell per mapped column —
  * `row_key` = the key column rendered as string, `(cf, qualifier)`
  * from `cfMap`, value = the column's bytes (binary passes through,
  * strings encode UTF-8, everything else renders via its SQL string
  * form, so the round trip is exact for ints/decimals/dates). NULL
  * columns emit NO cell — the cell model has absent columns, not null
  * cells.
  *
  * Scale: one narrow projection + explode, no shuffle of its own; the
  * append's range-repartition is the only exchange. Cells get seqs from
  * `seqBase + monotonically_increasing_id()` AFTER the explode, so they
  * are unique per cell at any size. Rows sharing a key collapse under
  * resolve to an arbitrary newest cell per column — same contract as
  * concurrent puts; aggregate first if the source key is not unique.
  */
object RelationalLoader {

  private def toBytes(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case BinaryType => col(name)
      case StringType => encode(col(name), "UTF-8")
      case _          => encode(col(name).cast("string"), "UTF-8")
    }

  /** The CellOp frame for `df` under `keyCol`/`cfMap`.
    *
    * @param ts cell timestamp column (a source event-time column, or the
    *           default constant 0 for pure snapshot loads)
    * @param seqBase first seq of the load; its seqs reach
    *           `seqBase + (numPartitions << 33)`. The default
    *           [[CellLogStore.SeqEra]] suits a load into a fresh table;
    *           a load into a table that holds data takes a base above
    *           its seqs from [[CellLogStore.reserveSeqs]]
    */
  def toCellLog(df: DataFrame, keyCol: String,
      cfMap: Map[String, Seq[String]], ts: Column = lit(0L),
      seqBase: Long = CellLogStore.SeqEra): DataFrame = {
    val entries = cfMap.toSeq.sortBy(_._1).flatMap { case (cf, cols) =>
      cols.map(c => struct(lit(cf).as("cf"), lit(c).as("qualifier"),
        toBytes(df, c).as("value")))
    }
    df.select(col(keyCol).cast("string").as("row_key"), ts.as("ts"),
        explode(array(entries: _*)).as("_c"))
      .where(col("_c.value").isNotNull)
      .select(col("row_key"), col("_c.cf").as("cf"),
        col("_c.qualifier").as("qualifier"), col("ts"),
        lit(OpType.Value).as("op"), col("_c.value").as("value"),
        (lit(seqBase) + monotonically_increasing_id()).as("seq"))
  }

  /** Inverse of [[toCellLog]] — resolved cells back to one relational
    * row per key (terautil's export direction, src/terautil.cc dump
    * path). Values decode as UTF-8 strings (the loader's own
    * encoding); cast to target types afterwards — the SQL string form
    * round-trips exactly for ints, decimals, dates, timestamps and
    * doubles (shortest-round-trip rendering). Absent cells yield NULL.
    *
    * Scale: the pivot is a single hash aggregate on `row_key` with one
    * `max(when(...))` per mapped column — the column set is static from
    * `cfMap`, so there is no `pivot()` distinct-values pre-scan, and
    * map-side partials apply. Post-resolve input has at most one cell
    * per (key, cf, qualifier), so `max` only collapses the NULLs of
    * non-matching branches.
    */
  def fromCellLog(resolved: DataFrame, cfMap: Map[String, Seq[String]],
      keyName: String = "row_key"): DataFrame = {
    val cols = cfMap.toSeq.sortBy(_._1).flatMap { case (cf, cs) =>
      cs.map(c => max(when(col("cf") === cf && col("qualifier") === c,
        decode(col("value"), "UTF-8"))).as(c))
    }
    require(cols.nonEmpty, "cfMap must name at least one column")
    resolved.groupBy(col("row_key"))
      .agg(cols.head, cols.tail: _*)
      .withColumnRenamed("row_key", keyName)
  }
}
