package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Shared mechanics of the bucketed physical layout (used by both the
  * cell-log and KV stores): a log directory whose files are
  * hash-clustered by the table key via a Spark bucketed table, so
  * scans REPORT `HashPartitioning(bucketCol)` — resolve pipelines plan
  * with zero shuffle and point lookups prune to one bucket. The
  * catalog entry is derived from the directory and re-registered from
  * the stored descriptor in fresh sessions (the reference's analogue:
  * tablet→server maps rebuilt from master meta on restart).
  */
private[graft] object BucketedCatalog {

  /** Catalog identifier for a bucketed log — derived from the directory
    * so reopening the same path from any session resolves to the same
    * table entry. */
  def catalogName(logDir: String): String = {
    val norm = logDir.replaceAll("/+$", "")
    "graft_bkt_" + java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Make sure the session catalog holds this log's bucketed-table
    * entry; returns the table name. Registration is DDL over the
    * existing location — no data move. The stored descriptor is
    * authoritative: an entry whose bucket spec disagrees (the table
    * was re-created at this path by another application) would
    * silently prune point lookups to bucket ids the files don't carry
    * — drop it and re-register.
    */
  def ensureRegistered(spark: SparkSession, logDir: String, n: Int,
      schema: StructType, bucketCol: String, sortCols: Seq[String]): String = {
    val name = catalogName(logDir)
    if (spark.catalog.tableExists(name)) {
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      // count AND columns: an entry bucketed on another column would
      // report the wrong partitioning, not just the wrong bucket ids
      val specOk = meta.bucketSpec.exists(bs => bs.numBuckets == n &&
        bs.bucketColumnNames == Seq(bucketCol) &&
        bs.sortColumnNames == sortCols)
      // and an entry without the bloom options appends bloom-less files
      val bloomOk = CellLogStore.bloomOptions(bucketCol).forall {
        case (k, v) => meta.storage.properties.get(k).contains(v)
      }
      if (!specOk || !bloomOk) spark.sql(s"DROP TABLE $name")
    }
    if (!spark.catalog.tableExists(name)) {
      val cols = StructType(schema.map(_.copy(nullable = true))).toDDL
      // the location is user-supplied path text inside SQL — escape
      // backslashes (the parser unescapes \t-style sequences inside
      // string literals) and quotes, or a path like /data/o'brien or
      // /data/a\tmp registers a corrupted location. Quotes escape as
      // \' — Spark's lexer is backslash-style; SQL-standard doubling
      // ('') would tokenize as two adjacent strings and fail to parse
      val loc = logDir.replace("\\", "\\\\").replace("'", "\\'")
      // writer options on an APPEND to an existing catalog table are
      // dropped (the write takes the entry's own storage properties),
      // so the per-file key bloom rides the entry: tera's per-SST
      // blooms (table_schema.proto:62) let point gets skip files
      val opts = CellLogStore.bloomOptions(bucketCol)
        .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      spark.sql(
        s"""CREATE TABLE $name ($cols) USING parquet
           |OPTIONS ($opts)
           |CLUSTERED BY ($bucketCol)
           |SORTED BY (${sortCols.mkString(", ")}) INTO $n BUCKETS
           |LOCATION '$loc'""".stripMargin)
    }
    name
  }

  /** Read a bucketed log THROUGH the session catalog — `spark.table` is
    * what lets the scan report its `HashPartitioning(bucketCol)`.
    * Refreshed per read to match the flat path's list-per-read
    * freshness: catalog relations cache their file listing PER SESSION,
    * and a writer in another session (e.g. a streaming micro-batch
    * clone) cannot invalidate this session's cache. Refresh is
    * metadata-only.
    */
  def read(spark: SparkSession, logDir: String, n: Int,
      schema: StructType, bucketCol: String,
      sortCols: Seq[String]): DataFrame =
    spark.table(refresh(spark, logDir, n, schema, bucketCol, sortCols))

  /** Register the log's entry if needed and drop this session's cached
    * file listing of it (metadata-only; the next read re-lists);
    * returns the table name. */
  def refresh(spark: SparkSession, logDir: String, n: Int,
      schema: StructType, bucketCol: String, sortCols: Seq[String]): String = {
    val name = ensureRegistered(spark, logDir, n, schema, bucketCol, sortCols)
    spark.catalog.refreshTable(name)
    name
  }

  /** Write a batch into the bucketed layout. An append MUST see a
    * registered table first: saveAsTable on an unregistered name plans
    * CREATE-AS-SELECT, which clears the location — on a table reopened
    * in a fresh session that would delete the stored log, not append
    * to it. The batch pre-shuffles onto the bucket function itself
    * (murmur3 % n — the same hash bucketBy uses), so each task owns
    * whole buckets and an append lands ONE file per bucket, not
    * tasks×buckets files. `aboveExchange` wraps the batch right above
    * that shuffle (e.g. an observation counted inside the write job).
    */
  def write(batch: DataFrame, logDir: String, mode: SaveMode, n: Int,
      schema: StructType, bucketCol: String, sortCols: Seq[String],
      aboveExchange: DataFrame => DataFrame = identity): Unit = {
    val spark = batch.sparkSession
    val name = catalogName(logDir)
    if (mode == SaveMode.Append)
      ensureRegistered(spark, logDir, n, schema, bucketCol, sortCols)
    else if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE $name")
    aboveExchange(batch.repartition(n, col(bucketCol)))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(mode)
      .options(CellLogStore.bloomOptions(bucketCol))   // kept by an Overwrite
      .option("path", logDir)
      .bucketBy(n, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(name)
    // invalidate this session's cached file listing for readers that
    // scanned before the append (metadata-only; next read re-lists)
    spark.catalog.refreshTable(name)
  }
}
