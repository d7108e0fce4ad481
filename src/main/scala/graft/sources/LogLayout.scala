package graft.sources

import graft.model.{CellOp, KvEntry, OpType, TableDesc}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.datasources.{BucketingUtils, DataSource, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Physical layout of one log directory, cell or KV — the one owner of
  * how a log sits on disk. tera keeps the tablet layout in the table
  * schema (table_schema.proto:31-64); here the stored descriptor says
  * which of three layouts a log has:
  *  - flat: files range-clustered by `rangeCols`, so parquet min/max
  *    statistics prune range scans like tablet ranges;
  *  - LG-partitioned: the same under one `lg=<name>/` directory per
  *    locality group, `lg` giving each row's partition value;
  *  - bucketed: hash-clustered by `key` into `buckets` files per
  *    commit with Spark's bucket function, so a scan REPORTS
  *    `HashPartitioning(key)`: resolve plans with zero shuffle and a
  *    point lookup prunes to one bucket.
  * Every file is sorted by `sortCols` and carries a `key` bloom filter
  * (tera's per-SST blooms, table_schema.proto:62). Flat and bucketed
  * logs are read and written BY PATH, the bucket spec attached to the
  * relation: there is no catalog entry, and every read lists the files
  * afresh, whichever session wrote them.
  */
private[graft] final case class LogLayout(
    schema: StructType,
    key: String,
    rangeCols: Seq[String],
    sortCols: Seq[String],
    buckets: Int = 0,
    lg: Option[Column] = None) {

  private def bucketSpec: Option[BucketSpec] =
    Some(buckets).filter(_ > 0).map(BucketSpec(_, Seq(key), sortCols))

  /** Read a flat log. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.baseRelationToDataFrame(DataSource(spark, "parquet",
      paths = Seq(dir), userSpecifiedSchema = Some(schema))
      .resolveRelation(checkFilesExist = false))

  /** Read a bucketed log from its [[LogLayout.Listing]]: the relation's
    * file index serves that listing, so the read lists nothing itself. */
  def read(spark: SparkSession, listing: LogLayout.Listing): DataFrame = {
    val served = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        Option.when(path == listing.root)(listing.files.toArray)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(spark, Seq(listing.root), Map.empty, Some(schema), served),
      new StructType(), schema, bucketSpec, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Read an LG-partitioned log, with its `lg` partition column. */
  def readLgs(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(withLgColumn).parquet(dir)

  /** An LG-partitioned log read ([[readLgs]]) pruned to `wanted` LGs
    * (None = all). The wanted set always includes
    * [[TableDesc.RowTombstoneLg]] — a row-wide delete must be visible to
    * every CF's resolve. The filter lands on the partition column, so
    * unwanted LG directories are pruned at file-listing time, never
    * opened (tera: a projected scan opens only the LGs holding its CFs,
    * src/io/tablet_io.cc:1018-1024).
    */
  def pruneLgs(withLg: DataFrame, wanted: Option[Seq[String]]): DataFrame = {
    val pruned = wanted match {
      case Some(names) =>
        val keep = (names :+ TableDesc.RowTombstoneLg).distinct
        withLg.where(col("lg").isin(keep: _*))
      case None => withLg
    }
    pruned.drop("lg")
  }

  private def withLgColumn: StructType = schema.add(StructField("lg", StringType))

  /** Tail the log as a file stream, in the log's schema. An
    * LG-partitioned log (`lgPartitioned`) needs the partition column in
    * the stream schema; it is layout, not data, and is dropped. */
  def stream(spark: SparkSession, dir: String, lgPartitioned: Boolean): DataFrame = {
    val files = spark.readStream
      .schema(if (lgPartitioned) withLgColumn else schema)
      .option("maxFilesPerTrigger", "16")
      .parquet(dir)
    if (lgPartitioned) files.drop("lg") else files
  }

  /** Write `batch` into `dir` — every log write, cell or KV. A
    * driver-resident append ([[DriverCommit.localRows]]: the batch's
    * optimized plan is a `LocalRelation` whose columns match the log
    * schema) to a flat or bucketed log is written from the driver with
    * no Spark job ([[DriverCommit]]) and tallied there. Every other
    * write — a distributed batch, Overwrite, the LG layout —
    * is a Spark write, tallied by an [[Observation]] inside its job.
    * The tally holds what was asked for: the batch's tombstones
    * (`countDeletes`, cell logs) and its max seq (`maxSeq`; an empty
    * batch reports `Long.MinValue`); each is None when a Spark write's
    * metrics never arrive.
    */
  def write(batch: DataFrame, dir: String, mode: SaveMode,
      countDeletes: Boolean = false, maxSeq: Boolean = false): LogLayout.Tally = {
    val local =
      if (mode == SaveMode.Append && lg.isEmpty)
        DriverCommit.localRows(batch, schema)
      else None
    local match {
      case Some(rows) =>
        DriverCommit.write(batch.sparkSession, rows, schema, dir, sortCols,
          key, Some(buckets).filter(_ > 0).map(key -> _))
        LogLayout.Tally(
          Option.when(countDeletes) {
            val op = schema.fieldIndex("op")
            rows.count(r => OpType.deletes.contains(r.getInt(op))).toLong
          },
          Option.when(maxSeq) {
            val seq = schema.fieldIndex("seq")
            rows.iterator.filterNot(_.isNullAt(seq)).map(_.getLong(seq))
              .maxOption.getOrElse(Long.MinValue)
          })
      case None =>
        val tallies =
          Seq(countDeletes -> count(when(col("op").isin(OpType.deletes: _*), 1)),
            maxSeq -> coalesce(max(col("seq")), lit(Long.MinValue)))
            .collect { case (true, agg) => agg }
        val obs = if (tallies.isEmpty) None else Some(Observation())
        sparkWrite(batch, dir, mode, df =>
          obs.fold(df)(df.observe(_, tallies.head, tallies.tail: _*)))
        val row = obs.flatMap(o => scala.util.Try(scala.concurrent.Await.result(
          o.future, scala.concurrent.duration.Duration(60, "s"))).toOption)
        LogLayout.Tally(row.filter(_ => countDeletes).map(_.getLong(0)),
          row.filter(_ => maxSeq).map(r => r.getLong(r.length - 1)))
    }
  }

  /** The Spark write. The batch is first reconciled to the log schema
    * (`Dataset.to` over the all-nullable schema): columns match by
    * name, safe casts widen, extra columns drop, and an unsafe cast
    * fails here, before any file lands. Then the key clustering: a hash
    * exchange on the bucket function (one file per bucket per commit),
    * or a range exchange over the shuffle partitions, led by `lg` on an
    * LG log so a task writes into one LG directory. Then the within-file
    * sort. `aboveExchange`
    * wraps the batch right above the exchange: an observation there
    * counts each row once, where below a range exchange the sampling
    * job would count it twice.
    */
  private def sparkWrite(batch: DataFrame, dir: String, mode: SaveMode,
      aboveExchange: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val logRows = batch.to(StructType(schema.map(_.copy(nullable = true))))
    val rows = lg.fold(logRows)(logRows.withColumn("lg", _))
    val partCols = lg.map(_ => "lg").toSeq
    val clustered =
      if (buckets > 0) rows.repartition(buckets, col(key))
      else rows.repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        (partCols ++ rangeCols).map(col): _*)
    val sorted = aboveExchange(clustered)
      .sortWithinPartitions(sortCols.map(col): _*)
    val cmd = DataSource(spark, "parquet", partitionColumns = partCols,
      bucketSpec = bucketSpec,
      options = LogLayout.bloomOptions(key) + ("path" -> dir))
      .planForWriting(mode, sorted.queryExecution.analyzed)
    spark.sessionState.executePlan(cmd).assertCommandExecuted()
  }
}

private[graft] object LogLayout {

  /** What a [[LogLayout.write]] tallied: the batch's tombstones and its
    * max seq, each when asked for and known. */
  final case class Tally(deletes: Option[Long], maxSeq: Option[Long])

  /** The files of a bucketed log's listing that hold bucket `bucket`
    * (all of them when None). A listed file with no bucket id in its
    * name fails as Spark's bucketed scan fails (`INVALID_BUCKET_FILE`),
    * whichever bucket is asked for. */
  def bucketFiles(files: Seq[FileStatus], bucket: Option[Int]): Seq[FileStatus] =
    files.filter { f =>
      val id = BucketingUtils.getBucketId(f.getPath.getName).getOrElse(
        throw Shim.invalidBucketFile(f.getPath.toUri.toString))
      bucket.forall(_ == id)
    }

  /** The data files of a log directory (`root`, qualified), as a
    * parquet read of it sees them. */
  final case class Listing(root: Path, files: Seq[FileStatus])

  /** One `listStatus` of `dir`, keeping Spark's rule for hidden names
    * ([[Shim.hiddenFile]]) and skipping empty files, as a parquet read
    * does. A directory that does not exist lists empty. */
  def list(conf: Configuration, dir: String): Listing = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val root = fs.makeQualified(path)
    val all = try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    Listing(root, all.filter(f =>
      f.isFile && f.getLen > 0 && !Shim.hiddenFile(f.getPath.getName)))
  }

  /** Spark's bucket id of a `keyType` key among `buckets` — the
    * function `bucketBy` writes and bucket pruning reads,
    * `HashPartitioning(...).partitionIdExpression`, bound once. A string
    * key is passed as a `UTF8String`. */
  def bucketOf(keyType: DataType, buckets: Int): Any => Int = {
    val id = HashPartitioning(Seq(BoundReference(0, keyType, nullable = true)),
      buckets).partitionIdExpression
    key => id.eval(InternalRow(key)).asInstanceOf[Int]
  }

  /** Spark-path bloom options for `column`: parquet's adaptive bloom
    * keeps candidate filters from 1 MiB down to 2 KiB and writes the
    * smallest that holds the file's distinct keys. A bloom with no
    * expected NDV is 1 MiB in every file, however small. */
  def bloomOptions(column: String): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$column" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true",
    "parquet.bloom.filter.candidates.number" -> "10")

  /** The cell-log layout `desc` declares: clustered by
    * (row_key, cf, qualifier), sorted by (row_key, cf, qualifier, ts,
    * seq), bucketed or LG-partitioned when the descriptor says so — not
    * both. */
  def cells(desc: TableDesc): LogLayout = {
    require(desc.buckets == 0 || desc.lgs.isEmpty,
      "bucketed layout and locality groups are mutually exclusive " +
        "(one physical clustering per table)")
    LogLayout(CellOp.schemaFor(desc.rawKeyBinary), "row_key",
      Seq("row_key", "cf", "qualifier"),
      Seq("row_key", "cf", "qualifier", "ts", "seq"), desc.buckets,
      Some(desc.lgs).filter(_.nonEmpty).map(lgColumn))
  }

  /** The layout `desc` declares: a KV log's ([[kv]]) or a cell log's
    * ([[cells]]). */
  def of(desc: TableDesc): LogLayout =
    if (desc.kvMode) kv(desc.rawKeyBinary, desc.buckets) else cells(desc)

  /** A KV log's layout: clustered by key, sorted by (key, seq). */
  def kv(binaryKey: Boolean, buckets: Int): LogLayout = LogLayout(
    KvEntry.schemaFor(binaryKey), "key", Seq("key"), Seq("key", "seq"),
    buckets)

  /** The LG partition value of each op: row-wide tombstones go to the
    * shared [[TableDesc.RowTombstoneLg]] (every scan reads it — the
    * Spark-first stand-in for tera replicating row-deletes into each
    * LG's LevelDB); everything else to its cf's LG. */
  private def lgColumn(lgs: Map[String, String]): Column = {
    val byCf = lgs.foldRight(lit(TableDesc.DefaultLg): Column) {
      case ((cf, lg), acc) => when(col("cf") === cf, lg).otherwise(acc)
    }
    when(col("op") === OpType.DelRow, TableDesc.RowTombstoneLg)
      .otherwise(byCf)
  }
}
