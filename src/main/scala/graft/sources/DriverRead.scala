package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Point read of one key from a log's files on the driver, with no
  * Spark job — the read-side twin of [[DriverCommit]]. tera's tablet
  * server answers a get from the key's SSTable blocks the same way,
  * skipping files and blocks by their blooms and indexes
  * (src/io/tablet_io.cc:939-1137).
  *
  * Each file is opened with parquet-mr under one Hadoop conf and one
  * set of read options per call (a fresh `Configuration` parses the
  * default resources, which costs more than opening a footer). The
  * `key` column's equality predicate skips row groups by min/max,
  * dictionary and bloom filter, skips pages by the column index, and
  * drops every other record before it is built.
  */
private[graft] object DriverRead {

  /** The rows of `files` whose `key` column equals `keyBytes` (a
    * string key's UTF-8 bytes), laid out as `schema`: strings as
    * `UTF8String`, binaries as byte arrays, numbers boxed; a column a
    * file lacks reads null. Rows come file by file, each file's in its
    * stored order. */
  def rows(spark: SparkSession, files: Seq[FileStatus], schema: StructType,
      key: String, keyBytes: Array[Byte]): Seq[InternalRow] = {
    val conf = spark.sessionState.newHadoopConf()
    val filter = FilterCompat.get(FilterApi.eq(FilterApi.binaryColumn(key),
      Binary.fromConstantByteArray(keyBytes)))
    val options = HadoopReadOptions.builder(conf).withRecordFilter(filter)
      .useStatsFilter(true).useDictionaryFilter(true).useBloomFilter(true)
      .useColumnIndexFilter(true).useRecordFilter(true).build()
    files.flatMap(f => fileRows(f, conf, options, filter, schema))
  }

  private def fileRows(file: FileStatus, conf: Configuration,
      options: ParquetReadOptions, filter: FilterCompat.Filter,
      schema: StructType): Seq[InternalRow] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)
    try {
      val meta = reader.getFooter.getFileMetaData
      val fileSchema = meta.getSchema
      val io = new ColumnIOFactory(meta.getCreatedBy).getColumnIO(fileSchema)
      val record = new Record(schema, (0 until fileSchema.getFieldCount)
        .map(i => schema.fieldNames.indexOf(fileSchema.getFieldName(i))))
      val out = Seq.newBuilder[InternalRow]
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, record, filter)
        var i = 0L
        while (i < pages.getRowCount) {
          val row = records.read()
          if (row != null && !records.shouldSkipCurrentRecord) out += row
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  /** Builds one row per record of a flat log file (string, binary, long
    * and int columns): `target(i)` is the row position of file column i
    * (-1 skips it). Values are only held while a record streams in; the
    * row is made when the record filter keeps the record. */
  private final class Record(schema: StructType, target: IndexedSeq[Int])
      extends RecordMaterializer[InternalRow] {
    private val values = new Array[Any](schema.length)

    private val root = new GroupConverter {
      private val fields: IndexedSeq[Converter] = target.map { pos =>
        new PrimitiveConverter {
          override def addBinary(v: Binary): Unit = if (pos >= 0) values(pos) = v
          override def addLong(v: Long): Unit = if (pos >= 0) values(pos) = v
          override def addInt(v: Int): Unit = if (pos >= 0) values(pos) = v
        }
      }
      override def getConverter(i: Int): Converter = fields(i)
      override def start(): Unit = java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
      override def end(): Unit = ()
    }

    override def getRootConverter: GroupConverter = root

    override def getCurrentRecord: InternalRow = new GenericInternalRow(
      Array.tabulate[Any](values.length) { i =>
        values(i) match {
          case b: Binary =>
            val bytes = if (b.isBackingBytesReused) b.getBytes.clone() else b.getBytes
            if (schema(i).dataType == StringType) UTF8String.fromBytes(bytes) else bytes
          case v => v
        }
      })
  }
}
