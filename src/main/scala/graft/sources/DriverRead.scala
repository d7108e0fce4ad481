package graft.sources

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Key-bounded reads of a log's files on the driver, with no Spark job —
  * the read-side twin of [[DriverCommit]]. tera's tablet server answers
  * a get or a short scan from the SSTable blocks its key range touches
  * the same way, skipping files and blocks by their blooms and indexes
  * (src/io/tablet_io.cc:939-1137).
  *
  * Each file is opened with parquet-mr under one Hadoop conf per read
  * (a fresh `Configuration` parses the default resources, which costs
  * more than opening a footer). The key predicate
  * skips row groups by min/max, dictionary and bloom filter, skips pages
  * by the column index, and drops every other record before it is
  * built. Files are read concurrently on a small pool of daemon threads,
  * at most one per core, so no JVM waits on them at exit; each file is
  * open only while its task reads it.
  */
private[graft] object DriverRead {

  /** A key bound on the binary `key` column (a string key's UTF-8
    * bytes): parquet compares binaries as unsigned bytes, as Spark
    * orders strings and binaries. */
  sealed trait Bound {
    def predicate(key: String): FilterPredicate = {
      val c = FilterApi.binaryColumn(key)
      this match {
        case Bound.Eq(k) => FilterApi.eq(c, Binary.fromConstantByteArray(k))
        case Bound.AtLeast(k) => FilterApi.gtEq(c, Binary.fromConstantByteArray(k))
        case Bound.Above(k) => FilterApi.gt(c, Binary.fromConstantByteArray(k))
        case Bound.Below(k) => FilterApi.lt(c, Binary.fromConstantByteArray(k))
      }
    }
  }
  object Bound {
    final case class Eq(key: Array[Byte]) extends Bound
    final case class AtLeast(key: Array[Byte]) extends Bound
    final case class Above(key: Array[Byte]) extends Bound
    final case class Below(key: Array[Byte]) extends Bound
  }

  /** The rows of `files` whose `key` column passes every one of
    * `bounds` (at least one), laid out as `schema`: strings as
    * `UTF8String`, binaries as byte arrays, numbers boxed; a column a
    * file lacks reads null. Rows come file by file, each file's in its
    * stored order. None when the rows of the pages the bounds keep (the
    * footers' and column indexes' count) number more than `maxRows`;
    * the files read before the count ran past it hold at most
    * `maxRows` such rows. */
  def rows(conf: Configuration, files: Seq[FileStatus], schema: StructType,
      key: String, bounds: Seq[Bound], maxRows: Long = Long.MaxValue)
      : Option[Seq[InternalRow]] = {
    val filter = FilterCompat.get(bounds.map(_.predicate(key)).reduce(FilterApi.and))
    // options per file: their codec factory pools decompressors, which
    // two threads must not share
    def options = HadoopReadOptions.builder(conf).withRecordFilter(filter)
      .useStatsFilter(true).useDictionaryFilter(true).useBloomFilter(true)
      .useColumnIndexFilter(true).useRecordFilter(true).build()
    // one task per file opens it, takes its kept pages' rows from the
    // shared budget, reads it and closes it: at most the pool's width of
    // files is open at once, and once the budget is spent no task reads
    val budget = new AtomicLong(maxRows)
    val read = inParallel(files) { f =>
      if (budget.get < 0) None
      else {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), options)
        try {
          if (budget.addAndGet(-reader.getFilteredRecordCount) < 0) None
          else Some(fileRows(reader, filter, schema))
        } finally reader.close()
      }
    }
    Option.when(read.forall(_.isDefined))(read.flatMap(_.get))
  }

  private def fileRows(reader: ParquetFileReader, filter: FilterCompat.Filter,
      schema: StructType): Seq[InternalRow] = {
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
  }

  private lazy val pool = Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors), new ThreadFactory {
      private val n = new AtomicInteger()
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-driver-read-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** `f` over `xs` on the pool, results in `xs` order; the first
    * failure is rethrown once every task has finished. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.length <= 1) xs.map(f)
    else {
      val tasks = xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
      val done = tasks.map(t => scala.util.Try(
        try t.get() catch { case e: ExecutionException => throw e.getCause }))
      done.map(_.get)
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
