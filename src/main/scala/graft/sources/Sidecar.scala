package graft.sources

import graft.model.{CfSpec, TableDesc}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One `_graft_*` metadata file kept next to a table's or a store's data
  * — the one owner of how every such file is read, replaced and
  * invalidated. tera changes table state through one writer, the master
  * (table_schema.proto:31-64, master_rpc.proto:207-216); here every
  * metadata file goes through these four operations:
  *  - [[read]]: the content, None when the file is absent;
  *  - [[require]]: the content, or a refusal naming the file and how to
  *    build it — a store whose sidecar is gone (never built, or taken
  *    down by a commit that died) refuses instead of serving partial
  *    data;
  *  - [[write]]: the new content goes to the temp `<name>.tmp`, then the
  *    old file is deleted and the temp renamed into place, so no reader
  *    sees a half-written file (the checksummed local filesystem will
  *    not rename onto an existing file, hence the delete);
  *  - [[down]]: delete the file — a store takes its sidecar down across
  *    a multi-step rewrite and writes it back after, so a crash in
  *    between leaves a directory that refuses.
  * A file that is absent while its temp is present was torn between the
  * delete and the rename of a write; reading it refuses with an error
  * naming both files. The `_` prefix keeps the file and its temp out of
  * Spark's file listings.
  *
  * @param what what the file describes, for errors ("IVF index")
  * @param hint how to build the file, for errors
  */
private[graft] final case class Sidecar(name: String, what: String,
    hint: String) {

  private def files(spark: SparkSession, dir: String): (FileSystem, Path, Path) = {
    val path = new Path(dir, name)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path,
      new Path(dir, name + ".tmp"))
  }

  def read(spark: SparkSession, dir: String): Option[Sidecar.Content] = {
    val (fs, path, tmp) = files(spark, dir)
    def load(): Option[Array[Byte]] =
      try {
        val in = fs.open(path)
        try Some(in.readAllBytes()) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    // a write of this JVM between its delete and its rename holds the
    // gate: waiting for it tells that window from a torn file
    val bytes = load().orElse(
      if (!fs.exists(tmp)) None else Sidecar.locked(load()).orElse(
        throw new IllegalStateException(s"torn $what sidecar: $path is " +
          s"missing but its temp $tmp is present — a write died between " +
          "deleting the old file and renaming the temp; rename the temp " +
          s"into place if it is complete, or $hint")))
    bytes.map(new Sidecar.Content(path, _))
  }

  def require(spark: SparkSession, dir: String): Sidecar.Content =
    read(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"no $what sidecar at ${new Path(dir, name)} — $hint"))

  def write(spark: SparkSession, dir: String, text: String): Unit =
    Sidecar.locked {
      val (fs, path, tmp) = files(spark, dir)
      val out = fs.create(tmp, true)
      try out.write(text.getBytes(UTF_8)) finally out.close()
      fs.delete(path, false)
      if (!fs.rename(tmp, path))
        throw new java.io.IOException(s"failed to move $tmp to $path")
    }

  /** [[write]] of `key=value` lines in the given order, escaped the way
    * `java.util.Properties` escapes them. */
  def write(spark: SparkSession, dir: String, entries: (String, Any)*): Unit =
    write(spark, dir, entries.map { case (k, v) =>
      val p = new java.util.Properties()
      p.setProperty(k, v.toString)
      val out = new java.io.ByteArrayOutputStream()
      p.store(out, null)
      // plain ASCII: store escapes every other character
      new String(out.toByteArray, UTF_8).linesIterator
        .filterNot(_.startsWith("#")).mkString
    }.mkString("", "\n", "\n"))

  def down(spark: SparkSession, dir: String): Unit = {
    val (fs, path, _) = files(spark, dir)
    fs.delete(path, false)
  }
}

private[graft] object Sidecar {

  /** The JVM-wide gate: every [[write]] holds it for the write alone
    * (reentrant). A [[TableState]] read-modify-write holds its table's
    * own lock ([[TableState.locked]]) instead. */
  private val gate = new Object
  def locked[A](body: => A): A = gate.synchronized(body)

  /** A sidecar's content: its non-empty lines, or its properties. A
    * missing key or an unparsable value is an error naming the file and
    * the key. */
  final class Content(path: Path, bytes: Array[Byte]) {
    def lines: Iterator[String] =
      new String(bytes, UTF_8).linesIterator.filter(_.nonEmpty)

    lazy val props: Map[String, String] = {
      val p = new java.util.Properties()
      p.load(new java.io.ByteArrayInputStream(bytes))
      p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
    }

    def opt[A](key: String)(parse: String => A): Option[A] =
      props.get(key).map { v =>
        try parse(v) catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(
            s"unparsable value '$v' for key $key in $path", e)
        }
      }

    def apply[A](key: String)(parse: String => A): A =
      opt(key)(parse).getOrElse(
        throw new IllegalStateException(s"missing key $key in $path"))

    def int(key: String): Int = apply(key)(_.toInt)
  }
}

/** A table's state, the file `_graft_desc.properties` next to its log:
  * the descriptor (the master-meta analogue, table_schema.proto:31-64),
  * the declared op-set (so resolve skips its op probe), the tombstone
  * count hint and the allocator's two counters, txn timestamps and
  * seqs. One [[Sidecar]] file, replaced whole by every change; each
  * change is one read-modify-write under the table's lock
  * ([[TableState.update]]).
  *
  * @param deleteCount tombstones in the log, when known — a strategy
  *   hint for resolve's delete strategy on flat and LG logs,
  *   kept by the write path ([[CellLogStore.append]]). A table
  *   whose state predates the hint stays hint-less.
  * @param nextTxnTs the first unreserved batch-txn timestamp
  *   ([[CellLogStore.allocateTxnTs]]), once seeded
  * @param nextSeq the first unreserved seq ([[CellLogStore.reserveSeqs]]),
  *   once seeded; every append raises it above the seqs it writes
  */
private[graft] final case class TableState(desc: TableDesc,
    ops: Option[Set[Int]] = None, deleteCount: Option[Long] = None,
    nextTxnTs: Option[Long] = None, nextSeq: Option[Long] = None) {

  /** This state after a write whose max seq is `maxSeq`: a seeded
    * [[nextSeq]] rises above it and never falls (a range handed out but
    * not yet written is not in the log). `maxSeq` is evaluated only
    * when the counter is seeded. */
  def written(maxSeq: => Long): TableState =
    nextSeq.fold(this)(n => copy(nextSeq = Some(n max TableState.above(maxSeq))))
}

private[graft] object TableState {

  private val File = Sidecar("_graft_desc.properties", "table state",
    "create the table first")

  /** The first value above `v`; saturates at `Long.MaxValue`, which no
    * reservation hands out. */
  def above(v: Long): Long = if (v == Long.MaxValue) v else v + 1

  def read(spark: SparkSession, logDir: String): Option[TableState] =
    File.read(spark, logDir).map(parse)

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Runs `body` holding the lock of the table at `logDir` (one monitor
    * per qualified path, reentrant): every read-modify-write of a
    * table's state, and the batch write it tallies, runs under it.
    * Writers of different tables never wait on each other. */
  def locked[A](spark: SparkSession, logDir: String)(body: => A): A = {
    val path = new Path(logDir)
    val key = path.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(path).toString
    locks.computeIfAbsent(key, _ => new Object).synchronized(body)
  }

  def require(spark: SparkSession, logDir: String): TableState =
    parse(File.require(spark, logDir))

  /** Every change of a table's state: one read-modify-write under the
    * table's [[locked]]. `change` gets the stored state and returns the
    * state to store (None = store nothing) with its result. */
  def update[A](spark: SparkSession, logDir: String)(
      change: Option[TableState] => (Option[TableState], A)): A =
    locked(spark, logDir) {
      val (next, out) = change(read(spark, logDir))
      next.foreach(write(spark, logDir, _))
      out
    }

  def write(spark: SparkSession, logDir: String, s: TableState): Unit = {
    def spec(c: CfSpec) = s"${c.maxVersions},${c.minVersions},${c.ttlSec}"
    val d = s.desc
    File.write(spark, logDir, Seq(
      "cf.default" -> spec(d.default)) ++
      d.cfs.toSeq.sortBy(_._1).map { case (n, c) => s"cf.named.$n" -> spec(c) } ++
      Seq("hashKeys" -> d.hashKeys, "kvMode" -> d.kvMode,
        "rawKey" -> (if (d.rawKeyBinary) "binary" else "readable")) ++
      Some(d.buckets).filter(_ > 0).map("buckets" -> _) ++
      d.lgs.toSeq.sorted.map { case (cf, lg) => s"lg.$cf" -> lg } ++
      s.ops.map("ops" -> _.toSeq.sorted.mkString(",")) ++
      s.deleteCount.map("deleteCount" -> _) ++
      s.nextTxnTs.map("nextTxnTs" -> _) ++
      s.nextSeq.map("nextSeq" -> _): _*)
  }

  private def parse(c: Sidecar.Content): TableState = {
    def spec(v: String): CfSpec = {
      val Array(mx, mn, ttl) = v.split(",")
      CfSpec(mx.toInt, mn.toInt, ttl.toLong)
    }
    def named(prefix: String): Seq[String] =
      c.props.keys.filter(_.startsWith(prefix)).toSeq
    val desc = TableDesc(c("cf.default")(spec),
      named("cf.named.").map(k => k.stripPrefix("cf.named.") -> c(k)(spec)).toMap,
      c.opt("hashKeys")(_.toBoolean).getOrElse(false),
      c.opt("kvMode")(_.toBoolean).getOrElse(false),
      named("lg.").map(k => k.stripPrefix("lg.") -> c(k)(v => v)).toMap,
      c.opt("buckets")(_.toInt).getOrElse(0) max 0,
      rawKeyBinary = c.opt("rawKey")(_ == "binary").getOrElse(false))
    TableState(desc,
      c.opt("ops")(_.split(",").iterator.filter(_.nonEmpty).map(_.toInt).toSet),
      c.opt("deleteCount")(_.toLong), c.opt("nextTxnTs")(_.toLong),
      c.opt("nextSeq")(_.toLong))
  }
}
