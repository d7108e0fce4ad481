package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Group commit of a driver-resident batch, written from the driver
  * with no Spark job — tera's `TabletWriter` commits a batch into the
  * tablet server's own LevelDB write the same way, without moving the
  * data anywhere (src/io/tablet_writer.cc:107-230).
  *
  * A batch is driver-resident when its optimized plan is a
  * `LocalRelation` (`Seq[CellOp].toDF`, and a key projection over one,
  * which the optimizer folds into the relation). Its rows are already
  * in driver memory; a Spark write would ship them to a task only to
  * write a file there. The files come out of Spark's own parquet writer
  * (`ParquetFileFormat.prepareWrite`), so codec, row metadata and page
  * settings match the Spark write path, and each lands under a hidden
  * in-progress name first, then renames into place. The caller passes
  * the log's [[LogLayout]] sort, bloom and bucket columns, so a driver
  * commit lays files out as a Spark write of [[LogLayout.write]] would;
  * [[LogLayout.write]] picks between the two. Logs are read by
  * path, so the next read in any session lists the new files.
  */
private[graft] object DriverCommit {

  /** The batch's rows projected BY NAME onto `schema` (copied, unsafe),
    * when the batch is driver-resident and every schema column is
    * present exactly once with the same type; otherwise None. */
  def localRows(batch: DataFrame, schema: StructType): Option[Seq[InternalRow]] =
    batch.queryExecution.optimizedPlan match {
      case LocalRelation(output, data, false, _) =>
        val resolver = batch.sparkSession.sessionState.conf.resolver
        val cols = schema.map { f =>
          output.filter(a => resolver(a.name, f.name)) match {
            case Seq(a) if a.dataType == f.dataType => Some(a)
            case _ => None
          }
        }
        if (cols.exists(_.isEmpty)) None
        else {
          val proj = UnsafeProjection.create(cols.flatten, output)
          Some(data.map(r => proj(r).copy()))
        }
      case _ => None
    }

  /** Write `rows` (laid out as `schema`) into `dir`, sorted by
    * `sortCols`: one file, or with `bucketing` = (bucket column, n)
    * one file per touched bucket, named so bucket pruning reads its id.
    * Every file carries a `bloomCol` bloom filter sized to its rows. */
  def write(spark: SparkSession, rows: Seq[InternalRow], schema: StructType,
      dir: String, sortCols: Seq[String], bloomCol: String,
      bucketing: Option[(String, Int)] = None): Unit = {
    if (rows.isEmpty) return
    val attrs = schema.map(f => AttributeReference(f.name, f.dataType)())
    def attr(name: String) = attrs(schema.fieldIndex(name))
    val sorted = rows.sorted(RowOrdering.create(
      sortCols.map(c => SortOrder(attr(c), Ascending)), attrs))
    val files: Seq[(Option[Int], Seq[InternalRow])] = bucketing match {
      case Some((bucketCol, n)) =>
        val key = schema.fieldIndex(bucketCol)
        val keyType = schema(key).dataType
        val bucketOf = LogLayout.bucketOf(keyType, n)
        // groupBy keeps each bucket's rows in sorted order
        sorted.groupBy(r => bucketOf(r.get(key, keyType))).toSeq.sortBy(_._1)
          .map { case (b, rs) => (Some(b), rs) }
      case None => Seq((None, sorted))
    }
    val conf = spark.sessionState.newHadoopConf()
    conf.set(s"parquet.bloom.filter.enabled#$bloomCol", "true")
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
      StructType(schema.map(_.copy(nullable = true))))
    val uuid = java.util.UUID.randomUUID().toString
    val fs = new Path(dir).getFileSystem(conf)
    files.foreach { case (bucket, rs) =>
      job.getConfiguration.setLong(
        s"parquet.bloom.filter.expected.ndv#$bloomCol", rs.size.toLong)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID(uuid, 0), TaskType.MAP, 0), 0))
      val name = s"part-00000-$uuid" +
        bucket.fold("-c000")(b => BucketingUtils.bucketIdToString(b) + ".c000") +
        factory.getFileExtension(ctx)
      val tmp = new Path(dir, s".$name.inprogress")
      try {
        val out = factory.newInstance(tmp.toString, schema, ctx)
        try rs.foreach(out.write) catch {
          case e: Throwable => scala.util.Try(out.close()); throw e
        }
        out.close()
        if (!fs.rename(tmp, new Path(dir, name)))
          throw new java.io.IOException(s"could not rename $tmp into place")
      } catch {
        case e: Throwable =>
          fs.delete(tmp, false)
          throw e
      }
    }
  }
}
