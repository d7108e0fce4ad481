package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import graft.operators.CellRead
import org.apache.spark.SparkEnv
import org.apache.spark.io.CompressionCodec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plans a root global sort whose result goes to the driver
  * (`ReturnAnswer(Sort(_, global = true, _))`, i.e. an ordered
  * `collect()`, or a projection of one) as [[SortedRunsCollectExec]]:
  * every partition sorts locally, one job collects the sorted runs, and
  * the driver k-way merges them. Spark's own plan for the same query
  * range-partitions first, and the range partitioner's sampling job
  * re-runs the whole child plan — two extra jobs and a shuffle to
  * deliver rows that all end up in one place anyway. tera's
  * `ResultStream` hands a client each tablet's rows in key order the
  * same way (include/tera/scan.h:47-56).
  *
  * `Limit(Sort)` keeps Spark's `TakeOrderedAndProject` (the root is a
  * Limit, which the sort cases do not match), and streaming plans are
  * left alone.
  *
  * The same strategy plans a [[graft.operators.CellRead]] leaf: a root
  * collect of a key-bound leaf (under filters, projections, sorts and
  * limits) as a [[CellReadExec]] that reads on the driver with no job —
  * one strategy for root collects served on the driver — and under any
  * other consumer as one that runs the leaf's Spark plan.
  */
object SortedRunsCollect extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OnDriver(exec) => exec :: Nil
    case ReturnAnswer(Sort(order, true, child, _)) if !child.isStreaming =>
      SortedRunsCollectExec(order, child.output, planLater(child)) :: Nil
    case ReturnAnswer(Project(list, Sort(order, true, child, _))) if !child.isStreaming =>
      SortedRunsCollectExec(order, list, planLater(child)) :: Nil
    case PhysicalOperation(projects, filters, leaf: CellRead) =>
      CellReadExec.distributed(projects, filters, leaf) :: Nil
    case _ => Nil
  }

  private object OnDriver {
    def unapply(plan: LogicalPlan): Option[CellReadExec] = plan match {
      case ReturnAnswer(root) => CellReadExec.collect(root)
      case _ => None
    }
  }

  /** Add the strategy to the session's extra strategies, once. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(SortedRunsCollect))
      exp.synchronized {
        if (!exp.extraStrategies.contains(SortedRunsCollect))
          exp.extraStrategies = exp.extraStrategies :+ SortedRunsCollect
      }
  }
}

/** Global sort of `child` by `sortOrder`, then `projectList` (the
  * child's output when nothing is projected). `executeCollect` sorts
  * each partition (spilling like any `SortExec`), ships the runs as
  * compressed UnsafeRow bytes in one job, merges them on the driver,
  * breaking ties by partition index, and projects the merged rows —
  * Spark's `TakeOrderedAndProjectExec` without a limit. Every other
  * consumer (`rdd`, `toLocalIterator`, `cache`) goes through
  * `doExecute`, which keeps Spark's range-partitioned sort so the rows
  * never have to fit on the driver.
  */
case class SortedRunsCollectExec(sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  private def projects: Boolean = output != child.output
  override def outputOrdering: Seq[SortOrder] = if (projects) Nil else sortOrder
  // doExecute's range partitioner may yield fewer partitions than
  // asked for; claim nothing a parent could rely on
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  private def projected(sorted: SparkPlan): SparkPlan =
    if (projects) ProjectExec(projectList, sorted) else sorted

  override protected def doExecute(): RDD[InternalRow] =
    projected(SortExec(sortOrder, global = true,
      ShuffleExchangeExec(
        RangePartitioning(sortOrder, conf.numShufflePartitions), child)))
      .execute()

  // like `TakeOrderedAndProjectExec`: `executeQuery` readies the
  // project list's subqueries, and the driver-side projection is
  // initialised (a `rand()` column's generator) as a task's would be
  override def executeCollect(): Array[InternalRow] = executeQuery {
    val runs = SortExec(sortOrder, global = false, child).execute()
      .mapPartitionsInternal(rows => Iterator(SortedRunsCollectExec.encode(rows)))
      .collect()
    val merged = SortedRunsCollectExec.merge(
      runs.toIndexedSeq.map(SortedRunsCollectExec.decode(_, child.output.length)),
      new LazilyGeneratedOrdering(sortOrder, child.output))
    if (!projects) merged
    else {
      val project = UnsafeProjection.create(projectList, child.output)
      project.initialize(0)
      merged.map(r => project(r).copy())
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : SortedRunsCollectExec = copy(child = newChild)
}

object SortedRunsCollectExec {

  private def codec = CompressionCodec.createCodec(SparkEnv.get.conf)

  /** One sorted partition (a `SortExec` emits UnsafeRows) as
    * (size, bytes) records, compressed, -1 terminated — the layout
    * Spark's own collect ships. */
  private def encode(rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(codec.compressedOutputStream(bytes))
    val buffer = new Array[Byte](4096)
    rows.foreach { r =>
      val u = r.asInstanceOf[UnsafeRow]
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buffer)
    }
    out.writeInt(-1)
    out.close()
    bytes.toByteArray
  }

  private def decode(run: Array[Byte], numFields: Int): Iterator[InternalRow] = {
    val in = new DataInputStream(
      codec.compressedInputStream(new ByteArrayInputStream(run)))
    new Iterator[InternalRow] {
      private var nextSize = in.readInt()
      def hasNext: Boolean = nextSize >= 0
      def next(): InternalRow = {
        val bytes = new Array[Byte](nextSize)
        in.readFully(bytes)
        val row = new UnsafeRow(numFields)
        row.pointTo(bytes, nextSize)
        nextSize = in.readInt()
        if (nextSize < 0) in.close()
        row
      }
    }
  }

  /** K-way merge of sorted runs; equal rows come out in run order. */
  private def merge(runs: Seq[Iterator[InternalRow]],
      ord: Ordering[InternalRow]): Array[InternalRow] = {
    val heads = new java.util.PriorityQueue[(InternalRow, Int)](
      math.max(1, runs.length), (a: (InternalRow, Int), b: (InternalRow, Int)) => {
        val c = ord.compare(a._1, b._1)
        if (c != 0) c else Integer.compare(a._2, b._2)
      })
    runs.zipWithIndex.foreach { case (it, i) =>
      if (it.hasNext) heads.add((it.next(), i))
    }
    val out = Array.newBuilder[InternalRow]
    while (!heads.isEmpty) {
      val (row, i) = heads.poll()
      out += row
      if (runs(i).hasNext) heads.add((runs(i).next(), i))
    }
    out.result()
  }
}
