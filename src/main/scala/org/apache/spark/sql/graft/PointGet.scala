package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.types.StructType

/** A point get as one logical leaf. A root `collect()` of it is planned
  * as [[PointGetExec]] (by [[SortedRunsCollect]], the strategy for root
  * collects served on the driver) and answered by `onDriver`, with no
  * Spark job. `plan` builds the equivalent Spark plan; it is built only
  * when a consumer other than a root collect (`count`, joins, `rdd`,
  * writes, a get under another operator) executes the leaf, or when the
  * plan is explained.
  *
  * @param sizeInBytes what the optimizer assumes the leaf holds (the
  *                    bytes of the files the get may read)
  */
case class PointGet(output: Seq[Attribute], sizeInBytes: BigInt,
    onDriver: () => Seq[InternalRow], plan: () => DataFrame)
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): PointGet = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = Statistics(sizeInBytes)

  override def simpleString(maxFields: Int): String =
    s"PointGet ${output.mkString("[", ", ", "]")}"
}

object PointGet {

  /** A frame of `schema` over one [[PointGet]] leaf, in `spark`, whose
    * planner gets the strategy that plans it. */
  def frame(spark: SparkSession, schema: StructType, sizeInBytes: BigInt,
      onDriver: () => Seq[InternalRow], plan: () => DataFrame): DataFrame = {
    SortedRunsCollect.install(spark)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      PointGet(org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        sizeInBytes, onDriver, plan))
  }
}

/** The physical [[PointGet]]. `executeCollect` runs `onDriver`;
  * `doExecute` runs the Spark plan, built on first use.
  *
  * Simple and extended explain (`toString`, `explain()`) show that plan
  * under this node, so plan audits see its scan. The formatted explain
  * leaves it out: every action renders that mode for its SQL-execution
  * event, and building the Spark plan there would cost a driver-side
  * collect about as much as the read itself.
  */
case class PointGetExec(output: Seq[Attribute],
    @transient onDriver: () => Seq[InternalRow], @transient plan: () => DataFrame)
    extends LeafExecNode {

  // the driver-side halves never ship: a task that captures this node
  // (a parent's closure) reads neither
  @transient private lazy val distributed: SparkPlan = {
    val df = plan()
    require(df.schema.map(_.dataType) == output.map(_.dataType),
      s"point get plan ${df.schema.simpleString} does not match " +
        output.mkString("[", ", ", "]"))
    df.queryExecution.executedPlan
  }

  override protected def doExecute(): RDD[InternalRow] = distributed.execute()

  override def executeCollect(): Array[InternalRow] = {
    val toUnsafe = UnsafeProjection.create(schema)
    onDriver().iterator.map(r => toUnsafe(r).copy()).toArray
  }

  override def simpleString(maxFields: Int): String =
    s"PointGet ${output.mkString("[", ", ", "]")}"

  override def generateTreeString(depth: Int,
      lastChildren: java.util.ArrayList[Boolean], append: String => Unit,
      verbose: Boolean, prefix: String, addSuffix: Boolean, maxFields: Int,
      printNodeId: Boolean, printOutputColumns: Boolean, indent: Int): Unit = {
    super.generateTreeString(depth, lastChildren, append, verbose, prefix,
      addSuffix, maxFields, printNodeId, printOutputColumns, indent)
    if (!printNodeId) {
      lastChildren.add(true)
      lastChildren.add(true)
      distributed.generateTreeString(depth + 2, lastChildren, append, verbose,
        "", addSuffix, maxFields, printNodeId, printOutputColumns, indent)
      lastChildren.remove(lastChildren.size() - 1)
      lastChildren.remove(lastChildren.size() - 1)
    }
  }
}
