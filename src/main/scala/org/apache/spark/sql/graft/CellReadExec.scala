package org.apache.spark.sql.graft

import graft.operators.CellRead
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, BindReferences, Expression, InterpretedOrdering, InterpretedProjection, NamedExpression, Predicate, SortOrder, SubqueryExpression, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.types.StructType

/** The physical [[CellRead]]. A root collect's node has `onDriver`:
  * `executeCollect` runs it and, when it answers, returns its rows with
  * no Spark job; otherwise, and for every other consumer (`doExecute`),
  * it runs `plan`'s Spark plan, built on first use. That plan is
  * prepared without adaptive execution, so its partitioning and
  * ordering hold when it runs; a node without `onDriver` reports them,
  * so a join or grouping on `row_key` of bucketed reads plans no
  * exchange. A root collect's node reports none: nothing above it
  * reads them, and building the plan for them costs what the driver
  * read saves.
  *
  * Simple and extended explain (`toString`, `explain()`) show that plan
  * under this node, so plan audits see its scan. The formatted explain
  * leaves it out: every action renders that mode for its SQL-execution
  * event, and building the Spark plan there would cost a driver-side
  * collect about as much as the read itself.
  */
case class CellReadExec(output: Seq[Attribute],
    @transient onDriver: Option[() => Option[Seq[InternalRow]]],
    @transient plan: () => DataFrame)
    extends LeafExecNode {

  // the driver-side halves never ship: a task that captures this node
  // (a parent's closure) reads neither
  @transient private lazy val distributed: SparkPlan = {
    val df = plan()
    require(df.schema.map(_.dataType) == output.map(_.dataType),
      s"cell read plan ${df.schema.simpleString} does not match " +
        output.mkString("[", ", ", "]"))
    QueryExecution.prepareExecutedPlan(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.sparkPlan)
  }

  /** `e` over this node's output: the plan's output attributes, by
    * position, may carry other ids. None when `e` reads anything else. */
  private def mapped[E <: Expression](e: E): Option[E] = {
    val ids = AttributeMap(distributed.output.zip(output))
    val m = e.transform { case a: Attribute if ids.contains(a) => ids(a) }
    Option.when(m.references.subsetOf(outputSet))(m.asInstanceOf[E])
  }

  override def outputPartitioning: Partitioning =
    if (onDriver.isDefined) super.outputPartitioning
    else distributed.outputPartitioning match {
      case p: Expression => mapped(p).map(_.asInstanceOf[Partitioning])
        .getOrElse(UnknownPartitioning(distributed.outputPartitioning.numPartitions))
      case p => p
    }

  override def outputOrdering: Seq[SortOrder] =
    if (onDriver.isDefined) Nil
    else distributed.outputOrdering.map(mapped(_)).takeWhile(_.isDefined).flatten

  override protected def doExecute(): RDD[InternalRow] = distributed.execute()

  override def executeCollect(): Array[InternalRow] = onDriver.flatMap(_()) match {
    case Some(rows) =>
      val toUnsafe = UnsafeProjection.create(schema)
      rows.iterator.map(r => toUnsafe(r).copy()).toArray
    case None => distributed.executeCollect()
  }

  override def simpleString(maxFields: Int): String =
    s"CellRead ${output.mkString("[", ", ", "]")}"

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

object CellReadExec {

  /** A frame over `leaf`, in `spark`, whose planner gets the strategy
    * that plans it ([[SortedRunsCollect]]). */
  def frame(spark: SparkSession, leaf: CellRead): DataFrame = {
    SortedRunsCollect.install(spark)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], leaf)
  }

  /** A root collect answered on the driver: `root` is a chain of
    * filters, projections, sorts and limits over one key-bound
    * [[CellRead]] (a point key folded in from a filter right above a
    * leaf that has none), every expression deterministic and evaluable
    * on the driver. The chain runs on the leaf's driver rows as
    * `ConvertToLocalRelation` runs it on a local relation's: bound
    * interpreted projections and predicates, then an interpreted sort.
    * When the leaf declines (a range past its row bound), the same
    * query runs as a Spark plan. */
  def collect(root: LogicalPlan): Option[CellReadExec] = {
    def leafOf(p: LogicalPlan): Option[CellRead] = p match {
      case c: CellRead => Some(c)
      case Filter(cond, c: CellRead) if evaluable(cond) => Some(c.keyedBy(cond))
      case Filter(cond, child) if evaluable(cond) => leafOf(child)
      case Project(list, child) if list.forall(evaluable) => leafOf(child)
      case Sort(order, _, child, _) if order.forall(o => evaluable(o.child)) => leafOf(child)
      case GlobalLimit(IntegerLiteral(_), child) => leafOf(child)
      case LocalLimit(IntegerLiteral(_), child) => leafOf(child)
      case _ => None
    }
    leafOf(root).filter(_.keyed).map(leaf => CellReadExec(root.output,
      Some(() => leaf.onDriver().map(evaluate(root, _))), () => inline(root)))
  }

  /** Any other consumer of a leaf: the filters and projections right
    * above it (so a key filter still prunes the Spark plan's buckets)
    * with the leaf, as one Spark plan. */
  def distributed(projects: Seq[NamedExpression], filters: Seq[Expression],
      leaf: CellRead): CellReadExec = {
    val chain = Project(projects, filters.reduceOption(And).fold[LogicalPlan](leaf)(
      Filter(_, leaf)))
    CellReadExec(chain.output, None, () => inline(chain))
  }

  /** `columns` as one interpreted projection of a row of `schema`,
    * evaluated as `ConvertToLocalRelation` evaluates a projection of a
    * local relation: resolved by the analyzer over a relation of that
    * schema, runtime replacements applied, bound to the row. */
  def boundTests(spark: SparkSession, schema: StructType,
      columns: Seq[Column]): InternalRow => InternalRow =
    if (columns.isEmpty) _ => InternalRow.empty
    else {
      val relation = LocalRelation(DataTypeUtils.toAttributes(schema))
      val analyzed = org.apache.spark.sql.classic.Dataset.ofRows(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], relation)
        .select(columns: _*).queryExecution.analyzed
      val list = ReplaceExpressions(analyzed) match {
        case Project(list, _) => list
        case other => throw new IllegalStateException(s"not a projection: $other")
      }
      val proj = new InterpretedProjection(list, relation.output)
      proj.initialize(0)
      proj
    }

  private def evaluable(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: Attribute => false
    case _: SubqueryExpression | _: Unevaluable => true
    case _ => false
  }

  /** `p`, a [[collect]] chain, on the driver rows of its leaf. */
  private def evaluate(p: LogicalPlan, rows: Seq[InternalRow]): Seq[InternalRow] = p match {
    case _: CellRead => rows
    case Filter(cond, child) =>
      val pred = Predicate.createInterpreted(BindReferences.bindReference(cond, child.output))
      pred.initialize(0)
      evaluate(child, rows).filter(pred.eval)
    case Project(list, child) =>
      val proj = new InterpretedProjection(list, child.output)
      proj.initialize(0)
      evaluate(child, rows).map(proj)
    case Sort(order, _, child, _) =>
      evaluate(child, rows).sorted(new InterpretedOrdering(order, child.output))
    case GlobalLimit(IntegerLiteral(n), child) => evaluate(child, rows).take(n)
    case LocalLimit(IntegerLiteral(n), child) => evaluate(child, rows).take(n)
  }

  /** `p` with each [[CellRead]] replaced by its Spark plan, the leaf's
    * attribute ids kept by aliases, so the operators above read it
    * unchanged. */
  private def inline(p: LogicalPlan): DataFrame = {
    var session: SparkSession = null
    val inlined = p.transformUp { case c: CellRead =>
      val base = c.plan()
      session = base.sparkSession
      val out = base.queryExecution.analyzed
      require(out.output.map(_.dataType) == c.output.map(_.dataType),
        s"cell read plan ${out.schema.simpleString} does not match " +
          c.output.mkString("[", ", ", "]"))
      Project(c.output.zip(out.output).map { case (a, b) =>
        Alias(b, a.name)(exprId = a.exprId) }, out)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], inlined)
  }
}
