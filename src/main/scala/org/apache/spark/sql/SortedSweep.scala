package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Descending, Expression, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.DoubleType

/** A lazily planned sweep over the sorted rows of each partition key, in
  * `InternalRow`s, with no encoder between the sort and the sweep.
  *
  * The plan node asks for its input clustered by the keys (one partition
  * without keys) and sorted by the keys, then by the given order, so
  * `EnsureRequirements` places exactly one exchange and one sort under it.
  * The sweep reads its columns by ordinal and emits rows shaped as its
  * input row followed by the added double columns; the node projects them
  * to the kept columns plus the added ones. A read may name an added
  * column: its ordinal is then the one it has in the emitted row, so one
  * sweep can hand its rows to a second one (see
  * `graft.core.InterpJoin.interpolateThen`) inside the same node. The node
  * is opaque to column pruning: everything it keeps is computed below it.
  *
  * The planner strategy is added to a session's extra strategies the first
  * time the session builds a sweep. Dataset construction from a logical
  * plan is package-private, hence this package.
  */
object SortedSweep {

  /** Given the ordinals of the `reads` columns and a same-key test, the
    * function that maps one sorted partition. An added column's ordinal
    * counts from the end of the input row.
    */
  type Sweep = (Seq[Int], (InternalRow, InternalRow) => Boolean) =>
    Iterator[InternalRow] => Iterator[InternalRow]

  /** `df`'s rows clustered by `keys`, sorted by `keys` ascending (nulls
    * first) then by `order` (column, ascending?) within each partition, fed
    * to `sweep`; the result holds the `keep` columns of `df` followed by
    * one nullable double column per name in `added`. `reads` name columns
    * of `df` or of `added`.
    */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      reads: Seq[String], keep: Seq[String], added: Seq[String])(
      sweep: Sweep): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(Strategy))
        exp.extraStrategies = exp.extraStrategies :+ Strategy
    }
    val plan = ds.logicalPlan
    def attr(n: String): Attribute = plan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n in ${plan.output}"))
    val addedAttrs = added.map(n => AttributeReference(n, DoubleType)())
    classic.Dataset.ofRows(spark, SortedSweepNode(
      keep.map(attr) ++ addedAttrs, keys.map(attr),
      order.map { case (n, asc) => SortOrder(attr(n), if (asc) Ascending else Descending) },
      reads.map(n => addedAttrs.find(_.name == n).getOrElse(attr(n))),
      addedAttrs, sweep, plan))
  }

  private object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case n: SortedSweepNode =>
        SortedSweepExec(n.output, n.keys, n.order, n.reads, n.added, n.sweep,
          planLater(n.child)) :: Nil
      case _ => Nil
    }
  }
}

case class SortedSweepNode(
    output: Seq[Attribute], keys: Seq[Attribute], order: Seq[SortOrder],
    reads: Seq[Attribute], added: Seq[Attribute], sweep: SortedSweep.Sweep,
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(added)
  // the sweep reads whole input rows
  override lazy val references: AttributeSet = child.outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(keys, order)
  override protected def withNewChildInternal(c: LogicalPlan): SortedSweepNode =
    copy(child = c)
}

case class SortedSweepExec(
    output: Seq[Attribute], keys: Seq[Attribute], order: Seq[SortOrder],
    reads: Seq[Attribute], added: Seq[Attribute], sweep: SortedSweep.Sweep,
    child: SparkPlan) extends UnaryExecNode {

  // the added columns come from the sweep, not from the child
  override def producedAttributes: AttributeSet = AttributeSet(added)

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil

  // rows stay in their partition, so the exchange under the sweep also
  // serves a later operator clustered on the same keys (or on anything,
  // without keys), as long as the keys are kept
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression with Partitioning if !p.references.subsetOf(outputSet) =>
      UnknownPartitioning(p.numPartitions)
    case p => p
  }

  override protected def stringArgs: Iterator[Any] = Iterator(keys, order)

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val inAndAdded = in ++ added
    val ordinals = reads.map(a => inAndAdded.indexWhere(_.exprId == a.exprId))
    val keyOrder = new InterpretedOrdering(
      keys.map(k => SortOrder(BindReferences.bindReference(k, in), Ascending)))
    val sameKey = (a: InternalRow, b: InternalRow) => keyOrder.compare(a, b) == 0
    val (out, f) = (output, sweep)
    child.execute().mapPartitionsWithIndexInternal { (index, rows) =>
      val project = UnsafeProjection.create(out, inAndAdded)
      project.initialize(index)
      f(ordinals, sameKey)(rows).map(project)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SortedSweepExec =
    copy(child = c)
}
