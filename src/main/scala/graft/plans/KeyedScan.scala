package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.StructType

/** A per-key sequential scan as ONE Catalyst node: `fn` runs over each
  * partition of the child's rows, with every row of a key in one partition
  * and each partition sorted by `ordering` (the keys first). The MATCH_RECOGNIZE
  * NFA (`MatchRecognize.scanPattern`) and the skip-past cursor
  * (`Behavior.skipPastSelect`) are the two scans.
  *
  * The node states its needs instead of building them: the exec declares
  * `ClusteredDistribution(keys)` and the `ordering`, and `EnsureRequirements`
  * places the one Exchange and Sort — or none, when the child already
  * provides them (a DEFINE or candidate window on the same key and order).
  * The scan stays inside the caller's plan, so nothing runs before the
  * caller's action and `explain` shows the whole query.
  *
  * `fn` reads the child's rows by ordinal, so every child column is a
  * reference: column pruning may never narrow the child under it. The output
  * columns are always new attributes, and `newInstance` renews them, so a
  * self-join of a scan's result resolves.
  */
case class KeyedScan(keys: Seq[Expression], ordering: Seq[SortOrder], output: Seq[Attribute],
                     fn: Iterator[InternalRow] => Iterator[InternalRow], child: LogicalPlan)
  extends UnaryNode with MultiInstanceRelation {
  override def references: AttributeSet = child.outputSet
  override def newInstance(): KeyedScan = copy(output = output.map(_.newInstance()))
  override protected def stringArgs: Iterator[Any] = Iterator(keys, ordering)
  override protected def withNewChildInternal(newChild: LogicalPlan): KeyedScan = copy(child = newChild)
}

case class KeyedScanExec(keys: Seq[Expression], ordering: Seq[SortOrder], output: Seq[Attribute],
                         fn: Iterator[InternalRow] => Iterator[InternalRow], child: SparkPlan)
  extends UnaryExecNode {
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil
  override protected def stringArgs: Iterator[Any] = Iterator(keys, ordering)

  override protected def doExecute(): RDD[InternalRow] = {
    val f = fn
    val outSchema = schema
    child.execute().mapPartitions { it =>
      // downstream exchanges serialize UnsafeRows only
      val toUnsafe = UnsafeProjection.create(outSchema)
      f(it).map(toUnsafe)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KeyedScanExec = copy(child = newChild)
}

object KeyedScan {
  private object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case KeyedScan(keys, ordering, output, fn, child) =>
        KeyedScanExec(keys, ordering, output, fn, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Adds [[Strategy]] to the session's planner once (idempotent). */
  private def setup(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(Strategy))
      spark.experimental.extraStrategies = Strategy +: spark.experimental.extraStrategies
  }

  /** `fn` over `df` clustered by `keyCols` and sorted by (`keyCols`,
    * `orderCols`) within each partition, emitting rows of `outSchema`.
    */
  def frame(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], outSchema: StructType)
           (fn: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    require(!df.isStreaming,
      "a keyed scan runs over a whole batch input; on a stream its per-key state would reset every micro-batch")
    // let the analyzer resolve the columns exactly as sortWithinPartitions does
    val (ordering, child) = df.sortWithinPartitions(keyCols ++ orderCols: _*)
      .queryExecution.analyzed match {
        case s: Sort if !s.global => (s.order, s.child)
        case other => sys.error(s"KeyedScan: unexpected sort plan\n$other")
      }
    setup(df.sparkSession)
    org.apache.spark.sql.graft.Bridge.ofRows(df.sparkSession, KeyedScan(
      ordering.take(keyCols.size).map(_.child), ordering, DataTypeUtils.toAttributes(outSchema),
      fn, child))
  }
}
