package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge

/** Native per-key top-k — the full custom-operator stack (logical node →
  * planner strategy → physical operator), for the one §2 shape where the
  * stock plan does strictly more work than the semantics need: the window
  * formulation (`row_number <= k`) sorts every key's entire group, while
  * this operator keeps a bounded k-element heap per key and never sorts
  * more than k rows.
  *
  * Scale shape: `requiredChildDistribution = ClusteredDistribution(keys)`
  * lets EnsureRequirements insert the single hash shuffle; per-partition
  * state is (#distinct keys in partition) × k rows regardless of group
  * size — the plan that survives a key with 10⁹ rows.
  *
  * Determinism contract matches SURVEY §7.3 R2: callers must include a
  * unique tiebreaker in `order`.
  */
case class TopKPerKey(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val localOrder = order
    val localKeys = groupExprs
    val localK = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(localKeys, childOutput)
      val ord: Ordering[InternalRow] =
        RowOrdering.create(localOrder, childOutput).asInstanceOf[Ordering[InternalRow]]
      // PriorityQueue dequeues the ordering's maximum first, so the head is
      // the current worst of the best-k — O(log k) replace per row.
      val heaps = new java.util.LinkedHashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < localK) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) { heap.dequeue(); heap.enqueue(row.copy()) }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(h => h.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner rule: logical TopKPerKey → TopKPerKeyExec. */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(g, o, k, child) =>
      TopKPerKeyExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** DataFrame-facing API. Registers the strategy idempotently on the
  * dataframe's session (also injectable via `GraftExtensions`).
  */
object TopK {
  /** Top-k rows per key. `order` is (columnName, descending); include a
    * unique tiebreaker (R2). Attributes are resolved against the analyzed
    * child directly — round-tripping `Column.desc` through the Spark 4
    * ColumnNode layer yields unresolved internal SortOrders, not catalyst
    * ones.
    */
  def perKey(df: DataFrame, keyCols: Seq[String],
             order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TopKStrategy
    }
    val analyzed = df.queryExecution.analyzed
    val byName = analyzed.output.groupBy(_.name)
    def resolve(n: String): Attribute = byName.get(n) match {
      case Some(Seq(a)) => a
      case Some(many) => throw new IllegalArgumentException(
        s"column $n is ambiguous (${many.size} attributes) — dedupe/alias before TopK.perKey")
      case None => throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}")
    }
    val sortOrders = order.map { case (name, desc) =>
      SortOrder(resolve(name),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    Bridge.ofRows(spark, TopKPerKey(keyCols.map(resolve), sortOrders, k, analyzed))
  }
}
