package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeSet, BindReferences, Descending, Expression, InterpretedOrdering,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples,
  ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy,
  UnaryExecNode}

/** Native top-k-per-key: the whole-operator Catalyst extension
  * (LogicalPlan + Strategy + physical SparkPlan), for the one ranking
  * shape the built-in operators can't plan efficiently.
  *
  * `row_number().over(Window.partitionBy(key).orderBy(...)) <= k` makes
  * WindowExec SORT every key group in full — at 100 TB that is a global
  * shuffle of every row followed by an O(n log n) sort per key, to keep
  * k rows. This operator plans the same semantics as a two-phase bounded
  * selection, the TakeOrderedAndProject pattern generalized per key:
  *
  *   partial TopKPerKeyExec   — per input partition, one bounded k-heap
  *                              per key; emits <= k rows per (partition,
  *                              key). Map-side, no shuffle, O(n log k).
  *   exchange on key          — inserted by EnsureRequirements from the
  *                              final node's required distribution; only
  *                              the <= k * partitions survivors per key
  *                              shuffle, not the input.
  *   final TopKPerKeyExec     — same bounded heap per key over the
  *                              survivors; exact top-k because a row in
  *                              the true top-k is in its partition's
  *                              top-k.
  *
  * Determinism contract: `ordering` must be a total order (callers pass
  * value DESC + a unique tie-break ASC), which makes the kept row SET
  * unique — the driver oracle then only needs the same ORDER BY.
  *
  * Memory contract: each task holds (distinct keys in its partition) × k
  * buffered rows and does NOT spill — the hash-aggregate memory profile
  * minus the spill path. That is the point of a top-k operator (k is
  * small); for key cardinalities where keys × k rows outgrow a task,
  * use the window/sort formulation, which spills.
  */
case class TopKPerKeyNode(keys: Seq[Expression], ordering: Seq[SortOrder],
                          k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // Claim every child column: the operator emits whole rows, so the
  // optimizer's column pruning must not narrow the child beneath us.
  override def references: AttributeSet = AttributeSet(child.output)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerKeyNode = copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, ordering, k, child) =>
      TopKPerKeyExec(keys, ordering, k, partial = false,
        TopKPerKeyExec(keys, ordering, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], ordering: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def simpleStringWithNodeId(): String =
    s"TopKPerKey(${if (partial) "partial" else "final"}, k=$k)"

  override protected def doExecute(): RDD[InternalRow] = {
    val boundKeys = BindReferences.bindReferences(keys, child.output)
    val boundOrd = ordering.map(BindReferences.bindReference(_, child.output))
    val kk = k
    child.execute().mapPartitions { iter =>
      // Built per task: projections/orderings hold codegen state that
      // must not cross the driver->executor serialization boundary.
      val keyProj = UnsafeProjection.create(boundKeys)
      val ord = new InterpretedOrdering(boundOrd)
      // Eviction heap: head = WORST kept row (reverse of `ord`, whose
      // smallest element is the best row).
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      val heaps =
        new java.util.HashMap[InternalRow,
          java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          pq = new java.util.PriorityQueue[InternalRow](kk + 1, cmp)
          heaps.put(key.copy(), pq)
        }
        if (pq.size() < kk) pq.add(row.copy())
        else if (ord.compare(row, pq.peek()) < 0) {
          pq.poll(); pq.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerKeyExec = copy(child = newChild)
}

/** User API. [[TopKPerKeyStrategy]] is installed with the rest of
  * graft's extensions by `GraftFunctions.install`. */
object TopKPerKey {

  /** Exact top-`k` rows per `keys` group, ordered by `orderCol`
    * descending with `tieCol` ascending as the unique tie-break.
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
             tieCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      analyzed.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${analyzed.output.map(_.name).mkString(",")}"))
    val ordering = Seq(SortOrder(attr(orderCol), Descending),
      SortOrder(attr(tieCol), Ascending))
    GraftSqlBridge.ofRows(spark,
      TopKPerKeyNode(keyCols.map(attr), ordering, k, analyzed))
  }
}
