package graft.plans

import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Shims

/** Whole-operator top-k-per-group — the scalable replacement for the
  * `row_number().over(Window.partitionBy(g).orderBy(o)) <= k` idiom.
  *
  * The window form shuffles and SORTS every input row; at 100 TB of
  * scored candidates that sort dominates the job. This operator splits
  * the work like HashAggregate does: a PARTIAL pass keeps a bounded
  * k-heap per group per partition (map-side, O(n log k), no sort, no
  * materialization), then only ≤ k·groups·partitions surviving rows
  * shuffle to a FINAL per-group heap. EnsureRequirements inserts that
  * exchange automatically from the final operator's required
  * ClusteredDistribution — exactly how the built-in partial/final
  * aggregate pair composes.
  *
  * Determinism: callers pass a TOTAL ordering (tie-broken by a unique
  * id); with a total order the heap contents are unique, so partial →
  * final commutes and results are engine-reproducible. */
case class TopKPerGroup(groupKeys: Seq[Expression], ordering: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Physical top-k heap pass. `partial = true` runs on whatever
  * partitioning the child has (map-side); `partial = false` requires
  * clustering by the group keys, giving exact per-group top-k. */
case class TopKPerGroupExec(groupKeys: Seq[Expression], ordering: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    // Empty keys = GLOBAL top-k: ClusteredDistribution(Nil) is rejected
    // by Spark's require; the correct demand is all surviving rows on
    // one partition (≤ k·partitions rows after the partial pass — tiny).
    else if (groupKeys.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupKeys, false, None))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = groupKeys
    val order = ordering
    val childOutput = child.output
    val isPartial = partial
    child.execute().mapPartitions({ iter =>
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val cmp = GenerateOrdering.generate(order, childOutput)
      // max-heap under the ordering: head is the WORST retained row, so
      // a better row evicts it in O(log k)
      val revCmp = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = cmp.compare(b, a)
      }
      val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      // Memory bound for the PARTIAL pass: emitting a heap early and
      // starting a fresh one for the same key is superset-safe (the
      // final pass trims), so group-state never exceeds maxGroups·k
      // rows regardless of group cardinality. The final pass holds one
      // heap per group actually clustered into the partition — the same
      // footprint contract as a final HashAggregate.
      val maxGroups = if (isPartial) TopKPerGroupExec.MaxPartialGroups else Int.MaxValue

      new Iterator[InternalRow] {
        private var drain: java.util.Iterator[java.util.PriorityQueue[UnsafeRow]] = null
        private var current: java.util.Iterator[UnsafeRow] = java.util.Collections.emptyIterator()

        private def startDrain(): Unit = {
          drain = new java.util.ArrayList(heaps.values()).iterator()
          heaps.clear()
        }
        private def advance(): Boolean = {
          while (!current.hasNext) {
            if (drain != null && drain.hasNext) { current = drain.next().iterator() }
            else if (drain != null && !iter.hasNext) { return false }
            else if (!iter.hasNext) { if (heaps.isEmpty) return false; startDrain() }
            else {
              // consume input until flush or exhaustion
              var flushed = false
              while (iter.hasNext && !flushed) {
                val row = toUnsafe(iter.next())
                var heap = heaps.get(keyProj(row))
                if (heap == null) {
                  heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, revCmp)
                  heaps.put(keyProj(row).copy(), heap)
                }
                if (heap.size < kLocal) heap.add(row.copy())
                else if (cmp.compare(row, heap.peek()) < 0) {
                  heap.poll()
                  heap.add(row.copy())
                }
                if (heaps.size() >= maxGroups) { startDrain(); flushed = true }
              }
              if (!flushed && !heaps.isEmpty) startDrain()
            }
          }
          true
        }
        override def hasNext: Boolean = advance()
        override def next(): InternalRow = { advance(); current.next() }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupExec {
  /** Partial-pass flush threshold: at most this many concurrent group
    * heaps per partition before emitting them downstream-early. */
  var MaxPartialGroups: Int = 1 << 17
}

/** Planner strategy: logical TopKPerGroup → partial + final exec pair. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(keys, order, k, child) =>
      TopKPerGroupExec(keys, order, k, partial = false,
        TopKPerGroupExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level entry point. */
object TopK {
  /** Top-k rows per group of `keys` under `orderBy` (which must be a
    * total order for deterministic results — tie-break on a unique id).
    * Output rows keep the input schema; per-group order is NOT
    * guaranteed — apply a final orderBy/rank on the (tiny) result. */
  def perGroup(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame = {
    val sortOrders = orderBy.map(c => Shims.expression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    Shims.ofRows(df.sparkSession,
      TopKPerGroup(keys.map(Shims.expression), sortOrders, k,
        df.queryExecution.analyzed))
  }
}
