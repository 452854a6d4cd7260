package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Whole-operator Catalyst extension (SURVEY.md §2.13): top-k rows per
  * group as a FIRST-CLASS physical operator, the (c)-tier extension path
  * — custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`.
  *
  * The composed spelling (`row_number() OVER (PARTITION BY g ORDER BY o)
  * <= k`, operator id `topk_per_group`) shuffles EVERY row of every
  * group, sorts each partition, then discards all but k — at 100 TB the
  * shuffle and sort of the discarded rows dominate. This operator runs
  * the canonical two-phase bounded-heap plan instead:
  *
  *   partial TopKExec   (map side: one ≤k-row heap per group, no sort)
  *   → shuffle           (carries at most k rows per (partition, group))
  *   → sort              (inserted by EnsureRequirements; spillable)
  *   → final TopKExec    (stream the sorted run, emit first k per group)
  *
  * The shuffle volume drops from O(rows) to O(partitions × groups × k),
  * and the only full sort runs over the ALREADY-REDUCED candidate set.
  *
  * Memory safety (both phases are spill-proof, so the rewrite can never
  * turn a working window query into an OOM):
  *   - the PARTIAL phase caps retained rows at `spark.graft.topk
  *     .maxRowsInMemory` (default 4M); on overflow it FLUSHES — emits
  *     the current heaps downstream and starts fresh. A flush emits a
  *     superset of the partition's true top-k (union of per-segment
  *     top-k), which the final phase re-filters, so overflow degrades
  *     pruning, never correctness.
  *   - the FINAL phase holds O(1) state: it declares a required child
  *     ordering on (group keys, sort order), Spark plans a spillable
  *     SortExec under it, and the operator just streams the sorted run
  *     counting rows per group — the same discipline as sort-based
  *     aggregation fallback.
  *
  * Global top-k (no group keys) declares `AllTuples` — single partition,
  * sorted, take k — instead of the invalid `ClusteredDistribution(Nil)`.
  *
  * Equivalence with the window spelling requires a TOTAL sort order
  * (ties broken explicitly), same as every oracle query in this repo.
  */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Plans the logical TopK as partial-exec → (exchange + sort) →
  * final-exec; the exchange and sort are inserted by `EnsureRequirements`
  * because the final exec declares `ClusteredDistribution` on the group
  * keys and an ordering on (group keys, sort order).
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, o, k, child) =>
      val partial = TopKPerGroupExec(g, o, k, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Top-k per group over one partition's rows; see [[TopKPerGroupPlan]]
  * for the two-phase contract.
  *
  * Partial: per group key, a max-heap of the k best rows (heap head =
  * the WORST retained row, so a candidate only displaces it when it
  * compares strictly better under the sort order). Rows and keys are
  * copied on retention — the scan reuses row buffers. Total retained
  * rows are bounded; overflow flushes (emit + clear), preserving the
  * superset invariant.
  *
  * Final: input arrives clustered by group and sorted by (group, order);
  * emit the first k rows of each group with O(1) state.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(groupExprs.map(SortOrder(_, Ascending)) ++ order)

  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else groupExprs.map(SortOrder(_, Ascending)) ++ order

  protected override def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val kk = k
    val childOutput = child.output
    if (partial) {
      val ord = order
      val budget = math.max(kk,
        conf.getConfString("spark.graft.topk.maxRowsInMemory", "4194304").toInt)
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(g, childOutput)
        // codegen'd row comparator for the sort order (compare < 0 = better)
        val cmp = GenerateOrdering.generate(ord, childOutput)
        new Iterator[InternalRow] {
          private val heaps =
            new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
          private var retained = 0L
          private var pending: Iterator[InternalRow] = Iterator.empty
          private var inputDone = false

          private def drain(): Iterator[InternalRow] = {
            import scala.jdk.CollectionConverters._
            // materialization is bounded by the row budget
            val rows = heaps.values().iterator().asScala.flatMap(_.iterator).toArray
            heaps.clear(); retained = 0L
            rows.iterator
          }

          private def advance(): Unit = {
            while (!pending.hasNext && !inputDone) {
              if (!iter.hasNext) { inputDone = true; pending = drain() }
              else {
                val row = iter.next()
                val key = keyProj(row)
                var heap = heaps.get(key)
                if (heap == null) {
                  heap = new scala.collection.mutable.PriorityQueue[InternalRow]()(cmp)
                  heaps.put(key.copy(), heap)
                }
                if (heap.size < kk) { heap.enqueue(row.copy()); retained += 1 }
                else if (cmp.compare(row, heap.head) < 0) {
                  heap.dequeue()
                  heap.enqueue(row.copy())
                }
                if (retained >= budget) pending = drain()
              }
            }
          }

          override def hasNext: Boolean = { advance(); pending.hasNext }
          override def next(): InternalRow = { advance(); pending.next() }
        }
      }, preservesPartitioning = true)
    } else {
      // sorted-run streaming emit: O(1) state per task
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(g, childOutput)
        var curKey: UnsafeRow = null
        var emitted = 0
        iter.filter { row =>
          val key = keyProj(row)
          if (curKey == null || key != curKey) {
            curKey = key.copy(); emitted = 0
          }
          emitted += 1
          emitted <= kk
        }
      }, preservesPartitioning = true)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Optimizer rule (`Rule[LogicalPlan]`): rewrites the composed top-k
  * idiom — `row_number() OVER (PARTITION BY g ORDER BY o) AS rk` filtered
  * by `rk <= k` and then DROPPED — into [[TopKPerGroupPlan]], so any user
  * query written in the window spelling silently gets the bounded-heap
  * plan. Fires only when:
  *   - the Window computes exactly one expression, a row_number()
  *   - the filter bounds that attribute by an integer literal
  *   - the projection above discards the rank (otherwise the rank values
  *     must be materialized and the window form is required)
  * An empty PARTITION BY is fine (global top-k → AllTuples plan); a
  * non-positive bound rewrites to a statically-empty relation.
  */
object TopKRewriteRule
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}

  // Long arithmetic: `rk < Int.MinValue` must fall into the
  // statically-empty branch, not wrap around to top-Int.MaxValue
  private def bound(cond: Expression, rk: Attribute): Option[Long] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.semanticEquals(rk) => Some(k.toLong)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.semanticEquals(rk) => Some(k.toLong - 1L)
    case EqualTo(a: AttributeReference, Literal(1, _)) if a.semanticEquals(rk) => Some(1L)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(projectList,
        Filter(cond, w @ Window(Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)), part, ord, child, _)))
        if !projectList.exists(_.references.contains(a.toAttribute)) &&
          projectList.forall(_.references.subsetOf(child.outputSet)) =>
      bound(cond, a.toAttribute) match {
        case Some(k) if k > 0 =>
          Project(projectList, TopKPerGroupPlan(part, ord, math.min(k, Int.MaxValue.toLong).toInt, child))
        case Some(_) => org.apache.spark.sql.catalyst.plans.logical.LocalRelation(p.output)
        case None => p
      }
  }
}

object TopK {

  /** Top-k rows per group under `orderSpec` ((column, ascending) pairs —
    * make the order total or results are tie-dependent), planned through
    * [[TopKStrategy]], which [[graft.ext.Ext.register]] installs.
    * `groupCols` may be empty (global top-k).
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderSpec: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val lp = GraftBridge.analyzed(df)
    val byName = lp.output.map(a => a.name -> a).toMap
    val g = groupCols.map(byName)
    val so = orderSpec.map { case (n, asc) =>
      SortOrder(byName(n), if (asc) Ascending else Descending)
    }
    GraftBridge.ofRows(spark, TopKPerGroupPlan(g, so, k, lp))
  }
}
