package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.SparkStrategy

/** Top-k-per-group as a first-class operator.
  *
  * Spark plans `filter(row_number().over(partitionBy(g).orderBy(s)) <= k)`
  * as WindowExec: a FULL SORT of every group's rows plus a per-partition
  * buffer, then discards everything past rank k. For small k over huge
  * groups (the common "top 20 per category over 100 TB" shape) the
  * asymptotically right operator is a bounded per-group heap: O(n log k)
  * time, O(groups × k) memory, no sort spill.
  *
  * Full custom-operator stack, registered via
  * [[graft.functions.GraftExtensions]]:
  *   - [[TopKPerGroup]]    logical node
  *   - [[RewriteTopKPerGroup]] optimizer rule matching the declarative
  *     Filter(rn <= k, Window(row_number)) pattern — user code keeps the
  *     standard DataFrame idiom and transparently gets the better plan
  *   - [[TopKPerGroupStrategy]] planner strategy
  *   - [[TopKPerGroupExec]] physical heap-based implementation
  *
  * Semantics identical to the window form INCLUDING the emitted rank
  * column (same exprId, so downstream projections resolve unchanged).
  */
case class TopKPerGroup(
    child: LogicalPlan,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute) // the rank output (an Attribute, not the Alias —
                         // alias-cleanup rules strip Alias wrappers)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Rewrites Filter(rank <= k) over Window(row_number over (p, s)) into
  * [[TopKPerGroup]]. Conservative: fires only when the window computes
  * exactly one row_number, the filter is a single comparison against it
  * with a literal k, and k is small enough for the heap to be a win. */
object RewriteTopKPerGroup extends Rule[LogicalPlan] {
  private val MaxK = 10000 // heap memory bound: groups × k rows

  private def rankLimit(cond: Expression, rankAttr: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, _))
        if a.semanticEquals(rankAttr) => Some(k)
      case LessThan(a: Attribute, Literal(k: Int, _))
        if a.semanticEquals(rankAttr) => Some(k - 1)
      case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute)
        if a.semanticEquals(rankAttr) => Some(k)
      case EqualTo(a: Attribute, Literal(1, _))
        if a.semanticEquals(rankAttr) => Some(1)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(
          WindowExpression(_: RowNumber, WindowSpecDefinition(part, order, _)), _)),
          _, _, child, _)) if part.nonEmpty =>
      rankLimit(cond, alias.toAttribute) match {
        case Some(k) if k > 0 && k <= MaxK =>
          TopKPerGroup(child, part, order, k, alias.toAttribute)
        case _ => f
      }
  }
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(child, part, order, k, rankAttr) =>
      // Partial pass below the (Catalyst-inserted) exchange — the
      // map-side-aggregation analogue for top-k: each map task forwards
      // at most (its groups × k) rows, so the exchange carries a
      // k-bounded frame instead of every scored row (guide §2.3
      // "aggregate before you shuffle"). Correct for any child
      // distribution because the final pass re-prunes: per group, the
      // global top-k is contained in the union of per-partition top-ks.
      TopKPerGroupExec(
        TopKPerGroupPartialExec(planLater(child), part, order, k),
        part, order, k, rankAttr) :: Nil
    case _ => Nil
  }
}

/** Map-side pre-prune for [[TopKPerGroupExec]]: emits, per input
  * partition, at most k rows per group — no rank output, no required
  * distribution (it runs BELOW the exchange). Memory is bounded by
  * RETAINED ROWS, not groups: a task tracks at most
  * [[TopKPerGroupPartialExec.MaxPartialRows]] / k groups (k can be up
  * to the rewrite's MaxK = 10000 — a group-count cap alone would admit
  * groups × k rows); rows of untracked groups stream through un-pruned
  * (the final pass re-prunes, so passthrough only costs shuffle bytes,
  * never correctness). Determinism contract is the window form's own:
  * with a non-total orderSpec ties are arbitrary in EVERY physical
  * variant; all call sites order by (score, id). */
case class TopKPerGroupPartialExec(
    child: SparkPlan,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // rows never move between partitions, so a child already clustered by
  // the group keys needs no exchange above this node; no ordering is
  // claimed, the heap drain does not keep one
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val partExprs = partitionSpec
    val sortOrder = orderSpec
    val kk = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val ordering = RowOrdering.create(sortOrder, childOutput)
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      val maxGroups = math.max(1,
        TopKPerGroupPartialExec.MaxPartialRows / math.max(1, kk))
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ordering.compare(b, a)
      }
      val passthrough = iter.flatMap { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          if (heaps.size() >= maxGroups) {
            Iterator.single(row) // memory cap: forward un-pruned
          } else {
            heap = new java.util.PriorityQueue[InternalRow](kk + 1, cmp)
            heaps.put(key.copy(), heap)
            heap.add(row.copy())
            Iterator.empty
          }
        } else {
          if (heap.size < kk) heap.add(row.copy())
          else if (ordering.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.copy())
          }
          Iterator.empty
        }
      }
      import scala.jdk.CollectionConverters._
      // ++ is by-name: the heap drain only starts after the input (and
      // with it every heap mutation) is exhausted
      passthrough ++ heaps.values().iterator().asScala.flatMap(h =>
        h.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupPartialExec =
    copy(child = newChild)
}

object TopKPerGroupPartialExec {
  /** Retained-row budget per task: the partial pass tracks at most
    * MaxPartialRows / k groups, so its heap map never holds more than
    * ~256k rows (tens of MB at typical row widths) regardless of k —
    * beyond that, new groups' rows stream through to the exchange
    * un-pruned and the final exec does the exact work. */
  val MaxPartialRows = 1 << 18
}

/** Heap-based physical top-k-per-group. Requires clustering by the
  * partition keys (Catalyst inserts the exchange); inside each task a
  * hash map of bounded heaps retains the best k rows per group. */
case class TopKPerGroupExec(
    child: SparkPlan,
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partitionSpec) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val partExprs = partitionSpec
    val sortOrder = orderSpec
    val kk = k
    val rankIdx = childOutput.length
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val ordering = RowOrdering.create(sortOrder, childOutput)
      // heap head = WORST retained row (reverse ordering) for O(log k) cap
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ordering.compare(b, a)
      }
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, cmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      val outProj = UnsafeProjection.create(
        childOutput.indices.map(i =>
          BoundReference(i, childOutput(i).dataType, childOutput(i).nullable)) :+
          BoundReference(rankIdx, rankAttr.dataType, nullable = false))
      val joined = new JoinedRow()
      val rankRow = new SpecificInternalRow(Seq(rankAttr.dataType))
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap { heap =>
        val rows = heap.toArray(new Array[InternalRow](heap.size))
        java.util.Arrays.sort(rows, ordering)
        rows.iterator.zipWithIndex.map { case (r, i) =>
          rankRow.setInt(0, i + 1)
          outProj(joined(r, rankRow))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
