package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Which rank-like function bounds the filter — decides the retention
  * semantics of the local pre-reduce. */
sealed trait RankLikeMode
/** `row_number() <= k`: keep exactly k rows per key, ties dropped
  * (row_number itself tie-breaks arbitrarily). */
case object RowNumberMode extends RankLikeMode
/** `rank() <= k`: rows tying the k-th value also survive globally, so
  * the boundary tie-class must be kept whole. */
case object RankMode extends RankLikeMode
/** `dense_rank() <= k`: the k best distinct order-value classes survive,
  * regardless of row counts. */
case object DenseRankMode extends RankLikeMode

/** LocalTopK — a custom operator for `rank-like() <= k` patterns
  * (SURVEY.md §7 / builder north star: the (c)-tier customization —
  * LogicalPlan + Rule + Strategy + SparkPlan via SparkSessionExtensions).
  *
  * The stock plan for top-k-per-key
  *
  *   Filter(rn <= k) ← Window(row_number over partition p order o) ←
  *   Exchange(hash p) ← full child
  *
  * shuffles EVERY row and sorts every key group, even though at most k
  * rows per key survive. LocalTopK is inserted *below* the exchange: each
  * map partition keeps only its own per-key top-k (bounded heaps — no
  * sort, O(n log k)), so the shuffle carries ≤ k·numPartitions rows per
  * key instead of all of them. The untouched Window + Filter above then
  * compute exact row numbers on the reduced input — results are
  * bit-identical because every globally-top-k row is necessarily in its
  * map partition's local top-k.
  *
  * Rank/dense-rank bounds retain boundary ties / distinct classes, so
  * locally dropped rows are always strictly worse than every kept row —
  * which also makes it safe for the Window above to compute OTHER
  * rank-family expressions (row_number, rank, dense_rank) on the reduced
  * input: a strictly-worse dropped row never changes a kept row's rank.
  * Aggregates, ntile, percent_rank, cume_dist, lag/lead are NOT safe
  * (they read the whole partition) — the rule refuses those.
  *
  * At 100 TB this is the difference between shuffling the corpus and
  * shuffling k rows per key per task — the same idea as partial
  * aggregation, applied to ranking.
  */
case class LocalTopK(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    mode: RankLikeMode = RowNumberMode) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

case class LocalTopKExec(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    mode: RankLikeMode = RowNumberMode,
    /** Bound on rows retained per map partition: beyond it, rows for NEW
      * keys stream through unreduced — correctness is unaffected (the
      * downstream Window recomputes exact ranks on whatever reaches it);
      * the reduction just degrades gracefully instead of growing an
      * unbounded in-memory map at high key cardinality. Parameterized so
      * tests can exercise the overflow path. */
    maxRetainedRows: Int = 1 << 20) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val partSpec = partitionSpec
    val ordSpec = orderSpec
    val limit = k
    val theMode = mode
    val maxKeys = math.max(1, maxRetainedRows / math.max(1, limit))
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partSpec, childOutput)
      val ordering = GenerateOrdering.generate(ordSpec, childOutput)
      theMode match {
        case RowNumberMode =>
          rowNumberReduce(iter, keyProj, ordering, limit, maxKeys)
        case RankMode | DenseRankMode =>
          classReduce(iter, keyProj, ordering, limit, maxKeys,
            dense = theMode == DenseRankMode)
      }
    }
  }

  /** row_number bound: per-key max-heap of the k best rows; head = the
    * current worst kept, evicted when a strictly better row arrives. */
  private def rowNumberReduce(iter: Iterator[InternalRow],
      keyProj: UnsafeProjection, ordering: Ordering[InternalRow],
      limit: Int, maxKeys: Int): Iterator[InternalRow] = {
    val heaps = scala.collection.mutable.HashMap
      .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
    val reduced = iter.flatMap { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case Some(heap) =>
          if (heap.size < limit) heap.enqueue(row.copy())
          else if (ordering.compare(row, heap.head) < 0) {
            heap.dequeue(); heap.enqueue(row.copy())
          }
          None
        case None if heaps.size < maxKeys =>
          val heap = scala.collection.mutable.PriorityQueue
            .empty[InternalRow](ordering)
          heap.enqueue(row.copy())
          heaps.put(key.copy(), heap) // copy only on first sight
          None
        case None =>
          // Cardinality overflow: pass through unreduced. The reused
          // child row is deliberately NOT copied — this operator follows
          // the standard emit-reused-row contract (parents that buffer,
          // like the Window's sort, copy what they retain); heap-kept
          // rows are copied only because the heap itself buffers them.
          Some(row)
      }
    }
    // heaps flush only after the input is exhausted (lazy ++)
    reduced ++ Iterator.single(()).flatMap(_ =>
      heaps.valuesIterator.flatMap(_.iterator))
  }

  /** rank / dense_rank bound: per-key tie-classes in a TreeMap ordered by
    * the window ordering. rank keeps rows while #strictly-better < k
    * (the boundary tie-class survives whole); dense_rank keeps the k best
    * classes. Boundary ties are unbounded in the worst case — same
    * trade-off Spark's own window-group-limit makes. */
  private def classReduce(iter: Iterator[InternalRow],
      keyProj: UnsafeProjection, ordering: Ordering[InternalRow],
      limit: Int, maxKeys: Int, dense: Boolean): Iterator[InternalRow] = {
    import scala.collection.mutable.ArrayBuffer
    final class Classes {
      val m = new java.util.TreeMap[InternalRow, ArrayBuffer[InternalRow]](
        ordering)
      var total = 0
      def insert(row: InternalRow): Unit = {
        if (!m.isEmpty) {
          val worst = m.lastEntry()
          // strictly worse than every kept row: for rank, its strictly-
          // better count is `total`; for dense_rank, `m.size`. At or
          // beyond the bound → drop without copying.
          if (ordering.compare(row, worst.getKey) > 0) {
            val strictlyBetter = if (dense) m.size else total
            if (strictlyBetter >= limit) return
          }
        }
        val copied = row.copy()
        val existing = m.get(copied)
        if (existing != null) existing += copied
        else m.put(copied, ArrayBuffer(copied))
        total += 1
        // evict whole worst classes that can no longer hold rank <= k
        var done = false
        while (!done && m.size > 1) {
          val w = m.lastEntry()
          val evictable =
            if (dense) m.size > limit
            else total - w.getValue.size >= limit
          if (evictable) { total -= w.getValue.size; m.remove(w.getKey) }
          else done = true
        }
      }
      def rows: Iterator[InternalRow] = {
        import scala.jdk.CollectionConverters._
        m.values().asScala.iterator.flatMap(_.iterator)
      }
    }
    val states = scala.collection.mutable.HashMap.empty[UnsafeRow, Classes]
    val reduced = iter.flatMap { row =>
      val key = keyProj(row)
      states.get(key) match {
        case Some(cls) => cls.insert(row); None
        case None if states.size < maxKeys =>
          val cls = new Classes
          cls.insert(row)
          states.put(key.copy(), cls)
          None
        case None => Some(row) // overflow pass-through (see above)
      }
    }
    reduced ++ Iterator.single(()).flatMap(_ =>
      states.valuesIterator.flatMap(_.rows))
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Optimizer rule: insert LocalTopK under Filter(rank-like ≤ k) ∘ Window.
  * Fires when every window expression is rank-family (row_number / rank /
  * dense_rank — the set whose values on kept rows are unaffected by
  * dropping strictly-worse rows) and the filter bounds one of them. */
object PushLocalTopK extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}

  /** Max k we pre-reduce for — beyond this the heaps stop paying off. */
  private val MaxK = 10000

  private def modeOf(e: NamedExpression): Option[(Alias, RankLikeMode)] =
    e match {
      case a @ Alias(WindowExpression(RowNumber(), _), _) =>
        Some(a -> RowNumberMode)
      case a @ Alias(WindowExpression(_: Rank, _), _) =>
        Some(a -> RankMode)
      case a @ Alias(WindowExpression(_: DenseRank, _), _) =>
        Some(a -> DenseRankMode)
      case _ => None
    }

  /** Extract `e <= k` / `e < k` / `e = k` bounds from conjuncts. */
  private def boundFor(cond: Expression, rn: ExprId): Option[Int] = {
    val conjuncts = splitConjuncts(cond)
    conjuncts.flatMap {
      case LessThanOrEqual(a: AttributeReference, Literal(v: Int, _))
        if a.exprId == rn => Some(v)
      case LessThan(a: AttributeReference, Literal(v: Int, _))
        if a.exprId == rn => Some(v - 1)
      case EqualTo(a: AttributeReference, Literal(v: Int, _))
        if a.exprId == rn => Some(v)
      case _ => None
    }.reduceOption(math.min)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(exprs, partSpec, ordSpec, child0, _))
      if ordSpec.nonEmpty =>
      // Spark's own InferWindowGroupLimit runs in a later optimizer
      // batch than injected rules, so it stacks its WindowGroupLimit
      // ABOVE a LocalTopK, and GraftStrategies plans that node away. A
      // plan that reaches this rule already carrying a WindowGroupLimit
      // for the same bound is SUBSUMED rather than stacked under: both
      // nodes reduce to the same retained-row superset and the
      // downstream Window recomputes exact ranks, so keeping both pays
      // two per-partition reducers plus the builtin's mandatory local
      // sort for rows LocalTopK already bounded.
      val child = child0 match {
        case wgl: WindowGroupLimit
          if wgl.partitionSpec == partSpec && wgl.orderSpec == ordSpec =>
          wgl.child
        case other => other
      }
      if (child.isInstanceOf[LocalTopK]) f
      else {
        val modes = exprs.map(modeOf)
        if (modes.exists(_.isEmpty)) f // a non-rank-family expr → unsafe
        else {
          // among bounded rank-family exprs, prefer the strictest
          // retention: row_number (exactly k rows) > rank (k + boundary
          // ties) > dense_rank (k classes)
          val bounded = modes.flatten.flatMap { case (alias, mode) =>
            boundFor(cond, alias.exprId).map(k => (mode, k))
          }
          val priority: RankLikeMode => Int = {
            case RowNumberMode => 0
            case RankMode => 1
            case DenseRankMode => 2
          }
          bounded.sortBy { case (m, k) => (priority(m), k) }
            .headOption match {
            case Some((mode, k)) if k > 0 && k <= MaxK =>
              f.copy(child = w.copy(child =
                LocalTopK(partSpec, ordSpec, k, child, mode)))
            case _ => f
          }
        }
      }
  }
}

/** Planner strategy for the custom logical node. Also intercepts the
  * built-in InferWindowGroupLimit when it stacks on top of LocalTopK:
  * that rule runs in a LATER optimizer batch than injected rules, so it
  * re-inserts a WindowGroupLimit above a LocalTopK it does not
  * recognize — two per-partition reducers plus the builtin's mandatory
  * local sort over rows LocalTopK already bounded. Injected strategies
  * are consulted before the built-ins, so planning the redundant node
  * as its child elides it (always safe: LocalTopK retains a superset of
  * the rank bound and the downstream Window recomputes exact ranks). */
object GraftStrategies extends SparkStrategy {
  import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LocalTopK(partSpec, ordSpec, k, child, mode) =>
      LocalTopKExec(partSpec, ordSpec, k, planLater(child), mode) :: Nil
    case WindowGroupLimit(partSpec, ordSpec, _, _, child: LocalTopK)
        if partSpec == child.partitionSpec && ordSpec == child.orderSpec =>
      planLater(child) :: Nil
    case _ => Nil
  }
}
