package graft.plans

import graft.expressions.LshBucketProbe
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, ExprId, Expression, In, Literal, NamedExpression, PredicateHelper, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.IntegerType

/** Logical "probe an at-rest LSH layout and return the exact top-k of
  * the candidate union" node, produced by [[LshProbeRewrite]] for
  * registered index tables and planned by [[LshProbeStrategy]] into
  * [[LshProbeTopKExec]].
  *
  * Semantics: dedupe `child` rows on `dedupeKeys` (a candidate row
  * appears once per matched LSH sub-layout), evaluate `projectList`
  * (payload + the cosine score), return the first `k` rows under
  * `sortOrder`. This is `Aggregate(first) → Sort → Limit` collapsed into
  * one operator — the reason it exists as a physical node: the
  * aggregate formulation shuffles the full candidate set to dedupe
  * BEFORE the top-k can cut it to k rows, while the operator dedupes
  * per-partition into a bounded heap and ships only ≤ k rows per
  * partition (duplicates of a row carry identical payload bytes, so
  * local-then-merge dedupe is exact).
  */
final case class LshProbeTopK(
    k: Int,
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    dedupeKeys: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def maxRows: Option[Long] = Some(k.toLong)
  // sortOrder references the score attr this node itself produces via
  // projectList; without declaring it the plan prints the
  // missing-input `!` marker. ONLY the aliases count as produced —
  // pass-through attributes must stay in `references`, or
  // ColumnPruning strips them from the child and the dedupe/ordering
  // projections fail to bind at execution.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      projectList.collect {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.toAttribute
      })
  override protected def withNewChildInternal(newChild: LogicalPlan): LshProbeTopK =
    copy(child = newChild)
}

/** Plans [[LshProbeTopK]]; everything else falls through to the stock
  * strategies. Registered via `injectPlannerStrategy` in
  * [[graft.GraftExtensions]].
  */
case class LshProbeStrategy(spark: SparkSession) extends SparkStrategy with PredicateHelper {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LshProbeTopK(k, order, projectList, dedupeKeys, child) =>
      LshProbeTopKExec(k, order, projectList, dedupeKeys, planProbeScan(child)) :: Nil
    case sf @ ShortlistFetch(idExpr, fetch, fetchIdName, max, child) =>
      ShortlistFetchExec(idExpr, fetch, fetchIdName, max, sf.output,
        planLater(child)) :: Nil
    case sfj @ ShortlistFetchJoin(idExpr, fetch, fetchIdName, maxIds, child) =>
      ShortlistFetchJoinExec(idExpr, fetch, fetchIdName, maxIds, sfj.output,
        planLater(child)) :: Nil
    case _ => Nil
  }

  /** The scan under an LSH bucket probe, planned here by
    * `FileSourceStrategy` so that the probe's `bucket IN (...)` conjunct
    * stays in the scan's pushed filters (Parquet skips row groups by
    * it) but leaves the `FilterExec`: the [[LshBucketProbe]] beside it
    * implies it, and its literals would make the generated code differ
    * per query. Any other child plans as before. */
  private def planProbeScan(child: LogicalPlan): SparkPlan = child match {
    case Filter(cond, _) if splitConjunctivePredicates(cond).exists(_.isInstanceOf[LshBucketProbe]) =>
      FileSourceStrategy(child).headOption
        .map(_.transformUp { case FilterExec(c, in) =>
          withoutImpliedIn(c).fold(in)(FilterExec(_, in))
        })
        .getOrElse(planLater(child))
    case _ => planLater(child)
  }

  /** `cond` without each `bucket IN (...)` / `bucket = v` conjunct whose
    * values hold every bucket an [[LshBucketProbe]] conjunct over the
    * same `bucket` accepts; None when nothing else is left. */
  private def withoutImpliedIn(cond: Expression): Option[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val probed: Map[ExprId, Set[Int]] = conjuncts.collect {
      case LshBucketProbe(Seq(_, b: Attribute), sets) => b.exprId -> sets.flatten.toSet
    }.toMap
    def implied(a: Attribute, values: Seq[Expression]): Boolean =
      probed.get(a.exprId).exists(_.forall(v =>
        values.exists { case Literal(x: Int, IntegerType) => x == v; case _ => false }))
    conjuncts.filterNot {
      case In(a: Attribute, values) => implied(a, values)
      case EqualTo(a: Attribute, value) => implied(a, Seq(value))
      case _ => false
    }.reduceOption(And)
  }
}

object LshProbeTopKExec {
  /** Dedupe + bounded top-k of one iterator of already-projected rows —
    * a static helper so task closures capture only (k, ord, keyFrom),
    * never the plan tree. `keyFrom` extracts the dedupe key from a
    * projected row. Returns rows in no particular order.
    */
  private def localTopK(k: Int,
                        iter: Iterator[UnsafeRow],
                        keyFrom: UnsafeProjection,
                        ord: Ordering[InternalRow]): Iterator[UnsafeRow] = {
    val seen = new java.util.HashSet[UnsafeRow]()
    // head of the queue = WORST of the current top-k (reverse ordering)
    val heap = new java.util.PriorityQueue[UnsafeRow](math.max(k, 1), ord.reverse)
    while (iter.hasNext) {
      val row = iter.next()
      if (seen.add(keyFrom(row).copy())) {
        if (heap.size < k) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) { heap.poll(); heap.add(row.copy()) }
      }
    }
    import scala.jdk.CollectionConverters._
    heap.iterator().asScala
  }
}

/** Physical LSH probe top-k (see [[LshProbeTopK]] for the contract).
  *
  * Stage 1 (parallel, over the pruned candidate scan): per partition,
  * project each row (the projection evaluates the codegen'd cosine
  * score), skip rows whose dedupe key was already seen IN THIS
  * partition, and keep a k-bounded heap under `sortOrder`.
  * Stage 2: the ≤ k·P survivors shuffle to one partition, dedupe
  * globally (sub-layout copies of a row may land in different
  * partitions), sort, take k.
  *
  * Exactness of two-level dedupe: duplicates are byte-identical
  * projected rows with byte-identical keys and equal scores, so
  * deduping locally before the heap can only FREE heap slots for
  * distinct rows, and the global pass removes cross-partition copies.
  */
final case class LshProbeTopKExec(
    k: Int,
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    dedupeKeys: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override protected def withNewChildInternal(newChild: SparkPlan): LshProbeTopKExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    import LshProbeTopKExec.localTopK
    val childOutput = child.output
    val keys = dedupeKeys
    val limit = k
    if (limit <= 0) return sparkContext.emptyRDD[InternalRow]
    // Dedupe keys are CHILD attributes and need not survive the user's
    // projection (column pruning narrows an enveloped top-k to e.g.
    // (id, score)): key columns missing from the projection are carried
    // ALONGSIDE it through both stages — ≤ k·P rows wide, so the extra
    // bytes are noise — and stripped after the global pass.
    val passThrough: Seq[NamedExpression] =
      keys.filterNot(a => projectList.exists(_.toAttribute.exprId == a.exprId))
    val proj = projectList ++ passThrough
    val combined = proj.map(_.toAttribute)
    // Ordering over the PROJECTED rows: every sort expression is an
    // attribute of the project output (the rewrite guarantees it).
    val ord = SqlShims.rowOrdering(sortOrder, combined)
    val outAttrs = output
    val local = child.execute().mapPartitions { iter =>
      val p = UnsafeProjection.create(proj, childOutput)
      val keyFrom = UnsafeProjection.create(keys, combined)
      localTopK(limit, iter.map(r => p(r)), keyFrom, ord)
    }
    local.map(_.asInstanceOf[InternalRow]).repartition(1).mapPartitions { iter =>
      val keyFrom = UnsafeProjection.create(keys, combined)
      val strip = UnsafeProjection.create(outAttrs, combined)
      localTopK(limit, iter.map(_.asInstanceOf[UnsafeRow]), keyFrom, ord)
        .toArray.sorted(ord).iterator.map(r => strip(r).copy())
    }
  }
}
