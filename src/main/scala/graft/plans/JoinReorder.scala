package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Stats-greedy n-ary inner-join ordering for the file path — the full
  * analogue of the reference's `:mega-join`, which "orders relations by
  * stats" before emitting a binary join tree
  * (reference: core/src/main/clojure/xtdb/operator/join.clj:599-736,
  * `->mega-join` + `emit-mega-join`; condition routing mirrors its
  * 435-441 `determine-build-side`).
  *
  * Why Catalyst doesn't already do this here: `CostBasedJoinReorder` needs
  * ANALYZE'd row counts (`spark.sql.cbo.enabled` + catalog stats), which
  * raw-parquet scans — the common deployment, and the engine's default
  * source — never have. Without CBO, Catalyst's `ReorderJoin` only rotates
  * joins to avoid cartesian products; it is size-blind, so a query written
  * fact-first shuffles the fact table through every intermediate join. The
  * one size signal the file path *does* have is the parquet footer
  * (`sizeInBytes` of each leaf scan), and the one selectivity signal is the
  * pushed-down predicate set — this rule combines the two exactly like the
  * reference's stats-greedy ordering, with the classic System-R default
  * selectivities (Selinger et al. 1979, public-domain numbers).
  *
  * This rule runs in the user-rule batch, AFTER column pruning — so inner
  * join chains arrive interposed with attribute-only pruning Projects
  * (`Join(Project(Join(…)), …)`), which is why Catalyst's own
  * `ExtractFiltersAndInnerJoins` cannot flatten them here. The flattener
  * below passes through those Projects; the rebuild re-derives an
  * equivalent prune between joins (keep = final output ∪ pending join
  * references), so intermediate exchange width does not regress.
  *
  * Ordering: greedy smallest-estimate-first over relations CONNECTED to the
  * already-joined set (never introduces a cartesian product that was not
  * already there). This minimizes intermediate cardinality for star/chain
  * shapes — dimension tables with selective filters join innermost, the
  * fact table last, which also keeps every derived side under the broadcast
  * threshold for as long as its base is (`Joins.baseSmall`
  * rationale).
  *
  * Safety envelope (the rule no-ops unless ALL hold):
  *  - a flattenable chain of ≥3 relations joined by INNER joins with no
  *    hints (hinted joins and outer/semi/cross joins are flatten
  *    boundaries), with ≥1 join condition, every condition deterministic;
  *  - non-streaming plan;
  *  - CBO disabled (when real stats exist, `CostBasedJoinReorder` owns the
  *    decision and this rule defers entirely);
  *  - the greedy order differs from the written order (fixed-point
  *    convergence for the optimizer batch).
  * Output column order is preserved with a restoring Project, same as
  * `CostBasedJoinReorder`. Attribute resolution is by exprId, so self-joins
  * are safe.
  */
object GraftJoinReorder extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.cboEnabled ||
        conf.getConfString("spark.graft.joinReorder.enabled", "true") != "true")
      plan
    else plan.transformDown {
      case p @ (_: Join | _: Filter) if eligible(p) =>
        val (plans, conditions) = flatten(p)
        val ordered = greedyOrder(plans, conditions)
        if (ordered == plans.indices.toList) p
        else {
          val built =
            buildJoin(ordered.map(plans), conditions, p.outputSet)
          Project(p.output, built)
        }
    }

  private def eligible(p: LogicalPlan): Boolean = {
    if (p.isStreaming) return false
    val (plans, conditions) = flatten(p)
    plans.size >= 3 && conditions.nonEmpty &&
      conditions.forall(_.deterministic)
  }

  /** Flatten a segment of inner joins into (base relations, all join +
    * interposed filter conjuncts). Passes through the attribute-only
    * pruning Projects that ColumnPruning interposes between joins; any
    * other node — outer/semi joins, hinted joins, aliasing Projects,
    * aggregates — is a segment boundary and becomes a base relation. */
  private def flatten(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    p match {
      case Join(l, r, Inner, cond, hint) if hint == JoinHint.NONE =>
        val (lp, lc) = flatten(l)
        val (rp, rc) = flatten(r)
        (lp ++ rp, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case proj @ Project(pl, child)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        val (cp, cc) = flatten(child)
        if (cp.size > 1) (cp, cc) else (Seq(proj), Nil)
      case f @ Filter(cond, child) =>
        val (cp, cc) = flatten(child)
        if (cp.size > 1) (cp, cc ++ splitConjunctivePredicates(cond))
        else (Seq(f), Nil)
      case other => (Seq(other), Nil)
    }

  /** Estimated bytes flowing out of a base relation subtree: leaf plan-stats
    * size (parquet footer for file scans) scaled by the selectivity of each
    * Filter on the way down. Project/alias skipped — column-width scaling is
    * already applied when physical pruning reaches the scan. */
  private def estimate(p: LogicalPlan): Double = p match {
    case Filter(cond, child) => selectivity(cond, child) * estimate(child)
    case Project(_, child) => estimate(child)
    case SubqueryAlias(_, child) => estimate(child)
    case other => math.max(other.stats.sizeInBytes.toDouble, 1.0)
  }

  /** System-R selectivities (Selinger et al., SIGMOD 1979 §4) refined by
    * write-time NDV sidecars when the scanned table was ANALYZEd
    * ([[StatsSidecar]] — the engine-side analogue of the reference's
    * per-page HLL stats, `indexer/HllCalculator.kt`): equality on an
    * analyzed column costs `1/NDV` instead of the 1/10 default — the
    * System-R refinement that distinguishes a key-selective filter
    * (1/150k) from a 3-value flag filter (1/3). Unanalyzed tables keep
    * the published defaults; the ordering only needs relative
    * magnitudes. `scope` is the subtree under the filter, used to trace
    * an attribute to its leaf scan's path. */
  private def selectivity(e: Expression, scope: LogicalPlan): Double = e match {
    case And(l, r) => selectivity(l, scope) * selectivity(r, scope)
    case Or(l, r) =>
      val (a, b) = (selectivity(l, scope), selectivity(r, scope))
      a + b - a * b
    case Not(c) => math.max(0.0, 1.0 - selectivity(c, scope))
    case EqualTo(a: AttributeReference, _: Literal) => eqSelectivity(a, scope)
    case EqualTo(_: Literal, a: AttributeReference) => eqSelectivity(a, scope)
    case _: EqualTo | _: EqualNullSafe => 0.1
    case _: LessThan | _: LessThanOrEqual |
         _: GreaterThan | _: GreaterThanOrEqual => 1.0 / 3.0
    case In(a: AttributeReference, list)
        if list.forall(_.isInstanceOf[Literal]) =>
      math.min(0.5, list.size * eqSelectivity(a, scope))
    case In(_, list) => math.min(0.5, 0.1 * list.size)
    case i: InSet => math.min(0.5, 0.1 * i.hset.size)
    case _: StringPredicate | _: Like | _: RLike => 0.25
    case _: IsNull => 0.1
    case _: IsNotNull => 1.0
    case _ => 0.5
  }

  private def eqSelectivity(a: AttributeReference,
      scope: LogicalPlan): Double =
    ndvOf(a, scope).map(n => 1.0 / math.max(1L, n).toDouble).getOrElse(0.1)

  /** NDV of `a` from the `_graft_stats.json` sidecar of the leaf scan
    * that produces it (exprId match), when one exists. Local-filesystem
    * paths only — the deployment the raw-parquet default serves; a
    * non-file scheme just falls back to defaults, never errors. */
  private def ndvOf(a: AttributeReference,
      scope: LogicalPlan): Option[Long] = {
    if (conf.getConfString("spark.graft.joinReorder.ndvStats", "true")
        != "true") return None
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    scope.collectFirst {
      case lr: LogicalRelation
          if lr.output.exists(_.exprId == a.exprId) => lr
    }.flatMap { lr =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption
            .filter(p => p.toUri.getScheme == null ||
              p.toUri.getScheme == "file")
            .flatMap(p => StatsSidecar.read(p.toUri.getPath))
            .flatMap(_.ndv.get(a.name))
        case _ => None
      }
    }
  }

  /** Greedy order (as indices into `plans`): start from the smallest
    * estimate, repeatedly add the smallest relation that shares a fully-
    * evaluable join condition with the joined-so-far set; fall back to the
    * smallest remaining only when nothing connects (a cartesian segment the
    * original plan already had). Ties break on original position, which
    * makes the order deterministic and the rule idempotent. */
  private def greedyOrder(plans: Seq[LogicalPlan],
      conditions: Seq[Expression]): List[Int] = {
    val idx = plans.indices
    val est = idx.map(i => i -> estimate(plans(i))).toMap
    val chosen = scala.collection.mutable.ArrayBuffer(
      idx.minBy(i => (est(i), i)))
    while (chosen.size < plans.size) {
      val cur = AttributeSet(chosen.toSeq.flatMap(i => plans(i).output))
      val rem = idx.filterNot(chosen.contains)
      val connected = rem.filter { i =>
        val combined = cur ++ plans(i).outputSet
        conditions.exists(c => c.references.subsetOf(combined) &&
          c.references.intersect(plans(i).outputSet).nonEmpty &&
          c.references.intersect(cur).nonEmpty)
      }
      val pool = if (connected.nonEmpty) connected else rem
      chosen += pool.minBy(i => (est(i), i))
    }
    chosen.toList
  }

  /** Left-deep rebuild: each step attaches every not-yet-used condition
    * that is fully evaluable over the joined set (same routing as
    * Catalyst's `ReorderJoin.createOrderedJoin`); conditions that cannot
    * live inside a join (e.g. subquery predicates) finish as a top-level
    * Filter. After each join a pruning Project keeps only `keepSet`
    * (the segment's final output) plus attributes the pending conditions
    * still need — restoring the intermediate column pruning the flattener
    * saw. */
  private def buildJoin(ordered: Seq[LogicalPlan],
      conditions: Seq[Expression], keepSet: AttributeSet): LogicalPlan = {
    var current: LogicalPlan = ordered.head
    var remaining = conditions
    ordered.tail.foreach { next =>
      val combined = current.outputSet ++ next.outputSet
      val (applicable, rest) = remaining.partition(c =>
        c.references.subsetOf(combined) && canEvaluateWithinJoin(c))
      val joinType =
        if (applicable.isEmpty) org.apache.spark.sql.catalyst.plans.Cross
        else Inner
      current = Join(current, next, joinType,
        applicable.reduceOption(And), JoinHint.NONE)
      remaining = rest
      val needed = keepSet ++ AttributeSet(remaining.flatMap(_.references))
      val pruned = current.output.filter(needed.contains)
      if (pruned.nonEmpty && pruned.size < current.output.size)
        current = Project(pruned, current)
    }
    remaining.reduceOption(And).map(Filter(_, current)).getOrElse(current)
  }
}
