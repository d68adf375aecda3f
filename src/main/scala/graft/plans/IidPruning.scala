package graft.plans

import graft.bitemporal.Bitemporal
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** iid point-lookup file pruning (reference operator/scan.clj:161-199 +
  * trie/Trie.kt:34-60: an `_id`/`_iid` equality resolves to an iid-set
  * trie-path prune before any page is read).
  *
  * Storage partitions every event table by `_bucket` = first hex char of
  * the iid (`XtDb.buildEvents`), but Catalyst cannot derive a `_bucket`
  * predicate from `_id = <literal>` on its own — and the predicate cannot
  * even push below the rectangulation `Window` (partitioned by `_iid`),
  * because Catalyst lacks the domain facts that make it sound:
  * `_iid = md5(cast(_id as string))` is a pure function of `_id`, and every
  * intermediate node in the bitemporal resolve chain partitions by `_iid`,
  * so selecting one id keeps or drops whole window partitions.
  *
  * This rule finds a conjunct `_id = lit` (or `_iid = lit`) in a Filter,
  * derives the iid hex + bucket char at plan time, and descends ONLY
  * through nodes where whole-partition removal is semantics-preserving
  * (Project / Filter / SubqueryAlias / Window partitioned by `_iid` or
  * `_id`) to the event input; anything else (Aggregate over other keys,
  * Join) stops the descent and the rule no-ops. At the input it injects
  * `_iid = hex AND _bucket = char` directly above each event scan:
  *
  *  - a single scan is pinned in place;
  *  - a `Union` (`XtDb.events` with a pending backlog serves bucketed
  *    base + levels ∪ the flat backlog; `submitTx` adds its staged ops)
  *    is pinned branch by branch: the `_id` attribute maps into each
  *    branch by output position and follows plain attribute pass-through
  *    Projects and Filters down to the branch's scan. If any branch
  *    cannot be pinned (say its `_id` is computed), the whole union is
  *    left alone.
  *
  * The injected predicate is implied by the original filter, so it can
  * only remove rows the filter would drop anyway. `FileSourceStrategy`
  * then splits `_bucket` into partitionFilters or bucket pruning (1 of 16
  * buckets scanned) and pushes `_iid` to parquet (row-group stats +
  * dictionary pruning).
  *
  * Below a window the pinned input is also coalesced to one partition
  * (`Repartition(1, shuffle = false)`): it holds the rows of one iid, and
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the
  * windows' `ClusteredDistribution(_iid)` — so the exchange disappears
  * and the bucketed scan's mostly empty bucket partitions run as one
  * task. Streaming inputs are not coalesced.
  */
object IidBucketPruning extends Rule[LogicalPlan] with PredicateHelper {

  private val ID = Bitemporal.ID
  private val IIDC = Bitemporal.IID
  private val BUCKET = Bitemporal.BUCKET

  /** Mirrors XtDb.buildEvents / Ids.iidHex: iid = md5(cast(id as string)). */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Literal rendered exactly as `cast(lit as string)` would render it —
    * restricted to the types where that is unambiguous. */
  private def litString(l: Literal): Option[String] = l.dataType match {
    case IntegerType | LongType => Some(String.valueOf(l.value))
    case StringType if l.value != null => Some(l.value.toString)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val conj = splitConjunctivePredicates(cond)
      // skip when a _bucket conjunct is already present (incl. our own
      // injected filter) — gives the fixed-point batch convergence
      val hasBucket = conj.exists(_.references.exists(_.name == BUCKET))
      val target: Option[(ExprId, String)] =
        if (hasBucket) None
        else conj.collectFirst {
          case EqualTo(a: Attribute, l: Literal)
              if a.name == ID && litString(l).isDefined =>
            (a.exprId, md5hex(litString(l).get))
          case EqualTo(l: Literal, a: Attribute)
              if a.name == ID && litString(l).isDefined =>
            (a.exprId, md5hex(litString(l).get))
          case EqualTo(a: Attribute, Literal(v, StringType))
              if a.name == IIDC && v != null =>
            (a.exprId, v.toString)
          case EqualTo(Literal(v, StringType), a: Attribute)
              if a.name == IIDC && v != null =>
            (a.exprId, v.toString)
        }
      target match {
        case Some((idExpr, hex)) if !alreadyPruned(child, hex) =>
          descend(child, idExpr, hex, windowed = false)
            .map(c => f.copy(child = c)).getOrElse(f)
        case _ => f
      }
  }

  /** True when the subtree already carries the derived iid predicate. */
  private def alreadyPruned(plan: LogicalPlan, hex: String): Boolean =
    plan.exists {
      case Filter(c, _) => splitConjunctivePredicates(c).exists {
        case EqualTo(a: Attribute, Literal(v, StringType)) =>
          a.name == IIDC && String.valueOf(v) == hex
        case _ => false
      }
      case _ => false
    }

  private def safePartitionSpec(spec: Seq[Expression]): Boolean =
    spec.nonEmpty && spec.forall {
      case a: Attribute => a.name == IIDC || a.name == ID
      case _ => false
    }

  /** The nodes above the event input; None = no input could be pinned.
    * `idExpr` is the filtered key attribute, `_id` or `_iid`. */
  private def descend(plan: LogicalPlan, idExpr: ExprId, hex: String,
      windowed: Boolean): Option[LogicalPlan] = plan match {
    case p: Project =>
      descend(p.child, idExpr, hex, windowed).map(c => p.copy(child = c))
    case fl: Filter =>
      descend(fl.child, idExpr, hex, windowed).map(c => fl.copy(child = c))
    case sa: SubqueryAlias =>
      descend(sa.child, idExpr, hex, windowed).map(c => sa.copy(child = c))
    case w: Window if safePartitionSpec(w.partitionSpec) =>
      descend(w.child, idExpr, hex, windowed = true)
        .map(c => w.copy(child = c))
    case wgl: WindowGroupLimit if safePartitionSpec(wgl.partitionSpec) =>
      descend(wgl.child, idExpr, hex, windowed = true)
        .map(c => wgl.copy(child = c))
    case input => pin(input, idExpr, hex).map { pinned =>
      if (windowed && !pinned.isStreaming)
        Repartition(1, shuffle = false, pinned)
      else pinned
    }
  }

  /** Pin the event input: a scan, or every branch of a union, through
    * Projects and Filters. The key (`_id` or `_iid`) keeps its ExprId
    * only through plain attribute pass-through, so a computed key never
    * reaches a scan: None. */
  private def pin(plan: LogicalPlan, idExpr: ExprId, hex: String)
      : Option[LogicalPlan] = plan match {
    case leaf if leaf.children.isEmpty =>
      for {
        _ <- leaf.output.find(_.exprId == idExpr)
        iidA <- leaf.output.find(_.name == IIDC)
        bA <- leaf.output.find(_.name == BUCKET)
      } yield Filter(And(
        EqualTo(iidA, Literal(hex)),
        EqualTo(bA, Literal(hex.substring(0, 1)))), leaf)
    case p: Project => pin(p.child, idExpr, hex).map(c => p.copy(child = c))
    case fl: Filter => pin(fl.child, idExpr, hex).map(c => fl.copy(child = c))
    case u: Union =>
      val i = u.output.indexWhere(_.exprId == idExpr)
      // a positional union may put another column at the key's position
      val pinned = if (i < 0) Nil else u.children.map { c =>
        val a = c.output(i)
        if (a.name == u.output(i).name) pin(c, a.exprId, hex) else None
      }
      if (pinned.nonEmpty && pinned.forall(_.isDefined))
        Some(u.withNewChildren(pinned.flatten))
      else None
    case _ => None // unknown shape: prune nothing, stay correct
  }
}
