package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Descending, EqualTo, Expression, ExpressionSet, GreaterThanOrEqual, IntegerLiteral, IsNotNull, LessThanOrEqual, Literal, NullsLast, PredicateHelper, RowNumber, SortOrder, WindowExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, Join, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Whole-operator custom-plan path for the as-of join (SURVEY §2.4 Op-35
  * family): a dedicated logical node, a planner strategy lowering it to
  * [[AsOfJoinExec]], and an optimizer rule restoring probe-side predicate
  * pushdown through the opaque node — the
  * `LogicalPlan + Rule + SparkStrategy + SparkPlan` extension tier, wired
  * through the same `SparkSessionExtensions` the SQL functions use
  * ([[graft.functions.GraftExtensions]]). [[graft.operators.AsOfJoin]]'s
  * `asOf` and `nearest` both build this node; [[RewriteNaiveAsOf]] builds
  * it from the naive join + row_number shape.
  *
  * Semantics: every probe row picks up the value columns of ONE build row
  * with the same key — under [[AsOfDirection.Backward]] the LATEST with
  * build ts ≤ probe ts, under [[AsOfDirection.Nearest]] the one closest in
  * time either way, ties to the earlier; unmatched probes null-extend;
  * NULL keys/timestamps never match (SQL join-key semantics). The exec
  * merges the two sorted streams directly — per partition one forward
  * pass, O(1) state (the current key's best build row), no window buffer.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        probeKey: Attribute, probeTs: Attribute,
                        buildKey: Attribute, buildTs: Attribute,
                        valueAttrs: Seq[Attribute],
                        direction: AsOfDirection) extends BinaryNode {
  require(probeKey.dataType == buildKey.dataType &&
    probeTs.dataType == buildTs.dataType,
    "as-of key/ts types must match across sides")
  require(direction == AsOfDirection.Backward ||
    AsOfJoinExec.backWins.isDefinedAt(probeTs.dataType),
    "nearest as-of needs a long, timestamp, int, date or double ts, got " +
      probeTs.dataType.simpleString)

  override def output: Seq[Attribute] =
    left.output ++ valueAttrs.map(_.withNullability(true))

  // left semantics: one output row per probe row
  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Which build row an as-of probe picks: the latest at or before its ts
  * (`Backward`, the feature-store lookup), or the closest in either
  * direction with ties to the earlier (`Nearest`, sensor alignment). */
sealed trait AsOfDirection
object AsOfDirection {
  case object Backward extends AsOfDirection
  case object Nearest extends AsOfDirection
}

/** Lowers [[AsOfJoinPlan]] to the merge exec. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, pk, pt, bk, bt, vals, dir) =>
      AsOfJoinExec(pk, pt, bk, bt, vals, dir, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Catalyst cannot see through a custom node, so a Filter sitting above the
  * as-of join would otherwise stop the probe-side predicate short of the
  * scan (no row-group pruning, join input unpruned). The as-of join is
  * per-probe-row (left semantics), so any deterministic conjunct touching
  * only probe columns commutes with it — push those below, keep the rest
  * above. Fixed point: after one push the remaining conjuncts are
  * unpushable, so the rule no-ops on its own output. */
object PushFilterThroughAsOf extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(a.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(push.reduce(And), a.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Rewrites the NAIVE as-of formulation to [[AsOfJoinPlan]] — the rule that
  * protects USERS, not just authors of [[graft.operators.AsOfJoin]]. The
  * shape every feature-store tutorial writes,
  *
  * {{{
  *   probe.join(build, pk === bk && bts <= pts, "left")           // or inner
  *     .withColumn("rn", row_number().over(
  *       Window.partitionBy(probeId).orderBy(bts.desc)))
  *     .where(col("rn") === 1)
  * }}}
  *
  * materialises O(|probe| × versions-per-key) join rows before the window
  * throws all but one per probe row away (operators/AsOfJoin.scala documents
  * exactly why that dies at scale). The sorted-merge exec computes the
  * identical result in O(|probe| + |build|), so this rule recognises the
  * shape and swaps the subtree.
  *
  * Soundness guards (the rewrite fires ONLY when provably equivalent):
  *   - the window partition keys cover a DISTINCT KEY of the probe side
  *     (Catalyst's propagated `distinctKeys`, e.g. after an aggregate or
  *     dropDuplicates) — "one row per partition group" is then exactly
  *     "one row per probe row", the as-of semantics. Without the
  *     distinctness proof a group could span several probe rows and
  *     row_number() = 1 would keep one row per GROUP, which as-of does not;
  *   - single row_number over a single `bts DESC` (NULLS LAST) order key,
  *     the build-side attr of the one non-equi conjunct `bts <= pts`;
  *   - join is LEFT OUTER (null-extension matches as-of exactly) or INNER
  *     (rewritten with an IS NOT NULL filter on the matched build ts — a
  *     match always carries a non-null ts, so the filter reproduces the
  *     inner join's unmatched-row drop).
  *
  * The replacement preserves the subtree's schema: the join's columns keep
  * their expression ids through [[AsOfJoinPlan]]'s value attrs, and the rn
  * column survives as a literal 1 under its old id (every surviving row was
  * rank 1 by construction). An optimizer-inserted [[WindowGroupLimit]]
  * below the window (rank-limit pushdown) is recognised and dropped — the
  * rewrite subsumes it. */
object RewriteNaiveAsOf extends Rule[LogicalPlan] with PredicateHelper {

  // rn = 1 in its common spellings
  private def keepsFirst(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case GreaterThanOrEqual(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case _ => false
  }

  // the window child modulo nodes other rules may already have inserted
  private def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case wgl: WindowGroupLimit => unwrap(wgl.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(fc, w: Window) => rewrite(fc, w).getOrElse(f)
  }

  private def rewrite(fc: Expression, w: Window): Option[LogicalPlan] = {
    // exactly one window column, and it is row_number()
    val rnAlias = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) => a
      case _ => return None
    }
    if (!keepsFirst(fc, rnAlias.toAttribute)) return None
    // exactly one DESC NULLS LAST order key (the as-of "latest version")
    val orderKey = w.orderSpec match {
      case Seq(SortOrder(a: Attribute, Descending, NullsLast, _)) => a
      case _ => return None
    }
    // optional attribute-only projection between window and join (pruning)
    val (mid, join) = unwrap(w.child) match {
      case p @ Project(pl, j: Join) if pl.forall(_.isInstanceOf[Attribute]) =>
        (Some(p), j)
      case j: Join => (None, j)
      case _ => return None
    }
    if (join.joinType != Inner && join.joinType != LeftOuter) return None
    val (l, r) = (join.left, join.right)
    // condition = exactly {pk = bk, bts <= pts} (either orientation)
    val conjuncts = splitConjunctivePredicates(join.condition.getOrElse(return None))
    if (conjuncts.length != 2) return None
    var equi: Option[(Attribute, Attribute)] = None // (pk, bk)
    var range: Option[(Attribute, Attribute)] = None // (pts, bts)
    def classify(a: Attribute, b: Attribute): Option[(Attribute, Attribute)] =
      if (l.outputSet.contains(a) && r.outputSet.contains(b)) Some((a, b))
      else if (l.outputSet.contains(b) && r.outputSet.contains(a)) Some((b, a))
      else None
    conjuncts.foreach {
      case EqualTo(a: Attribute, b: Attribute) =>
        equi = equi.orElse(classify(a, b))
      case LessThanOrEqual(a: Attribute, b: Attribute) =>
        // a <= b is as-of iff the BUILD side is the smaller one
        if (r.outputSet.contains(a) && l.outputSet.contains(b))
          range = range.orElse(Some((b, a)))
      case GreaterThanOrEqual(a: Attribute, b: Attribute) =>
        if (l.outputSet.contains(a) && r.outputSet.contains(b))
          range = range.orElse(Some((a, b)))
      case _ => ()
    }
    val (pk, bk) = equi.getOrElse(return None)
    val (pts, bts) = range.getOrElse(return None)
    // the ranked ts must be the range conjunct's build ts
    if (!orderKey.semanticEquals(bts)) return None
    if (pk.dataType != bk.dataType || pts.dataType != bts.dataType) return None
    // partition keys: probe-side attrs covering a distinct key of the probe
    val partAttrs = w.partitionSpec.flatMap {
      case a: Attribute if l.outputSet.contains(a) => Some(a)
      case _ => None
    }
    if (partAttrs.length != w.partitionSpec.length) return None
    val pSet = ExpressionSet(partAttrs)
    if (!l.distinctKeys.exists(_.subsetOf(pSet))) return None
    val asof = AsOfJoinPlan(l, r, pk, pts, bk, bts, r.output,
      AsOfDirection.Backward)
    val inner =
      if (join.joinType == Inner)
        Filter(IsNotNull(bts.withNullability(true)), asof)
      else asof
    val projected = mid.map(p => Project(p.projectList, inner)).getOrElse(inner)
    val rn = Alias(Literal(1), rnAlias.name)(exprId = rnAlias.exprId)
    Some(Project(projected.output :+ rn, projected))
  }
}
