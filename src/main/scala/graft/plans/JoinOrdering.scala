package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.planToDf

import graft.operators.StatsCatalog

/** TRANSPARENT JOIN ORDERING as a Catalyst optimizer rule (D97) —
  * the D93 zero-client-change discipline applied to D85's Selinger
  * enumeration: a dashboard writing the three-way join in the WORST
  * order (fact–fact first) got nothing from [[JoinOrderer]] unless
  * it called the API. This rule matches a chain of plain INNER
  * equi-joins whose leaves are all [[SimpleSides]] over ANALYZEd
  * tables, hands the leaves + equality edges to [[JoinOrderer
  * .choose]] (the exact DP through 10 relations, the greedy
  * construction beyond — D95), and splices the chosen left-deep
  * chain back under the original output exprIds. The declared order
  * becomes what it always should have been: a statement of WHAT to
  * join, not HOW.
  *
  * COMPOSITION with the steering rule (D93), deliberately staged:
  * this rule reorders with NO hints ([[JoinOrderer.choose]] runs at
  * broadcastRows = 0), leaving plain Join nodes — exactly the shape
  * the steering rule then dispatches per-join (broadcast hint /
  * salted rewrite / pass-through). [[enable]] inserts this rule
  * BEFORE any registered steering rule so each fixed-point pass
  * orders first, steers second; a steered (Project-wrapped) subtree
  * no longer reads as a simple leaf, so the two rewrites never
  * fight.
  *
  * Fail-closed vetoes, each leaving the plan untouched: any hint
  * anywhere in the chain, any non-inner join, a leaf that is not a
  * simple single-relation chain, duplicate attribute names inside a
  * leaf (the rebuild resolves columns by name), more than
  * [[JoinOrderer.MaxRelsGreedy]] leaves, overlapping leaf outputs
  * (self-joins of one Dataset instance), any non-deterministic
  * residual conjunct (not freely movable), and — through the DP's
  * own discipline — any un-ANALYZEd leaf (choose answers None).
  * NON-EQUALITY conjuncts no longer veto (r16): they re-apply as
  * residual Filters at the LOWEST rebuilt-chain node whose output
  * covers their references (deepest-legal placement — the declared
  * plan's early filtering survives the reorder), while a join whose
  * condition carries NO equality edge disconnects the graph and the
  * DP refuses, so a pure theta join still passes through untouched.
  *
  * FIXED-POINT stability, argued: the rewrite fires only when the
  * chosen order differs from the chain's current leaf order. Leaves
  * are fed to the DP in a canonical order (sorted by canonicalized
  * subtree rendering), so the choice is a pure function of
  * (leaf set, edges, stats) — independent of the tree shape that
  * reached it. After one rewrite the chain IS the chosen order, the
  * next pass chooses it again, the guard holds the plan still; and
  * every prefix of the chosen chain is itself the choice for its own
  * leaf subset (the DP reconstructs from optimal sub-chains with
  * index ties fixed by the canonical order; the greedy path picks
  * each step's minimum over a superset of the prefix's candidates),
  * so re-matching an inner sub-chain also holds still. */
class TransparentJoinOrderingRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  /** Flatten a maximal chain of eligible inner joins: the left-deep
    * (or bushy) leaf sequence in tree order + every JOIN condition
    * conjunct + every INTERIOR-FILTER conjunct (separately — see
    * below). INTERIOR wrappers are transparent (r15 for
    * attribute-only Projects; r16 for Filters and SubqueryAliases —
    * the r15 verdict's #5, the shapes real BI plans put between
    * joins):
    *
    *  - attribute-only Projects mint no exprIds, so conditions still
    *    bind and the top-level output splice restores the pruned
    *    shape;
    *  - a Filter between inner joins commutes with them (an inner
    *    chain is a filter over a product): its conjuncts re-apply at
    *    the DEEPEST legal node of the rebuilt chain — except
    *    two-leaf equalities, which ARE join edges and join the graph
    *    (they came from exactly the predicate-into-join folding the
    *    optimizer does when shapes allow);
    *  - a SubqueryAlias only re-qualifies names (same exprIds), so
    *    stripping it is invisible to the exprId-addressed rebuild.
    *
    * The `≤ 1 leaf` guard keeps LEAF-SIDE wrappers with their leaf:
    * a pruning Project / pushed Filter / alias over one relation
    * reaches the scan and must survive the rebuild untouched. */
  private def flatten(p: LogicalPlan)
      : (Seq[LogicalPlan], Seq[Expression], Seq[Expression]) =
    p match {
      case Join(l, r, Inner, Some(cond), hint) if hint == JoinHint.NONE =>
        val (ll, lc, lr) = flatten(l)
        val (rl, rc, rr) = flatten(r)
        (ll ++ rl, lc ++ rc ++ conjuncts(cond), lr ++ rr)
      case pr @ Project(list, child)
          if list.forall(_.isInstanceOf[AttributeReference]) =>
        val (cl, cc, cr) = flatten(child)
        if (cl.size <= 1) (Seq(pr), Nil, Nil) else (cl, cc, cr)
      case f @ Filter(cond, child) =>
        val (cl, cc, cr) = flatten(child)
        if (cl.size <= 1) (Seq(f), Nil, Nil)
        else (cl, cc, cr ++ conjuncts(cond))
      case sa: SubqueryAlias =>
        val (cl, cc, cr) = flatten(sa.child)
        if (cl.size <= 1) (Seq(sa), Nil, Nil) else (cl, cc, cr)
      case leaf => (Seq(leaf), Nil, Nil)
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The LEARNED-TIER opt-in (r14 verdict #2): the session config
    * `spark.graft.ordering.tiers` — a comma list of `mcv` and/or
    * `feedback` — threads the estimator's D92/D96 tiers into this
    * rule's enumeration, so ONE recorded observation (or an MCV
    * list) can flip the TRANSPARENT plan with zero client code (the
    * q86+q87 composition, gated by q90). Unset (the default) runs
    * the declared uniform algebra q87 pins — the config IS the
    * declaration of which algebra the session wants, the same
    * contract as the estimateRows flags. */
  private def tiers(): (Boolean, Boolean) = {
    val t = spark.conf.get("spark.graft.ordering.tiers", "")
      .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    (t.contains("mcv"), t.contains("feedback"))
  }

  private def reorder(j: Join): Option[LogicalPlan] = {
    val (leaves, joinConds, residuals) = flatten(j)
    if (leaves.size < 3 || leaves.size > JoinOrderer.MaxRelsGreedy) return None
    // every leaf: a simple ANALYZEd single-relation chain with
    // unambiguous column names and disjoint outputs
    val sides = leaves.map(SimpleSides.of)
    if (sides.exists(_.isEmpty)) return None
    if (leaves.exists(l => l.output.map(_.name).distinct.size != l.output.size))
      return None
    if (leaves.map(_.outputSet).reduce(_ ++ _).size !=
        leaves.map(_.output.size).sum) return None
    // evidence per leaf (r16, the steering rule's extension applied
    // here): an exact ANALYZE of the live listing, OR the O(batch)-
    // maintained stats covering it — the estimator already serves
    // the maintained tier, so a table under streaming ingest keeps
    // participating in transparent ordering with zero full rescans
    if (sides.flatten.exists { case (_, dir, table) =>
        StatsCatalog.statsIfReady(spark, dir, table).isEmpty &&
          graft.operators.StatsMaintain
            .statsIfCurrent(spark, dir, table).isEmpty }) return None
    def leafOf(a: AttributeReference): Option[Int] =
      leaves.indexWhere(_.outputSet.contains(a)) match {
        case -1 => None
        case i => Some(i)
      }
    // conjunct classification (r16): two-leaf equalities ARE join
    // edges; every OTHER conjunct — whether it arrived in a join
    // condition (Catalyst folds a non-pushable interior filter into
    // the join it sits on) or in an interior Filter — re-applies as
    // a residual at the DEEPEST covering node of the rebuilt chain
    // (the placement below). Legal because an inner chain is a
    // filter over a product: a conjunct may evaluate at any point
    // where its attributes exist. A join left with NO equality edges
    // simply disconnects the graph and the DP refuses — never a
    // cartesian.
    val (edgeConds, residFilters) = (joinConds ++ residuals).partition {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (for { la <- leafOf(a); lb <- leafOf(b) } yield la != lb)
          .getOrElse(false)
      case _ => false
    }
    if (residFilters.exists(_.references.exists(a =>
        !leaves.exists(_.outputSet.contains(a))))) return None
    // a NON-DETERMINISTIC residual is not freely movable (its row
    // set depends on where it evaluates) — veto, plan untouched
    if (residFilters.exists(!_.deterministic)) return None
    val edgesOpt = edgeConds.map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        for {
          la <- leafOf(a); lb <- leafOf(b)
          if la != lb
        } yield (la, a.name, lb, b.name)
      case _ => None
    }
    if (edgesOpt.exists(_.isEmpty)) return None
    // canonical leaf order: the DP's choice must be a function of the
    // leaf SET, not of the tree shape that reached it (fixed point).
    // Two leaves with the SAME canonical form (a self-join via two
    // reads) would make the canonical order tree-dependent — veto.
    val renders = leaves.map(_.canonicalized.toString)
    if (renders.distinct.size != renders.size) return None
    val canon = leaves.zipWithIndex
      .sortBy { case (l, i) => (l.canonicalized.toString, i) }
    val pos = canon.map(_._2).zipWithIndex.toMap // original idx -> canon idx
    val rels = canon.zipWithIndex.map { case ((l, _), ci) =>
      s"r$ci" -> planToDf(spark, l)
    }
    val edges = edgesOpt.flatten.map { case (la, an, lb, bn) =>
      JoinOrderer.Edge(s"r${pos(la)}", an, s"r${pos(lb)}", bn)
    }
    // steady-state memo (r14 review): re-optimizing an ALREADY-
    // ordered chain re-ran the full 2ⁿ estimation sweep only for the
    // chosen==current guard to say "hold still". The decision is a
    // pure function of (leaf set, edges, stats artifacts), so it
    // memoizes on the canonical renders + edge list + the stats
    // artifacts' watermark STAMPS — a re-ANALYZE changes a stamp and
    // re-keys the memo, the fail-closed discipline intact. Only the
    // hold-still answer is served from the memo; a differing cached
    // order still reruns the enumeration once to rebuild the chain.
    val currentOrder: Seq[String] = leaves.indices.map(i => s"r${pos(i)}")
    val (useMcv, useFeedback) = tiers()
    // the steady-state memo now covers the LEARNED tiers too (r16,
    // the r15 verdict's #6): the learned artifacts DO have
    // watermarks — the feedback store's directory listing and the
    // per-table MCV artifact listings — so instead of bypassing the
    // memo (every pass re-enumerated, the documented opt-in price),
    // the key extends with those stamps: an unchanged store serves
    // the memoized hold-still, while ONE new observation or MCV
    // build/maintenance re-keys it and the next pass re-enumerates
    // (the q90 flip fires exactly as before). FS-metadata cost only.
    val stampKey = sides.flatten.map { case (_, d, t) =>
      graft.operators.EnsureWatermark
        .current(StatsCatalog.statsPath(d, t))
        .map(_.version)
        // a maintained-evidence leaf keys on its LIVE listing and the
        // maintained stats' commit version: every maintenance moves
        // one of them, so the memo re-keys exactly when the
        // maintained stats can have changed
        .getOrElse("maint:" + graft.operators.StatsMaintain.statsStamp(d, t))
    }.mkString("|")
    val tierStamp =
      (if (useMcv) sides.flatten.map { case (_, d, t) =>
        StatsCatalog.mcvTierStamp(d, t)
      }.mkString("|") else "off") + "::" +
        (if (useFeedback) graft.operators.CardFeedback.storeStamp()
        else "off")
    val memoKey = canon.map(_._1.canonicalized.toString).mkString("||") +
      "::" + edges.sortBy(e => (e.a, e.aCol, e.b, e.bCol)).mkString(";") +
      "::" + stampKey + "::" + tierStamp
    val cached = JoinOrdering.chosenMemo.get(memoKey)
    if (cached != null && cached == currentOrder) return None
    // broadcastRows = 0: ordering leaves hints to the steering rule
    val chosen = JoinOrderer.choose(spark, rels, edges, broadcastRows = 0L,
      useMcv = useMcv, useFeedback = useFeedback)
      .getOrElse(return None)
    if (JoinOrdering.chosenMemo.size > 1024) JoinOrdering.chosenMemo.clear()
    JoinOrdering.chosenMemo.put(memoKey, chosen.order)
    // the guard that makes the fixed point: already in this order?
    if (chosen.order == currentOrder) return None
    val chain = chosen.df.queryExecution.analyzed
    // residual filters re-apply at the LOWEST chain node whose output
    // covers their references (r16 close: top-only placement was the
    // documented trade — a residual over the innermost pair now
    // filters before the later joins see the rows, like the declared
    // plan did). transformUp visits bottom-up, so the first covering
    // Join wins; anything uncovered by an interior node lands on top.
    // The re-matched chain reads the same leaf set and edge set (the
    // placed Filters are interior-transparent, their two-leaf
    // equalities already live in the join conditions), so the fixed
    // point holds wherever they sit.
    val rebuilt =
      if (residFilters.isEmpty) chain
      else {
        var remaining = residFilters
        val placed = chain.transformUp {
          case jn: Join =>
            val (here, rest) =
              remaining.partition(_.references.subsetOf(jn.outputSet))
            remaining = rest
            if (here.isEmpty) jn else Filter(here.reduce(And), jn)
        }
        if (remaining.isEmpty) placed
        else Filter(remaining.reduce(And), placed)
      }
    Some(Project(j.output, rebuilt))
  }

  /** Manual recursion: a rewritten chain is NOT re-entered in the
    * same pass (the guard keeps later passes still). */
  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    case j @ Join(_, _, Inner, Some(_), hint) if hint == JoinHint.NONE =>
      reorder(j) match {
        case Some(newTree) => newTree
        case None => j.mapChildren(rewrite)
      }
    case other => other.mapChildren(rewrite)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)
}

object JoinOrdering {
  /** The steady-state memo (see [[TransparentJoinOrderingRule]]'s
    * reorder): (canonical leaves ‖ edges ‖ stats stamps) → chosen
    * order. Bounded; a clear only re-pays one enumeration. */
  private[plans] val chosenMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
}
