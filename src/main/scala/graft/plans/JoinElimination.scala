package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.StatsCatalog

/** JOIN ELIMINATION as a Catalyst optimizer rule — the classic
  * semantic rewrite (SQL Server's unused-join removal, Calcite's
  * `ProjectJoinRemoveRule`, Oracle's join elimination — all public
  * designs) that Spark itself does not ship because it needs a fact
  * the planner doesn't have: KEY UNIQUENESS. A left-outer join whose
  * right side contributes NO referenced columns is a no-op exactly
  * when the right join key is unique over its non-null values — each
  * left row then yields exactly one output row (one match, or one
  * null-padded miss; NULL right keys never equi-match, so duplicate
  * NULLs cannot fan out) — and the join can be deleted from the plan:
  * at 100 TB that is an entire dimension scan + broadcast/shuffle
  * that never runs, for free, on every generated-BI query that joins
  * a wide view and reads two columns.
  *
  * The uniqueness fact comes from [[StatsCatalog.uniqueNonNull]] —
  * EXACT-mode ANALYZE stats, fingerprint-current and
  * watermark-intact — so the rewrite is licensed by a proof, not a
  * heuristic, and fails CLOSED (plan untouched) when stats are
  * absent, approximate, or stale. Extra join conjuncts beyond the
  * unique-key equality only ever REDUCE matches below one, which a
  * left-outer join null-pads back to exactly one row — so they
  * cannot block elimination. Inner joins are deliberately NOT
  * eliminated: that needs referential integrity on the LEFT side
  * (every left key present on the right), a fact no right-side
  * statistic can prove.
  *
  * Matched shape (deliberately narrow, exactness first):
  *
  *   Project | Aggregate  — references ⊆ left.output
  *     +- Join LeftOuter, cond has EqualTo(leftAttr, rightKeyAttr)
  *          +- left (anything)
  *          +- Filter* / pure-attribute Project*       (cardinality-
  *               +- Relation <table>.parquet            safe wrappers)
  *
  * The right key attribute is traced through the wrapper chain to the
  * relation's own column so the stats lookup names the real column.
  * The rewrite keeps the parent node's expressions (and so its
  * exprIds) untouched — parents never see the substitution. Installed
  * per session via [[RuleSwitch.install]].
  *
  * Plan-time cost, stated: a CANDIDATE join (left-outer, unused
  * right side, single-root parquet relation) pays one watermark
  * listing check and one kilobyte stats read during optimization —
  * the same metadata-read class [[RollupRoutingRule]] pays per
  * routable aggregate; non-candidate shapes pay a pattern match
  * only. That is the price of a proof-carrying rewrite; a deployment
  * optimizing many candidate joins per second would memoize the
  * (listing, column) → verdict pair. */
class JoinEliminationRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** (dir, table) when the plan is a relation over a single
    * `<dir>/<table>.parquet` root, optionally beneath Filters and
    * pure-attribute Projects — both cardinality-safe for a LEFT outer
    * parent (a filtered unique key is still unique; a projection
    * changes no rows). Returns the relation too, for key tracing. */
  private def tableOf(plan: LogicalPlan): Option[(String, String, LogicalRelation)] =
    plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        tableOf(child)
      case Filter(_, child) => tableOf(child)
      case rel: LogicalRelation =>
        rel.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.toList match {
              case p :: Nil =>
                JoinElimination.registeredFor(p)
                  .map { case (d, t) => (d, t, rel) }
                  .orElse(
                    if (p.getName.endsWith(".parquet"))
                      Some((p.getParent.toString,
                        p.getName.stripSuffix(".parquet"), rel))
                    else None)
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }

  /** Split a conjunction into conjuncts. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** True iff some conjunct equi-joins a left attribute to a right
    * attribute that is a PROVEN-unique column of the right-side
    * table. Pure-attribute wrappers preserve name and exprId, so the
    * right attribute's own name IS the relation column name once we
    * confirm it resolves to the relation's output. */
  private def hasUniqueRightKey(left: LogicalPlan, right: LogicalPlan,
      cond: Expression): Boolean =
    tableOf(right).exists { case (dir, table, rel) =>
      val relByExprId = rel.output.map(a => a.exprId -> a.name).toMap
      conjuncts(cond).exists {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val rightKey =
            if (left.outputSet.contains(a) && right.outputSet.contains(b))
              Some(b)
            else if (left.outputSet.contains(b) && right.outputSet.contains(a))
              Some(a)
            else None
          rightKey.flatMap(r => relByExprId.get(r.exprId))
            .exists(colName => StatsCatalog.uniqueNonNull(spark, dir, table, colName))
        case _ => false
      }
    }

  private def eliminable(left: LogicalPlan, right: LogicalPlan,
      refs: AttributeSet, cond: Option[Expression]): Boolean =
    refs.subsetOf(left.outputSet) &&
      cond.exists(c => hasUniqueRightKey(left, right, c))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, Join(l, r, LeftOuter, cond, _))
        if eliminable(l, r, AttributeSet(list.flatMap(_.references)), cond) =>
      p.copy(child = l)
    case a @ Aggregate(group, aggs, Join(l, r, LeftOuter, cond, _), _)
        if eliminable(l, r,
          AttributeSet((group ++ aggs).flatMap(_.references)), cond) =>
      a.copy(child = l)
  }
}

object JoinElimination {
  /** Registered table identities: canonical path → the (dir, table)
    * whose ANALYZE stats govern it — the catalog-alias face
    * [[RollupRouting.registerEventsPath]] established (r10 ask):
    * registration is the caller's ASSERTION that the path reads
    * exactly `<dir>/<table>.parquet`'s rows; the stats fingerprint
    * and watermark still veto staleness against the ORIGINAL table,
    * so an alias inherits precisely the original's proof, never a
    * weaker one. Keyed by the FULL qualified URI (scheme + authority
    * included — the r11 advice on the routing registry: same-path
    * tables on different filesystems must not collide). */
  private val registeredPaths =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Canonical FULL qualified URI (scheme + authority), exactly
    * [[RollupRouting]]'s discipline. */
  private def canon(p: org.apache.hadoop.fs.Path): String =
    graft.operators.IndexStore.canonUri(p)

  def registerTablePath(path: String, dir: String, table: String): Unit = {
    registeredPaths.put(
      canon(new org.apache.hadoop.fs.Path(path)), (dir, table)); ()
  }

  private[plans] def registeredFor(
      p: org.apache.hadoop.fs.Path): Option[(String, String)] =
    Option(registeredPaths.get(canon(p)))
}
