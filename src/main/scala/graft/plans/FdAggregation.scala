package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.StatsCatalog

/** FD-BASED GROUP-BY REDUCTION as a Catalyst optimizer rule — the
  * consumer that closes the loop on D87's functional-dependency
  * proofs, the way D78 closed it on uniqueness proofs: `GROUP BY
  * key, name` where the catalog PROVES key → name (Calcite's
  * RelMdColumnUniqueness-driven aggregate simplification, DB2's FD
  * registration — public designs) rewrites to `GROUP BY key` with
  * the determined column reconstructed as `max(name)` — which is
  * exact, because the FD says every key-group carries exactly one
  * name value (or exactly the NULL pattern: `determines` counts a
  * null struct as a value, and `max` over an all-NULL group is NULL
  * — both engines agree).
  *
  * Why it matters at 100 TB: the generated-BI shape `GROUP BY
  * surrogate_key, display_name` is everywhere, and the display name
  * is usually a WIDE string. Dropping it from the grouping key
  * narrows every exchange hash/compare and sort key from
  * (8 B + w-byte string) to 8 B, and — because the group count is
  * then provably ndv(key) — the Selinger estimator sizes the
  * exchange exactly. The determined column itself still ships once
  * per group as a max partial (same bytes a group key would ship);
  * the rewrite's own bill is a constant plan-time metadata read per
  * candidate (stamp-memoized), so it wins where the exchange
  * dominates — wide strings, high-cardinality keys — and is
  * measurably cost-neutral on small-group fixtures (BENCH_SCALE
  * round13_family discloses both).
  *
  * EXACTNESS argument: the FD is proven on the BASE table
  * ([[StatsCatalog.determines]]: exact-mode, current, null-free
  * determinant), and [[sourceOf]] verifies the path from that
  * relation UP to the aggregate consists only of row-PRESERVING
  * nodes — Filter / Project / Join / SubqueryAlias — each of which
  * only drops or duplicates base rows, so every input row still
  * carries a (key, name) pair drawn from the base table, groups by
  * (key, name) coincide with groups by key, and max(name) restores
  * the unique name under the original exprId — parents never see
  * the substitution. Anything else on the path VETOES the rewrite:
  * a Union in particular reuses its FIRST child's exprIds, so the
  * base relation would match while rows from the other branches owe
  * the FD nothing (the r13 advice's unsoundness — spec-pinned now).
  * exprId identity is the proof that both attributes are UNTOUCHED
  * relation columns (an Alias would re-key), same as
  * [[DictionaryRoutingRule.sourceOf]].
  *
  * Output-side guard: the rewrite fires only when every reference to
  * the determined column in the aggregate list is either the bare
  * grouping attribute (rewritten to the max alias) or sits inside an
  * aggregate function (exact, since the merged groups coincide). An
  * EMBEDDED non-aggregated reference — `upper(name)` alongside
  * `GROUP BY key, name` — would survive the rewrite referencing a
  * non-grouping, non-aggregated attribute (an invalid Aggregate), so
  * it bails instead (spec-pinned).
  *
  * Fail-closed: absent group artifact, stale watermark, approx-mode
  * stats, a nullable determinant, or determines = false all leave
  * the plan untouched (spec-pinned). Plan-time cost = the memoized
  * group-stats read + one watermark listing per candidate pair. */
class FdAggregationRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The matched base relation, reached ONLY through row-preserving
    * nodes. A node outside the allowlist (Union above all — its
    * output reuses the first child's exprIds, so a naive collect
    * would match a relation whose FD the other branches violate)
    * ends the search with None: fail-closed. */
  private def findRel(plan: LogicalPlan, a: AttributeReference,
      b: AttributeReference): Option[LogicalRelation] = plan match {
    case rel: LogicalRelation
        if rel.output.exists(_.exprId == a.exprId) &&
          rel.output.exists(_.exprId == b.exprId) => Some(rel)
    case _: Filter | _: Project | _: Join | _: SubqueryAlias =>
      plan.children.iterator.flatMap(findRel(_, a, b)).nextOption()
    case _ => None
  }

  /** (dir, table) when BOTH attributes are untouched columns of one
    * single-root `<dir>/<table>.parquet` relation under `child`,
    * reached only through row-preserving nodes. */
  private def sourceOf(child: LogicalPlan, a: AttributeReference,
      b: AttributeReference): Option[(String, String)] =
    findRel(child, a, b).flatMap { rel =>
      rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.toList match {
            case p :: Nil if p.getName.endsWith(".parquet") =>
              Some((p.getParent.toString, p.getName.stripSuffix(".parquet")))
            case _ => None
          }
        case _ => None
      }
    }

  /** true when every occurrence of `b` inside `e` sits under an
    * aggregate function — exact after the rewrite, because the FD
    * makes the merged key-groups coincide with the original
    * (key, name) groups. A bare embedded reference (outside any
    * aggregate) fails: it would reference a dropped grouping column. */
  private def refsOnlyUnderAgg(e: Expression, b: AttributeReference): Boolean =
    e match {
      case _: AggregateExpression => true
      case ar: AttributeReference if ar.exprId == b.exprId => false
      case _ => e.children.forall(refsOnlyUnderAgg(_, b))
    }

  /** Output-side safety: each aggregate-list entry either IS the bare
    * determined attribute (rewritten to max) or references it only
    * under aggregate functions. */
  private def outputsSafe(aggExprs: Seq[NamedExpression],
      b: AttributeReference): Boolean =
    aggExprs.forall {
      case g: AttributeReference => true
      case other => refsOnlyUnderAgg(other, b)
    }

  /** The determined column, reconstructed exactly: max over a group
    * that the FD proves single-valued. */
  private def maxOf(b: AttributeReference): Alias =
    Alias(Max(b).toAggregateExpression(), b.name)(exprId = b.exprId)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, aggExprs, child, _)
        if groups.size >= 2 && groups.forall(_.isInstanceOf[AttributeReference]) =>
      val attrs = groups.map(_.asInstanceOf[AttributeReference])
      // find ONE proven (determinant, determined) pair per pass; the
      // fixed-point batch re-runs the rule, so chains (a -> b, a -> c)
      // reduce fully across iterations
      val proven = attrs.combinations(2).flatMap { pair =>
        Seq((pair(0), pair(1)), (pair(1), pair(0))).find { case (a, b) =>
          outputsSafe(aggExprs, b) &&
          sourceOf(child, a, b).exists { case (dir, table) =>
            StatsCatalog.determines(spark, dir, table, a.name, b.name)
              .contains(true)
          }
        }
      }.toSeq.headOption
      proven match {
        case None => agg
        case Some((_, b)) =>
          agg.copy(
            groupingExpressions = groups.filterNot {
              case g: AttributeReference => g.exprId == b.exprId
              case _ => false
            },
            aggregateExpressions = aggExprs.map {
              case g: AttributeReference if g.exprId == b.exprId => maxOf(b)
              case other => other
            })
      }
  }
}
