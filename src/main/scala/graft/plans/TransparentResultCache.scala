package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.operators.ResultCache

/** TRANSPARENT RESULT-CACHE SERVING as a Catalyst optimizer rule —
  * the last of the engine's serving tiers to go transparent (the r13
  * verdict's "API-level, not transparent" finding): rollup routing
  * (D50/D81), dictionary routing (D84) and FD reduction (D88) already
  * rewrite plans; with this rule a PUBLISHED query result serves the
  * next identical query whatever client wrote it — Snowflake's query
  * result reuse at the optimizer layer, a public design.
  *
  * Mechanics: [[ResultCache.publish]] writes an entry keyed by the
  * query's OPTIMIZED canonicalized plan ‖ source stamp (the form this
  * rule sees — `through`'s analyzed-plan keyspace is disjoint and
  * untouched). On every optimization, the rule keys the plan it was
  * handed; a COMMITTED entry (an intact stamp covering the key) whose
  * schema matches substitutes the whole plan with a scan of the
  * entry, aliased back to the ORIGINAL output exprIds so the query's
  * schema is oblivious to the substitution.
  *
  * Exactness is the cache's own contract: the canonicalized key makes
  * any semantic difference a different entry, the source stamp makes
  * any mutated input a miss, and the uncacheable screen
  * (non-deterministic expressions, non-file leaves, subqueries
  * included) refuses the keyspace entirely — so the rule is
  * false-negative-safe: at worst the query computes normally.
  * CURRENT-TIME expressions need no screen in THIS keyspace: the
  * optimizer's ComputeCurrentTime freezes them to literals of the
  * query's moment before any user rule runs, so the evaluated
  * instant is part of the key — same-moment reuse is exact by
  * construction, a later moment re-keys (spec-pinned; contrast
  * `through`'s analyzed-plan keyspace, where the screen is load-
  * bearing because analysis has not yet frozen time).
  *
  * Guards, each fail-closed:
  *   - a plan already reading a result-cache entry never re-keys
  *     (the substituted plan's own optimization is a fixed point)
  *     and never publishes;
  *   - a schema mismatch between plan output and entry (names,
  *     types, arity) vetoes the substitution; the entry's schema is
  *     the one its writer recorded in its part file's footer, and an
  *     entry without one vetoes too;
  *   - keying costs one canonicalization, the stamp probe's FS
  *     listings and one footer read per optimization — the
  *     EnsureWatermark class of plan-time cost — and NO jobs: the
  *     entry is read with the
  *     plan's own schema, so nothing infers one, and rows load when
  *     the query executes.
  *
  * Scope note, stated like `through`'s: the key is the plan form the
  * optimizer hands user rules. If a later optimizer batch reshapes
  * the plan after this rule ran, publish (which keys the FINAL
  * optimized plan) and serve (which keys what it saw) could disagree
  * — the result is a MISS, never a wrong serve; the spec pins the
  * real shapes hitting. */
class TransparentResultCacheRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ResultCache.readsCache(plan)) return plan
    ResultCache.keyOf(plan).flatMap(ResultCache.entry) match {
      case Some(part) =>
        val compatible = ResultCache.entrySchema(part).exists { entry =>
          entry.size == plan.output.size &&
            entry.zip(plan.output).forall { case (c, o) =>
              c.name == o.name && c.dataType == o.dataType
            }
        }
        if (!compatible) plan
        else {
          val rel = spark.read.schema(plan.schema).parquet(part)
            .queryExecution.analyzed
          Project(rel.output.zip(plan.output).map { case (c, o) =>
            Alias(c, o.name)(exprId = o.exprId)
          }, rel)
        }
      case _ => plan
    }
  }
}
