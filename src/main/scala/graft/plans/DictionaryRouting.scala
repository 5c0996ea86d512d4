package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StringType

import graft.operators.{Dictionary, EnsureWatermark}

/** DICTIONARY-ENCODED AGGREGATION as a Catalyst optimizer rule — the
  * D50 routing discipline applied to D79's order-preserving
  * dictionaries (the r12 verdict's ask #6): a user writes the plain
  * `GROUP BY <string column>` and, when a persisted dictionary for
  * that exact table build exists, the optimizer rewrites the plan to
  * aggregate in CODE SPACE — encode join below the aggregate, group
  * by the 8-byte code, decode join above on RESULT-sized rows. Every
  * exchange between scan and result then moves longs instead of
  * strings; with a countDistinct in the aggregate list the Expand
  * doubles the rows it shuffles, so at 100 TB the saving is the
  * average string width × corpus × (1 + expand factor) of shuffle
  * mass. This is what Parquet does inside a page and C-Store/Vertica
  * did table-wide (public designs), lifted to the plan layer where
  * the ENGINE applies it to queries that never heard of it.
  *
  * EXACTNESS argument: the dictionary is COMPLETE over its table
  * build by construction ([[Dictionary.ensure]] scans the same
  * fingerprint-keyed listing), and any child of the matched aggregate
  * only ever FILTERS/projects/joins that table's rows, so every
  * non-null group value has exactly one code (value ↔ code is a
  * bijection on non-nulls) and NULL encodes to the NULL code group —
  * grouping by code therefore partitions rows IDENTICALLY to grouping
  * by value, every aggregate over non-grouped columns is unchanged,
  * and the decode join restores the value (NULL for the NULL group)
  * under the original exprIds, so parents never see the substitution.
  * Staleness fails closed twice over: a mutated table re-keys the
  * fingerprint path (artifact absent) and an artifact-side mutation
  * leaves the [[EnsureWatermark]] commit no longer current — either
  * way the plan passes through untouched.
  *
  * Matched shape (narrow, exactness first):
  *
  *   Aggregate [g: String], [g?, Alias(agg)*]   — aggs don't touch g
  *     +- any plan in which g's exprId traces UNTOUCHED to a
  *        single-root parquet relation (an Alias would re-key the
  *        exprId, so a computed column can never match)
  *
  * Shapes whose every measure the ROLLUP router could serve
  * (count(1) / sum(floor(value))) are deliberately left alone: a
  * kilobyte rollup read beats any encoded scan, so this rule must
  * not shadow [[RollupRoutingRule]] in the shared fixed-point batch.
  *
  * Plan-time cost: a candidate pays one fingerprint walk + stamp
  * probe (FS metadata, the [[JoinEliminationRule]] class of check);
  * the dictionary read is built only on actual fire, once per routed
  * aggregate. */
class DictionaryRoutingRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** (dir, table, column-name) when `g` is an untouched column of a
    * single-root `<dir>/<table>.parquet` relation somewhere under
    * `child`. exprId identity is the proof of "untouched": every
    * redefinition (Alias) mints a new exprId, so a match means the
    * attribute's values are exactly the relation column's values,
    * possibly filtered — which only shrinks the dictionary's cover. */
  private def sourceOf(child: LogicalPlan,
      g: AttributeReference): Option[(String, String)] =
    child.collectFirst {
      case rel: LogicalRelation if rel.output.exists(_.exprId == g.exprId) => rel
    }.flatMap { rel =>
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

  /** True when the ROLLUP router could serve this measure — then the
    * kilobyte rollup rewrite must win, not this one. */
  private def rollupServable(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(
        Count(Seq(Literal(1, _))), _, false, _, _), _) => true
    case Alias(AggregateExpression(
        Sum(Floor(v: AttributeReference), _), _, false, _, _), _)
        if v.name == "value" => true
    case _ => false
  }

  private def usableAgg(g: AttributeReference,
      e: NamedExpression): Boolean = e match {
    case a: AttributeReference => a.exprId == g.exprId
    case al @ Alias(_: AggregateExpression, _) =>
      !al.references.contains(g)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Seq(g: AttributeReference), aggExprs, child, _)
        if g.dataType == StringType &&
          aggExprs.forall(usableAgg(g, _)) &&
          aggExprs.exists(_.isInstanceOf[Alias]) &&
          !aggExprs.filter(_.isInstanceOf[Alias]).forall(rollupServable) =>
      sourceOf(child, g).flatMap { case (dir, table) =>
        val path = Dictionary.dictPath(dir, table, g.name)
        EnsureWatermark.current(path).map { st =>
          val dictPath = st.part(path, "data")
          // fixed dict schema (value = the grouping column's own
          // type, code = the writer's LONG rank): skips the
          // schema-inference job a bare read.parquet launches at
          // every rewrite attempt (r17)
          val dictSchema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value", g.dataType),
            org.apache.spark.sql.types.StructField("code",
              org.apache.spark.sql.types.LongType)))
          // encode: LEFT join below the aggregate — NULL values keep
          // a NULL code and stay one group, exactly as value-space
          val enc = spark.read.schema(dictSchema).parquet(dictPath)
            .queryExecution.optimizedPlan
          val encValue = enc.output.find(_.name == "value").get
          val encCode = enc.output.find(_.name == "code").get
          val joined = Join(child, enc, LeftOuter,
            Some(EqualTo(g, encValue)), JoinHint.NONE)
          val codeOut = joined.output.find(_.exprId == encCode.exprId).get
          val agg2 = agg.copy(
            groupingExpressions = Seq(codeOut),
            aggregateExpressions =
              codeOut +: aggExprs.collect { case al: Alias => al },
            child = joined)
          // decode on RESULT-sized rows, fresh read = fresh exprIds
          val dec = spark.read.schema(dictSchema).parquet(dictPath)
            .queryExecution.optimizedPlan
          val decValue = dec.output.find(_.name == "value").get
          val decCode = dec.output.find(_.name == "code").get
          val agg2Code = agg2.output.head
          val decoded = Join(agg2, dec, LeftOuter,
            Some(EqualTo(agg2Code, decCode)), JoinHint.NONE)
          // original output order and exprIds, so parents are
          // oblivious to the substitution
          val projected = aggExprs.map {
            case a: AttributeReference =>
              Alias(decValue, a.name)(exprId = a.exprId)
            case al: Alias => al.toAttribute
          }
          Project(projected, decoded)
        }
      }.getOrElse(agg)
  }
}
