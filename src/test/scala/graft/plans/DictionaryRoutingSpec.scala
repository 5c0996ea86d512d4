package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.operators.{Dictionary, EnsureWatermark, IndexStore}

/** The dictionary-routing contract: a plain GROUP BY <string col>
  * whose measures the rollup router cannot serve is rewritten to
  * code space when — and only when — the persisted dictionary is
  * current; results are bit-identical to value space; absent
  * artifact, broken watermark, measures over the grouped column, and
  * all-rollup-servable shapes all pass through untouched. */
class DictionaryRoutingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def shape() =
    graft.Tables(spark, sf, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("users"), count(lit(1)).as("n"))
      .orderBy($"event_type")

  private def groupKeys(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case Aggregate(g, _, _, _) => g.map(_.references.map(_.name).mkString)
    }.flatten

  test("the plain string GROUP BY routes to code space and back") {
    withIndexRoot("graft-dictroute") {
      val truth = shape().collect().map(_.toString).toSeq
      Dictionary.ensure(spark, sf, "events", "event_type")
      RuleSwitch.scoped(spark, Seq(new DictionaryRoutingRule(spark))) {
        val routed = shape()
        // the aggregate now groups by the dictionary CODE, not the
        // string — longs through every exchange
        assert(groupKeys(routed).contains("code"),
          s"expected a code-space aggregate:\n${routed.queryExecution.optimizedPlan}")
        assert(routed.queryExecution.executedPlan.toString
          .contains("hashpartitioning(code"),
          "the exchange must move codes")
        // and the serve is bit-identical to value space
        assert(routed.collect().map(_.toString).toSeq === truth)
      }
    }
  }

  test("fail-closed vetoes: no artifact, broken watermark, unsafe shapes") {
    withIndexRoot("graft-dictroute-veto") {
      RuleSwitch.scoped(spark, Seq(new DictionaryRoutingRule(spark))) {
        // no dictionary artifact: untouched
        assert(!groupKeys(shape()).contains("code"))
        Dictionary.ensure(spark, sf, "events", "event_type")
        assert(groupKeys(shape()).contains("code"))
        // a measure over the GROUPED column cannot move to code space
        val overG = graft.Tables(spark, sf, "events")
          .groupBy($"event_type")
          .agg(countDistinct($"user_id").as("users"),
            max($"event_type").as("mx"))
        assert(!groupKeys(overG).contains("code"),
          "an aggregate reading the grouped column must pass through")
        // an all-rollup-servable shape is the rollup router's, not ours
        val rollupShape = graft.Tables(spark, sf, "events")
          .groupBy($"event_type").agg(count(lit(1)).as("n"))
        assert(!groupKeys(rollupShape).contains("code"),
          "count-only shapes must stay for the kilobyte rollup serve")
        // artifact-side mutation breaks the watermark: untouched again
        EnsureWatermark.veto(
          Dictionary.dictPath(sf, "events", "event_type"))
        assert(!groupKeys(shape()).contains("code"))
      }
    }
  }

  test("NULL group values survive the code-space round trip") {
    withIndexRoot("graft-dictroute-null") {
      val dir = tmpDir("graft-dictroute-null-data")
      Seq(("a", 1L), ("a", 2L), (null, 3L), (null, 3L), ("b", 4L))
        .toDF("tag", "uid")
        .write.mode("overwrite").parquet(s"$dir/tags.parquet")
      def q() = spark.read.parquet(s"$dir/tags.parquet")
        .groupBy($"tag")
        .agg(countDistinct($"uid").as("users"), count(lit(1)).as("n"))
        .orderBy($"tag")
      val truth = q().collect().map(_.toString).toSeq
      Dictionary.ensure(spark, dir, "tags", "tag")
      RuleSwitch.scoped(spark, Seq(new DictionaryRoutingRule(spark))) {
        assert(groupKeys(q()).contains("code"))
        assert(q().collect().map(_.toString).toSeq === truth,
          "the NULL group must encode to the NULL code and decode back")
      }
    }
  }
}
