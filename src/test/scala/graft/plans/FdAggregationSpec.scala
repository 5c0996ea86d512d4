package graft.plans

import graft.SparkSpec
import graft.operators.{EnsureWatermark, StatsCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

/** The FD-reduction contract: a proven key → name dependency drops
  * the determined column from the grouping key (plan-pinned) with a
  * bit-identical result — including the all-NULL-name group — FD
  * chains reduce fully under the fixed point, and every unproven or
  * stale leg leaves the plan untouched. */
class FdAggregationSpec extends SparkSpec {
  import spark.implicits._

  /** k → name is an FD (name = f(k), with k=5 mapping to NULL only);
    * k → tag is NOT (tag = (i/6)%2 varies WITHIN each k residue —
    * i%2 would silently correlate with k%2 and prove a real FD). */
  private def writeTables(dir: String): Unit =
    (1L to 600L).map { i =>
      val k = i % 6
      val name = if (k == 5) null else s"name_$k"
      (k, name, s"t${(i / 6) % 2}", s"grp_${k % 3}", i)
    }.toDF("k", "name", "tag", "grp", "payload")
      .write.mode("overwrite").parquet(s"$dir/fd.parquet")

  private def groupSizes(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.groupingExpressions.size
    }

  test("a proven FD narrows the grouping key; the result is bit-identical") {
    withIndexRoot("graft-fd") {
      val dir = tmpDir("graft-fd-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "fd")
      StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "name"))
      val f = graft.Tables(spark, dir, "fd")
      def shape = f.groupBy($"k", $"name")
        .agg(count(lit(1)).as("n"), sum($"payload").as("s"))
        .orderBy($"k")
      val plain = shape.collect().map(_.toString).sorted
      RuleSwitch.scoped(spark, Seq(new FdAggregationRule(spark))) {
        assert(groupSizes(shape) === Seq(1),
          s"proven k -> name must group by k alone:\n${shape.queryExecution.optimizedPlan}")
        val reduced = shape.collect().map(_.toString).sorted
        assert(reduced.sameElements(plain),
          "the rewrite must be result-invisible, NULL name group included")
      }
    }
  }

  test("FD chains reduce fully under the optimizer's fixed point") {
    withIndexRoot("graft-fd-chain") {
      val dir = tmpDir("graft-fd-chain-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "fd")
      StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "name"))
      StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "grp"))
      val f = graft.Tables(spark, dir, "fd")
      def shape = f.groupBy($"k", $"name", $"grp")
        .agg(count(lit(1)).as("n"))
      val plain = shape.collect().map(_.toString).sorted
      RuleSwitch.scoped(spark, Seq(new FdAggregationRule(spark))) {
        assert(groupSizes(shape) === Seq(1),
          s"k -> name AND k -> grp must both drop:\n${shape.queryExecution.optimizedPlan}")
        assert(shape.collect().map(_.toString).sorted.sameElements(plain))
      }
    }
  }

  test("a Union above the proven relation vetoes the rewrite (exprId reuse trap)") {
    withIndexRoot("graft-fd-union") {
      val dir = tmpDir("graft-fd-union-data")
      writeTables(dir)
      // a second table with the SAME schema whose rows VIOLATE k -> name
      (1L to 60L).map { i =>
        (i % 6, s"other_${i % 2}", "tx", "gx", i)
      }.toDF("k", "name", "tag", "grp", "payload")
        .write.mode("overwrite").parquet(s"$dir/fd2.parquet")
      StatsCatalog.ensure(spark, dir, "fd")
      StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "name"))
      val f = graft.Tables(spark, dir, "fd")
      val g = graft.Tables(spark, dir, "fd2")
      // Union output reuses f's exprIds: a collect-based source match
      // would find fd.parquet and "prove" the FD while g's rows break it
      def shape = f.union(g).groupBy($"k", $"name")
        .agg(count(lit(1)).as("n"), sum($"payload").as("s"))
      val plain = shape.collect().map(_.toString).sorted
      RuleSwitch.scoped(spark, Seq(new FdAggregationRule(spark))) {
        assert(groupSizes(shape) === Seq(2),
          s"Union on the path must veto:\n${shape.queryExecution.optimizedPlan}")
        assert(shape.collect().map(_.toString).sorted.sameElements(plain))
      }
    }
  }

  test("row-preserving path (filter+join) still rewrites; the result is exact") {
    withIndexRoot("graft-fd-path") {
      val dir = tmpDir("graft-fd-path-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "fd")
      StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "name"))
      val f = graft.Tables(spark, dir, "fd")
      val dim = (0L to 5L).map(k => (k, s"bucket_${k % 2}")).toDF("k", "b")
      def shape = f.where($"payload" > 10)
        .join(dim, Seq("k"))
        .groupBy($"k", $"name").agg(count(lit(1)).as("n"))
      val plain = shape.collect().map(_.toString).sorted
      RuleSwitch.scoped(spark, Seq(new FdAggregationRule(spark))) {
        assert(groupSizes(shape) === Seq(1),
          s"Filter/Join are row-preserving, the rewrite must still fire:\n${shape.queryExecution.optimizedPlan}")
        assert(shape.collect().map(_.toString).sorted.sameElements(plain))
      }
    }
  }

  test("an embedded non-aggregated reference to the determined column bails") {
    withIndexRoot("graft-fd-embed") {
      val dir = tmpDir("graft-fd-embed-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "fd")
      StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "name"))
      graft.Tables(spark, dir, "fd").createOrReplaceTempView("fd_embed")
      // references INSIDE aggregate functions stay safe to rewrite
      def inAgg = spark.sql(
        "SELECT k, name, count(name) AS n FROM fd_embed GROUP BY k, name")
      val got = RuleSwitch.scoped(spark, Seq(new FdAggregationRule(spark))) {
        // upper(name) is valid SQL while name is a grouping column —
        // after a naive rewrite it would reference a dropped one
        def embedded = spark.sql(
          "SELECT k, upper(name) AS un, count(1) AS n FROM fd_embed GROUP BY k, name")
        assert(groupSizes(embedded) === Seq(2),
          s"embedded reference must bail:\n${embedded.queryExecution.optimizedPlan}")
        embedded.collect() // and the plan must still execute
        assert(groupSizes(inAgg) === Seq(1),
          s"agg-internal references are exact under the FD:\n${inAgg.queryExecution.optimizedPlan}")
        inAgg.collect().map(_.toString).sorted
      }
      val plain = inAgg.collect().map(_.toString).sorted
      assert(got.sameElements(plain))
    }
  }

  test("fail-closed: non-FD pair, absent artifact, stale watermark") {
    withIndexRoot("graft-fd-none") {
      val dir = tmpDir("graft-fd-none-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "fd")
      val f = graft.Tables(spark, dir, "fd")
      RuleSwitch.scoped(spark, Seq(new FdAggregationRule(spark))) {
        // no group artifact at all -> untouched
        def nameShape = f.groupBy($"k", $"name").agg(count(lit(1)))
        assert(groupSizes(nameShape) === Seq(2), "absent artifact -> no rewrite")
        // ensured, but the pair is NOT an FD (tag alternates within k)
        StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "tag"))
        val tagShape = f.groupBy($"k", $"tag").agg(count(lit(1)))
        assert(groupSizes(tagShape) === Seq(2), "disproven FD -> no rewrite")
        // proven, then the artifact goes stale -> fail-closed again
        StatsCatalog.ensureColumnGroup(spark, dir, "fd", Seq("k", "name"))
        assert(groupSizes(nameShape) === Seq(1))
        EnsureWatermark.veto(
          StatsCatalog.groupStatsPath(dir, "fd", Seq("k", "name")))
        assert(groupSizes(nameShape) === Seq(2), "stale artifact -> no rewrite")
      }
    }
  }
}
