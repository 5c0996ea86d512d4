package graft.plans

import graft.SparkSpec
import graft.operators.ResultCache
import org.apache.spark.sql.functions._

/** The transparent tier's contract: a published result serves the
  * next identical query through the optimizer with no caller
  * cooperation (plan-pinned to the entry's files), any semantic or
  * source difference misses, uncacheable plans never publish or
  * serve, and the substituted plan is bit-identical to the computed
  * one. */
class TransparentResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(dir: String): Unit =
    (1L to 800L).map(i => (i % 9, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("publish then transparent serve: same rows, zero source scan") {
    withIndexRoot("graft-trc") {
      val dir = tmpDir("graft-trc-data")
      writeTable(dir)
      def shape = graft.Tables(spark, dir, "t")
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .orderBy($"k")
      RuleSwitch.scoped(spark, Seq(new TransparentResultCacheRule(spark))) {
        val computed = shape.collect().map(_.toString).toSeq
        assert(ResultCache.publish(spark, shape), "first publish writes")
        assert(!ResultCache.publish(spark, shape),
          "re-publish of a served plan is a no-op (the plan now reads the cache)")
        val served = shape
        assert(served.inputFiles.forall(_.contains("result_cache")),
          s"the identical query must plan as a cache read:\n${served.queryExecution.optimizedPlan}")
        assert(served.collect().map(_.toString).toSeq === computed,
          "the substitution is result-invisible")
        // a semantically different query computes from the source
        val other = graft.Tables(spark, dir, "t")
          .where($"v" > 100L).groupBy($"k").agg(count(lit(1)).as("n"))
        assert(other.inputFiles.exists(_.contains("t.parquet")),
          "a different plan never serves another plan's entry")
      }
    }
  }

  test("a mutated source re-keys: the entry goes unreachable, never stale") {
    withIndexRoot("graft-trc-mut") {
      val dir = tmpDir("graft-trc-mut-data")
      writeTable(dir)
      def shape = graft.Tables(spark, dir, "t")
        .groupBy($"k").agg(sum($"v").as("s")).orderBy($"k")
      RuleSwitch.scoped(spark, Seq(new TransparentResultCacheRule(spark))) {
        assert(ResultCache.publish(spark, shape))
        assert(shape.inputFiles.forall(_.contains("result_cache")))
        (1L to 900L).map(i => (i % 9, i)).toDF("k", "v")
          .write.mode("overwrite").parquet(s"$dir/t.parquet")
        assert(shape.inputFiles.exists(_.contains("t.parquet")),
          "mutated source -> different stamp -> compute from source")
        assert(shape.agg(sum($"s")).head().getLong(0) ===
          (1L to 900L).sum)
      }
    }
  }

  test("uncacheable plans neither publish nor serve") {
    withIndexRoot("graft-trc-unc") {
      val dir = tmpDir("graft-trc-unc-data")
      writeTable(dir)
      RuleSwitch.scoped(spark, Seq(new TransparentResultCacheRule(spark))) {
        // PROJECTED rand survives optimization (a rand FILTER like
        // `rand() >= 0.0` is simplified away entirely — the optimized
        // plan is then genuinely deterministic and publishing it is
        // sound; the keyspace describes what EXECUTES)
        def randShape = graft.Tables(spark, dir, "t")
          .select($"k", rand().as("r"))
        assert(!ResultCache.publish(spark, randShape),
          "non-deterministic plans are uncacheable")
        assert(randShape.inputFiles.exists(_.contains("t.parquet")))
        val local = Seq((1L, 2L)).toDF("a", "b").groupBy($"a")
          .agg(sum($"b").as("s"))
        assert(!ResultCache.publish(spark, local),
          "non-file leaves are uncacheable")
      }
    }
  }

  test("current-time plans key their FROZEN moment: exact by construction") {
    withIndexRoot("graft-trc-time") {
      val dir = tmpDir("graft-trc-time-data")
      writeTable(dir)
      RuleSwitch.scoped(spark, Seq(new TransparentResultCacheRule(spark))) {
        // the optimizer's ComputeCurrentTime replaces the time family
        // with LITERALS of the query's moment BEFORE this keyspace —
        // so the evaluated instant is part of the key: same-moment
        // reuse is exact, a new moment re-keys. Pin the mechanism:
        // no time-family expression survives into the optimized plan
        def timeShape = graft.Tables(spark, dir, "t")
          .select($"k", current_timestamp().as("now"))
        import org.apache.spark.sql.catalyst.expressions.CurrentTimestampLike
        val survived = timeShape.queryExecution.optimizedPlan
          .expressions.exists(_.exists(_.isInstanceOf[CurrentTimestampLike]))
        assert(!survived,
          "the optimizer must freeze current_timestamp to a literal before keying")
        assert(ResultCache.publish(spark, timeShape))
        // a NEW query freezes a NEW moment -> new literal -> new key:
        // it computes from the source; the stale-hit the analyzed-plan
        // tier screens against cannot occur in this keyspace
        assert(timeShape.inputFiles.exists(_.contains("t.parquet")),
          "a later moment must miss the earlier moment's entry")
      }
    }
  }

  test("a hit plans with no Spark job; an entry written with another schema vetoes") {
    withIndexRoot("graft-trc-schema") {
      val dir = tmpDir("graft-trc-schema-data")
      writeTable(dir)
      def shape = graft.Tables(spark, dir, "t")
        .groupBy($"k").agg(sum($"v").as("s")).orderBy($"k")
      RuleSwitch.scoped(spark, Seq(new TransparentResultCacheRule(spark))) {
        assert(ResultCache.publish(spark, shape))
        val hit = shape
        assert(jobsDuring { hit.queryExecution.optimizedPlan; () } === 0,
          "serving an entry must not infer its schema with a job")
        assert(hit.inputFiles.forall(_.contains("result_cache")))
        // the same entry re-committed with `s` as a string: names and
        // arity still match, the type does not
        val entry = new java.io.File(s"${graft.operators.IndexStore.root}/result_cache")
          .listFiles().filter(_.isDirectory).toSeq
        assert(entry.size === 1)
        val key = entry.head.getName
        org.apache.commons.io.FileUtils.deleteDirectory(entry.head)
        assert(graft.operators.EnsureWatermark.commit(ResultCache.cachePath(key), key)(
          shape.select($"k", $"s".cast("string").as("s")).coalesce(1).write.parquet(_)))
        assert(shape.inputFiles.exists(_.contains("t.parquet")),
          "a type mismatch with the entry's footer must compute from the source")
        assert(shape.collect().map(_.getLong(1)).sum === (1L to 800L).sum)
      }
    }
  }
}
