package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning (the 100-TB shuffle-join
  * companion to broadcast pruning): when a selective filter sits on
  * the build side of a shuffle join, Catalyst can inject
  * `bloom_filter_agg` on the build side and `BloomFilterMightContain`
  * on the probe side, so most non-matching fact rows are dropped at
  * the scan instead of being shuffled. This spec pins that the engine
  * configuration can produce that plan and that results are
  * unchanged. */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GraftCatalog: full surface reachable through plain spark.sql") {
    graft.GraftCatalog.registerAll(spark, sf)
    // a relational query over the views
    val top = spark.sql("""
      SELECT n_name, count(*) AS customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY customers DESC, n_name LIMIT 3""").collect()
    assert(top.length === 3 && top.head.getLong(1) > 0)
    // the native expressions, via SQL, over a registered view
    val sim = spark.sql("""
      SELECT round(array_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
                                CAST(b.embedding AS ARRAY<DOUBLE>)), 6) AS s
      FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1""")
      .head().getDouble(0)
    assert(sim >= -1.0 && sim <= 1.0)
    // pushdown survives the view boundary
    val plan = spark.sql(
      "SELECT l_orderkey FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-01-01'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("l_shipdate"),
      s"filter must push through the temp view to the scan:\n$plan")
  }

  test("GraftCatalog: layer selection builds only what was asked; warm registration runs zero jobs (r16)") {
    withIndexRoot("graft-cat-lazy") {
      // cold host, ONE layer asked: only that artifact builds, only
      // that view registers
      graft.GraftCatalog.registerRollups(spark, sf, layers = Seq("hll_daily"))
      assert(spark.catalog.tableExists("hll_daily"))
      assert(EnsureWatermark.stampOf(HistogramRollup.histPath(sf)).isEmpty,
        "an unchosen layer must not pay its build scan")
      assert(!spark.catalog.tableExists("hist_daily"),
        "an unchosen layer must not register")
      // a typo fails loud, never silently registers nothing
      intercept[IllegalArgumentException] {
        graft.GraftCatalog.registerRollups(spark, sf, layers = Seq("hll_dailyy"))
      }
      // WARM re-registration of the chosen layer runs ZERO jobs: the
      // ensure guard is FS metadata and the view is a lazy plan
      val jobs = jobsDuring(
        graft.GraftCatalog.registerRollups(spark, sf, layers = Seq("hll_daily")))
      assert(jobs === 0,
        s"warm registration must run zero Spark jobs, ran $jobs")
    }
  }

  test("GraftCatalog: rollup layers queryable through plain spark.sql") {
    withIndexRoot("graft-cat-roll") {
      graft.GraftCatalog.registerRollups(spark, sf)
      // a dashboard merging the HLL sketch over a window, pure SQL —
      // register-wise max is all it needs from the view
      val regs = spark.sql("""
        SELECT event_type, count(*) AS regs
        FROM (SELECT event_type, reg, max(rho)
              FROM hll_daily GROUP BY event_type, reg)
        GROUP BY event_type""").collect()
      assert(regs.nonEmpty && regs.forall(_.getLong(1) > 0))
      val bins = spark.sql(
        "SELECT sum(cnt) FROM hist_daily").head().getLong(0)
      assert(bins === graft.Tables(spark, sf, "events").count(),
        "histogram counts must cover the whole table")
      val files = spark.sql("SELECT count(*) FROM file_stats").head().getLong(0)
      assert(files > 0)
      // the round-10 layers answer through plain SQL too
      val vfp = spark.sql("SELECT sum(cnt) FROM agg_daily").head().getLong(0)
      assert(vfp === graft.Tables(spark, sf, "events").count(),
        "agg_daily counts must cover the whole table")
      val kmv = spark.sql(
        "SELECT count(*) FROM kmv_daily").head().getLong(0)
      assert(kmv > 0)
      val cms = spark.sql("SELECT sum(c) FROM cms_daily").head().getLong(0)
      assert(cms === graft.Tables(spark, sf, "events").count() *
        graft.operators.CmsRollup.Depth,
        "cms grid mass must be Depth counters per event")
      // and a dashboard's PLAIN raw aggregate over the events view is
      // served scan-free by the enabled routing rule
      graft.GraftCatalog.registerAll(spark, sf)
      val routed = spark.sql("""
        SELECT event_type, count(*) AS n FROM events
        WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
          AND ts <  TIMESTAMP '2024-01-18 00:00:00'
        GROUP BY event_type""")
      val paths = routed.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
      assert(paths.exists(_.contains("hist_daily")) &&
        !paths.exists(_.contains("events.parquet")),
        s"the SQL dashboard aggregate must route to the rollup: $paths")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // thresholds low enough that the hot key's partition counts as
      // skewed at test scale
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB") {
      // pathological skew: 200k of 210k rows share one key
      val fact = spark.range(200000).select(lit(1L).as("k"), $"id")
        .union(spark.range(10000).select(($"id" % 97 + 2).as("k"), $"id"))
      val dim = spark.range(100).select($"id".as("k"),
        concat(lit("dim_"), $"id").as("name"))
      val joined = fact.join(dim, "k")
      // collect() executes THIS df's QueryExecution, so AQE's final
      // plan is observable on it (count() would plan separately)
      assert(joined.collect().length === 210000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n$finalPlan")
    }
  }

  test("bloom filter is injected on the probe side of a selective shuffle join") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val li = Tables(spark, sf, "lineitem")
      val ord = Tables(spark, sf, "orders")
        .where($"o_orderpriority" === "1-URGENT")
      val j = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("BloomFilter"),
        s"expected a runtime bloom filter on the probe side:\n$plan")
      // results identical with the filter disabled
      val withBloom = j.collect().toSeq
      withConfs("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        val plain = li.join(ord, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
          .collect().toSeq
        assert(withBloom === plain)
      }
    }
  }
}
