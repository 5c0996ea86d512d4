package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The MV-routing contract: a matching raw aggregate is served by the
  * histogram rollup (plan-pinned: hist_daily scanned, events.parquet
  * untouched) with EXACTLY the raw answer, and every non-matching
  * variant — extra predicate, non-aligned bound, other aggregate,
  * other grouping, missing artifact — passes through unrouted. */
class RollupRoutingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val M = graft.operators.MinMaxManifest
  private val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-18 00:00:00")

  private def rawAgg = graft.Tables(spark, sf, "events")
    .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
    .groupBy($"event_type").agg(count(lit(1)).as("n"))

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten

  test("a matching aggregate routes to the rollup and stays exact") {
    withIndexRoot("graft-route-spec") {
      // ground truth BEFORE enabling routing
      val expected = rawAgg.orderBy($"event_type")
        .collect().map(_.toString).toSeq
      graft.operators.HistogramRollup.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val routed = rawAgg.orderBy($"event_type")
        val paths = scanPaths(routed)
        assert(paths.exists(_.contains("hist_daily")),
          s"the routed plan must read the rollup: $paths")
        assert(!paths.exists(_.contains("events.parquet")),
          s"the routed plan must never scan the raw table: $paths")
        assert(routed.collect().map(_.toString).toSeq === expected,
          "routing must be invisible in the answer — integer-exact")
      }
    }
  }

  test("non-matching shapes pass through unrouted") {
    withIndexRoot("graft-route-spec") {
      graft.operators.HistogramRollup.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val ev = graft.Tables(spark, sf, "events")
        val window = $"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi))
        val variants = Seq(
          // extra predicate — the rollup can't see user_id
          ev.where(window && $"user_id" % 2 === 0)
            .groupBy($"event_type").agg(count(lit(1)).as("n")),
          // non-day-aligned bound
          ev.where($"ts" >= lit(M.utc("2024-01-08 12:00:00")) &&
              $"ts" < lit(M.utc(hi)))
            .groupBy($"event_type").agg(count(lit(1)).as("n")),
          // an aggregate the bins can't answer
          ev.where(window).groupBy($"event_type")
            .agg(count(lit(1)).as("n"), sum($"value").as("v")),
          // a different grouping
          ev.where(window).groupBy($"user_id").agg(count(lit(1)).as("n")))
        variants.zipWithIndex.foreach { case (df, i) =>
          val paths = scanPaths(df)
          assert(paths.exists(_.contains("events.parquet")),
            s"variant $i must stay on the raw table: $paths")
          assert(!paths.exists(_.contains("hist_daily")),
            s"variant $i must not be routed: $paths")
        }
      }
    }
  }

  test("appendBatch vetoes routing: a maintained rollup is no longer the raw aggregate") {
    withIndexRoot("graft-route-append") {
      val HR = graft.operators.HistogramRollup
      HR.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        // sanity: routing fires on the pure ensure() build
        assert(scanPaths(rawAgg).exists(_.contains("hist_daily")))
        // append a batch that is NOT in events.parquet — the r8
        // advice's exact scenario: the fingerprint tracks only the
        // raw table, so without the ensure-manifest veto this would
        // keep routing and silently over-count
        val extra = Seq((9999901L,
            java.sql.Timestamp.valueOf("2024-01-10 08:00:00"),
            9999901L, "click", 12.5, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        HR.appendBatch(spark, sf, extra)
        val paths = scanPaths(rawAgg)
        assert(paths.exists(_.contains("events.parquet")) &&
          !paths.exists(_.contains("hist_daily")),
          s"after appendBatch the plan must fall back to the raw table: $paths")
        // and the answer is the RAW aggregate (the appended row is a
        // rollup-side fact, invisible to the raw query)
        val n = rawAgg.where($"event_type" === "click").head().getLong(1)
        val direct = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)) &&
            $"event_type" === "click").count()
        assert(n === direct)
      }
    }
  }

  private def rawSumAgg = graft.Tables(spark, sf, "events")
    .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
    .groupBy($"event_type")
    .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp"))

  test("a summable aggregate routes to the agg rollup and stays exact") {
    withIndexRoot("graft-route-sum") {
      val expected = rawSumAgg.orderBy($"event_type")
        .collect().map(_.toString).toSeq
      graft.operators.AggRollup.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val routed = rawSumAgg.orderBy($"event_type")
        val paths = scanPaths(routed)
        assert(paths.exists(_.contains("agg_daily")),
          s"the routed plan must read the agg rollup: $paths")
        assert(!paths.exists(_.contains("events.parquet")),
          s"the routed plan must never scan the raw table: $paths")
        assert(routed.collect().map(_.toString).toSeq === expected,
          "sum routing must be invisible in the answer — integer-exact")
        // a sum-only aggregate (no count) routes too
        val sumOnly = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type").agg(sum(floor($"value")).as("v_fp"))
        assert(scanPaths(sumOnly).exists(_.contains("agg_daily")),
          "a sum-only aggregate must route to the agg rollup")
        // the FLOAT sum stays unrouted even with the artifact ready:
        // double addition doesn't associate, so a rollup-served float
        // sum could differ from the raw plan in the last ulp
        val floatSum = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type").agg(sum($"value").as("v"))
        val fp = scanPaths(floatSum)
        assert(fp.exists(_.contains("events.parquet")) &&
          !fp.exists(_.contains("agg_daily")),
          s"a float sum must never be routed: $fp")
      }
    }
  }

  test("agg-rollup appendBatch vetoes sum routing; reEnsure repairs it") {
    withIndexRoot("graft-route-sum-append") {
      val AR = graft.operators.AggRollup
      AR.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        assert(scanPaths(rawSumAgg).exists(_.contains("agg_daily")))
        val extra = Seq((9999902L,
            java.sql.Timestamp.valueOf("2024-01-10 09:00:00"),
            9999902L, "click", 40.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        AR.appendBatch(spark, sf, extra)
        val paths = scanPaths(rawSumAgg)
        assert(paths.exists(_.contains("events.parquet")) &&
          !paths.exists(_.contains("agg_daily")),
          s"after appendBatch the plan must fall back to the raw table: $paths")
        // reEnsure rebuilds from the raw table and restores the
        // watermark: routing resumes AND stays exact (the appended
        // out-of-band row is dropped by design)
        val expected = rawSumAgg.orderBy($"event_type")
          .collect().map(_.toString).toSeq
        AR.reEnsure(spark, sf)
        val routed = rawSumAgg.orderBy($"event_type")
        assert(scanPaths(routed).exists(_.contains("agg_daily")),
          "reEnsure must restore routing")
        assert(routed.collect().map(_.toString).toSeq === expected,
          "routing after reEnsure must be exact again")
      }
    }
  }

  test("histogram reEnsure restores count routing after an append veto") {
    withIndexRoot("graft-route-reensure") {
      val HR = graft.operators.HistogramRollup
      HR.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        assert(scanPaths(rawAgg).exists(_.contains("hist_daily")))
        val extra = Seq((9999903L,
            java.sql.Timestamp.valueOf("2024-01-11 07:00:00"),
            9999903L, "view", 3.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        HR.appendBatch(spark, sf, extra)
        assert(scanPaths(rawAgg).exists(_.contains("events.parquet")),
          "append must veto count routing")
        val expected = rawAgg.orderBy($"event_type")
          .collect().map(_.toString).toSeq
        HR.reEnsure(spark, sf)
        val routed = rawAgg.orderBy($"event_type")
        assert(scanPaths(routed).exists(_.contains("hist_daily")),
          "reEnsure must restore count routing")
        assert(routed.collect().map(_.toString).toSeq === expected,
          "count routing after reEnsure must be exact again")
      }
    }
  }

  test("the day-grain timeseries shape routes for counts and sums, stays exact, and vetoes off-UTC") {
    withIndexRoot("graft-route-day") {
      def countTs = graft.Tables(spark, sf, "events")
        .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
        .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
        .agg(count(lit(1)).as("n"))
      def sumTs = graft.Tables(spark, sf, "events")
        .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
        .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
        .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp"))
      // ground truth BEFORE enabling routing
      val expC = countTs.orderBy($"event_type", $"day")
        .collect().map(_.toString).toSeq
      val expS = sumTs.orderBy($"event_type", $"day")
        .collect().map(_.toString).toSeq
      graft.operators.HistogramRollup.ensure(spark, sf)
      graft.operators.AggRollup.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val pc = scanPaths(countTs)
        assert(pc.exists(_.contains("hist_daily")) &&
          !pc.exists(_.contains("events.parquet")),
          s"day-grain count must route to the bins: $pc")
        assert(countTs.orderBy($"event_type", $"day")
          .collect().map(_.toString).toSeq === expC,
          "day-grain count routing must be exact")
        val ps = scanPaths(sumTs)
        assert(ps.exists(_.contains("agg_daily")) &&
          !ps.exists(_.contains("events.parquet")),
          s"day-grain sum must route to the agg rollup: $ps")
        assert(sumTs.orderBy($"event_type", $"day")
          .collect().map(_.toString).toSeq === expS,
          "day-grain sum routing must be exact")
        // a second grouping key that is NOT the day never routes
        val other = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
        assert(scanPaths(other).exists(_.contains("events.parquet")),
          "an unmatched second grouping key must pass through")
        // a non-UTC session vetoes ALL routing, fail-closed: the
        // day-grain arm because date_trunc follows the session zone,
        // and even the plain shape because the NTZ-normalized ts
        // column makes Catalyst unwrap the filter casts into
        // session-zone wall-clock literals that are no longer
        // day-aligned — the matcher cannot prove exactness and must
        // pass through (false-negative-safe, never false-positive)
        spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
        try {
          Seq(countTs, rawAgg).foreach { q =>
            val off = scanPaths(q)
            assert(off.exists(_.contains("events.parquet")) &&
              !off.exists(_.contains("hist_daily")),
              s"off-UTC sessions must fall back to the raw table: $off")
          }
        } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
      }
    }
  }

  test("property sweep: every matched shape equals its unrouted answer across many windows") {
    withIndexRoot("graft-route-sweep") {
      graft.operators.HistogramRollup.ensure(spark, sf)
      graft.operators.AggRollup.ensure(spark, sf)
      val ev = graft.Tables(spark, sf, "events")
      // day-aligned and non-aligned windows, in and out of the data
      // range, empty windows included
      val windows = Seq(
        ("2024-01-01 00:00:00", "2024-01-02 00:00:00"),
        ("2024-01-05 00:00:00", "2024-01-06 00:00:00"),
        ("2024-01-08 00:00:00", "2024-01-18 00:00:00"),
        ("2024-01-15 00:00:00", "2024-02-15 00:00:00"),
        ("2023-12-01 00:00:00", "2024-01-01 00:00:00"),
        ("2025-01-01 00:00:00", "2025-02-01 00:00:00"),
        ("2024-01-08 06:00:00", "2024-01-18 00:00:00"),
        ("2024-01-08 00:00:00", "2024-01-17 18:00:00"))
      def shapes(lo: String, hi: String) = Seq(
        ev.where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type").agg(count(lit(1)).as("n")),
        ev.where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type")
          .agg(sum(floor($"value")).as("v_fp")),
        ev.where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp")),
        ev.where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
          .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp")))
      // ground truth for all 32 variants BEFORE enabling routing
      val expected = windows.flatMap { case (lo, hi) =>
        shapes(lo, hi).map(_.collect().map(_.toString).sorted.toSeq)
      }
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val got = windows.flatMap { case (lo, hi) =>
          shapes(lo, hi).map(_.collect().map(_.toString).sorted.toSeq)
        }
        expected.zip(got).zipWithIndex.foreach { case ((e, g), i) =>
          assert(g === e, s"variant $i diverged under routing")
        }
      }
    }
  }

  test("registered table identity routes an alias path; a temp view inlines and routes for free") {
    withIndexRoot("graft-route-ident") {
      val expected = rawAgg.orderBy($"event_type")
        .collect().map(_.toString).toSeq
      graft.operators.HistogramRollup.ensure(spark, sf)
      // an alias COPY of the events table at a path whose leaf name
      // matches nothing — the renamed-table / catalog-location case
      val alias = tmpDir("graft-route-alias") + "/events_catalog_tbl"
      graft.Tables(spark, sf, "events").write.mode("overwrite").parquet(alias)
      def aliasAgg = spark.read.parquet(alias)
        .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      try RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        // unregistered: identity unknown -> pass through (never guess)
        val before = scanPaths(aliasAgg)
        assert(before.exists(_.contains("events_catalog_tbl")) &&
          !before.exists(_.contains("hist_daily")),
          s"an unregistered alias must stay on its own table: $before")
        // registered: the alias is DECLARED to read the same rows, so
        // it inherits the original's routing — and its exactness
        RollupRouting.registerEventsPath(alias, sf)
        val after = scanPaths(aliasAgg)
        assert(after.exists(_.contains("hist_daily")) &&
          !after.exists(_.contains("events_catalog_tbl")),
          s"a registered alias must route to the rollup: $after")
        assert(aliasAgg.orderBy($"event_type")
          .collect().map(_.toString).toSeq === expected,
          "alias routing must be invisible in the answer")
        // a temp view over the ORIGINAL read inlines to the same
        // relation — routes with no registration at all
        graft.Tables(spark, sf, "events").createOrReplaceTempView("events_view")
        val viewAgg = spark.table("events_view")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"event_type").agg(count(lit(1)).as("n"))
        assert(scanPaths(viewAgg).exists(_.contains("hist_daily")),
          "a temp view over the same read must route")
        assert(viewAgg.orderBy($"event_type")
          .collect().map(_.toString).toSeq === expected)
      } finally {
        RollupRouting.clearRegisteredPathsForTest()
        spark.catalog.dropTempView("events_view")
      }
    }
  }

  test("a raw top-k heavy-hitter query routes to the top-k rollup when bounds prove it; unprovable shapes pass through") {
    withIndexRoot("graft-route-topk") {
      val T = graft.operators.TopKRollup
      def rawTopK = graft.Tables(spark, sf, "events")
        .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
        .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"user_id").limit(5)
      val expected = rawTopK.collect().map(_.toString).toSeq
      T.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        // at sf0.001 every cell keeps everyone (≤10 users) — total
        // tail 0, so the route is provable for any k
        val routed = rawTopK
        val locals = routed.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
        }
        assert(locals.nonEmpty,
          s"the routed top-k must collapse to a LocalRelation:\n${routed.queryExecution.optimizedPlan}")
        assert(scanPaths(routed).isEmpty,
          s"the routed top-k must scan NOTHING: ${scanPaths(routed)}")
        assert(routed.collect().map(_.toString).toSeq === expected,
          "routing must be invisible in the answer — rows, counts, and order")
        // no tiebreak -> the raw order among ties is nondeterministic,
        // no rewrite can claim exactness -> pass through
        val noTiebreak = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc).limit(5)
        assert(scanPaths(noTiebreak).exists(_.contains("events.parquet")),
          "a tiebreak-free top-k must pass through to the raw scan")
        // a widened summary (out-of-band append) vetoes fail-closed
        T.appendBatch(spark, sf, graft.Tables(spark, sf, "events").limit(10),
          batchId = 1L)
        assert(scanPaths(rawTopK).exists(_.contains("events.parquet")),
          "an appended summary must veto top-k routing")
        // and reEnsure repairs the route
        T.reEnsure(spark, sf)
        assert(scanPaths(rawTopK).isEmpty,
          "reEnsure must restore the top-k route")
      }
    }
  }

  test("a missing rollup artifact leaves the plan untouched") {
    withIndexRoot("graft-route-absent") {
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val paths = scanPaths(rawAgg)
        assert(paths.exists(_.contains("events.parquet")) &&
          !paths.exists(_.contains("hist_daily")),
          s"no artifact -> no rewrite: $paths")
      }
    }
  }

  test("the global (ungrouped) tile routes scan-free and stays exact") {
    withIndexRoot("graft-route-global") {
      def tile = graft.Tables(spark, sf, "events")
        .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
        .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp"))
      val expected = tile.collect().map(_.toString).toSeq
      graft.operators.AggRollup.ensure(spark, sf)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        val routed = tile
        val paths = scanPaths(routed)
        assert(paths.exists(_.contains("agg_daily")) &&
          !paths.exists(_.contains("events.parquet")),
          s"the global tile must be rollup-served: $paths")
        assert(routed.collect().map(_.toString).toSeq === expected)
        // the EMPTY-range degenerate agrees: one row, n = 0, NULL sum
        val empty = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc("2030-01-01 00:00:00")) &&
            $"ts" < lit(M.utc("2030-01-02 00:00:00")))
          .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp"))
        val row = empty.collect()
        assert(row.length === 1 && row.head.getLong(0) === 0L &&
          row.head.isNullAt(1))
        // a global aggregate the rollup can't serve passes through
        val avgTile = graft.Tables(spark, sf, "events")
          .where($"ts" >= lit(M.utc(lo)) && $"ts" < lit(M.utc(hi)))
          .agg(avg($"value").as("a"))
        assert(scanPaths(avgTile).exists(_.contains("events.parquet")),
          "a float avg must stay on the raw scan")
      }
    }
  }

  test("lattice grains: month/quarter/year route from the day rollup; hour passes through") {
    withIndexRoot("graft-route-lattice") {
      // a multi-month corpus: 4 months x 3 days x 2 types x 5 rows
      val dir = tmpDir("graft-route-lattice-data")
      val rows = for {
        m <- Seq("2024-03", "2024-04", "2024-05", "2024-06")
        d <- Seq("05", "15", "25"); t <- Seq("click", "view"); i <- 1 to 5
      } yield ((m + d + i).replace("-", "").toLong,
        java.sql.Timestamp.valueOf(s"$m-$d 0$i:30:00"),
        i.toLong, t, i * 1.5, "{}")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      def grainAgg(g: String) = graft.Tables(spark, dir, "events")
        .where($"ts" >= lit(M.utc("2024-03-01 00:00:00")) &&
          $"ts" < lit(M.utc("2024-07-01 00:00:00")))
        .groupBy($"event_type", date_trunc(g, $"ts").as("g"))
        .agg(count(lit(1)).as("n"), sum(floor($"value")).as("v_fp"))
        .orderBy($"event_type", $"g")
      // ground truth BEFORE routing
      val truths = Seq("month", "quarter", "year")
        .map(g => g -> grainAgg(g).collect().map(_.toString).toSeq).toMap
      graft.operators.AggRollup.ensure(spark, dir)
      RuleSwitch.scoped(spark, Seq(new RollupRoutingRule(spark))) {
        Seq("month", "quarter", "year").foreach { g =>
          val routed = grainAgg(g)
          val paths = scanPaths(routed)
          assert(paths.exists(_.contains("agg_daily")),
            s"$g grain must be served from the day rollup: $paths")
          assert(!paths.exists(_.contains("events.parquet")),
            s"$g grain must never scan the raw table: $paths")
          assert(routed.collect().map(_.toString).toSeq === truths(g),
            s"$g-grain lattice serve must be integer-exact")
          // a real lattice: month grain has 4 groups per type
          if (g == "month")
            assert(routed.count() === 8L, "4 months x 2 types")
        }
        // HOUR is finer than the rollup's day grain — underivable,
        // must pass through fail-closed
        val hourly = grainAgg("hour")
        assert(scanPaths(hourly).exists(_.contains("events.parquet")),
          "hour grain must stay on the raw scan")
      }
    }
  }
}
