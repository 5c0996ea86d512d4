package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The AQP contract (D98): the materialized sample serves without
  * touching the corpus, maintenance under appends is BIT-IDENTICAL
  * to a full rebuild (the deterministic-membership dividend — no
  * approximation drift, ever), staleness fails closed, the scale
  * stays integer, and the binomial error model holds on the
  * fixture. */
class SampledAggSpec extends SparkSpec {
  import spark.implicits._

  test("sample lifecycle: serve from artifact, zero-drift maintenance, fail-closed staleness, bounded error") {
    withIndexRoot("graft-aqp") {
      val dir = tmpDir("graft-aqp-data")
      val ppm = 100000L // 10% — scale 10
      (1L to 20000L).map(i => (i, s"g${i % 4}", (i % 13).toDouble))
        .toDF("id", "g", "v")
        .write.mode("overwrite").parquet(s"$dir/ev.parquet")
      SampledAgg.ensureSample(spark, dir, "ev", "id", ppm)
      val sample = SampledAgg.sampleIfCurrent(spark, dir, "ev", "id", ppm)
        .getOrElse(fail("fresh sample must serve"))
      // serving reads ONLY the artifact, never the corpus
      assert(sample.inputFiles.forall(_.contains("aqp_")),
        s"sample reads must stay inside the artifact: ${sample.inputFiles.toSeq}")
      // the sample IS the membership predicate's rows
      val expected = graft.Tables(spark, dir, "ev")
        .where(SampledAgg.membership("id", ppm))
        .collect().map(_.toString).sorted
      assert(sample.collect().map(_.toString).sorted.sameElements(expected))

      // the binomial error model holds: est = n_s × scale within
      // 6·sigma of the truth (deterministic hash ~ binomial draw)
      val scale = SampledAgg.scaleFactor(ppm)
      assert(scale === 10L)
      val nS = sample.count()
      val est = nS * scale
      val f = ppm.toDouble / SampledAgg.M
      val sigma = math.sqrt(20000L * f * (1 - f)) * scale
      assert(math.abs(est - 20000L) <= 6 * sigma,
        s"est $est vs 20000, sigma $sigma")

      // append → fail closed → O(batch) maintenance → IDENTICAL to a
      // full rebuild (membership never depended on the rest of the
      // corpus, so maintenance cannot drift)
      val batch = (20001L to 24000L).map(i => (i, s"g${i % 4}", 1.0))
        .toDF("id", "g", "v")
      batch.write.mode("append").parquet(s"$dir/ev.parquet")
      assert(SampledAgg.sampleIfCurrent(spark, dir, "ev", "id", ppm).isEmpty,
        "appended-but-unmaintained must fail closed")
      SampledAgg.appendMaintainSample(spark, dir, "ev", "id", ppm, batch)
      val maintained = SampledAgg.sampleIfCurrent(spark, dir, "ev", "id", ppm)
        .getOrElse(fail("maintained sample must serve"))
        .collect().map(_.toString).sorted
      val rebuilt = graft.Tables(spark, dir, "ev")
        .where(SampledAgg.membership("id", ppm))
        .collect().map(_.toString).sorted
      assert(maintained.sameElements(rebuilt),
        "maintenance must be bit-identical to a rebuild")
      // RETRY idempotence (r14 review): a double call is a no-op...
      SampledAgg.appendMaintainSample(spark, dir, "ev", "id", ppm, batch)
      // ...and a stale stamp over the merged data converges on retry
      // instead of double-appending the batch's rows
      EnsureWatermark.rewriteStampForTest(
        SampledAgg.samplePath(dir, "ev", "id", ppm))(_.copy(covered = "stale"))
      SampledAgg.appendMaintainSample(spark, dir, "ev", "id", ppm, batch)
      val retried = SampledAgg.sampleIfCurrent(spark, dir, "ev", "id", ppm)
        .getOrElse(fail("must serve after retry"))
        .collect().map(_.toString).sorted
      assert(retried.sameElements(rebuilt),
        "a crash-window retry must converge, never double-weight the batch")

      // the integer-scale precondition is enforced, not assumed
      intercept[IllegalArgumentException] {
        SampledAgg.ensureSample(spark, dir, "ev", "id", ppm = 300000L)
      }
      // a torn part never serves
      val sp = SampledAgg.samplePath(dir, "ev", "id", ppm)
      val marker = new java.io.File(
        s"${EnsureWatermark.stampOf(sp).get.part(sp, "data")}/_SUCCESS")
      assert(marker.delete())
      assert(SampledAgg.sampleIfCurrent(spark, dir, "ev", "id", ppm).isEmpty)
    }
  }

  test("stratified sample covers rare strata, scales by exact counts, maintains exactly") {
    withIndexRoot("graft-aqp-strat") {
      val dir = tmpDir("graft-aqp-strat-data")
      // one BIG stratum (18k rows) and one RARE one (60 rows): the
      // uniform 1%-class sample would starve the rare stratum; the
      // stratified artifact must carry min(K, n) of each
      val rows = (1L to 18000L).map(i => (i, "big", 2L)) ++
        (100001L to 100060L).map(i => (i, "rare", 5L))
      rows.toDF("id", "st", "v")
        .write.mode("overwrite").parquet(s"$dir/ev.parquet")
      val K = 100
      SampledAgg.ensureStratifiedSample(spark, dir, "ev", "id", "st", K)
      val (sample, counts) = SampledAgg.stratifiedIfCurrent(
        spark, dir, "ev", "id", "st", K).getOrElse(fail("must serve"))
      val byStratum = sample.groupBy($"st").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStratum === Map("big" -> 100L, "rare" -> 60L),
        "every stratum carries min(K, n) rows")
      // constant v per stratum makes the estimate EXACT: the scaled
      // sum must equal the true sum for both strata
      val est = sample.groupBy($"st")
        .agg(count(lit(1)).as("k_used"), sum($"v").as("v_sample"))
        .join(counts.withColumnRenamed("stratum", "st"), Seq("st"))
        .selectExpr("st", "(v_sample * n) div k_used AS v_est")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est === Map("big" -> 36000L, "rare" -> 300L))

      // append: new rows enter where their hash ranks; maintenance
      // (old sample ∪ batch top-K, re-ranked) must be BIT-IDENTICAL
      // to a full rebuild — ranks are monotone under union
      val batch = (200001L to 203000L).map(i => (i, "big", 3L)) ++
        (300001L to 300010L).map(i => (i, "rare", 7L))
      val bdf = batch.toDF("id", "st", "v")
      bdf.write.mode("append").parquet(s"$dir/ev.parquet")
      assert(SampledAgg.stratifiedIfCurrent(
        spark, dir, "ev", "id", "st", K).isEmpty, "stale must fail closed")
      SampledAgg.appendMaintainStratified(spark, dir, "ev", "id", "st", K, bdf)
      val (m, mc) = SampledAgg.stratifiedIfCurrent(
        spark, dir, "ev", "id", "st", K).getOrElse(fail("must serve"))
      val rebuilt = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"st")
          .orderBy(graft.functions.DetHash.hash60($"id", "aqps"), $"id")
        graft.Tables(spark, dir, "ev")
          .withColumn("rk", row_number().over(w))
          .where($"rk" <= K).drop("rk")
      }
      assert(m.collect().map(_.toString).sorted.sameElements(
        rebuilt.collect().map(_.toString).sorted),
        "maintained stratified sample must equal a rebuild exactly")
      assert(mc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("big" -> 21000L, "rare" -> 70L), "counts add exactly")
      // RETRY idempotence + crash window (r14 review): the stamped
      // counts must never add the batch twice, the deduped re-rank
      // must never keep a row twice
      SampledAgg.appendMaintainStratified(spark, dir, "ev", "id", "st", K, bdf)
      EnsureWatermark.rewriteStampForTest(
        SampledAgg.stratSamplePath(dir, "ev", "id", "st", K))(
        _.copy(covered = "stale"))
      SampledAgg.appendMaintainStratified(spark, dir, "ev", "id", "st", K, bdf)
      val (m2, mc2) = SampledAgg.stratifiedIfCurrent(
        spark, dir, "ev", "id", "st", K).getOrElse(fail("must serve"))
      assert(m2.collect().map(_.toString).sorted.sameElements(
        rebuilt.collect().map(_.toString).sorted),
        "crash-window retry must keep the sample a rebuild, not a double")
      assert(mc2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("big" -> 21000L, "rare" -> 70L),
        "stamped counts must never add the batch twice")
    }
  }

  test("tolerance serving ladder: sample within bound, stratified past it, exact corpus as the fail-closed floor") {
    withIndexRoot("graft-aqp-tol") {
      val dir = tmpDir("graft-aqp-tol-data")
      (1L to 8000L).map(i => (i, i % 4)).toDF("key", "g")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val exactCounts = graft.Tables(spark, dir, "t").groupBy($"g")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // floor: NO artifacts at all -> exact corpus scan, error 0
      val (floor0, src0) = SampledAgg.serveGroupCounts(spark, dir, "t",
        "key", "g", tolerancePpm = 500000L,
        ppms = Seq(250000L), stratifiedK = Some(100))
      assert(src0 === "exact")
      assert(floor0.collect().forall(r => r.getAs[Long]("rel_err_ppm") == 0L &&
        r.getAs[Long]("n_est") == exactCounts(r.getAs[Long]("g"))))
      // sample within bound: ~500 sampled rows per group -> 2σ ≈ 9%
      SampledAgg.ensureSample(spark, dir, "t", "key", 250000L)
      val (est, src1) = SampledAgg.serveGroupCounts(spark, dir, "t",
        "key", "g", tolerancePpm = 150000L, ppms = Seq(250000L))
      assert(src1 === "sample_250000")
      est.collect().foreach { r =>
        val g = r.getAs[Long]("g")
        val bound = r.getAs[Long]("rel_err_ppm")
        assert(bound > 0 && bound <= 150000L, s"disclosed bound within tolerance: $bound")
        val err = math.abs(r.getAs[Long]("n_est") - exactCounts(g)).toDouble /
          exactCounts(g)
        assert(err <= 3.0 * bound / 1e6, s"the 2σ bound must hold with slack: $err vs $bound ppm")
      }
      // a tolerance the sample cannot meet escalates to the
      // stratified tier's EXACT recorded counts
      SampledAgg.ensureStratifiedSample(spark, dir, "t", "key", "g", 100)
      val (strat, src2) = SampledAgg.serveGroupCounts(spark, dir, "t",
        "key", "g", tolerancePpm = 1000L,
        ppms = Seq(250000L), stratifiedK = Some(100))
      assert(src2 === "stratified")
      assert(strat.collect().forall(r => r.getAs[Long]("rel_err_ppm") == 0L &&
        r.getAs[Long]("n_est") == exactCounts(r.getAs[Long]("g"))))
    }
  }

  test("tolerance SUM ladder: variance bound holds, stratified rung scales by exact counts, k=n strata are exact") {
    withIndexRoot("graft-aqp-sums") {
      val dir = tmpDir("graft-aqp-sums-data")
      // group 0: 4000 rows (stratified keeps 100 of them — a true
      // subsample); group 1: 60 rows (fully contained, k = n)
      val rows = (1L to 4000L).map(i => (i, 0L, (i % 97).toDouble)) ++
        (1L to 60L).map(i => (100000L + i, 1L, (i % 13).toDouble))
      rows.toDF("key", "g", "value")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val exactSums = graft.Tables(spark, dir, "t").groupBy($"g")
        .agg(sum(floor($"value")).as("sv")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // uniform-sample leg: bound discloses and holds with slack
      SampledAgg.ensureSample(spark, dir, "t", "key", 250000L)
      val (est, src1) = SampledAgg.serveGroupSums(spark, dir, "t",
        "key", "g", "value", tolerancePpm = 1000000L, ppms = Seq(250000L))
      assert(src1 === "sample_250000")
      est.collect().foreach { r =>
        val g = r.getAs[Long]("g")
        val bound = r.getAs[Long]("rel_err_ppm")
        assert(bound > 0)
        val err = math.abs(r.getAs[Long]("sum_est") - exactSums(g)).toDouble /
          exactSums(g)
        assert(err <= 3.0 * bound / 1e6,
          s"the 2-sigma sum bound must hold with slack: $err vs $bound ppm (g=$g)")
      }
      // stratified rung: a tolerance the uniform sample cannot meet
      // but the per-stratum artifact can; the tiny stratum is FULLY
      // contained (k = n) and therefore exact with bound 0
      SampledAgg.ensureStratifiedSample(spark, dir, "t", "key", "g", 100)
      val uniformWorst = est.agg(max($"rel_err_ppm")).head().getLong(0)
      val (strat, src2) = SampledAgg.serveGroupSums(spark, dir, "t",
        "key", "g", "value", tolerancePpm = uniformWorst - 1,
        ppms = Seq(250000L), stratifiedK = Some(100))
      assert(src2 === "stratified",
        s"the ladder must escalate past the sample to the stratified rung")
      val byG = strat.collect().map(r => r.getAs[Long]("g") -> r).toMap
      assert(byG(1L).getAs[Long]("rel_err_ppm") === 0L,
        "a fully-contained stratum is exact")
      assert(byG(1L).getAs[Long]("sum_est") === exactSums(1L))
      val g0 = byG(0L)
      assert(g0.getAs[Long]("rel_err_ppm") > 0L)
      val err0 = math.abs(g0.getAs[Long]("sum_est") - exactSums(0L)).toDouble /
        exactSums(0L)
      assert(err0 <= 3.0 * g0.getAs[Long]("rel_err_ppm") / 1e6,
        "the stratified sum bound holds with slack")
    }
  }

  test("q95's serve ladder decides each rung in one job") {
    withIndexRoot("graft-aqp-q95-jobs") {
      val dir = tmpDir("graft-aqp-q95-data")
      (0L until 20000L).map(i => (i, new java.sql.Timestamp(1704067200000L + i * 60000L),
          i % 50, "view", (i * 37 % 100).toDouble))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      def run(): Unit = graft.queries.RelationalQueries.q95ToleranceSums
        .fn(spark, dir).write.format("noop").mode("overwrite").save()
      run() // builds the fixture and its sample
      // two sample rungs decide per run — the loose leg's serves, the
      // tight leg's fails its bound; each is one aggregate query (a run
      // took 17 jobs when the envelope and the worst bound were two)
      val jobs = jobsDuring(run())
      assert(jobs <= 11, s"q95 ran $jobs jobs")
    }
  }

  test("group rollup: error-0 rung dominates the ladder, maintains additively at O(batch), fails closed stale") {
    withIndexRoot("graft-aqp-roll") {
      val dir = tmpDir("graft-aqp-roll-data")
      (1L to 6000L).map(i => (i, i % 3, (i % 7).toDouble))
        .toDF("key", "g", "value")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      def exact() = graft.Tables(spark, dir, "t").groupBy($"g")
        .agg(count(lit(1)).as("n"), sum(floor($"value")).as("s")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      SampledAgg.ensureGroupRollup(spark, dir, "t", "g", "value")
      // all three faces serve error 0 from the rollup — even at
      // tolerance 0, with NO sample anywhere
      val (sums, s1) = SampledAgg.serveGroupSums(spark, dir, "t",
        "key", "g", "value", tolerancePpm = 0L)
      assert(s1 === "rollup")
      assert(sums.inputFiles.forall(_.contains("aqpr_")), "kilobyte read only")
      val e0 = exact()
      assert(sums.collect().forall(r => r.getAs[Long]("sum_est") ==
        e0(r.getAs[Long]("g"))._2 && r.getAs[Long]("rel_err_ppm") == 0L))
      val (cnts, c1) = SampledAgg.serveGroupCounts(spark, dir, "t",
        "key", "g", tolerancePpm = 0L, rollupValueCol = Some("value"))
      assert(c1 === "rollup")
      assert(cnts.collect().forall(r => r.getAs[Long]("n_est") ==
        e0(r.getAs[Long]("g"))._1))
      val (avgs, a1) = SampledAgg.serveGroupAvgs(spark, dir, "t",
        "key", "g", "value", tolerancePpm = 0L)
      assert(a1 === "rollup")
      assert(avgs.collect().forall { r =>
        val (n, sm) = e0(r.getAs[Long]("g"))
        r.getAs[Long]("avg_est") == sm / n
      })
      // append → fail closed → O(batch) additive maintenance equals a
      // rebuild exactly; a double call never re-adds the batch
      val batch = (10001L to 12000L).map(i => (i, i % 3, 3.0))
        .toDF("key", "g", "value")
      batch.write.mode("append").parquet(s"$dir/t.parquet")
      assert(SampledAgg.groupRollupIfCurrent(spark, dir, "t", "g", "value")
        .isEmpty, "appended-but-unmaintained must fail closed")
      val (floor1, fSrc) = SampledAgg.serveGroupSums(spark, dir, "t",
        "key", "g", "value", tolerancePpm = 0L)
      assert(fSrc === "exact", "a stale rollup falls to the exact floor")
      SampledAgg.appendMaintainGroupRollup(spark, dir, "t", "g", "value", batch)
      SampledAgg.appendMaintainGroupRollup(spark, dir, "t", "g", "value", batch)
      val e1 = exact()
      val served = SampledAgg.groupRollupIfCurrent(spark, dir, "t", "g", "value")
        .getOrElse(fail("must serve after maintenance")).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
      assert(served === e1, "additive maintenance equals a rebuild, applied once")
    }
  }

  test("quantile ladder: bin-width bound holds in-domain; overflow-bin percentiles refuse the rung") {
    withIndexRoot("graft-aqp-quant") {
      val dir = tmpDir("graft-aqp-quant-data")
      // type 'in': values 0..400 (inside the [0,500) domain);
      // type 'over': values 400..1000 — its p95 lands in the
      // unbounded overflow bin, where no honest relative bound exists
      val ts0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val rows = (1L to 4000L).map(i => (ts0, "in", (i % 401).toDouble)) ++
        (1L to 4000L).map(i => (ts0, "over", 400.0 + (i % 601)))
      rows.toDF("ts", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      graft.operators.HistogramRollup.ensure(spark, dir)
      val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-18 00:00:00")
      // p50 of 'in' ≈ 200 → bound ≈ 25000 ppm; p50 of 'over' ≈ 700 —
      // the overflow bin caps ITS bound at 10⁶, so the worst-group
      // screen refuses any tolerance below the cap
      val (_, s1) = SampledAgg.serveQuantile(spark, dir, lo, hi, 50,
        tolerancePpm = 500000L)
      assert(s1 === "exact",
        "an overflow-bin percentile must refuse the histogram rung for any sub-cap tolerance")
      // at the cap the capped bound is admissible — and DISCLOSED
      val (capped, s2) = SampledAgg.serveQuantile(spark, dir, lo, hi, 50,
        tolerancePpm = 1000000L)
      assert(s2 === "histogram")
      val byType = capped.collect()
        .map(r => r.getString(0) -> r).toMap
      assert(byType("over").getAs[Long]("rel_err_ppm") === 1000000L,
        "the overflow bin discloses the cap, never a fabricated bound")
      // the in-domain bound holds: |exact − est| ≤ one bin width
      val estIn = byType("in").getAs[Long]("q_e4")
      val exactIn = {
        val (ex, src) = SampledAgg.serveQuantile(spark, dir, lo, hi, 50,
          tolerancePpm = 0L)
        assert(src === "exact")
        ex.collect().map(r => r.getString(0) -> r.getAs[Long]("q_e4"))
          .toMap.apply("in")
      }
      assert(math.abs(estIn - exactIn) <= 50000L,
        s"bin-width bound must hold: est $estIn vs exact $exactIn")
    }
  }

  test("group histogram: quantiles within one bin, null sentinel, additive maintenance, coherence (D109)") {
    withIndexRoot("graft-aqp-ghist") {
      val dir = tmpDir("graft-aqp-ghist-data")
      // g=0: 0..400 uniform; g=1: 0..100 plus NULLs (the sentinel leg)
      val rows = (1L to 4000L).map(i => (i, 0L, Some((i % 401).toDouble))) ++
        (1L to 900L).map(i => (10000L + i, 1L, Some((i % 101).toDouble))) ++
        (1L to 100L).map(i => (20000L + i, 1L, None: Option[Double]))
      rows.toDF("key", "g", "value")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      SampledAgg.ensureGroupHistogram(spark, dir, "t", "g", "value")
      // Σcnt == table rows — the null sentinel makes the artifact's
      // own mass the coherence input
      val (bins0, bw, nb) = SampledAgg.groupHistIfCurrent(
        spark, dir, "t", "g", "value").getOrElse(fail("must serve"))
      assert(bw === 50000L && nb === 100)
      assert(bins0.agg(sum($"cnt")).head().getLong(0) === 5000L)
      assert(bins0.where($"bin" === -1L).agg(sum($"cnt")).head()
        .getLong(0) === 100L, "nulls land in the sentinel bin")
      // the served estimate is within one bin of the exact rank
      val (est, src) = SampledAgg.serveGroupQuantiles(spark, dir, "t",
        "g", "value", 50, tolerancePpm = 1000000L)
      assert(src === "histogram")
      val (exact, srcX) = SampledAgg.serveGroupQuantiles(spark, dir, "t",
        "g", "value", 50, tolerancePpm = 0L)
      assert(srcX === "exact")
      val eMap = est.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val xMap = exact.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(eMap.keySet === Set(0L, 1L) && xMap.keySet === Set(0L, 1L))
      eMap.foreach { case (g, e) =>
        assert(math.abs(e - xMap(g)) <= 50000L,
          s"one-bin bound must hold for g=$g: $e vs ${xMap(g)}")
      }
      // additive O(batch) maintenance equals a rebuild; double call
      // is a no-op
      val batch = (30000L to 30499L).map(i => (i, 0L, Some(42.0)))
        .toDF("key", "g", "value")
      batch.write.mode("append").parquet(s"$dir/t.parquet")
      assert(SampledAgg.groupHistIfCurrent(spark, dir, "t", "g", "value")
        .isEmpty, "appended-but-unmaintained fails closed")
      SampledAgg.appendMaintainGroupHistogram(spark, dir, "t", "g", "value", batch)
      SampledAgg.appendMaintainGroupHistogram(spark, dir, "t", "g", "value", batch)
      val (bins1, _, _) = SampledAgg.groupHistIfCurrent(
        spark, dir, "t", "g", "value").getOrElse(fail("must serve"))
      val rebuilt = graft.Tables(spark, dir, "t")
        .select($"g".as("grp"),
          when($"value".isNull, lit(-1L))
            .otherwise(greatest(lit(0L),
              least(floor($"value" / 5.0).cast("long"), lit(100L)))).as("bin"))
        .groupBy($"grp", $"bin").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(bins1.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap === rebuilt,
        "maintenance must equal a rebuild, applied once")
      // rowcount coherence: out-of-band delete then append → rebuild
      val keep = graft.Tables(spark, dir, "t").where($"key" <= 3000L).collect()
      val schema = graft.Tables(spark, dir, "t").schema
      spark.createDataFrame(
          spark.sparkContext.parallelize(keep.toIndexedSeq, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val b2 = (40000L to 40099L).map(i => (i, 1L, Some(7.0)))
        .toDF("key", "g", "value")
      b2.write.mode("append").parquet(s"$dir/t.parquet")
      SampledAgg.appendMaintainGroupHistogram(spark, dir, "t", "g", "value", b2)
      val (bins2, _, _) = SampledAgg.groupHistIfCurrent(
        spark, dir, "t", "g", "value").getOrElse(fail("must serve"))
      assert(bins2.agg(sum($"cnt")).head().getLong(0) ===
        graft.Tables(spark, dir, "t").count(),
        "an out-of-band delete must rebuild, never blind-merge")
      // knob re-provisioning (review pass 3): a CURRENT artifact with
      // different knobs rebuilds at the requested granularity, never
      // a silent no-op leaving the finer tolerance unreachable
      SampledAgg.ensureGroupHistogram(spark, dir, "t", "g", "value",
        binWidth = 1.0, numBins = 500)
      val (_, bw2, nb2) = SampledAgg.groupHistIfCurrent(
        spark, dir, "t", "g", "value").getOrElse(fail("must serve"))
      assert(bw2 === 10000L && nb2 === 500,
        "the requested knobs must win over the surviving artifact")
    }
  }

  test("rowcount coherence: out-of-band deletes never blind-merge — every maintainer rebuilds (r16 review)") {
    withIndexRoot("graft-aqp-coherence") {
      val dir = tmpDir("graft-aqp-coherence-data")
      (1L to 6000L).map(i => (i, i % 3, (i % 7).toDouble))
        .toDF("key", "g", "value")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      SampledAgg.ensureGroupRollup(spark, dir, "t", "g", "value")
      SampledAgg.ensureSample(spark, dir, "t", "key", 250000L)
      SampledAgg.ensureStratifiedSample(spark, dir, "t", "key", "g", 50)
      // OUT-OF-BAND delete: the table shrinks to 4000 rows with no
      // delete-maintenance call anywhere
      val keep = graft.Tables(spark, dir, "t").where($"key" <= 4000L)
        .collect()
      val schema = graft.Tables(spark, dir, "t").schema
      spark.createDataFrame(
          spark.sparkContext.parallelize(keep.toIndexedSeq, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      // then a batch appends the normal way
      val batch = (10001L to 10500L).map(i => (i, i % 3, 3.0))
        .toDF("key", "g", "value")
      batch.write.mode("append").parquet(s"$dir/t.parquet")
      // every maintainer detects Σold + |batch| ≠ |table| and REBUILDS
      // — a blind merge would stamp the deleted rows' mass current
      SampledAgg.appendMaintainGroupRollup(spark, dir, "t", "g", "value", batch)
      val exact = graft.Tables(spark, dir, "t").groupBy($"g")
        .agg(count(lit(1)).as("n"), sum(floor($"value")).as("s")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val roll = SampledAgg.groupRollupIfCurrent(spark, dir, "t", "g", "value")
        .getOrElse(fail("the rollup must serve after the rebuild")).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
      assert(roll === exact,
        "the rollup must equal the live table, never old + batch")
      SampledAgg.appendMaintainSample(spark, dir, "t", "key", 250000L, batch)
      val sample = SampledAgg.sampleIfCurrent(spark, dir, "t", "key", 250000L)
        .getOrElse(fail("the sample must serve after the rebuild"))
        .collect().map(_.toString).sorted
      val rebuilt = graft.Tables(spark, dir, "t")
        .where(SampledAgg.membership("key", 250000L))
        .collect().map(_.toString).sorted
      assert(sample.sameElements(rebuilt),
        "the maintained sample must not retain deleted rows")
      SampledAgg.appendMaintainStratified(spark, dir, "t", "key", "g", 50, batch)
      val (_, counts) = SampledAgg.stratifiedIfCurrent(
        spark, dir, "t", "key", "g", 50)
        .getOrElse(fail("the stratified artifact must serve after the rebuild"))
      assert(counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        exact.map { case (g, (n, _)) => g -> n },
        "the exact stratum counts must equal the live table's")
    }
  }

  test("stratified scale-up envelope: a stratum count that would wrap sum_est refuses the rung (r16 advice)") {
    withIndexRoot("graft-aqp-envelope") {
      val dir = tmpDir("graft-aqp-envelope-data")
      // constant value -> variance 0, bound 0: only the SCALE-UP
      // product (s1 * n) can go wrong, which is exactly the hole the
      // old k²mv² check left open
      (1L to 1000L).map(i => (i, 0L, 500000.0)).toDF("key", "g", "value")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      SampledAgg.ensureStratifiedSample(spark, dir, "t", "key", "g", 100)
      // control: with the TRUE stratum count the rung serves
      val (_, okSrc) = SampledAgg.serveGroupSums(spark, dir, "t",
        "key", "g", "value", tolerancePpm = 1000000L,
        stratifiedK = Some(100))
      assert(okSrc === "stratified", "sane counts serve from the rung")
      // forge a ~10¹²-row stratum count into the CURRENT commit (the
      // state a genuinely huge corpus would produce):
      // k·mv·n = 100 · 5e5 · 1e12 = 5e19 > 2⁶³ — the long product
      // s1·n would wrap and serve garbage under a 0-ppm bound
      val sp = SampledAgg.stratSamplePath(dir, "t", "key", "g", 100)
      Seq((0L, 1000000000000L)).toDF("stratum", "n")
        .coalesce(1).write.mode("overwrite")
        .parquet(EnsureWatermark.stampOf(sp).get.part(sp, "counts"))
      val (floor, src) = SampledAgg.serveGroupSums(spark, dir, "t",
        "key", "g", "value", tolerancePpm = 1000000L,
        stratifiedK = Some(100))
      assert(src === "exact",
        "a stratum outside the scale-up envelope must fall down the ladder, never serve a wrapped estimate")
      assert(floor.collect().forall(_.getAs[Long]("rel_err_ppm") == 0L))
    }
  }
}
