package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The maintained-stats contract: exact n/nulls/min/max through
  * appends (typed bound merge, never lexicographic numbers),
  * register max-merge bit-identical to a full rebuild, fail-closed
  * on appended-but-unmaintained data and torn artifacts, and an NDV
  * estimate of advisory quality. */
class StatsMaintainSpec extends SparkSpec {
  import spark.implicits._

  private def base(dir: String): Unit =
    (1L to 900L).map(i => (i, i % 120, s"s${i % 7}", i / 10.0))
      .toDF("id", "k", "tag", "x")
      .write.mode("overwrite").parquet(s"$dir/mt.parquet")

  /** The committed part `name` of the maintained column stats. */
  private def statsPart(dir: String, table: String, name: String): String = {
    val p = StatsMaintain.statsPath(dir, table)
    EnsureWatermark.stampOf(p).getOrElse(fail("no committed stamp")).part(p, name)
  }

  private def batchRows =
    // ids 2000..2099 extend max; k extends ndv; a value 0.05 drops
    // the double min BELOW 1/10 — the typed-merge tripwire: "0.05" >
    // "0.1" lexicographically, so a string compare would keep 0.1
    (2000L to 2099L).map(i => (i, i % 200, s"s${i % 7}", 0.05))
      .toDF("id", "k", "tag", "x")

  test("exact fields stay exact through an append; registers merge bit-identically") {
    withIndexRoot("graft-maint") {
      val dir = tmpDir("graft-maint-data")
      base(dir)
      StatsMaintain.ensure(spark, dir, "mt")
      val m0 = StatsMaintain.statsIfCurrent(spark, dir, "mt").get
      assert(m0("id").n === 900L && m0("id").min === Some("1") &&
        m0("id").max === Some("900"))
      // append the file FIRST (the contract), then maintain
      batchRows.write.mode("append").parquet(s"$dir/mt.parquet")
      assert(StatsMaintain.statsIfCurrent(spark, dir, "mt").isEmpty,
        "appended-but-unmaintained must fail closed")
      StatsMaintain.appendMaintain(spark, dir, "mt", batchRows)
      val m1 = StatsMaintain.statsIfCurrent(spark, dir, "mt").get
      assert(m1("id").n === 1000L && m1("id").nulls === 0L)
      assert(m1("id").max === Some("2000") || m1("id").max === Some("2099"))
      assert(m1("id").max.get.toLong === 2099L,
        s"typed merge must extend the max: ${m1("id").max}")
      assert(m1("x").min.get.toDouble === 0.05,
        "a lexicographic merge would have kept 0.1 as the double min")
      // register exactness: the maintained registers equal a full
      // rebuild's, row for row (max-merge is exact by algebra)
      val maintained = spark.read
        .parquet(statsPart(dir, "mt", "registers"))
        .collect().map(_.toString).sorted.toSeq
      StatsMaintain.reEnsure(spark, dir, "mt")
      val rebuilt = spark.read
        .parquet(statsPart(dir, "mt", "registers"))
        .collect().map(_.toString).sorted.toSeq
      assert(maintained === rebuilt,
        "maintenance must never degrade the sketch")
      // NDV estimate is advisory-grade: true ndv(k) = 120 base +
      // 80 new (120..199) = 200; HLL at 512 regs lands well within 2x
      val est = m1("k").ndvEst
      assert(est > 100L && est < 400L, s"ndv(k) estimate off: $est")
    }
  }

  test("the estimator survives an append through the maintained tier") {
    withIndexRoot("graft-maint-est") {
      val dir = tmpDir("graft-maint-est-data")
      base(dir)
      val CE = graft.plans.CardinalityEstimator
      // exact catalog built on the ORIGINAL listing
      StatsCatalog.ensure(spark, dir, "mt")
      StatsMaintain.ensure(spark, dir, "mt")
      def q = graft.Tables(spark, dir, "mt").where($"tag" === "s3")
      assert(CE.estimateRows(spark, q).isDefined)
      // append: the exact catalog's fingerprint path re-keys (stale),
      // and WITHOUT maintenance the estimator would go dark
      batchRows.write.mode("append").parquet(s"$dir/mt.parquet")
      assert(StatsCatalog.statsIfReady(spark, dir, "mt").isEmpty,
        "exact stats are correctly stale after the append")
      assert(CE.estimateRows(spark, q).isEmpty,
        "no current tier -> honest None")
      // O(batch) maintenance restores estimates; 1000 rows / 7 tags
      StatsMaintain.appendMaintain(spark, dir, "mt", batchRows)
      val est = CE.estimateRows(spark, q)
        .getOrElse(fail("maintained tier must serve"))
      assert(est >= BigInt(100) && est <= BigInt(220),
        s"1000/ndv(tag)~7 with HLL error: $est")
    }
  }

  test("join advice survives an append through the maintained tier too") {
    withIndexRoot("graft-maint-advice") {
      val dir = tmpDir("graft-maint-advice-data")
      // every key repeats ~90x: real skew at threshold 50
      (1L to 900L).map(i => (i % 10, i)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$dir/afact.parquet")
      (0L to 9L).map(i => (i, s"d$i")).toDF("k", "dn")
        .write.mode("overwrite").parquet(s"$dir/adim.parquet")
      Seq("afact", "adim").foreach(StatsCatalog.ensure(spark, dir, _))
      StatsMaintain.ensure(spark, dir, "afact")
      StatsMaintain.ensure(spark, dir, "adim")
      def advice = StatsCatalog.adviseJoin(spark, dir, "afact", "adim", "k",
        broadcastBytes = 0L, skewAvgFreq = 50.0)
      assert(advice.isInstanceOf[StatsCatalog.SaltedShuffle])
      // append: exact stats re-key (stale) -> without maintenance the
      // skew signal would vanish
      val batch = (901L to 1000L).map(i => (i % 10, i)).toDF("k", "v")
      batch.write.mode("append").parquet(s"$dir/afact.parquet")
      assert(advice === StatsCatalog.PlainShuffle,
        "stale everything -> no frequency signal, fail-open to plain")
      StatsMaintain.appendMaintain(spark, dir, "afact", batch)
      advice match {
        case StatsCatalog.SaltedShuffle(f) =>
          assert(f > 50.0, s"maintained mean must still flag the skew: $f")
        case other => fail(s"maintained tier must restore the signal: $other")
      }
    }
  }

  test("a batch missing a maintained column advances it as all-NULL") {
    withIndexRoot("graft-maint-miss") {
      val dir = tmpDir("graft-maint-miss-data")
      base(dir)
      StatsMaintain.ensure(spark, dir, "mt")
      // the caller's batch frame lacks tag and x entirely; the file it
      // appended serves NULL for them on every batch row
      val batchMissing = (2000L to 2049L).map(i => (i, i % 200)).toDF("id", "k")
      batchMissing
        .withColumn("tag", lit(null).cast("string"))
        .withColumn("x", lit(null).cast("double"))
        .write.mode("append").parquet(s"$dir/mt.parquet")
      StatsMaintain.appendMaintain(spark, dir, "mt", batchMissing)
      val m = StatsMaintain.statsIfCurrent(spark, dir, "mt").get
      // EVERY column's row count advances by the batch — the r13
      // advice's inconsistency (frozen n for the missing column while
      // siblings advanced) is the tripwire here
      assert(Seq("id", "k", "tag", "x").forall(c => m(c).n === 950L),
        s"per-column n must agree: ${m.view.mapValues(_.n).toMap}")
      assert(m("tag").nulls === 50L && m("x").nulls === 50L)
      assert(m("id").nulls === 0L && m("id").max === Some("2049"))
      // bounds stand: NULLs carry no values
      assert(m("x").min.get.toDouble === 0.1 && m("x").max.get.toDouble === 90.0)
      // and the whole artifact equals a full rebuild over the table
      val maintained = spark.read
        .parquet(statsPart(dir, "mt", "summary"))
        .collect().map(_.toString).sorted.toSeq
      StatsMaintain.reEnsure(spark, dir, "mt")
      val rebuilt = spark.read
        .parquet(statsPart(dir, "mt", "summary"))
        .collect().map(_.toString).sorted.toSeq
      assert(maintained === rebuilt,
        "all-NULL merge must coincide with a full rebuild")
    }
  }

  test("the maintained key profile merges additively and drives salted advice after an append") {
    withIndexRoot("graft-maint-keyprof") {
      val dir = tmpDir("graft-maint-keyprof-data")
      // zipfian: key 7 owns 1500 of 3000 base rows
      val baseRows = (1L to 1500L).map(i => (i % 30 + 100L, i, i % 9)) ++
        (1L to 1500L).map(i => (7L, 50000L + i, 1L))
      baseRows.toDF("k", "sid", "v")
        .write.mode("overwrite").parquet(s"$dir/zf.parquet")
      (1L to 150L).map(i => (i, s"d$i")).toDF("k", "dname")
        .write.mode("overwrite").parquet(s"$dir/zd.parquet")
      StatsMaintain.ensureKeyProfileMaint(spark, dir, "zf", "k",
        hotFreq = 500L)
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k")
        === Some((Seq("7"), 1500L)))
      // the exact profile goes stale the moment the table moves; the
      // maintained one merges the batch counts ADDITIVELY
      val batch = (1L to 600L).map(i => (7L, 90000L + i, 2L)).toDF("k", "sid", "v")
      batch.write.mode("append").parquet(s"$dir/zf.parquet")
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k").isEmpty,
        "appended-but-unmaintained must fail closed")
      StatsMaintain.appendMaintainKeyProfile(spark, dir, "zf", "k", batch)
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k")
        === Some((Seq("7"), 2100L)),
        "tracked hot count = base + batch, exactly")
      // ...and adviseJoin consumes it: the salted dispatch survives
      // the append with NO exact profile anywhere
      val advice = StatsCatalog.adviseJoin(spark, dir, "zf", "zd", "k",
        broadcastBytes = 0L, skewAvgFreq = 64.0)
      advice match {
        case StatsCatalog.SaltedShuffle(f) => assert(f === 2100.0)
        case other => fail(s"maintained profile must diagnose skew, got $other")
      }
      // the EXACT proof faces still refuse everything maintained:
      // no exact ANALYZE of the live listing exists for zf
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "zf", "sid"),
        "uniqueness proofs never read the maintained tier")
      assert(StatsCatalog.determines(spark, dir, "zf", "sid", "k").isEmpty,
        "FD proofs never read the maintained tier")
    }
  }

  test("the maintained column group serves the estimator after an append; FD proofs refuse it") {
    withIndexRoot("graft-maint-grp") {
      val dir = tmpDir("graft-maint-grp-data")
      // correlated pair: city determines-ish region (10 cities × 1
      // region each) — tuple ndv 10, independence product 10×3=30
      (1L to 600L).map(i => (s"c${i % 10}", s"r${i % 10 % 3}", i))
        .toDF("city", "region", "v")
        .write.mode("overwrite").parquet(s"$dir/geo.parquet")
      StatsCatalog.ensure(spark, dir, "geo")
      StatsMaintain.ensure(spark, dir, "geo")
      StatsMaintain.ensureColumnGroupMaint(spark, dir, "geo",
        Seq("city", "region"))
      val g0 = StatsMaintain.columnGroupApproxIfCurrent(spark, dir, "geo",
        Seq("city", "region")).getOrElse(fail("must serve when current"))
      assert(!g0.exact && g0.n === 600L)
      assert(g0.ndv >= 8 && g0.ndv <= 12, s"HLL of 10 tuples: ${g0.ndv}")
      // append two NEW cities; maintain group + column stats at O(batch)
      val batch = (1L to 60L).map(i => (s"c1${i % 2}", "r9", 9999L + i))
        .toDF("city", "region", "v")
      batch.write.mode("append").parquet(s"$dir/geo.parquet")
      assert(StatsMaintain.columnGroupApproxIfCurrent(spark, dir, "geo",
        Seq("city", "region")).isEmpty, "stale group must fail closed")
      StatsMaintain.appendMaintain(spark, dir, "geo", batch)
      StatsMaintain.appendMaintainColumnGroup(spark, dir, "geo",
        Seq("city", "region"), batch)
      val g1 = StatsMaintain.columnGroupApproxIfCurrent(spark, dir, "geo",
        Seq("city", "region")).getOrElse(fail("must serve after maintain"))
      assert(g1.n === 660L && g1.ndv >= 10 && g1.ndv <= 14,
        s"merged tuple ndv ≈ 12: ${g1.ndv}")
      // the ESTIMATOR consumes the maintained tier: a correlated
      // GROUP BY estimates at the measured tuple-NDV, not the
      // independence product, even though the exact group (if any)
      // and exact stats are stale after the append
      val gb = graft.Tables(spark, dir, "geo")
        .groupBy($"city", $"region").agg(count(lit(1)))
      val est = graft.plans.CardinalityEstimator.estimateRows(
        spark, gb, useColumnGroups = true)
      assert(est.isDefined && est.get >= 10 && est.get <= 14,
        s"maintained tuple-NDV must serve the estimate: $est")
      // FD proofs demand the EXACT artifact of the LIVE listing
      assert(StatsCatalog.determines(spark, dir, "geo", "city", "region")
        .isEmpty, "approx groups never license an FD")
    }
  }

  test("the maintained MCV list merges additively, drives the learned tiers after an append, and is crash-convergent") {
    withIndexRoot("graft-maint-mcv") {
      val dir = tmpDir("graft-maint-mcv-data")
      // zipfian: value 7 owns 1500 of 3000 base rows; 30-key tail
      val baseRows = (1L to 1500L).map(i => (i % 30 + 100L, i, i % 9)) ++
        (1L to 1500L).map(i => (7L, 50000L + i, 1L))
      baseRows.toDF("k", "sid", "v")
        .write.mode("overwrite").parquet(s"$dir/zf.parquet")
      (1L to 150L).map(i => (i, s"d$i")).toDF("k", "dname")
        .write.mode("overwrite").parquet(s"$dir/zd.parquet")
      StatsMaintain.ensureMcvMaint(spark, dir, "zf", "k", k = 8)
      val m0 = StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k")
        .getOrElse(fail("a fresh maintained list must serve"))
      assert(m0.head === (("7", 1500L)) && m0.size === 8)
      // on an unappended table the maintained list IS the exact list
      // (same ranking contract: freq DESC, value ASC, top k)
      StatsCatalog.ensureMcv(spark, dir, "zf", "k", k = 8)
      assert(StatsCatalog.mcvIfReady(spark, dir, "zf", "k").contains(m0))
      val preFp = IndexStore.fingerprint(dir, "zf")
      val batch = (1L to 600L).map(i => (7L, 90000L + i, 2L)).toDF("k", "sid", "v")
      batch.write.mode("append").parquet(s"$dir/zf.parquet")
      assert(StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k").isEmpty,
        "appended-but-unmaintained must fail closed")
      StatsMaintain.appendMaintainMcv(spark, dir, "zf", "k", batch)
      val m1 = StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k")
        .getOrElse(fail("must serve after maintenance"))
      assert(m1.head === (("7", 2100L)),
        "tracked hot count = base + batch, exactly")
      // the EXACT list is stale — the useMcv advice must now ride the
      // maintained one: skew diagnosed at the merged frequency
      assert(StatsCatalog.mcvIfReady(spark, dir, "zf", "k").isEmpty)
      StatsCatalog.adviseJoinSides(spark, dir, "zf", "k", dir, "zd", "k",
        broadcastBytes = 0L, skewAvgFreq = 64.0, useMcv = true) match {
        case StatsCatalog.SaltedShuffle(f) => assert(f === 2100.0)
        case other => fail(s"the maintained MCV must diagnose skew, got $other")
      }
      // the ESTIMATOR's MCV tier rides it too: the hot-value equality
      // estimates at the merged frequency, not the uniform 1/ndv
      StatsMaintain.ensure(spark, dir, "zf")
      val eq = graft.Tables(spark, dir, "zf").where($"k" === 7L)
      val est = graft.plans.CardinalityEstimator.estimateRows(
        spark, eq, useMcv = true)
      assert(est.isDefined && est.get >= 1900 && est.get <= 2200,
        s"maintained MCV hit must serve ~2100, got $est")
      // idempotence: a plain double call never re-sums the batch
      StatsMaintain.appendMaintainMcv(spark, dir, "zf", "k", batch)
      assert(StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k")
        .exists(_.head == (("7", 2100L))))
      // a stamp regressed to the pre-append listing over the MERGED
      // rows — the retry must never re-merge the batch (its covered
      // rows + |batch| ≠ |table|, so it rebuilds)
      EnsureWatermark.rewriteStampForTest(
        StatsMaintain.mcvMaintPath(dir, "zf", "k"))(_.copy(covered = preFp))
      assert(StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k").isEmpty,
        "the torn window fails closed before the retry")
      StatsMaintain.appendMaintainMcv(spark, dir, "zf", "k", batch)
      assert(StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k")
        .exists(_.head == (("7", 2100L))),
        "the retry converges to the single application, never base + 2×batch")
    }
  }

  test("key-profile maintenance is idempotent and crash-convergent (r14 advice: rows committed, meta not)") {
    withIndexRoot("graft-maint-kp-idem") {
      val dir = tmpDir("graft-maint-kp-idem-data")
      val baseRows = (1L to 1500L).map(i => (i % 30 + 100L, i, i % 9)) ++
        (1L to 1500L).map(i => (7L, 50000L + i, 1L))
      baseRows.toDF("k", "sid", "v")
        .write.mode("overwrite").parquet(s"$dir/zf.parquet")
      StatsMaintain.ensureKeyProfileMaint(spark, dir, "zf", "k", hotFreq = 500L)
      val preFp = IndexStore.fingerprint(dir, "zf")
      val batch = (1L to 600L).map(i => (7L, 90000L + i, 2L)).toDF("k", "sid", "v")
      batch.write.mode("append").parquet(s"$dir/zf.parquet")
      StatsMaintain.appendMaintainKeyProfile(spark, dir, "zf", "k", batch)
      val once = Some((Seq("7"), 2100L))
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k") === once)
      // a plain DOUBLE CALL with the same batch is a no-op
      StatsMaintain.appendMaintainKeyProfile(spark, dir, "zf", "k", batch)
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k") === once,
        "a double call must never re-sum the batch")
      // a stamp regressed to the pre-append listing over the MERGED
      // rows (the stamp is the one commit record, so this is the
      // forged form of "merged, not recorded")
      EnsureWatermark.rewriteStampForTest(
        StatsMaintain.keyProfPath(dir, "zf", "k"))(_.copy(covered = preFp))
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k").isEmpty,
        "the torn window fails closed before the retry")
      StatsMaintain.appendMaintainKeyProfile(spark, dir, "zf", "k", batch)
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k") === once,
        "the retry must see the merged rows: counts equal the single application, never base + 2×batch")
    }
  }

  test("delete maintenance retracts n/nulls exactly, degrades bounds honestly, and names its repair (r16)") {
    withIndexRoot("graft-maint-del") {
      val dir = tmpDir("graft-maint-del-data")
      // rows 1..1000; v null when i % 10 == 0; max carrier = row 1000
      (1L to 1000L).map(i => (i, if (i % 10 == 0) None else Some(i * 2)))
        .toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      StatsMaintain.ensure(spark, dir, "t")
      assert(!StatsMaintain.statsDegraded(spark, dir, "t"))
      // DELETE the top slice (ids 901..1000, 10 nulls, incl. the max)
      // by rewriting the table — the artifact fail-closes stale
      val keep = graft.Tables(spark, dir, "t").where($"id" <= 900L)
        .collect()
      val deleted = graft.Tables(spark, dir, "t").where($"id" > 900L)
        .collect()
      import org.apache.spark.sql.Row
      val schema = graft.Tables(spark, dir, "t").schema
      spark.createDataFrame(
          spark.sparkContext.parallelize(keep.toIndexedSeq, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(StatsMaintain.statsIfCurrent(spark, dir, "t").isEmpty,
        "deleted-but-unmaintained must fail closed")
      val delDf = spark.createDataFrame(
        spark.sparkContext.parallelize(deleted.toIndexedSeq, 2), schema)
      StatsMaintain.deleteMaintain(spark, dir, "t", delDf)
      // a plain double call is a no-op (covered == live)
      StatsMaintain.deleteMaintain(spark, dir, "t", delDf)
      val st = StatsMaintain.statsIfCurrent(spark, dir, "t")
        .getOrElse(fail("must serve after delete maintenance"))
      // retractable fields are EXACT
      assert(st("id").n === 900L && st("id").nulls === 0L)
      assert(st("v").n === 900L && st("v").nulls === 90L)
      // non-retractable fields degrade to one-sided bounds: the kept
      // max (1998 — id 999's value; id 1000 is null) still BOUNDS the
      // live max (1798); flagged degraded
      assert(st("v").max.map(_.toLong).contains(1998L),
        "the kept max is a bound, not the live value")
      assert(st("v").degraded && st("id").degraded)
      assert(StatsMaintain.statsDegraded(spark, dir, "t"))
      // the advisor NAMES the repair on any workload touching t
      val advice = Steering.adviseAnalyze(spark,
        Seq(graft.Tables(spark, dir, "t").groupBy($"v").count()))
      assert(advice.exists(a => a.kind == "degraded_stats" && a.table == "t"),
        s"adviseAnalyze must name the degraded artifact: $advice")
      // an APPEND on the degraded artifact maintains and stays
      // degraded (bounds remain bounds; only re-ANALYZE restores)
      val batch = (2001L to 2100L).map(i => (i, Some(i * 2)))
        .toDF("id", "v")
      batch.write.mode("append").parquet(s"$dir/t.parquet")
      StatsMaintain.appendMaintain(spark, dir, "t", batch)
      val st2 = StatsMaintain.statsIfCurrent(spark, dir, "t")
        .getOrElse(fail("must serve after append"))
      assert(st2("id").n === 1000L && st2("id").degraded,
        "append over a degraded artifact keeps the flag")
      assert(st2("v").max.map(_.toLong).contains(4200L))
      // the full rebuild restores exactness and clears the flag
      StatsMaintain.reEnsure(spark, dir, "t")
      val st3 = StatsMaintain.statsIfCurrent(spark, dir, "t")
        .getOrElse(fail("must serve after rebuild"))
      assert(!st3("v").degraded &&
        st3("v").max.map(_.toLong).contains(4200L) && st3("v").n === 1000L)
      assert(!StatsMaintain.statsDegraded(spark, dir, "t"))
    }
  }

  test("rowcount coherence: out-of-band deletes rebuild stats, key profile, and MCV — never a blind merge (r16 review)") {
    withIndexRoot("graft-maint-coherence") {
      val dir = tmpDir("graft-maint-coherence-data")
      val baseRows = (1L to 1500L).map(i => (i % 30 + 100L, i, i % 9)) ++
        (1L to 1500L).map(i => (7L, 50000L + i, 1L))
      baseRows.toDF("k", "sid", "v")
        .write.mode("overwrite").parquet(s"$dir/zf.parquet")
      StatsMaintain.ensure(spark, dir, "zf")
      StatsMaintain.ensureKeyProfileMaint(spark, dir, "zf", "k", hotFreq = 500L)
      StatsMaintain.ensureMcvMaint(spark, dir, "zf", "k", k = 8)
      // OUT-OF-BAND delete: 1000 of key 7's rows vanish with no
      // deleteMaintain anywhere (the r16 review's wrong window)
      val keep = graft.Tables(spark, dir, "zf")
        .where($"k" =!= 7L || $"sid" <= 50500L).collect()
      val schema = graft.Tables(spark, dir, "zf").schema
      spark.createDataFrame(
          spark.sparkContext.parallelize(keep.toIndexedSeq, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/zf.parquet")
      // then a normal append + maintenance of JUST the batch
      val batch = (1L to 100L).map(i => (7L, 90000L + i, 2L)).toDF("k", "sid", "v")
      batch.write.mode("append").parquet(s"$dir/zf.parquet")
      StatsMaintain.appendMaintain(spark, dir, "zf", batch)
      StatsMaintain.appendMaintainKeyProfile(spark, dir, "zf", "k", batch)
      StatsMaintain.appendMaintainMcv(spark, dir, "zf", "k", batch)
      // live truth: 1500 tail + 500 kept hot + 100 batch = 2100 rows,
      // key 7 at 600
      val st = StatsMaintain.statsIfCurrent(spark, dir, "zf")
        .getOrElse(fail("stats must serve after the rebuild"))
      assert(st("k").n === 2100L,
        "a blind merge would have served 3000 + 100")
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "zf", "k")
        === Some((Seq("7"), 600L)),
        "the profile must equal the live table, never old + batch")
      assert(StatsMaintain.mcvMaintIfCurrent(spark, dir, "zf", "k")
        .exists(_.headOption.contains(("7", 600L))),
        "the MCV list must equal the live table, never old + batch")
    }
  }

  test("column-stats and column-group maintenance are double-call idempotent") {
    withIndexRoot("graft-maint-grp-idem") {
      val dir = tmpDir("graft-maint-grp-idem-data")
      (1L to 600L).map(i => (s"c${i % 10}", s"r${i % 10 % 3}", i))
        .toDF("city", "region", "v")
        .write.mode("overwrite").parquet(s"$dir/geo.parquet")
      StatsMaintain.ensure(spark, dir, "geo")
      StatsMaintain.ensureColumnGroupMaint(spark, dir, "geo", Seq("city", "region"))
      val batch = (1L to 60L).map(i => (s"c1${i % 2}", "r9", 9999L + i))
        .toDF("city", "region", "v")
      batch.write.mode("append").parquet(s"$dir/geo.parquet")
      (1 to 2).foreach { _ => // the second pass must be a no-op
        StatsMaintain.appendMaintain(spark, dir, "geo", batch)
        StatsMaintain.appendMaintainColumnGroup(spark, dir, "geo",
          Seq("city", "region"), batch)
      }
      assert(StatsMaintain.statsIfCurrent(spark, dir, "geo")
        .get("city").n === 660L, "column n lands the batch exactly once")
      assert(StatsMaintain.columnGroupApproxIfCurrent(spark, dir, "geo",
        Seq("city", "region")).get.n === 660L,
        "group n lands the batch exactly once")
    }
  }

  test("torn artifacts and stale stamps never serve") {
    withIndexRoot("graft-maint-torn") {
      val dir = tmpDir("graft-maint-torn-data")
      base(dir)
      StatsMaintain.ensure(spark, dir, "mt")
      assert(StatsMaintain.statsIfCurrent(spark, dir, "mt").isDefined)
      // torn summary (no _SUCCESS): fail closed
      val marker = new java.io.File(s"${statsPart(dir, "mt", "summary")}/_SUCCESS")
      assert(marker.delete())
      assert(StatsMaintain.statsIfCurrent(spark, dir, "mt").isEmpty)
      // ensure repairs (full rebuild)
      StatsMaintain.ensure(spark, dir, "mt")
      assert(StatsMaintain.statsIfCurrent(spark, dir, "mt").isDefined)
    }
  }
}
