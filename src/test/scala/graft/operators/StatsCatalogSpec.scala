package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ANALYZE catalog contract: exact profiles match ground truth
  * column-for-column, the uniqueness proof face accepts ONLY
  * exact-mode current stats (approx mode, stale watermark, absent
  * stats all refuse — fail-closed, because uniqueness licenses a
  * semantics-changing rewrite), and join advice follows the stats. */
class StatsCatalogSpec extends SparkSpec {
  import spark.implicits._

  /** (unique key, dup key with nulls, string, double, array). */
  private def writeDim(dir: String): Unit =
    Seq(
      (1L, Option(10L), "alpha", 1.5, Seq(1.0)),
      (2L, Option(10L), "beta", -2.5, Seq(2.0)),
      (3L, None, "gamma", 0.0, Seq(3.0)),
      (4L, Option(20L), "delta", 9.75, Seq(4.0)))
      .toDF("k", "grp", "name", "x", "emb")
      .write.mode("overwrite").parquet(s"$dir/dim.parquet")

  test("exact profile matches ground truth per column") {
    withIndexRoot("graft-stats") {
      val dir = tmpDir("graft-stats-data")
      writeDim(dir)
      val st = StatsCatalog.stats(spark, dir, "dim")
      val k = st("k")
      assert(k.n === 4L && k.nulls === 0L && k.ndv === 4L)
      assert(k.min === Some("1") && k.max === Some("4"))
      assert(k.uniqueNonNull)
      val grp = st("grp")
      assert(grp.nulls === 1L && grp.ndv === 2L)
      assert(grp.min === Some("10") && grp.max === Some("20"))
      assert(!grp.uniqueNonNull, "duplicate values are not unique")
      val name = st("name")
      assert(name.ndv === 4L && name.min === Some("alpha") &&
        name.max === Some("gamma"))
      val x = st("x")
      assert(x.ndv === 4L && x.min.isDefined && x.max.isDefined)
      // non-orderable columns record no bounds but still profile NDV
      val emb = st("emb")
      assert(emb.min.isEmpty && emb.max.isEmpty && emb.ndv === 4L)
    }
  }

  test("uniqueNonNull fails closed: approx mode, stale watermark, absent stats") {
    withIndexRoot("graft-stats-proof") {
      val dir = tmpDir("graft-stats-proof-data")
      writeDim(dir)
      // absent stats: no proof, no build (an optimizer rule must not
      // launch jobs)
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      assert(EnsureWatermark.stampOf(StatsCatalog.statsPath(dir, "dim")).isEmpty)
      // approx stats exist and even happen to be numerically right —
      // still refused: only exact mode licenses a rewrite
      StatsCatalog.ensureApprox(spark, dir, "dim")
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      // exact rebuild proves it
      StatsCatalog.reEnsure(spark, dir, "dim")
      assert(StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "grp"))
      // artifact-side mutation vetoes the proof until reEnsure
      EnsureWatermark.veto(StatsCatalog.statsPath(dir, "dim"))
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      StatsCatalog.reEnsure(spark, dir, "dim")
      assert(StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
    }
  }

  test("a mutated raw table re-keys the stats path (no stale serve)") {
    withIndexRoot("graft-stats-mut") {
      val dir = tmpDir("graft-stats-mut-data")
      writeDim(dir)
      StatsCatalog.ensure(spark, dir, "dim")
      assert(StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      val oldPath = StatsCatalog.statsPath(dir, "dim")
      // append a duplicate key: k is no longer unique
      Seq((1L, Option(99L), "omega", 1.0, Seq(9.0)))
        .toDF("k", "grp", "name", "x", "emb")
        .write.mode("append").parquet(s"$dir/dim.parquet")
      assert(StatsCatalog.statsPath(dir, "dim") !== oldPath,
        "fingerprint must re-key on table mutation")
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"),
        "stale stats must not prove uniqueness of the mutated table")
    }
  }

  test("join advice follows the statistics") {
    withIndexRoot("graft-stats-advice") {
      val dir = tmpDir("graft-stats-advice-data")
      writeDim(dir)
      (1L to 4000L).map(i => (i % 4 + 1,
          s"row$i-${java.util.UUID.nameUUIDFromBytes(BigInt(i).toByteArray)}"))
        .toDF("k", "payload")
        .write.mode("overwrite").parquet(s"$dir/fact.parquet")
      // WITHOUT stats, advice reads available metadata only: table
      // bytes still pick a broadcast side, but the shuffle path has
      // no frequency signal (PlainShuffle) and the dictionary screen
      // answers false — NEVER a decision-time ANALYZE (r13 review)
      assert(StatsCatalog.adviseJoin(spark, dir, "fact", "dim", "k",
        broadcastBytes = 0L, skewAvgFreq = 50.0) === StatsCatalog.PlainShuffle,
        "un-ANALYZEd tables contribute no skew signal")
      assert(!StatsCatalog.dictionaryShaped(spark, dir, "fact", "k"),
        "the screen must not launch an ANALYZE")
      assert(EnsureWatermark.stampOf(StatsCatalog.statsPath(dir, "fact")).isEmpty,
        "no advice call may have built stats")
      Seq("fact", "dim").foreach(StatsCatalog.ensure(spark, dir, _))
      // the smaller side fits the budget -> broadcast it
      StatsCatalog.adviseJoin(spark, dir, "fact", "dim", "k") match {
        case StatsCatalog.BroadcastSide(t, b) =>
          assert(t === "dim" && b > 0L)
        case other => fail(s"expected BroadcastSide(dim), got $other")
      }
      // budget zero forces the shuffle path; fact.k repeats 100x ->
      // skew advice fires above the threshold, not below it
      StatsCatalog.adviseJoin(spark, dir, "fact", "dim", "k",
        broadcastBytes = 0L, skewAvgFreq = 50.0) match {
        case StatsCatalog.SaltedShuffle(f) => assert(f >= 50.0)
        case other => fail(s"expected SaltedShuffle, got $other")
      }
      assert(StatsCatalog.adviseJoin(spark, dir, "fact", "dim", "k",
        broadcastBytes = 0L, skewAvgFreq = 1e9)
        === StatsCatalog.PlainShuffle)
      // dictionary screen: the 4-value flag column compresses, the
      // near-unique payload column does not
      assert(StatsCatalog.dictionaryShaped(spark, dir, "fact", "k"))
      assert(!StatsCatalog.dictionaryShaped(spark, dir, "fact", "payload"),
        "a near-unique column's dictionary is as big as the column")
    }
  }

  test("the key profile sees zipfian skew the mean frequency hides") {
    withIndexRoot("graft-stats-zipf") {
      val dir = tmpDir("graft-stats-zipf-data")
      writeDim(dir)
      // one hot key (5000 rows) drowned among 5000 near-unique keys:
      // avgFreq ~= 2, maxFreq = 5000
      val rows = (1L to 5000L).map(i => (i + 10L, s"u$i")) ++
        (1L to 5000L).map(i => (7L, s"hot$i"))
      rows.toDF("k", "payload")
        .write.mode("overwrite").parquet(s"$dir/zfact.parquet")
      StatsCatalog.ensure(spark, dir, "zfact")
      // without a key profile, the mean-frequency fallback is blind
      assert(StatsCatalog.adviseJoin(spark, dir, "zfact", "dim", "k",
        broadcastBytes = 0L, skewAvgFreq = 1000.0)
        === StatsCatalog.PlainShuffle)
      StatsCatalog.ensureKeyProfile(spark, dir, "zfact", "k")
      StatsCatalog.adviseJoin(spark, dir, "zfact", "dim", "k",
        broadcastBytes = 0L, skewAvgFreq = 1000.0) match {
        case StatsCatalog.SaltedShuffle(f) => assert(f === 5000.0)
        case other => fail(s"the profile must surface the hot key: $other")
      }
      // and the hot-key list IS the salt set
      val (hot, maxF) = StatsCatalog.keyProfile(spark, dir, "zfact", "k").get
      assert(hot === Seq("7") && maxF === 5000L)
      // an ensured EMPTY profile proves no key reaches the threshold
      StatsCatalog.ensureKeyProfile(spark, dir, "dim", "k")
      val (hotD, maxD) = StatsCatalog.keyProfile(spark, dir, "dim", "k").get
      assert(hotD.isEmpty && maxD === 0L)
    }
  }

  test("an ensured-but-empty profile falls back to the mean frequency") {
    withIndexRoot("graft-stats-emptyprof") {
      val dir = tmpDir("graft-stats-emptyprof-data")
      writeDim(dir)
      // every key repeats 100× — real skew at threshold 50, but below
      // the profile's hot threshold (1000), so the profile is EMPTY
      (1L to 400L).map(i => (i % 4 + 1, s"row$i"))
        .toDF("k", "payload")
        .write.mode("overwrite").parquet(s"$dir/mfact.parquet")
      StatsCatalog.ensureKeyProfile(spark, dir, "mfact", "k")
      // the avgFreq fallback reads AVAILABLE stats only (r13: advice
      // never launches an ANALYZE) — build them the way adviseAnalyze
      // would direct
      Seq("mfact", "dim").foreach(StatsCatalog.ensure(spark, dir, _))
      val (hot, _) = StatsCatalog.keyProfile(spark, dir, "mfact", "k").get
      assert(hot.isEmpty, "no key reaches the hot threshold")
      // r12 advice (medium): the empty profile proves only
      // max_freq < hotFreq — a bound ABOVE the skew threshold — so
      // the advice must fall through to avgFreq, not report 0 and
      // degrade to PlainShuffle
      StatsCatalog.adviseJoin(spark, dir, "mfact", "dim", "k",
        broadcastBytes = 0L, skewAvgFreq = 50.0) match {
        case StatsCatalog.SaltedShuffle(f) => assert(f === 100.0)
        case other => fail(s"expected the avgFreq fallback to flag skew: $other")
      }
    }
  }

  test("ensure upgrades an approx-mode artifact to exact") {
    withIndexRoot("graft-stats-upgrade") {
      val dir = tmpDir("graft-stats-upgrade-data")
      writeDim(dir)
      // the always-on profile path ran first; without the upgrade,
      // ensure() would no-op forever and join elimination would stay
      // silently off for the table's lifetime (r12 advice)
      StatsCatalog.ensureApprox(spark, dir, "dim")
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      StatsCatalog.ensure(spark, dir, "dim")
      assert(StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"),
        "ensure must rebuild exact over an approx artifact")
    }
  }

  test("proof reads are memoized per build and invalidated fail-closed") {
    withIndexRoot("graft-stats-memo") {
      val dir = tmpDir("graft-stats-memo-data")
      writeDim(dir)
      StatsCatalog.ensure(spark, dir, "dim")
      val r0 = StatsCatalog.statsArtifactReads.get()
      (1 to 5).foreach { _ =>
        assert(StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      }
      // r12 advice #1: N optimizations of the same table pay ONE
      // stats collect, not N — the memo is keyed on the watermark's
      // build stamp, recomputed from FS metadata every call
      assert(StatsCatalog.statsArtifactReads.get() === r0 + 1,
        "five proof calls must collect the stats artifact exactly once")
      // a broken watermark fails closed BEFORE any read
      EnsureWatermark.veto(StatsCatalog.statsPath(dir, "dim"))
      assert(!StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      assert(StatsCatalog.statsArtifactReads.get() === r0 + 1,
        "a vetoed proof must not read the artifact")
      // a rebuild re-keys the stamp: exactly one fresh read serves
      // the next N proofs
      StatsCatalog.reEnsure(spark, dir, "dim")
      (1 to 3).foreach { _ =>
        assert(StatsCatalog.uniqueNonNull(spark, dir, "dim", "k"))
      }
      assert(StatsCatalog.statsArtifactReads.get() === r0 + 2,
        "the rebuilt artifact must be collected exactly once more")
    }
  }

  test("key-profile reads are memoized per build and invalidated fail-closed") {
    withIndexRoot("graft-stats-kp-memo") {
      val dir = tmpDir("graft-stats-kp-memo-data")
      // key 7 is hot (30 rows), keys 100..119 are cold (1 row each)
      ((1L to 30L).map(i => (7L, i)) ++ (100L to 119L).map(i => (i, i)))
        .toDF("k", "v").write.mode("overwrite").parquet(s"$dir/kf.parquet")
      StatsCatalog.ensureKeyProfile(spark, dir, "kf", "k", hotFreq = 10L)
      def profile() = StatsCatalog.keyProfile(spark, dir, "kf", "k")
      assert(jobsDuring(assert(profile() === Some((Seq("7"), 30L)))) > 0,
        "the first read collects the profile")
      // the steering rule reads it once per join side per optimization:
      // N calls on one build pay that one collect
      assert(jobsDuring((1 to 5).foreach(_ =>
        assert(profile() === Some((Seq("7"), 30L))))) === 0,
        "five reads of one build must launch no further job")
      // a rebuild re-keys the watermark stamp: one fresh collect
      IndexStore.removeArtifact(StatsCatalog.keyProfilePath(dir, "kf", "k"))
      StatsCatalog.ensureKeyProfile(spark, dir, "kf", "k", hotFreq = 10L)
      assert(jobsDuring(assert(profile() === Some((Seq("7"), 30L)))) > 0,
        "the rebuilt profile must be collected afresh")
      assert(jobsDuring(profile()) === 0)
      // a broken watermark fails closed BEFORE any read
      EnsureWatermark.veto(StatsCatalog.keyProfilePath(dir, "kf", "k"))
      assert(jobsDuring(assert(profile().isEmpty)) === 0,
        "a vetoed profile must not read the artifact")
    }
  }

  test("the profile's hot keys drive targeted salting end to end") {
    withIndexRoot("graft-stats-salt") {
      val dir = tmpDir("graft-stats-salt-data")
      val rows = (1L to 3000L).map(i => (i % 30 + 100L, s"u$i")) ++
        (1L to 3000L).map(i => (7L, s"hot$i"))
      rows.toDF("k", "payload")
        .write.mode("overwrite").parquet(s"$dir/zfact.parquet")
      (1L to 150L).map(i => (i, s"d$i")).toDF("k", "dname")
        .write.mode("overwrite").parquet(s"$dir/zdim.parquet")
      StatsCatalog.ensureKeyProfile(spark, dir, "zfact", "k")
      val (hot, _) = StatsCatalog.keyProfile(spark, dir, "zfact", "k").get
      assert(hot === Seq("7"))
      val fact = graft.Tables(spark, dir, "zfact")
      val dim = graft.Tables(spark, dir, "zdim")
      val factor = 8
      val plain = fact.join(dim, Seq("k")).groupBy($"dname")
        .count().collect().map(_.toString).toSet
      val salted = SkewJoin
        .saltedJoinHot(fact, dim, "k", $"payload", factor, hot)
        .groupBy($"dname").count().collect().map(_.toString).toSet
      assert(salted === plain, "targeted salting must be result-invisible")
      // replication bill: ONLY the hot key's dim row replicates
      val exploded = dim.withColumn("__salt",
        explode(when($"k".cast("string").isInCollection(hot),
          sequence(lit(0L), lit(factor - 1L))).otherwise(array(lit(0L)))))
      assert(exploded.count() === 150L + (factor - 1L),
        "only the hot key's dim row pays the factor")
      // empty hot list degenerates to the plain join
      assert(SkewJoin.saltedJoinHot(fact, dim, "k", $"payload", factor, Nil)
        .groupBy($"dname").count().collect().map(_.toString).toSet === plain)
    }
  }

  test("column groups: tuple NDV, FD proof, and the estimator's opt-in path") {
    withIndexRoot("graft-stats-grp") {
      val dir = tmpDir("graft-stats-grp-data")
      // PERFECTLY correlated pair: b = a * 10 (an FD a -> b), so the
      // independence product ndv(a)*ndv(b) = 25 overestimates the
      // true tuple ndv = 5 by 5x; c is independent of a (no FD)
      (1L to 1000L).map(i => (i % 5, (i % 5) * 10, i % 3, i))
        .toDF("a", "b", "c", "payload")
        .write.mode("overwrite").parquet(s"$dir/corr.parquet")
      StatsCatalog.ensure(spark, dir, "corr")
      // no artifact yet: read face None, FD face None (fail-closed)
      assert(StatsCatalog.columnGroupIfReady(spark, dir, "corr",
        Seq("a", "b")).isEmpty)
      assert(StatsCatalog.determines(spark, dir, "corr", "a", "b").isEmpty)
      StatsCatalog.ensureColumnGroup(spark, dir, "corr", Seq("a", "b"))
      StatsCatalog.ensureColumnGroup(spark, dir, "corr", Seq("a", "c"))
      val g = StatsCatalog.columnGroupIfReady(spark, dir, "corr",
        Seq("a", "b")).get
      assert(g.ndv === 5L && g.n === 1000L && g.exact)
      // column order must not matter (the artifact keys on the set)
      assert(StatsCatalog.columnGroupIfReady(spark, dir, "corr",
        Seq("b", "a")).map(_.ndv) === Some(5L))
      assert(StatsCatalog.determines(spark, dir, "corr", "a", "b") === Some(true))
      assert(StatsCatalog.determines(spark, dir, "corr", "a", "c") === Some(false))
      // estimator: independence says 25, the group artifact says 5 —
      // and only the opt-in flag may consult it (replay stability)
      val f = graft.Tables(spark, dir, "corr")
      val shape = f.groupBy($"a", $"b").agg(count(lit(1)))
      val CE = graft.plans.CardinalityEstimator
      assert(CE.estimateRows(spark, shape) === Some(BigInt(25)))
      assert(CE.estimateRows(spark, shape, useColumnGroups = true) ===
        Some(BigInt(5)))
      // a group with no exactly-covering artifact falls back to the
      // independence product even under the flag
      val shape3 = f.groupBy($"a", $"b", $"c").agg(count(lit(1)))
      assert(CE.estimateRows(spark, shape3, useColumnGroups = true) ===
        Some(BigInt(75)))
      // a stale watermark refuses the group (and the FD) fail-closed
      EnsureWatermark.veto(
        StatsCatalog.groupStatsPath(dir, "corr", Seq("a", "b")))
      assert(StatsCatalog.columnGroupIfReady(spark, dir, "corr",
        Seq("a", "b")).isEmpty)
      assert(CE.estimateRows(spark, shape, useColumnGroups = true) ===
        Some(BigInt(25)), "stale group -> independence fallback")
    }
  }
}
