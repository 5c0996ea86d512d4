package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The mergeable-histogram contract: daily SUM-merge equals the
  * window-direct histogram bin-for-bin, estimates land within one bin
  * width of the exact sorted percentile, and the persisted table is
  * bin-bounded. */
class HistogramRollupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val HR = HistogramRollup
  private val (lo, hi) = ("2024-01-05 00:00:00", "2024-01-25 00:00:00")

  private def windowEvents = graft.Tables(spark, sf, "events")
    .where(col("ts") >= lit(MinMaxManifest.utc(lo)) &&
      col("ts") < lit(MinMaxManifest.utc(hi)))

  test("daily SUM-merge equals the window-direct histogram bin-for-bin") {
    withIndexRoot("graft-hist-spec") {
      val merged = HR.mergedBins(spark, sf, lo, hi)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val direct = windowEvents
        .select(col("event_type"),
          least(floor(col("value") / HR.BinWidth).cast("long"),
            lit(HR.NumBins.toLong)).as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(merged === direct)
    }
  }

  test("estimates land within one bin width of the exact percentile") {
    withIndexRoot("graft-hist-spec") {
      val est = HR.percentiles(HR.mergedBins(spark, sf, lo, hi), Seq(50, 95, 99))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1) / 1e4, r.getLong(2) / 1e4, r.getLong(3) / 1e4)).toMap
      val byType = windowEvents.select("event_type", "value")
        .collect().groupBy(_.getString(0))
        .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
      assert(est.keySet === byType.keySet)
      byType.foreach { case (t, vs) =>
        def exact(p: Int) = vs(math.min(vs.length - 1,
          math.max(0, (p * vs.length + 99) / 100 - 1)))
        val (p50, p95, p99) = est(t)
        Seq(50 -> p50, 95 -> p95, 99 -> p99).foreach { case (p, e) =>
          assert(math.abs(e - exact(p)) <= HR.BinWidth,
            s"$t p$p: estimate $e vs exact ${exact(p)} beyond one bin width")
        }
      }
    }
  }

  test("the rollup build is timezone-free: a non-UTC session yields identical bins") {
    // day keys are epoch arithmetic (MinMaxManifest.utcDay), not
    // date_trunc — a build under any session zone must persist the
    // same UTC day keys the readers' utc()-parsed bounds assume (the
    // r7 advice's parenthetical on the rollups)
    withIndexRoot("graft-hist-tz") {
      val saved = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        val merged = HR.mergedBins(spark, sf, lo, hi) // builds under Tokyo
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        val direct = windowEvents
          .select(col("event_type"),
            least(floor(col("value") / HR.BinWidth).cast("long"),
              lit(HR.NumBins.toLong)).as("bin"))
          .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(merged === direct,
          "a non-UTC build session must not shift the persisted day keys")
      } finally spark.conf.set("spark.sql.session.timeZone", saved)
    }
  }

  test("late-day bins ADD in: merging a split history equals the whole") {
    withIndexRoot("graft-hist-spec") {
      HR.ensure(spark, sf)
      val all = spark.read.parquet(HR.rollup.stored(spark, sf))
        .where(col("day") >= lit(MinMaxManifest.utc(lo)) &&
          col("day") < lit(MinMaxManifest.utc(hi)))
      val mid = MinMaxManifest.utc("2024-01-15 00:00:00")
      val recombined = all.where(col("day") < lit(mid))
        .union(all.where(col("day") >= lit(mid)))
        .groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val whole = HR.mergedBins(spark, sf, lo, hi)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(recombined === whole)
    }
  }

  test("appendBatch adds counts; replay double-counts — the documented contract") {
    withIndexRoot("graft-hist-spec") {
      HR.ensure(spark, sf)
      val widerHi = "2024-02-10 00:00:00"
      def batch = (0 until 30).map { i =>
        (910000L + i, java.sql.Timestamp.valueOf(f"2024-02-06 01:00:${i % 60}%02d"),
          7L, "append", 12.5, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      HR.appendBatch(spark, sf, batch)
      def cntOf() = HR.mergedBins(spark, sf, lo, widerHi)
        .where(col("event_type") === "append").agg(sum("cnt")).head().getLong(0)
      assert(cntOf() === 30L, "appended day must merge in by sum")
      // replaying the batch DOUBLE-COUNTS — sum-merge is deliberately
      // not idempotent; exactly-once-per-batch is the caller contract
      // (vs SketchRollup's max-merge at-least-once tolerance)
      HR.appendBatch(spark, sf, batch)
      assert(cntOf() === 60L,
        "the non-idempotence contract must be real and visible")
    }
  }

  test("overflow bin reports its lower edge; no interpolation out of domain") {
    // a group whose p99 lands in the unbounded overflow bin must
    // answer "≥ 500", not a fabricated interpolation (review catch)
    val merged = Seq(
      ("hot", 0L, 90L),   // 90 in-domain rows
      ("hot", 100L, 10L)  // 10 overflow rows ≥ 500
    ).toDF("event_type", "bin", "cnt")
    val est = HR.percentiles(merged, Seq(50, 99)).head()
    assert(est.getLong(2) === (HR.NumBins * HR.BinWidthE4),
      s"p99 in the overflow bin must report the edge, got ${est.getLong(2)}")
    assert(est.getLong(1) < HR.BinWidthE4 * 2,
      "in-domain p50 must still interpolate normally")
  }

  test("binary-tie fixture (cnt=32): the e4 estimate is an exact integer, no rounding") {
    // round 7's red rows: round(interp, 4) on a cnt with a 2^k
    // divisor lands on an EXACTLY representable 4-decimal tie
    // (34.21875) whose HALF_UP/engine tie-break differs between
    // Spark and a DuckDB version. The integer-exact path has no tie:
    // bin=6, cnt=32, p=84 → k = ⌈84·32/100⌉ = 27, offset
    // 50000·27 DIV 32 = 42187 (the old double was 34.21875 — the
    // exact tie shape), so p84_e4 = 300000 + 42187 = 342187, floor'd
    // identically by Spark DIV and DuckDB // forever.
    val merged = Seq(("tie", 6L, 32L)).toDF("event_type", "bin", "cnt")
    val est = HR.percentiles(merged, Seq(84)).head()
    assert(est.getLong(1) === 342187L,
      s"expected the floor'd e4 integer 342187, got ${est.getLong(1)}")
  }

  test("CDC deletes maintain bins exactly: maintained ≡ recomputed, replay idempotent") {
    withIndexRoot("graft-hist-spec") {
      val deleted = windowEvents.where(col("user_id") % 3 === 0)
      HR.applyDeletes(spark, sf, graft.Tables(spark, sf, "events")
        .where(col("user_id") % 3 === 0))
      def maintained() = HR.mergedBinsWithDeltas(spark, sf, lo, hi)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val recomputed = windowEvents.where(!(col("user_id") % 3 === 0))
        .select(col("event_type"),
          greatest(lit(0L), least(floor(col("value") / HR.BinWidth).cast("long"),
            lit(HR.NumBins.toLong))).as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(maintained() === recomputed,
        "retracted bins must equal the full recompute bin-for-bin")
      assert(deleted.count() > 0)
      // replaying the same delete set (overwrite-mode deltas) is a no-op
      HR.applyDeletes(spark, sf, graft.Tables(spark, sf, "events")
        .where(col("user_id") % 3 === 0))
      assert(maintained() === recomputed, "replay must be idempotent")
      // a SECOND, different batch ACCUMULATES — a table-wide
      // overwrite would silently discard the first batch's
      // retractions (review catch)
      HR.applyDeletes(spark, sf, graft.Tables(spark, sf, "events")
        .where(col("user_id") % 3 === 1), batchTag = "batch1")
      val recomputed2 = windowEvents
        .where(col("user_id") % 3 === 2)
        .select(col("event_type"),
          greatest(lit(0L), least(floor(col("value") / HR.BinWidth).cast("long"),
            lit(HR.NumBins.toLong))).as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(maintained() === recomputed2,
        "sequential delete batches must both stay retracted")
    }
  }

  test("the persisted table is bounded by days × groups × bins") {
    withIndexRoot("graft-hist-spec") {
      HR.ensure(spark, sf)
      val t = spark.read.parquet(HR.rollup.stored(spark, sf))
      val days = t.select("day").distinct().count()
      val types = t.select("event_type").distinct().count()
      assert(t.count() <= days * types * (HR.NumBins + 1))
      assert(t.where(col("bin") < 0 || col("bin") > HR.NumBins).count() === 0L)
    }
  }

  // ---- drift (TVD) ----

  private val (midW, hiW) = ("2024-01-15 00:00:00", "2024-01-25 00:00:00")

  test("drift TVD equals the BigInt-exact recompute from raw rows") {
    withIndexRoot("graft-drift-spec") {
      val got = HR.drift(spark, sf, lo, midW, midW, hiW)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // reference: bin raw rows in Scala, exact rational arithmetic
      val raw = graft.Tables(spark, sf, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .where(col("ts") >= lit(MinMaxManifest.utc(lo)) &&
          col("ts") < lit(MinMaxManifest.utc(hiW)))
        .collect().map { r =>
          val bin = math.max(0L, math.min(
            math.floor(r.getDouble(2) / HR.BinWidth).toLong, HR.NumBins.toLong))
          val inA = r.getTimestamp(1).getTime < MinMaxManifest.utc(midW).getTime
          (r.getString(0), bin, inA)
        }
      val want = raw.groupBy(_._1).map { case (t, rows) =>
        val ca = rows.filter(_._3).groupBy(_._2).view.mapValues(_.size.toLong)
        val cb = rows.filterNot(_._3).groupBy(_._2).view.mapValues(_.size.toLong)
        val (na, nb) = (ca.values.sum, cb.values.sum)
        val num = (ca.keySet ++ cb.keySet).toSeq.map { b =>
          (BigInt(ca.getOrElse(b, 0L)) * nb - BigInt(cb.getOrElse(b, 0L)) * na).abs
        }.sum
        t -> (na, nb, num.toLong,
          (BigInt(500000) * num / (BigInt(na) * nb)).toLong)
      }
      assert(got === want, "drift must be integer-exact against raw rows")
    }
  }

  test("drift invariants: identical windows → 0; disjoint support → exactly 1e6") {
    withIndexRoot("graft-drift-inv") {
      // identical windows on real data: every group reads 0 / 0 ppm
      val same = HR.drift(spark, sf, lo, midW, lo, midW).collect()
      assert(same.nonEmpty && same.forall(r =>
        r.getLong(3) == 0L && r.getLong(4) == 0L))
      // synthetic corpus whose two windows have DISJOINT bin support:
      // TVD = 1 exactly, ppm = 1,000,000 with zero float error
      val dir = tmpDir("graft-drift-fix")
      (0 until 40).map { i =>
        val (day, v) = if (i % 2 == 0) ("2024-01-02", 1.0) else ("2024-01-12", 400.0)
        (i.toLong, java.sql.Timestamp.valueOf(s"$day 06:00:00"), 1L, "t", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val d = HR.drift(spark, dir,
        "2024-01-01 00:00:00", "2024-01-11 00:00:00",
        "2024-01-11 00:00:00", "2024-01-21 00:00:00").head()
      assert(d.getLong(3) === 2L * 20L * 20L && d.getLong(4) === 1000000L,
        s"disjoint support must saturate at exactly 1e6 ppm, got $d")
    }
  }

  test("tvd over two independent bin frames equals the one-read drift") {
    withIndexRoot("graft-tvd-spec") {
      val viaTvd = HR.tvd(HR.mergedBins(spark, sf, lo, midW),
          HR.mergedBins(spark, sf, midW, hiW))
        .collect().map(_.toString).sorted.toSeq
      val viaDrift = HR.drift(spark, sf, lo, midW, midW, hiW)
        .collect().map(_.toString).sorted.toSeq
      assert(viaTvd === viaDrift, "the two kernel entries must agree")
    }
  }

  test("streaming drift alerts: same-shape silent, shift alerts, vanish alerts, replay stable") {
    withIndexRoot("graft-drift-stream") {
      // synthetic base: types a and b, 50 rows each on Jan 2 —
      // a in bin 0 (value 1), b in bin 2 (value 10)
      val dir = tmpDir("graft-drift-live")
      (0 until 100).map { i =>
        val t = if (i % 2 == 0) ("a", 1.0) else ("b", 10.0)
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-02 06:00:00"),
          1L, t._1, t._2, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val (refLo, refHi) = ("2024-01-01 00:00:00", "2024-01-11 00:00:00")
      val (curLo, curHi) = ("2024-02-01 00:00:00", "2024-02-21 00:00:00")
      def alerts() = HR.driftAlerts(spark, dir, refLo, refHi,
        curLo, curHi, thresholdPpm = 100000L)
        .collect().map(_.getString(0)).toSet
      def batch(vals: Seq[(String, Double)], base: Long) =
        vals.zipWithIndex.map { case ((t, v), i) =>
          (base + i, java.sql.Timestamp.valueOf("2024-02-02 06:00:00"),
            1L, t, v, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // batch 0: type a streams in with the REFERENCE shape → no
      // alert for a; type b has no live rows → vanished → alerted
      HR.processStreamBatch(spark, dir,
        batch(Seq.fill(50)(("a", 1.0)), 1000L), 0L)
      assert(alerts() === Set("b"),
        "same-shape must stay silent; a vanished group must alert")
      // batch 1: half of a's live mass shifts to bin 80 → TVD = 0.5
      // exactly → 500000 ppm ≥ threshold → a alerts too
      HR.processStreamBatch(spark, dir,
        batch(Seq.fill(50)(("a", 400.0)), 2000L), 1L)
      assert(alerts() === Set("a", "b"))
      // a checkpoint-replayed micro-batch (same id, same data)
      // overwrites its own bins — the alert answer must not move
      HR.processStreamBatch(spark, dir,
        batch(Seq.fill(50)(("a", 400.0)), 2000L), 1L)
      assert(alerts() === Set("a", "b"),
        "replay must be invisible to the alert surface")
    }
  }

  test("the drift read is scan-free: only hist_daily is touched") {
    withIndexRoot("graft-drift-plan") {
      HR.ensure(spark, sf)
      val paths = HR.drift(spark, sf, lo, midW, midW, hiW)
        .queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty
            }
        }.flatten
      assert(paths.nonEmpty && paths.forall(_.contains("hist_daily")),
        s"the drift read must touch only the rollup: $paths")
    }
  }
}
