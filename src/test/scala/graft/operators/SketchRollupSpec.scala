package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The mergeable-sketch contract: merging daily registers equals
  * sketching the window directly (the associativity that makes the
  * rollup answer ANY range), merge order/replay never changes a
  * register, the estimate tracks the exact count within HLL's error
  * envelope, and the persisted table stays register-tiny. */
class SketchRollupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val SR = SketchRollup
  private val (lo, hi) = ("2024-01-05 00:00:00", "2024-01-25 00:00:00")

  private def regsOf(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Int] =
    df.select("event_type", "reg", "rho").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap

  test("daily-merge registers equal window-direct registers exactly") {
    withIndexRoot("graft-hll-spec") {
      val merged = regsOf(SR.mergedRegisters(spark, sf, lo, hi))
      // window-direct: compute registers straight off the raw rows
      val ev = graft.Tables(spark, sf, "events")
        .where(col("ts") >= lit(MinMaxManifest.utc(lo)) &&
          col("ts") < lit(MinMaxManifest.utc(hi)))
      val h = graft.functions.DetHash.hash60(col("user_id"), SR.Salt)
      val direct = regsOf(ev.select(
          col("event_type"),
          h.bitwiseAND(lit(511L)).as("reg"),
          when(shiftright(h, SR.P) === 0L, lit(SR.MaxRho))
            .otherwise(lit(SR.MaxRho) - length(bin(shiftright(h, SR.P))))
            .as("rho"))
        .groupBy(col("event_type"), col("reg"))
        .agg(max(col("rho")).cast("int").as("rho")))
      assert(merged.view.mapValues(_.toLong).toMap ===
        direct.view.mapValues(_.toLong).toMap,
        "daily max-merge must reproduce the window sketch register-exactly")
    }
  }

  test("merge is idempotent and order-insensitive: double-merging changes nothing") {
    withIndexRoot("graft-hll-spec") {
      val m1 = SR.mergedRegisters(spark, sf, lo, hi)
      // merging the merge with itself (replayed late data) = itself
      val m2 = m1.union(m1).groupBy("event_type", "reg")
        .agg(max("rho").as("rho"))
      assert(regsOf(m1).view.mapValues(_.toLong).toMap ===
        regsOf(m2.select(col("event_type"), col("reg"),
          col("rho").cast("int").as("rho"))).view.mapValues(_.toLong).toMap)
    }
  }

  test("estimate tracks exact distinct within the HLL error envelope") {
    withIndexRoot("graft-hll-spec") {
      val est = SR.estimate(SR.mergedRegisters(spark, sf, lo, hi))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val exact = graft.Tables(spark, sf, "events")
        .where(col("ts") >= lit(MinMaxManifest.utc(lo)) &&
          col("ts") < lit(MinMaxManifest.utc(hi)))
        .groupBy("event_type").agg(countDistinct("user_id").as("x"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.keySet === exact.keySet)
      exact.foreach { case (k, x) =>
        val e = est(k)
        // p=9 standard error is 1.04/sqrt(512) ≈ 4.6%; at tiny
        // cardinalities linear counting is far tighter — 25% is a
        // loose structural bound that still catches a broken sketch
        assert(math.abs(e - x) <= math.max(2.0, 0.25 * x),
          s"$k: estimate $e vs exact $x outside the error envelope")
      }
    }
  }

  test("appendBatch merges by max: new day counted, replay harmless") {
    withIndexRoot("graft-hll-spec") {
      SR.ensure(spark, sf)
      val widerHi = "2024-02-10 00:00:00"
      def batch = (0 until 40).map { i =>
        (900000L + i, java.sql.Timestamp.valueOf(f"2024-02-05 01:00:${i % 60}%02d"),
          100000L + i, "append", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      SR.appendBatch(spark, sf, batch)
      val est1 = SR.estimate(SR.mergedRegisters(spark, sf, lo, widerHi))
        .where(col("event_type") === "append").head()
      // 40 brand-new users → linear counting should land very close
      assert(math.abs(est1.getDouble(2) - 40.0) <= 5.0,
        s"appended day estimate ${est1.getDouble(2)} far from 40")
      // at-least-once tolerance: replaying the same batch is a no-op
      SR.appendBatch(spark, sf, batch)
      val est2 = SR.estimate(SR.mergedRegisters(spark, sf, lo, widerHi))
        .where(col("event_type") === "append").head()
      assert(est2.getDouble(2) === est1.getDouble(2),
        "max-merge must make replays harmless")
    }
  }

  test("the persisted daily table is register-bounded, never row-scaled") {
    withIndexRoot("graft-hll-spec") {
      SR.ensure(spark, sf)
      val t = spark.read.parquet(SR.rollup.stored(spark, sf))
      val days = t.select("day").distinct().count()
      val types = t.select("event_type").distinct().count()
      assert(t.count() <= days * types * SR.M,
        "sketch table must be bounded by days × groups × registers")
      // and rho values are in the legal range
      val bad = t.where(col("rho") < 1 || col("rho") > SR.MaxRho).count()
      assert(bad === 0L)
    }
  }
}
