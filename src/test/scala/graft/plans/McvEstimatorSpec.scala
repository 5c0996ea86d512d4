package graft.plans

import graft.SparkSpec
import graft.operators.{EnsureWatermark, StatsCatalog}
import org.apache.spark.sql.functions._

/** The MCV-tier contract (D92): on zipfian data the skew-aware
  * estimate tracks actuals where the uniform formula is off by
  * integer factors, the branch algebra (hit / remainder /
  * covered-domain-zero) follows the data, the tier is opt-in, and
  * every doubtful leg (no artifact, stale artifact, filtered join
  * side, outer join) falls back to the uniform formula — never a
  * guess. */
class McvEstimatorSpec extends SparkSpec {
  import spark.implicits._

  /** 10_000 fact rows, zipf-ish key: key 1 owns half the table, keys
    * 2..5 split another quarter, 1000 cold keys share the rest —
    * uniform 1/ndv would charge an equality ~10 rows whatever the
    * literal. */
  private def writeTables(dir: String): Unit = {
    val rows = (1L to 10000L).map { i =>
      val k =
        if (i <= 5000L) 1L
        else if (i <= 7500L) 2L + (i % 4)
        else 100L + (i % 1000)
      (k, s"p$i")
    }
    rows.toDF("k", "payload")
      .write.mode("overwrite").parquet(s"$dir/zfact.parquet")
    (1L to 50L).map(i => (if (i <= 25) 1L else 1000000L + i, s"d$i"))
      .toDF("dk", "dname")
      .write.mode("overwrite").parquet(s"$dir/zdim.parquet")
  }

  private def est(df: org.apache.spark.sql.DataFrame, mcv: Boolean): BigInt =
    CardinalityEstimator.estimateRows(spark, df, useMcv = mcv)
      .getOrElse(fail("estimate must exist"))

  test("MCV estimates track actuals on zipfian data where uniform is blind") {
    withIndexRoot("graft-mcv") {
      val dir = tmpDir("graft-mcv-data")
      writeTables(dir)
      Seq("zfact", "zdim").foreach(StatsCatalog.ensure(spark, dir, _))
      StatsCatalog.ensureMcv(spark, dir, "zfact", "k")
      StatsCatalog.ensureMcv(spark, dir, "zdim", "dk")
      val f = graft.Tables(spark, dir, "zfact")
      val d = graft.Tables(spark, dir, "zdim")
      val hot = f.where($"k" === 1L)
      // uniform: 10000/ndv(~1005) ~ 9 rows; truth: 5000
      val uni = est(hot, mcv = false)
      val skewAware = est(hot, mcv = true)
      assert(uni < BigInt(100), s"uniform must be skew-blind here: $uni")
      assert(skewAware >= BigInt(4500) && skewAware <= BigInt(5000),
        s"MCV must serve the true frequency: $skewAware")
      // a COLD key spreads the remainder mass over the remaining ndv
      val cold = est(f.where($"k" === 150L), mcv = true)
      assert(cold > BigInt(0) && cold < BigInt(100),
        s"remainder mass per cold key is small: $cold")
      // the MCV join: 25 dim rows match the hot key -> ~25*5000 rows
      // dominated by the exact fL*fR part; uniform charges
      // 10000*50/max(ndv) ~ 500
      val j = est(f.join(d, $"k" === $"dk"), mcv = true)
      assert(j >= BigInt(100000),
        s"MCV join must see the hot-key fan-out: $j")
      assert(est(f.join(d, $"k" === $"dk"), mcv = false) < BigInt(5000),
        "uniform join estimate stays blind (the contrast this tier exists for)")
    }
  }

  test("fail-closed: opt-out, absent artifact, stale artifact, filtered join side") {
    withIndexRoot("graft-mcv-closed") {
      val dir = tmpDir("graft-mcv-closed-data")
      writeTables(dir)
      Seq("zfact", "zdim").foreach(StatsCatalog.ensure(spark, dir, _))
      val f = graft.Tables(spark, dir, "zfact")
      val d = graft.Tables(spark, dir, "zdim")
      val hot = f.where($"k" === 1L)
      // no MCV artifact at all -> the uniform formula serves even
      // with the flag on
      assert(est(hot, mcv = true) === est(hot, mcv = false),
        "absent artifact -> uniform")
      StatsCatalog.ensureMcv(spark, dir, "zfact", "k")
      StatsCatalog.ensureMcv(spark, dir, "zdim", "dk")
      assert(est(hot, mcv = true) > BigInt(4000))
      // a FILTERED side vetoes the MCV join branch (frequencies are
      // table-level facts): falls back to Selinger's ratio applied
      // to the filtered estimate
      val filteredJoin = f.where($"payload" > "p5")
        .join(d, $"k" === $"dk")
      val viaMcvOff = est(filteredJoin, mcv = false)
      assert(est(filteredJoin, mcv = true) === viaMcvOff,
        "filtered side -> uniform join formula")
      // stale artifact (watermark invalidated) -> uniform again
      EnsureWatermark.veto(StatsCatalog.mcvPath(dir, "zfact", "k"))
      assert(est(hot, mcv = true) === est(hot, mcv = false),
        "stale artifact -> uniform")
    }
  }
}
