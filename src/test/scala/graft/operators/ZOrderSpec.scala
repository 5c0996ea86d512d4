package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Z-order layout: the locality property q28 reports, and the payoff
  * it exists for — a box predicate over a z-laid-out parquet dir
  * reads FEWER FILES than over the natural layout. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("z buckets are narrow in BOTH dimensions (a 1-dim sort is not)") {
    val rows = graft.QueryRegistry.asMap("q28_zorder_layout")(spark, sf)
      .collect()
    assert(rows.length > 8, "calibration: need a real bucket spread")
    val li = graft.Tables(spark, sf, "lineitem")
    val g = li.agg(
      max($"l_partkey") - min($"l_partkey"),
      max($"l_suppkey") - min($"l_suppkey")).head()
    val (gp, gs) = (g.getLong(0).toDouble, g.getLong(1).toDouble)
    def avgRange(mnIdx: Int, mxIdx: Int): Double =
      rows.map(r => (r.getLong(mxIdx) - r.getLong(mnIdx)).toDouble).sum / rows.length
    val (bp, bs) = (avgRange(2, 3) / gp, avgRange(4, 5) / gs)
    info(f"avg bucket range / global range: partkey $bp%.2f, suppkey $bs%.2f")
    // 64 z-buckets = an 8×8 grid over the quantized plane ⇒ each
    // bucket spans ~1/8 of EACH dimension (plus curve-boundary slack)
    assert(bp < 0.5 && bs < 0.5,
      f"z buckets must be narrow in BOTH dims, got $bp%.2f / $bs%.2f")
  }

  test("box filters scan fewer rows from the z-laid-out dir (measured row-group skipping)") {
    val li = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_suppkey")
    val r = li.agg(min($"l_partkey"), max($"l_partkey"),
      min($"l_suppkey"), max($"l_suppkey")).head()
    val (mnx, mxx, mny, mxy) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val dir = tmpDir("zorder")
    // the z layout: range-partition by z, sort within partitions, so
    // each file covers one narrow z range = one small (x, y) box
    li.withColumn("__z", ZOrder.zValue("l_partkey", mnx, mxx, "l_suppkey", mny, mxy))
      .repartitionByRange(16, $"__z").sortWithinPartitions($"__z").drop("__z")
      .write.parquet(s"$dir/zordered")
    // natural layout: same 16 files, arrival order (keys spread evenly
    // through every file, so every file intersects any box)
    li.repartition(16).write.parquet(s"$dir/natural")

    // a ~1/4 × 1/4 box in key space
    def box(path: String): Long = {
      val df = spark.read.parquet(path)
        .where($"l_partkey".between(mnx, mnx + (mxx - mnx) / 4) &&
          $"l_suppkey".between(mny, mny + (mxy - mny) / 4))
      df.collect() // execute so scan metrics populate
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p match {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          case f: FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
      val s = scans(df.queryExecution.executedPlan)
      assert(s.nonEmpty, "expected a parquet scan in the plan")
      // Spark selects ALL files of an unpartitioned parquet dir
      // (numFiles can't show layout pruning); the skipping happens
      // INSIDE the reader, where pushed min/max filters drop whole
      // row groups — visible as the scan's output-row count
      s.map(_.metrics("numOutputRows").value).sum
    }
    val (zRows, nRows) = (box(s"$dir/zordered"), box(s"$dir/natural"))
    val total = li.count()
    info(s"box filter scanned rows: z-ordered $zRows vs natural $nRows (of $total)")
    // natural layout: every row group spans the full key range, so
    // pushed filters skip nothing and the scan reads ~everything;
    // z layout: most row groups miss the box entirely and are skipped
    assert(zRows < nRows / 2,
      s"z layout must let pushed filters skip most row groups: $zRows vs $nRows")
  }
}
