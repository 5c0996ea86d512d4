package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed layout: persisted co-partitioning must remove the join
  * shuffle entirely — the property q29 exists to demonstrate. */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("join of co-bucketed tables plans with ZERO exchanges (and matches the shuffled join)") {
    val dir = tmpDir("buckets")
    val li = Bucketing.writeBucketed(
      graft.Tables(spark, sf, "lineitem")
        .select($"l_orderkey", $"l_quantity"),
      "l_orderkey", 8, "spec_li_bucketed", s"$dir/lineitem")
    val ord = Bucketing.writeBucketed(
      graft.Tables(spark, sf, "orders")
        .select($"o_orderkey", $"o_orderpriority"),
      "o_orderkey", 8, "spec_ord_bucketed", s"$dir/orders")

    // at test scale Spark would broadcast the tiny orders side (which
    // bypasses bucketing entirely); two 50-TB fact tables leave only
    // the sort-merge path — model that with the merge hint
    val joined = li.hint("merge").join(ord, $"l_orderkey" === $"o_orderkey")
    joined.collect() // finalize the adaptive plan before inspecting it
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join over bucketed scans, got:\n$plan")
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must not shuffle either side, got:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scans must be bucket-aware, got:\n$plan")

    // layout never changes results: byte-identical to the plain join
    val plain = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_quantity")
      .join(graft.Tables(spark, sf, "orders")
        .select($"o_orderkey", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
    assert(joined.count() == plain.count())
    assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
  }

  test("one file per bucket, so sortBy metadata is trusted downstream") {
    val dir = tmpDir("buckets1f")
    Bucketing.writeBucketed(
      graft.Tables(spark, sf, "orders").select($"o_orderkey", $"o_totalprice"),
      "o_orderkey", 8, "spec_ord_onefile", s"$dir/orders")
    val files = new java.io.File(s"$dir/orders").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files.length == 8,
      s"expected exactly one file per bucket, got ${files.length}")
  }
}
