package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The partition-evolution contract: each spec generation prunes at
  * the DIRECTORY level under its own transform, boundary partitions
  * re-filter rows exactly, and the evolved read equals the raw-table
  * filter — layout changes invisible to results. */
class PartitionEvolutionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val PE = PartitionEvolution

  private def events = graft.Tables(spark, sf, "events")
  private def rawWindow(lo: String, hi: String) = events.where(
    col("ts") >= lit(MinMaxManifest.utc(lo)) &&
      col("ts") < lit(MinMaxManifest.utc(hi)))

  test("evolved read equals the raw filter across the spec boundary") {
    withIndexRoot("graft-pev-spec") {
      val (lo, hi) = ("2024-01-10 00:00:00", "2024-01-22 00:00:00")
      val (merged, leg0, leg1) = PE.read(spark, sf, lo, hi)
      assert(leg0.count() > 0 && leg1.count() > 0,
        "the window must exercise both spec generations")
      val a = merged.select("event_id").collect().map(_.getLong(0)).sorted
      val b = rawWindow(lo, hi).select("event_id").collect().map(_.getLong(0)).sorted
      assert(a.toSeq === b.toSeq)
    }
  }

  test("both legs carry PartitionFilters on a boundary-spanning window") {
    withIndexRoot("graft-pev-spec") {
      val (lo, hi) = ("2024-01-14 00:00:00", "2024-01-20 00:00:00")
      val (_, leg0, leg1) = PE.read(spark, sf, lo, hi)
      val p1 = leg1.queryExecution.executedPlan.toString
      assert(p1.contains("PartitionFilters: [") && p1.contains("pday"),
        s"day leg must prune on the partition value:\n$p1")
      val p0 = leg0.queryExecution.executedPlan.toString
      assert(p0.contains("PartitionFilters: [") && p0.contains("pmonth"),
        s"month leg must prune on its own value:\n$p0")
    }
  }

  test("a post-boundary window skips the month generation entirely and prunes days") {
    withIndexRoot("graft-pev-spec") {
      // a 2-day window entirely inside the day-spec generation: the
      // month leg must not open a single history file (review catch —
      // the month-range predicate alone kept the whole boundary month)
      val (lo, hi) = ("2024-01-18 00:00:00", "2024-01-20 00:00:00")
      val (merged, leg0, leg1) = PE.read(spark, sf, lo, hi)
      assert(leg0.select(input_file_name()).distinct().count() === 0L,
        "month-spec history must not be read for a post-boundary window")
      // directory-level skip is real: the 2-day window reads only
      // its days' files out of ~16 day partitions
      val touched = leg1.select(input_file_name()).distinct().count()
      val total = spark.read.parquet(s"${PE.ensure(spark, sf)}/spec1")
        .select(input_file_name()).distinct().count()
      assert(touched < total / 3,
        s"2 of ~16 day partitions should read far fewer files ($touched/$total)")
      assert(merged.count() === rawWindow(lo, hi).count())
    }
  }

  test("a window before the spec change reads the month leg only") {
    withIndexRoot("graft-pev-spec") {
      val (lo, hi) = ("2024-01-02 00:00:00", "2024-01-05 00:00:00")
      val (merged, _, leg1) = PE.read(spark, sf, lo, hi)
      assert(leg1.count() === 0L, "day-spec data starts at the boundary")
      assert(merged.count() === rawWindow(lo, hi).count())
    }
  }

  test("build and read agree on a non-UTC session timezone") {
    // the r7 advice: partition VALUES were date_format renderings in
    // the SESSION zone while read()'s row predicate compares UTC
    // instants — under a non-UTC session the two layers disagreed at
    // every generation boundary. The build now runs on a UTC-pinned
    // cloned session, so a read under ANY caller zone returns the
    // UTC-convention answer. Ground truth is snapshotted under the
    // suite's UTC session FIRST (the events table ships naive
    // timestamps, so a non-UTC raw read is itself shifted — the
    // engine-wide "naive ≡ UTC" convention Tables documents).
    withIndexRoot("graft-pev-tz") {
      val (lo, hi) = ("2024-01-10 00:00:00", "2024-01-22 00:00:00")
      val expected = rawWindow(lo, hi).select("event_id")
        .collect().map(_.getLong(0)).sorted
      val saved = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        val (merged, leg0, leg1) = PE.read(spark, sf, lo, hi) // builds under NY
        assert(leg0.count() > 0 && leg1.count() > 0)
        val a = merged.select("event_id").collect().map(_.getLong(0)).sorted
        assert(a.toSeq === expected.toSeq,
          "a non-UTC caller must still read the UTC-convention window")
      } finally spark.conf.set("spark.sql.session.timeZone", saved)
    }
  }
}
