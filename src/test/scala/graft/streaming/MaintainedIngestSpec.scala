package graft.streaming

import graft.SparkSpec
import graft.operators.StatsMaintain
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The maintained-ingest contract (D103): a stream of micro-batches
  * lands exactly-once in batch_id partitions while the advisory
  * artifacts (column stats, hot-key profile) stay CURRENT at O(batch)
  * — the first batch bootstraps, replays converge (rows never
  * duplicate, counts never double), and the engine-brain consumers
  * (estimator, join advice) read a live table with zero full rescans
  * after the bootstrap. */
class MaintainedIngestSpec extends SparkSpec {
  import spark.implicits._

  test("streamed batches keep the maintained artifacts current; the stream wiring works end to end") {
    withIndexRoot("graft-ingest") {
      val dir = tmpDir("graft-ingest-data")
      val ckpt = tmpDir("graft-ingest-ckpt")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = {
        import org.apache.spark.sql.classic.ClassicConversions._
        spark.sqlContext
      }
      val mem = MemoryStream[(Long, Long, Double)]
      val rows = mem.toDF().toDF("k", "sid", "v")
      // batch 0: hot key 7 x 600 + 400 tail; batch 1: 300 more hot
      mem.addData((1L to 600L).map(i => (7L, i, 1.0)) ++
        (1L to 400L).map(i => (i % 40 + 100L, 10000L + i, 2.0)): _*)
      MaintainedIngest.run(rows, dir, "ing", ckpt,
        profileColumn = Some("k"), hotFreq = 500L,
        mcvColumns = Seq("k"),
        groupHistograms = Seq(("k", "v"))).processAllAvailable()
      mem.addData((1L to 300L).map(i => (7L, 20000L + i, 3.0)): _*)
      MaintainedIngest.run(rows, dir, "ing", ckpt,
        profileColumn = Some("k"), hotFreq = 500L,
        mcvColumns = Seq("k"),
        groupHistograms = Seq(("k", "v"))).processAllAvailable()

      assert(graft.Tables(spark, dir, "ing").count() === 1300L)
      val st = StatsMaintain.statsIfCurrent(spark, dir, "ing")
        .getOrElse(fail("stats must be CURRENT right after the stream"))
      assert(st("k").n === 1300L)
      assert(st("v").min.map(_.toDouble).contains(1.0))
      assert(st("v").max.map(_.toDouble).contains(3.0))
      assert(StatsMaintain.keyProfileIfCurrent(spark, dir, "ing", "k")
        === Some((Seq("7"), 900L)),
        "the hot-key profile merges across micro-batches")
      assert(StatsMaintain.mcvMaintIfCurrent(spark, dir, "ing", "k")
        .exists(_.headOption.contains(("7", 900L))),
        "the maintained MCV list merges across micro-batches (D105)")
      val (bins, _, _) = graft.operators.SampledAgg
        .groupHistIfCurrent(spark, dir, "ing", "k", "v")
        .getOrElse(fail("the group histogram must be CURRENT after the stream (D109)"))
      assert(bins.agg(sum($"cnt")).head().getLong(0) === 1300L,
        "the histogram's mass merges across micro-batches")
    }
  }

  test("replays converge: re-run batches, a lost marker, and a half-maintained batch never double-count") {
    withIndexRoot("graft-ingest-replay") {
      val dir = tmpDir("graft-ingest-replay-data")
      def batch(n: Long, off: Long) =
        (1L to n).map(i => (7L, off + i, 1.0)).toDF("k", "sid", "v")
      MaintainedIngest.processBatch(batch(500, 0), 0L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      MaintainedIngest.processBatch(batch(200, 1000), 1L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      def profile() =
        StatsMaintain.keyProfileIfCurrent(spark, dir, "ing", "k").map(_._2)
      def statN() = StatsMaintain.statsIfCurrent(spark, dir, "ing").map(_("k").n)
      assert(graft.Tables(spark, dir, "ing").count() === 700L)
      assert(statN() === Some(700L) && profile() === Some(700L))
      // plain replay of a committed batch: full no-op
      MaintainedIngest.processBatch(batch(200, 1000), 1L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      assert(graft.Tables(spark, dir, "ing").count() === 700L)
      assert(statN() === Some(700L) && profile() === Some(700L))
      // crash window (b): partition + marker landed, NO maintenance
      // ran (the marker precedes the maintains, so this is the only
      // reachable no-maintain replay state) — the replay skips the
      // write and maintains exactly once
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      batch(100, 5000).withColumn("batch_id", lit(2L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/ing.parquet")
      val cid2 = MaintainedIngest.contentIdOf(batch(100, 5000))
      fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/ing_batches/batch_2_$cid2"), true).close()
      MaintainedIngest.processBatch(batch(100, 5000), 2L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      assert(graft.Tables(spark, dir, "ing").count() === 800L)
      assert(statN() === Some(800L) && profile() === Some(800L),
        "a landed-but-unmaintained batch maintains exactly once on replay")
      // crash window (a): partition landed WITHOUT its marker (crash
      // mid-write or pre-marker) — the replay rewrites the partition
      // (replacing any partials, never appending) and maintains once
      batch(50, 9000).withColumn("batch_id", lit(3L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/ing.parquet")
      MaintainedIngest.processBatch(batch(50, 9000), 3L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      assert(graft.Tables(spark, dir, "ing").count() === 850L,
        "the rewrite replaces the partition, never appends a second copy")
      assert(statN() === Some(850L) && profile() === Some(850L),
        "the re-maintained counts equal the single application")
      // LINEAGE BREAK: a restarted stream reuses batchId 3 with
      // DIFFERENT data — the content-id marker catches it, the
      // partition is replaced (not skipped, not appended), and the
      // advisory artifacts REBUILD instead of merging against rows
      // that no longer exist
      MaintainedIngest.processBatch(batch(80, 50000), 3L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      assert(graft.Tables(spark, dir, "ing").count() === 880L,
        "the broken-lineage batch replaces its partition (800 + 80)")
      assert(statN() === Some(880L) && profile() === Some(880L),
        "a lineage break rebuilds the artifacts from the table")
      assert(graft.operators.SampledAgg
        .groupRollupIfCurrent(spark, dir, "ing", "k", "v")
        .map(_.agg(sum($"n")).head().getLong(0)) === Some(880L),
        "the group rollup rides the same exactly-once discipline (D106 x D103)")
    }
  }

  test("a crash INSIDE a lineage break converges: the tombstone precedes the marker transition (r16 advice)") {
    withIndexRoot("graft-ingest-break") {
      val dir = tmpDir("graft-ingest-break-data")
      def batch(n: Long, off: Long) =
        (1L to n).map(i => (7L, off + i, 1.0)).toDF("k", "sid", "v")
      MaintainedIngest.processBatch(batch(500, 0), 0L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      MaintainedIngest.processBatch(batch(200, 1000), 1L, dir, "ing",
        Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def statN() = StatsMaintain.statsIfCurrent(spark, dir, "ing").map(_("k").n)
      def profN() =
        StatsMaintain.keyProfileIfCurrent(spark, dir, "ing", "k").map(_._2)
      def rollN() = graft.operators.SampledAgg
        .groupRollupIfCurrent(spark, dir, "ing", "k", "v")
        .map(_.agg(sum($"n")).head().getLong(0))
      // WINDOW 1 (the r16 advice's wrong window): a restarted stream
      // reuses batchId 1 with DIFFERENT data and crashes right before
      // the maintain — the fixed writer has by then (a) replaced the
      // partition, (b) TOMBSTONED the artifacts, (c) retired the old
      // marker, (d) created the new one. The replay takes the
      // exact-replay path (marker matches) but finds the artifacts
      // ABSENT and rebuilds — never an O(batch) merge into stats
      // still counting the replaced 200 rows (which would serve 790).
      val b1b = batch(90, 70000)
      b1b.withColumn("batch_id", lit(1L)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/ing.parquet")
      StatsMaintain.dropMaintained(dir, "ing")
      graft.operators.SampledAgg.dropGroupRollup(dir, "ing", "k", "v")
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/ing_batches/batch_1_*"))
        .foreach(st => fs.delete(st.getPath, false))
      fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/ing_batches/batch_1_${MaintainedIngest.contentIdOf(b1b)}"),
        true).close()
      MaintainedIngest.processBatch(b1b, 1L, dir, "ing", Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      assert(graft.Tables(spark, dir, "ing").count() === 590L)
      assert(statN() === Some(590L) && profN() === Some(590L),
        "the replay must rebuild from the table; a merge over the stale artifact would have stamped 790 current")
      assert(rollN() === Some(590L),
        "the tombstoned group rollup rebuilds exactly too")
      // WINDOW 2: crash after the tombstone but BEFORE the old-marker
      // retire — the replay re-detects the break from the marker
      // mismatch, skips the (identical) rewrite, and rebuilds
      val b1c = batch(40, 90000)
      b1c.withColumn("batch_id", lit(1L)).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/ing.parquet")
      StatsMaintain.dropMaintained(dir, "ing")
      graft.operators.SampledAgg.dropGroupRollup(dir, "ing", "k", "v")
      MaintainedIngest.processBatch(b1c, 1L, dir, "ing", Some("k"), hotFreq = 100L,
        groupRollups = Seq(("k", "v")))
      assert(graft.Tables(spark, dir, "ing").count() === 540L)
      assert(statN() === Some(540L) && profN() === Some(540L),
        "a half-finished break converges on replay")
      assert(rollN() === Some(540L))
    }
  }
}
