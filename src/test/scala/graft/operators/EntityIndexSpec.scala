package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The entity-index contract: index serve ≡ raw scan, point lookups
  * touch only the target buckets' files (the fact table never),
  * append maintenance folds at read time but vetoes index serving
  * until reEnsure, and the fallback path is exact. */
class EntityIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val users = Seq(1L, 3L, 7L, 11L, 14L)

  test("index serve equals the raw scan, reading only the lookup buckets") {
    withIndexRoot("graft-ent") {
      EntityIndex.ensure(spark, sf)
      val (idx, viaIndex) = EntityIndex.serve(spark, sf, users)
      assert(viaIndex, "watermark intact -> index path")
      // corpus untouched: every scanned file lives under the artifact
      // root (inputFiles lists the scanned TABLE's files pre-pruning)
      val files = idx.inputFiles
      assert(files.nonEmpty && files.forall(_.contains("entity_user")),
        s"index path must not read events.parquet: ${files.take(3).mkString(",")}")
      // pruning receipt: execute, then read the scan's OWN numFiles
      // metric — at most one file per looked-up bucket actually opens
      idx.collect()
      def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectScans(a.executedPlan)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          collectScans(st.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(collectScans)
      }
      val scans = collectScans(idx.queryExecution.executedPlan)
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        "the bucket lookup must land as PartitionFilters")
      val opened = scans.map(_.metrics("numFiles").value).sum
      assert(opened <= users.map(EntityIndex.bucketOf).distinct.size,
        s"$opened files opened for ${users.size} users")
      // exactness: the raw-scan fallback is the oracle here
      EnsureWatermark.veto(EntityIndex.indexPath(sf))
      val (raw, viaIndex2) = EntityIndex.serve(spark, sf, users)
      assert(!viaIndex2, "broken watermark -> fail-closed raw scan")
      assert(raw.inputFiles.exists(_.contains("events.parquet")))
      assert(idx.collect().map(_.toString).sorted
        .sameElements(raw.collect().map(_.toString).sorted),
        "both paths must agree byte-for-byte")
    }
  }

  test("append folds at read time, vetoes serving, reEnsure repairs") {
    withIndexRoot("graft-ent-append") {
      EntityIndex.ensure(spark, sf)
      val before = EntityIndex.serve(spark, sf, Seq(3L))._1
        .select($"n").as[Long].head()
      // a same-day batch for user 3: 5 events on an EXISTING day so
      // the fold crosses a duplicate (user, day) key
      val day0 = graft.Tables(spark, sf, "events")
        .where($"user_id" === 3L).agg(min($"ts")).head().getTimestamp(0)
      val batch = (1 to 5).map(i =>
        (3L, new java.sql.Timestamp(day0.getTime + i * 1000L), 2.5))
        .toDF("user_id", "ts", "value")
      EntityIndex.appendBatch(spark, sf, batch)
      // serving is vetoed (the batch is not in events.parquet)...
      val (df, viaIndex) = EntityIndex.serve(spark, sf, Seq(3L))
      assert(!viaIndex, "appended out-of-band data must veto the index path")
      // ...but the STORE itself folded: a direct read sums across the
      // duplicate (user, day) partial rows
      val path = EntityIndex.indexPath(sf)
      val stored = spark.read.parquet(
          EnsureWatermark.stampOf(path).get.part(path, "data"))
        .where($"user_id" === 3L)
        .agg(sum($"n")).head().getLong(0)
      assert(stored === before + 5, s"stored=$stored before=$before")
      // repair drops the out-of-band partials and restores serving
      EntityIndex.reEnsure(spark, sf)
      val (after, viaIndex3) = EntityIndex.serve(spark, sf, Seq(3L))
      assert(viaIndex3)
      assert(after.select($"n").as[Long].head() === before)
    }
  }

  test("stream batches fold exactly-once: replays overwrite, torn batches invisible") {
    withIndexRoot("graft-ent-stream") {
      EntityIndex.ensure(spark, sf)
      val before = EntityIndex.serveWithStream(spark, sf, Seq(7L))
        .select($"n").as[Long].head()
      val batch = (1 to 4).map(i =>
        (7L, java.sql.Timestamp.valueOf(s"2024-02-0$i 10:00:00"), 3.0))
        .toDF("user_id", "ts", "value")
      EntityIndex.processStreamBatch(spark, sf, batch, batchId = 1L)
      val once = EntityIndex.serveWithStream(spark, sf, Seq(7L))
        .select($"n", $"days").as[(Long, Long)].head()
      assert(once._1 === before + 4)
      // a crash-replay of the SAME batch id overwrites, never doubles
      EntityIndex.processStreamBatch(spark, sf, batch, batchId = 1L)
      assert(EntityIndex.serveWithStream(spark, sf, Seq(7L))
        .select($"n").as[Long].head() === before + 4,
        "batch-id overwrite is the exactly-once discipline")
      // a torn batch (no _SUCCESS) contributes nothing until replayed
      val torn = s"${EntityIndex.streamPath(sf)}/batch=b2"
      spark.createDataFrame(Seq((7L, 0L,
        java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 99L, 99L)))
        .toDF("user_id", "bucket", "day", "n", "v_fp")
        .write.mode("overwrite").parquet(torn)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$torn/_SUCCESS"), false)
      assert(EntityIndex.serveWithStream(spark, sf, Seq(7L))
        .select($"n").as[Long].head() === before + 4,
        "a torn batch must stay invisible")
      // the base serve path is untouched by stream batches
      assert(EntityIndex.serve(spark, sf, Seq(7L))._1
        .select($"n").as[Long].head() === before)
    }
  }

  test("purge tombstones filter both serve paths; raw face stays raw") {
    withIndexRoot("graft-ent-purge") {
      EntityIndex.ensure(spark, sf)
      EntityIndex.purgeUsers(spark, sf, Seq(3L, 11L), tag = "t1")
      // index path: purged users never surface
      val (idx, via) = EntityIndex.servePurged(spark, sf, users)
      assert(via)
      assert(idx.select($"user_id").as[Long].collect().sorted
        === Array(1L, 7L, 14L))
      // the UNPURGED face is untouched (the v04/v17 split)
      assert(EntityIndex.serve(spark, sf, users)._1
        .select($"user_id").as[Long].collect().sorted
        === Array(1L, 3L, 7L, 11L, 14L))
      // raw-scan fallback path filters too
      val built = EnsureWatermark.stampOf(EntityIndex.indexPath(sf)).get
      EnsureWatermark.veto(EntityIndex.indexPath(sf))
      val (raw, via2) = EntityIndex.servePurged(spark, sf, users)
      assert(!via2)
      assert(raw.select($"user_id").as[Long].collect().sorted
        === Array(1L, 7L, 14L))
      EnsureWatermark.rewriteStampForTest(EntityIndex.indexPath(sf))(_ => built)
      // replaying the SAME tag is idempotent; a new tag accumulates
      EntityIndex.purgeUsers(spark, sf, Seq(3L, 11L), tag = "t1")
      assert(EntityIndex.purgedKeys(spark, sf).count() === 2L)
      EntityIndex.purgeUsers(spark, sf, Seq(14L), tag = "t2")
      assert(EntityIndex.servePurged(spark, sf, users)._1
        .select($"user_id").as[Long].collect().sorted === Array(1L, 7L))
    }
  }

  test("appendBatch refuses to run before ensure") {
    withIndexRoot("graft-ent-order") {
      val batch = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
        .toDF("user_id", "ts", "value")
      val e = intercept[IllegalArgumentException] {
        EntityIndex.appendBatch(spark, sf, batch)
      }
      assert(e.getMessage.contains("built before appending"))
    }
  }
}
