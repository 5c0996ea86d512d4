package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The data-skipping contract of the min/max file manifest: the
  * manifest really describes the layout, the pruned read really drops
  * files, and — the part that makes skipping safe — the pruned result
  * is byte-equal to the full scan under the same predicate. */
class MinMaxManifestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val lo = "2024-01-10 00:00:00"
  private val hi = "2024-01-13 00:00:00"

  private def withRoot[A](body: => A): A = {
    val dir = tmpDir("graft-manifest-spec")
    sys.props("graft.index.dir") = dir
    try body
    finally sys.props.remove("graft.index.dir")
  }

  private def entries(table: String = "events_by_ts") =
    MinMaxManifest.entries(spark, sf, table)

  /** The committed files against the parquet files on disk under the
    * layout (these tests leave no uncommitted or empty files). */
  private def namesLayoutFiles(table: String = "events_by_ts"): Boolean =
    entries(table).map(e => MinMaxManifest.pathKey(e.path)).sorted ===
      parquetFiles(MinMaxManifest.layoutPath(sf, table)).map(_._1).sorted

  test("manifest has one row per layout file, covering every row") {
    withRoot {
      MinMaxManifest.ensure(spark, sf)
      assert(namesLayoutFiles(), "one entry per layout file, no more, no fewer")
      val total = entries().map(_.rows).sum
      assert(total === graft.Tables(spark, sf, "events").count(),
        "manifest row counts must cover the whole table")
    }
  }

  test("time-range read prunes files and matches the full scan exactly") {
    withRoot {
      val (pruned, kept, totalFiles) =
        MinMaxManifest.prunedEvents(spark, sf, lo, hi)
      // a 3-of-30-day predicate over a 16-file time-clustered layout
      // must drop most files — this is the operator's reason to exist
      assert(kept < totalFiles,
        s"pruning kept $kept of $totalFiles files — no skipping happened")
      assert(kept <= totalFiles / 2,
        s"a 10% time slice should prune at least half the files ($kept/$totalFiles)")
      val full = graft.Tables(spark, sf, "events")
        .where(col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
      assert(pruned.count() === full.count())
      val a = pruned.select("event_id").collect().map(_.getLong(0)).sorted
      val b = full.select("event_id").collect().map(_.getLong(0)).sorted
      assert(a.toSeq === b.toSeq,
        "pruned read must return exactly the full scan's rows")
    }
  }

  test("appendBatch: manifest gains rows for exactly the new files; pruning stays exact") {
    withRoot {
      import spark.implicits._
      MinMaxManifest.ensure(spark, sf)
      val baseManifest = entries().size
      // two "micro-batches" beyond the base table's time range, the
      // streaming foreachBatch shape (batch_id idempotence is the
      // caller's contract, as in StreamingDedup)
      def batch(day: Int, n: Int) = (0 until n).map { i =>
        (100000L + day * 1000 + i,
          java.sql.Timestamp.valueOf(f"2024-02-$day%02d 01:00:${i % 60}%02d"),
          7L, "append", 1.5, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      MinMaxManifest.appendBatch(spark, sf, batch(1, 40))
      MinMaxManifest.appendBatch(spark, sf, batch(2, 40))
      assert(namesLayoutFiles(),
        "manifest must track every layout file after appends")
      assert(entries().size > baseManifest, "appends must add manifest rows")
      // prune a window that covers ONLY the appended days
      val (pruned, kept, total) = MinMaxManifest.prunedEvents(
        spark, sf, "2024-02-01 00:00:00", "2024-02-03 00:00:00")
      assert(pruned.count() === 80L, "append window must return the appended rows")
      assert(kept < total.toInt,
        "the base files must be skipped for an append-only window")
      // and the original base window is untouched by the appends
      val (basePruned, _, _) = MinMaxManifest.prunedEvents(spark, sf, lo, hi)
      val full = graft.Tables(spark, sf, "events")
        .where(col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
      assert(basePruned.count() === full.count())
    }
  }

  test("a torn append (data files without a commit) stays invisible; a retried appendBatch lands it once") {
    withRoot {
      import spark.implicits._
      MinMaxManifest.ensure(spark, sf)
      val before = entries()
      val batch = Seq((999999L, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"),
        9L, "torn", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // the crash window: the batch's files land in a fresh directory
      // of the layout, and the commit naming them never does
      batch.coalesce(1).write
        .parquet(s"${MinMaxManifest.layoutPath(sf)}/c_torn")
      def window() = MinMaxManifest.prunedEvents(
        spark, sf, "2024-03-01 00:00:00", "2024-03-02 00:00:00")
      val (torn, kept, _) = window()
      assert(kept === 0 && torn.count() === 0L,
        "files no commit names must stay invisible")
      assert(entries() === before, "a read must not adopt uncommitted files")
      // the retry lands the batch exactly once
      MinMaxManifest.appendBatch(spark, sf, batch)
      assert(window()._1.count() === 1L,
        "the retried append must land its batch once, never twice")
      assert(entries().size === before.size + 1)
    }
  }

  test("a rebuild retires the replaced files and an older layout's leftovers once it lands, nothing in flight") {
    withRoot {
      import spark.implicits._
      val M = MinMaxManifest
      val lp = M.layoutPath(sf)
      // an older stamp-less layout: top-level part files and a snapshot log
      graft.Tables(spark, sf, "events").limit(10).write.parquet(lp)
      Seq((0L, "x")).toDF("snap_id", "path").write.parquet(s"${lp}_snapshots")
      assert(!M.built(sf), "a stamp-less layout reads as absent")
      M.ensure(spark, sf)
      assert(namesLayoutFiles(), "the older layout's files are retired")
      assert(!new java.io.File(s"${lp}_snapshots").exists)
      val first = entries().map(_.path).toSet
      // a directory no commit names yet — an in-flight mutation's
      Seq(1L).toDF("x").write.parquet(s"$lp/c_inflight")
      val inflight = parquetFiles(s"$lp/c_inflight")
      assert(M.ensureFrom(spark, sf, graft.Tables(spark, sf, "events")))
      assert(entries().map(_.path).toSet.intersect(first).isEmpty)
      assert(first.forall(p => !new java.io.File(M.pathKey(p)).exists),
        "the replaced state's files are retired")
      assert(parquetFiles(s"$lp/c_inflight") === inflight,
        "a rebuild never touches files no commit has named yet")
    }
  }

  test("a window matching no files returns an empty frame, not an error") {
    withRoot {
      val (pruned, kept, total) = MinMaxManifest.prunedEvents(
        spark, sf, "2030-01-01 00:00:00", "2030-01-02 00:00:00")
      assert(kept === 0 && total > 0)
      assert(pruned.count() === 0L,
        "an out-of-range window is an empty result, matching the full scan")
    }
  }

  test("compactSmall: packs only undersized files, renames the rest, preserves rows") {
    withRoot {
      import spark.implicits._
      MinMaxManifest.ensure(spark, sf)
      // many single-file micro-batches -> a long small-file tail
      def batch(day: Int) = (0 until 3).map { i =>
        (300000L + day * 1000 + i,
          java.sql.Timestamp.valueOf(f"2024-02-$day%02d 09:00:${i % 60}%02d"),
          3L, "opt", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      (10 to 17).foreach(d =>
        MinMaxManifest.appendBatch(spark, sf, batch(d), batchFiles = 1))
      def rows() = MinMaxManifest.scan(spark, sf).count()
      val beforeRows = rows()
      val manifestBefore = entries().map(e => e.path -> e.rows).toMap
      val beforeFiles = manifestBefore.size
      // target sized so the BASE files (a 16-way split of the table)
      // count as right-sized and the 8 micro-batch files as small
      val sizes = entries().map(e => new java.io.File(MinMaxManifest.pathKey(e.path)).length)
        .sorted
      // the layout is bimodal: 8 tiny micro-batch files + 16 base
      // files. target/2 sits just above the largest micro file, so
      // exactly the micro tail counts as small and bins hold ~2 files
      val target = sizes(7) * 2 + 2
      val bins = MinMaxManifest.compactSmall(spark, sf, targetBytes = target)
      assert(bins >= 1, "the micro-batch tail must pack into at least one bin")
      assert(rows() === beforeRows, "optimize must preserve every row")
      val manifestAfter = entries().map(e => e.path -> e.rows).toMap
      assert(manifestAfter.size < beforeFiles,
        s"optimize must reduce file count (${manifestAfter.size} vs $beforeFiles)")
      // right-sized files are untouched: same path, same manifest row
      val keptBoth = manifestBefore.keySet.intersect(manifestAfter.keySet)
      assert(keptBoth.nonEmpty, "some right-sized files must survive untouched")
      keptBoth.foreach(p =>
        assert(manifestBefore(p) === manifestAfter(p),
          s"kept file $p must keep its manifest stats"))
      // pruning still exact over the packed region
      val (pruned, kept, total) = MinMaxManifest.prunedEvents(
        spark, sf, "2024-02-10 00:00:00", "2024-02-12 00:00:00")
      assert(pruned.count() === 6L)
      assert(kept < total, "optimized layout must still skip files")
      // idempotent: a second optimize finds nothing worth packing at
      // the same target (the packed bins are now right-sized or lone)
      val again = MinMaxManifest.compactSmall(spark, sf, targetBytes = target)
      assert(rows() === beforeRows)
      assert(again <= bins)
    }
  }

  test("compactSmall fails loudly on a concurrent append, losing nothing") {
    withRoot {
      import spark.implicits._
      MinMaxManifest.ensure(spark, sf)
      def batch(id: Long, day: Int) = Seq(
        (id, java.sql.Timestamp.valueOf(f"2024-02-$day%02d 09:00:00"),
          3L, "opt", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      (1 to 4).foreach(d =>
        MinMaxManifest.appendBatch(spark, sf, batch(400000L + d, d),
          batchFiles = 1))
      val beforeRows = MinMaxManifest.scan(spark, sf).count()
      val racing = () => MinMaxManifest.appendBatch(spark, sf,
        batch(499999L, 20), batchFiles = 1)
      val e = intercept[IllegalStateException] {
        MinMaxManifest.compactSmall(spark, sf,
          targetBytes = Long.MaxValue / 4, onStagedForTest = racing)
      }
      assert(e.getMessage.contains("concurrent write detected"))
      // nothing lost: the old layout (incl. the racing batch) is live
      assert(MinMaxManifest.scan(spark, sf).count() === beforeRows + 1)
    }
  }

  test("compactSmall loses to two commits that land while it writes, deleting nothing live") {
    withRoot {
      import spark.implicits._
      MinMaxManifest.ensure(spark, sf)
      def batch(id: Long, day: Int) = Seq(
        (id, java.sql.Timestamp.valueOf(f"2024-02-$day%02d 09:00:00"),
          3L, "opt", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      (1 to 4).foreach(d =>
        MinMaxManifest.appendBatch(spark, sf, batch(410000L + d, d),
          batchFiles = 1))
      val beforeRows = MinMaxManifest.scan(spark, sf).count()
      // the second racing commit retires the first one's stamp, so the
      // sequence the compaction would land on is free again
      val racing = () => Seq(20, 21).foreach(d => MinMaxManifest.appendBatch(
        spark, sf, batch(419900L + d, d), batchFiles = 1))
      val e = intercept[IllegalStateException] {
        MinMaxManifest.compactSmall(spark, sf,
          targetBytes = Long.MaxValue / 4, onStagedForTest = racing)
      }
      assert(e.getMessage.contains("concurrent write detected"))
      assert(MinMaxManifest.scan(spark, sf).count() === beforeRows + 2,
        "every committed file must still be readable")
      assert(namesLayoutFiles(), "the losing compaction leaves no files behind")
    }
  }

  test("appendBatch composes with Structured Streaming foreachBatch end to end") {
    withRoot {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.{col => c}
      val s2 = spark
      import s2.implicits._
      MinMaxManifest.ensure(spark, sf)
      implicit val sq = spark.sqlContext
      val src = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      val q = src.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          MinMaxManifest.appendBatch(spark, sf, b)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      src.addData((500000L, java.sql.Timestamp.valueOf("2024-04-01 10:00:00"),
        1L, "stream", 1.0, "{}"))
      src.addData((500001L, java.sql.Timestamp.valueOf("2024-04-02 10:00:00"),
        2L, "stream", 2.0, "{}"))
      q.awaitTermination(60000)
      val (pruned, kept, total) = MinMaxManifest.prunedEvents(
        spark, sf, "2024-04-01 00:00:00", "2024-04-03 00:00:00")
      assert(pruned.count() === 2L,
        "rows written through the streaming sink must be prunable-readable")
      assert(kept < total.toInt, "base files must be skipped for the stream window")
      assert(pruned.where(c("event_type") === "stream").count() === 2L)
    }
  }

  test("appendBatch refuses to append before the layout exists") {
    withRoot {
      import spark.implicits._
      val b = Seq((1L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        1L, "x", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      intercept[IllegalArgumentException] {
        MinMaxManifest.appendBatch(spark, sf, b)
      }
    }
  }

  test("pruning and the row predicate agree on a non-UTC session timezone") {
    withRoot {
      val saved = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        val (pruned, kept, total) = MinMaxManifest.prunedEvents(spark, sf, lo, hi)
        assert(kept < total, "pruning must still drop files")
        // ground truth: the UTC-instant window over the raw table —
        // built from the same Timestamp instants prunedEvents uses,
        // independent of the session zone
        def utc(t: String) = java.sql.Timestamp.from(
          java.time.LocalDateTime.parse(t.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC))
        val full = graft.Tables(spark, sf, "events")
          .where(col("ts") >= lit(utc(lo)) && col("ts") < lit(utc(hi)))
        assert(pruned.count() === full.count(),
          "boundary-file rows must not shift with the session timezone")
        val a = pruned.select("event_id").collect().map(_.getLong(0)).sorted
        val b = full.select("event_id").collect().map(_.getLong(0)).sorted
        assert(a.toSeq === b.toSeq)
      } finally spark.conf.set("spark.sql.session.timeZone", saved)
    }
  }

  test("the pruned plan scans only kept layout files, never the raw table") {
    withRoot {
      val (pruned, kept, _) = MinMaxManifest.prunedEvents(spark, sf, lo, hi)
      val scanned = pruned.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(scanned.length <= kept)
      assert(scanned.forall(_.contains("events_by_ts")),
        s"pruned read must serve the clustered layout: ${scanned.toSeq}")
      assert(!scanned.exists(_.contains("events.parquet")),
        "pruned read must not fall back to the raw events table")
    }
  }

  private val fullLo = "2024-01-01 00:00:00"
  private val fullHi = "2024-03-01 00:00:00"

  test("time travel: as-of reads replay each historical state exactly") {
    withRoot {
      import spark.implicits._
      val M = MinMaxManifest
      val ev = graft.Tables(spark, sf, "events")
      val (b1, b2) = (M.utc("2024-01-11 00:00:00"), M.utc("2024-01-21 00:00:00"))
      M.ensureHistory(spark, sf, "tt",
        ev.where(col("ts") < lit(b1)),
        Seq(ev.where(col("ts") >= lit(b1) && col("ts") < lit(b2)),
          ev.where(col("ts") >= lit(b2))))
      def ids(snap: Long): Seq[Long] =
        M.asOfEvents(spark, sf, snap, fullLo, fullHi, "tt")._1
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      def exp(pred: org.apache.spark.sql.Column): Seq[Long] =
        ev.where(pred).select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids(0L) === exp(col("ts") < lit(b1)))
      assert(ids(1L) === exp(col("ts") < lit(b2)))
      assert(ids(2L) === exp(lit(true)))
      // snapshot immutability under LATE-ARRIVING data: an append whose
      // EVENT time predates b1 must land in a NEW snapshot, not leak
      // into history — time travel versions by ingestion order
      val late = Seq((999999L,
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1L, "late", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      M.appendBatch(spark, sf, late, table = "tt")
      assert(ids(0L) === exp(col("ts") < lit(b1)),
        "a late append must not rewrite historical snapshots")
      assert(ids(1L) === exp(col("ts") < lit(b2)))
      assert(ids(3L).contains(999999L), "the new snapshot must see the append")
      // idempotent replay: ensureHistory sees the completed history...
      // (max snap is now 3, not batches.length=2 — still "complete
      // or beyond", must not rebuild and drop the extra snapshot)
      val (_, _, filesInSnap3) = M.asOfEvents(spark, sf, 3L, fullLo, fullHi, "tt")
      assert(filesInSnap3 > 0)
    }
  }

  test("time travel: compaction expires history and restarts the log at snapshot 0") {
    withRoot {
      import spark.implicits._
      val M = MinMaxManifest
      M.ensure(spark, sf)
      val batch = (0 until 20).map { i =>
        (300000L + i, java.sql.Timestamp.valueOf(f"2024-02-20 10:00:${i % 60}%02d"),
          5L, "exp", 2.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      M.appendBatch(spark, sf, batch)
      M.appendBatch(spark, sf, batch.withColumn("event_id", col("event_id") + 100))
      val totalRows = M.scan(spark, sf).count()
      assert(entries().map(_.snap).max === 2L)
      assert(M.compactSmall(spark, sf, targetBytes = Long.MaxValue / 4) === 1)
      assert(entries().map(_.snap).max === 0L,
        "compaction must restart the snapshot log")
      val (asOf0, _, _) = M.asOfEvents(spark, sf, 0L, fullLo, fullHi)
      assert(asOf0.count() === totalRows,
        "post-compaction snapshot 0 is the full compacted contents")
    }
  }

  test("shallow clone: metadata-only, serves the source exactly, diverges on append") {
    withRoot {
      import spark.implicits._
      val M = MinMaxManifest
      val (src, dst) = ("events_cl_a", "events_cl_b")
      val ev = graft.Tables(spark, sf, "events")
      M.ensureFrom(spark, sf, ev, src)
      M.cloneTable(spark, sf, src, dst)
      // METADATA-ONLY: the clone's own layout dir holds no data files
      assert(parquetFiles(M.layoutPath(sf, dst)).isEmpty,
        "a fresh clone must own zero data files")
      // the clone serves the source's rows exactly (shared files)
      val (srcR, _, _) = M.prunedEvents(spark, sf, fullLo, fullHi, src)
      val (dstR, _, _) = M.prunedEvents(spark, sf, fullLo, fullHi, dst)
      val srcRows = srcR.collect().map(_.toString).sorted.toSeq
      assert(dstR.collect().map(_.toString).sorted.toSeq === srcRows,
        "the clone must serve the shared files row-for-row")
      // DIVERGENCE: append to the clone only
      val batch = (0 until 25).map { i =>
        (400000L + i, java.sql.Timestamp.valueOf(f"2024-02-25 09:00:${i % 60}%02d"),
          9L, "branch", 3.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val srcListing = parquetFiles(M.layoutPath(sf, src))
      M.appendBatch(spark, sf, batch, table = dst)
      // the source is untouched byte-for-byte and serves the same rows
      assert(parquetFiles(M.layoutPath(sf, src)) === srcListing,
        "appending to the clone must never touch the source's files")
      val (srcR2, _, _) = M.prunedEvents(spark, sf, fullLo, fullHi, src)
      assert(srcR2.collect().map(_.toString).sorted.toSeq === srcRows)
      // the clone = source + batch
      val (dstR2, _, _) = M.prunedEvents(spark, sf, fullLo, fullHi, dst)
      assert(dstR2.count() === srcRows.size + 25L,
        "the clone must serve shared files PLUS its own appends")
      assert(dstR2.where($"event_type" === "branch").count() === 25L)
      // the clone's history restarted: snapshot 0 = the clone-time
      // file set (no 'branch' rows), snapshot 1 adds the append
      val (asOf0, _, _) = M.asOfEvents(spark, sf, 0L, fullLo, fullHi, dst)
      assert(asOf0.where($"event_type" === "branch").count() === 0L,
        "clone snapshot 0 must predate the divergent append")
      assert(asOf0.count() === srcRows.size.toLong)
      // rewrite ops refuse while shared files remain
      val e = intercept[IllegalArgumentException] {
        M.compactSmall(spark, sf, dst)
      }
      assert(e.getMessage.contains("shallow clone"),
        s"compaction on a shallow clone must refuse loudly: ${e.getMessage}")
      // and clone-target collision refuses
      intercept[IllegalArgumentException] {
        M.cloneTable(spark, sf, src, dst)
      }
    }
  }

  /** Every file under `root` (recursively) with its length and content
    * digest — empty when `root` does not exist. */
  private def tree(root: String): Seq[(String, Long, String)] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap { f =>
        if (f.isDirectory) tree(f.getPath)
        else Seq((f.getPath, f.length, java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString))
      }

  private def parquetFiles(root: String): Seq[(String, Long, String)] =
    tree(root).filter(_._1.endsWith(".parquet"))

  /** `n` threads append one batch each to one built layout at once. */
  private def concurrentAppends(n: Int): Unit = withRoot {
    import spark.implicits._
    MinMaxManifest.ensure(spark, sf)
    val baseRows = MinMaxManifest.scan(spark, sf).count()
    def batch(t: Int) = (0 until 50).map { i =>
      (600000L + t * 1000 + i,
        java.sql.Timestamp.valueOf(f"2024-02-${10 + t}%02d 08:00:${i % 60}%02d"),
        4L, "race", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to n).map { t =>
      val th = new Thread(() =>
        try {
          start.await()
          MinMaxManifest.appendBatch(spark, sf, batch(t), batchFiles = 1)
        } catch { case e: Throwable => failures.add(e); () })
      th.start()
      th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    val all = MinMaxManifest.scan(spark, sf)
    assert(all.count() === baseRows + 50L * n, "every appended row is read exactly once")
    assert(all.where($"event_type" === "race").select("event_id").distinct().count() === 50L * n)
    val paths = entries().map(_.path)
    assert(paths.distinct.size === paths.size, "the entries name each file once")
    assert(namesLayoutFiles(), "every batch file is committed")
    assert(entries().map(_.snap).sorted.takeRight(n) === (1L to n.toLong),
      "each append is its own snapshot")
  }

  test("two concurrent appends land every row once and name every file once") {
    concurrentAppends(2)
  }

  test("three concurrent appends land every row once and name every file once") {
    concurrentAppends(3)
  }

  test("warm pruned and as-of reads launch no Spark job and write nothing") {
    withRoot {
      val M = MinMaxManifest
      val ev = graft.Tables(spark, sf, "events")
      val b1 = M.utc("2024-01-11 00:00:00")
      def history(): Unit =
        M.ensureHistory(spark, sf, "tt", ev.where(col("ts") < lit(b1)),
          Seq(ev.where(col("ts") >= lit(b1))))
      def reads() = {
        history()
        Seq(M.prunedEvents(spark, sf, lo, hi)._1) ++
          M.asOfMany(spark, sf, Seq(0L, 1L), fullLo, fullHi, "tt").map(_._1)
      }
      val cold = reads().map(_.count())
      val dirs = Seq(M.layoutPath(sf), M.manifestPath(sf),
        M.layoutPath(sf, "tt"), M.manifestPath(sf, "tt"))
      val before = dirs.map(tree)
      var frames = Seq.empty[org.apache.spark.sql.DataFrame]
      assert(jobsDuring { frames = reads() } === 0,
        "a warm read plans from the memoized commit, with no Spark job")
      assert(frames.map(_.count()) === cold)
      assert(dirs.map(tree) === before, "reads must leave the table byte-identical")
    }
  }
}
