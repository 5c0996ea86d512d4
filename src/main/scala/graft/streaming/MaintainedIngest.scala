package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{SampledAgg, StatsMaintain}

/** MAINTAINED STREAMING INGEST (D103) — the D91/D94 freshness story
  * wired to the streaming surface: at 100 TB the appends arrive as
  * micro-batches, and an advisory tier that goes stale between
  * nightly ANALYZE runs is exactly the artifact whose absence melts
  * a reducer (q84's lesson). Each micro-batch lands in its own
  * `batch_id` partition and then maintains the declared artifact
  * family at O(batch) — the column stats, and optionally the hot-key
  * profile, MCV lists (D105), exact group rollups (D106), and group
  * histograms (D109) — so the estimator, the join advisor, the
  * transparent rules, and the AQP ladders stay current against a
  * LIVE table with zero full scans after each artifact's
  * bootstrap.
  *
  * EXACTLY-ONCE under foreachBatch replays, argued window by window
  * (the r15 crash-idempotency of the maintenance faces is what makes
  * this composable):
  *
  *  - the batch's rows land under `batch_id=<id>` with DYNAMIC
  *    overwrite (the engine's BatchTables discipline): a replay
  *    REPLACES its own partition, so rows are never duplicated —
  *    but a replaced partition has new mtimes, which would make an
  *    already-maintained batch look like fresh data to the
  *    fingerprint-keyed maintenance guards;
  *  - therefore a LANDED MARKER (one FS file named by batch id AND
  *    an order-independent content id, created after the partition
  *    write commits) records that exactly THIS batch's partition is
  *    complete: a replay that finds the marker SKIPS the rewrite
  *    (listing unchanged), and the maintenance entry guards then
  *    see covered == live and no-op;
  *  - crash between write and marker → the replay rewrites the
  *    partition (replacing any partial files) and maintains once:
  *    the artifacts still cover the pre-batch listing, so the merge
  *    applies the batch exactly once;
  *  - crash between the stats maintain and the profile maintain →
  *    the replay skips the write (marker present), the stats guard
  *    no-ops (covered == live), and the profile maintains once.
  *
  * The marker precedes the maintains, so "no marker but maintained"
  * is unreachable — every replay state converges (spec-pinned). */
object MaintainedIngest {

  private def tablePath(dir: String, table: String) = s"$dir/$table.parquet"

  /** Order-independent content id of a batch: decimal sum of per-row
    * hashes (a long sum would ANSI-overflow; decimal(38) holds
    * billions of 19-digit terms), rendered as a short md5 token.
    * Exposed for the crash-window specs, which must mint real
    * markers. */
  private[streaming] def contentIdOf(batch: DataFrame): String =
    Option(batch
      .agg(sum(xxhash64(struct(batch.columns.map(col).toIndexedSeq: _*))
        .cast("decimal(20,0)")))
      .head().get(0))
      .map(d => java.security.MessageDigest.getInstance("MD5")
        .digest(d.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16))
      .getOrElse("empty")

  /** The foreachBatch body (exposed for replay tests, the
    * StreamingDedup pattern). The FIRST batch bootstraps: with no
    * maintained artifact yet, ensure() builds from the table so far
    * (= exactly this batch); every later batch pays O(batch)
    * maintenance only. See the class scaladoc for the
    * window-by-window exactly-once argument.
    *
    * LINEAGE BREAKS are detected, not assumed away (r15 review #2):
    * the marker name embeds an order-independent CONTENT ID of the
    * batch (one xxhash64-sum pass over rows about to be written
    * anyway), so a stream restarted with a fresh checkpoint — same
    * batchId, DIFFERENT data — cannot silently skip its write
    * against the old stream's marker. Same (id, content) → replay,
    * skip. Same id, different content → the partition is REPLACED
    * (dynamic overwrite), the old marker retires, and the advisory
    * artifacts REBUILD from the table (the O(batch) merge would
    * otherwise double-count against rows that no longer exist) —
    * a full rescan, paid exactly when the lineage actually broke. */
  def processBatch(batch: DataFrame, batchId: Long, dir: String,
      table: String, profileColumn: Option[String] = None,
      hotFreq: Long = 1000L, mcvColumns: Seq[String] = Nil,
      groupRollups: Seq[(String, String)] = Nil,
      groupHistograms: Seq[(String, String)] = Nil): Unit = {
    val s = batch.sparkSession
    val withId = batch.withColumn("batch_id", lit(batchId))
    val contentId = contentIdOf(batch)
    val markerDir = new org.apache.hadoop.fs.Path(s"$dir/${table}_batches")
    val fs = markerDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(markerDir,
      s"batch_${batchId}_$contentId")
    if (fs.exists(marker)) {
      // exact replay of a landed batch: listing unchanged, the
      // maintains below no-op on their covered stamps
      maintain(s, dir, table, withId, profileColumn, hotFreq, mcvColumns,
        groupRollups, groupHistograms, lineageBroke = false)
      return
    }
    val priorMarkers =
      fs.globStatus(new org.apache.hadoop.fs.Path(markerDir,
        s"batch_${batchId}_*"))
    val lineageBroke = priorMarkers != null && priorMarkers.nonEmpty
    // no marker, but the partition may ALREADY hold exactly this
    // batch (a crash between the write and the marker — or a
    // pre-content-id commit whose marker name this code no longer
    // recognizes): content-compare before rewriting, because a
    // rewrite of identical rows still changes the listing and would
    // turn the maintenance guards' "covered == live" into a
    // double-merge. One partition-pruned scan, paid only on the
    // no-marker path (r15 self-review round 2).
    // a first-ever batch finds no table: ask the listing, not a read
    // (reading a missing path logs a stack trace every batch); a table
    // directory that cannot be read (a torn first write) counts as none
    var tableExisted = fs.exists(new org.apache.hadoop.fs.Path(tablePath(dir, table)))
    val existingSame = tableExisted &&
      (try {
        val existing = s.read.parquet(tablePath(dir, table))
          .where(col("batch_id") === batchId)
          .select(batch.columns.map(col).toIndexedSeq: _*)
        contentIdOf(existing) == contentId
      } catch {
        case scala.util.control.NonFatal(_) => tableExisted = false; false
      })
    if (!existingSame)
      withId.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(tablePath(dir, table))
    // a batch that CREATED the table is a lineage start: any surviving
    // maintained artifact describes a table that no longer exists
    // (e.g. the table was deleted and re-ingested while the artifact
    // store kept its path-keyed entry) — rebuild, never merge into it
    val mustRebuild = lineageBroke || !tableExisted
    // make the break DURABLE before the marker transition (r16
    // advice): tombstone the maintained artifacts FIRST, so a crash
    // after the old-marker delete (or after the new-marker create)
    // but before the rebuild leaves a replay that finds them ABSENT
    // and rebuilds — never an exact-replay path that O(batch)-merges
    // the new batch into artifacts still carrying the replaced rows'
    // contributions and stamps them current
    if (mustRebuild) {
      StatsMaintain.dropMaintained(dir, table)
      // the exact group rollups (D106) live outside maintPath — the
      // same tombstone discipline applies: an O(batch) merge into a
      // rollup still counting replaced rows would be wrong EXACT
      // data, worse than wrong advisory stats. ALL of the table's
      // rollups drop, not just this configuration's list (r16 review
      // #3: a rollup from an earlier configuration would otherwise
      // survive the break and poison a later re-add) — and the group
      // histograms with them: a replacement can PRESERVE the row
      // count, so their coherence screens alone cannot catch it
      SampledAgg.dropAllGroupRollups(dir, table)
      SampledAgg.dropAllGroupHistograms(dir, table)
    }
    if (lineageBroke) priorMarkers.foreach(st => fs.delete(st.getPath, false))
    fs.create(marker, true).close()
    maintain(s, dir, table, withId, profileColumn, hotFreq, mcvColumns,
      groupRollups, groupHistograms, mustRebuild)
  }

  private def maintain(s: org.apache.spark.sql.SparkSession, dir: String,
      table: String, withId: DataFrame, profileColumn: Option[String],
      hotFreq: Long, mcvColumns: Seq[String],
      groupRollups: Seq[(String, String)],
      groupHistograms: Seq[(String, String)], lineageBroke: Boolean): Unit = {
    // every maintain is idempotent (r15): covered == live no-ops
    if (lineageBroke || !StatsMaintain.built(dir, table))
      StatsMaintain.ensure(s, dir, table)
    else StatsMaintain.appendMaintain(s, dir, table, withId)
    profileColumn.foreach { c =>
      // ensureKeyProfileMaint rebuilds from a FULL scan whenever the
      // artifact is not current — which a lineage break guarantees
      // (the partition rewrite changed the listing)
      if (lineageBroke || !StatsMaintain.keyProfileBuilt(dir, table, c))
        StatsMaintain.ensureKeyProfileMaint(s, dir, table, c, hotFreq)
      else StatsMaintain.appendMaintainKeyProfile(s, dir, table, c, withId)
    }
    // the maintained MCV lists (D105, r16): the learned steering /
    // ordering tiers keep firing across micro-batches with zero
    // full rescans after each column's bootstrap
    mcvColumns.foreach { c =>
      if (lineageBroke || !StatsMaintain.mcvMaintBuilt(dir, table, c))
        StatsMaintain.ensureMcvMaint(s, dir, table, c)
      else StatsMaintain.appendMaintainMcv(s, dir, table, c, withId)
    }
    // the exact group rollups (D106): additive O(batch) maintenance;
    // after a lineage break the tombstone above left them absent and
    // ensure rebuilds from the replaced table (appendMaintain's own
    // absent-repair covers the torn-overwrite window)
    groupRollups.foreach { case (g, v) =>
      if (lineageBroke) SampledAgg.ensureGroupRollup(s, dir, table, g, v)
      else SampledAgg.appendMaintainGroupRollup(s, dir, table, g, v, withId)
    }
    // the generic group histograms (D109): same additive discipline
    groupHistograms.foreach { case (g, v) =>
      if (lineageBroke) SampledAgg.ensureGroupHistogram(s, dir, table, g, v)
      else SampledAgg.appendMaintainGroupHistogram(s, dir, table, g, v, withId)
    }
  }

  /** Wire a stream through the maintained ingest. */
  def run(rows: DataFrame, dir: String, table: String,
      checkpoint: String, profileColumn: Option[String] = None,
      hotFreq: Long = 1000L, mcvColumns: Seq[String] = Nil,
      groupRollups: Seq[(String, String)] = Nil,
      groupHistograms: Seq[(String, String)] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, dir, table, profileColumn, hotFreq,
          mcvColumns, groupRollups, groupHistograms)
      }
      .start()
}
