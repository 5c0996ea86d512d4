package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ENTITY-KEYED SERVING INDEX (D86) — the record-level secondary
  * index / feature-store pattern (Hudi's record index, Pinot's
  * star-tree entity rollups, every user-profile store — public
  * designs): the routing rollups (D50/D57/D81) serve TIME-keyed
  * dashboards; this table serves ENTITY-keyed point lookups — "user
  * 17's event count, value total, active days" — which at 100 TB
  * must never scan the fact table. The store is one row per
  * (user, UTC day) with summable partials, hash-partitioned into
  * [[Buckets]] directories by a deterministic key bucket, so a
  * point lookup for k users reads ≤ k partition directories of a
  * corpus-independent-width table: kilobytes, via Spark's partition
  * pruning (`PartitionFilters` on `bucket` — spec-pinned by
  * counting the files the serve plan actually touches).
  *
  * Day grain (not lifetime totals) because distinct-day counts are
  * then exact under append merging (duplicate (user, day) rows fold
  * by SUM / re-distinct).
  *
  * Bucket function: `floorMod(user_id, Buckets)` — deterministic
  * and driver-replayable, so the lookup computes its target buckets
  * without a Spark job. A deployment whose entity ids are assigned
  * sequentially (ids correlate with signup time, not activity)
  * keeps uniform bucket mass by construction; ids with adversarial
  * structure would hash first (xxhash64 % B) at the cost of a
  * driver-side hash replica. Documented trade, same family as
  * [[GraphRank]]'s bucket count.
  *
  * Lifecycle = the [[AggRollup]]/[[EnsureWatermark]] contract
  * verbatim: [[ensure]] commits once per source fingerprint;
  * [[appendBatch]] vetoes the commit FIRST (fail-closed) then
  * appends partials; [[serve]] takes the index path only while the
  * commit is current and otherwise falls back to the raw scan —
  * both paths exact, so the q73 oracle (the raw aggregate in
  * DuckDB) gates the index path byte-for-byte. */
object EntityIndex {

  /** Partition fan-out of the store. 16 spans the test corpus's
    * entity range; a 10⁹-user deployment raises it with the corpus
    * (buckets ≈ entities / rows-per-partition-target) — the value is
    * layout, not semantics, so no result depends on it. */
  val Buckets = 16

  /** The store's path; a store of any older layout under it reads as
    * absent and rebuilds in place. */
  def indexPath(dir: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/entity_user_v2"

  private[graft] def bucketOf(userId: Long): Long =
    java.lang.Math.floorMod(userId, Buckets.toLong)

  /** Per-batch (bucket, user_id, day) → (n, v_fp) partials — shared
    * by build and append so the merge algebra is one projection.
    * v_fp keeps sum semantics (NULL for an all-NULL cell). */
  private def partials(batch: DataFrame): DataFrame =
    batch.select(col("user_id"),
        pmod(col("user_id"), lit(Buckets.toLong)).as("bucket"),
        MinMaxManifest.utcDay(col("ts")).as("day"),
        floor(col("value")).as("v"))
      .groupBy("bucket", "user_id", "day")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_fp"))

  /** Commit the store: one shuffle of the corpus down to
    * (users × days) rows, written as one file per bucket directory. */
  private def build(s: SparkSession, dir: String)(data: String): Unit =
    partials(graft.Tables(s, dir, "events")).repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(data)

  /** The committed store's data part, built once per source
    * fingerprint; an appended-to (vetoed) store is kept — the repair
    * path is [[reEnsure]]. */
  private def stored(s: SparkSession, dir: String): String =
    EnsureWatermark.ensured(indexPath(dir), dir, "events")(build(s, dir))

  def ensure(s: SparkSession, dir: String): Unit = { stored(s, dir); () }

  /** Repair: a fresh commit from the raw table; out-of-band appended
    * partials drop by design. */
  def reEnsure(s: SparkSession, dir: String): Unit =
    EnsureWatermark.commitData(indexPath(dir), dir, "events")(build(s, dir))

  /** The store's data part while its commit is current — the index
    * path's precondition. */
  private def servable(dir: String): Option[String] = {
    val path = indexPath(dir)
    EnsureWatermark.current(path).map(_.part(path, "data"))
  }

  /** Incremental maintenance: O(batch) partials append into the
    * touched buckets; duplicate (user, day) keys fold at read time.
    * Serving from the INDEX is vetoed first (the batch is not in
    * events.parquet, so index ≠ raw until [[reEnsure]]). */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit = {
    val path = indexPath(dir)
    val st = EnsureWatermark.veto(path)
    require(st.isDefined, "entity index must be built before appending")
    partials(batch)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(st.get.part(path, "data"))
  }

  /** STREAMING maintenance — the [[HistogramRollup.processStreamBatch]]
    * batch-id discipline verbatim: each foreachBatch micro-batch's
    * partials land in their own `batch=b<id>` partition via
    * OVERWRITE, so a replayed batch (restart between sink write and
    * checkpoint commit) overwrites itself instead of double-counting
    * — exactly-once without an idempotent merge. */
  def streamPath(dir: String): String = indexPath(dir) + "_stream"

  def processStreamBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit = {
    ensure(s, dir)
    partials(batch).coalesce(1).write.mode("overwrite")
      .parquet(s"${streamPath(dir)}/batch=b$batchId")
  }

  /** Profile serve with committed stream batches folded in — reads
    * only `batch=` partitions that finished their write (the
    * [[IndexStore.readyBatches]] rule: a torn batch contributes
    * nothing until its replay overwrites it). The duplicate
    * (user, day) keys across base and batches fold by SUM /
    * re-distinct, the same read-time algebra as [[appendBatch]]. */
  def serveWithStream(s: SparkSession, dir: String,
      users: Seq[Long]): DataFrame = {
    require(users.nonEmpty, "empty lookup set")
    val buckets = users.map(bucketOf).distinct
    val base = IndexStore.readAs(s, "user_id BIGINT, day TIMESTAMP, n BIGINT, v_fp BIGINT, bucket BIGINT", stored(s, dir))
      .where(col("bucket").isin(buckets: _*) &&
        col("user_id").isin(users: _*))
      .select("user_id", "day", "n", "v_fp")
    val ready = IndexStore.readyBatches(streamPath(dir))
    val all =
      if (ready.isEmpty) base
      else base.union(
        s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
            "user_id BIGINT, day TIMESTAMP, n BIGINT, v_fp BIGINT"))
          .parquet(ready.map(t => s"${streamPath(dir)}/$t"): _*)
          .where(col("user_id").isin(users: _*))
          .select("user_id", "day", "n", "v_fp"))
    all.groupBy(col("user_id"))
      .agg(sum(col("n")).as("n"), sum(col("v_fp")).as("v_fp"),
        countDistinct(col("day")).as("days"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------------
  // GDPR purge (D89) — the erasure story every other artifact family
  // already has (AnnDeletes for ANN, HistogramRollup CDC deletes,
  // DeletionVectors for the DV table), applied to the entity store:
  // merge-on-read TOMBSTONES at delete time (O(purge-set), no scan)
  // and a purged serve face that anti-joins them on BOTH paths.
  // Tombstones live beside the index (batch-tagged overwrite
  // — replays are bit-idempotent, distinct tags accumulate, the
  // AnnDeletes discipline verbatim); the UNPURGED serve face ignores
  // them, so gates over raw semantics (q73) and governed semantics
  // (q76) coexist on one artifact.
  // ------------------------------------------------------------------

  def purgePath(dir: String): String = indexPath(dir) + "_purged"

  /** Record an erasure batch: one tombstone row per user, scoped to
    * `tag` so a crash-replay overwrites itself. No data scan. */
  def purgeUsers(s: SparkSession, dir: String, users: Seq[Long],
      tag: String): Unit = {
    import s.implicits._
    ensure(s, dir)
    users.distinct.toDF("user_id").coalesce(1)
      .write.mode("overwrite").parquet(s"${purgePath(dir)}/batch=$tag")
  }

  /** All committed tombstones (torn batches invisible — the
    * readyBatches rule). Empty frame when none recorded. */
  def purgedKeys(s: SparkSession, dir: String): DataFrame = {
    val ready = IndexStore.readyBatches(purgePath(dir))
    if (ready.isEmpty) {
      import s.implicits._
      Seq.empty[Long].toDF("user_id")
    } else {
      val paths = ready.map(t => s"${purgePath(dir)}/$t")
      s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT"))
        .parquet(paths: _*)
        .select(col("user_id")).distinct()
    }
  }

  /** The GOVERNED profile serve: [[serve]] with the tombstone
    * anti-join applied on BOTH the index path and the raw-scan
    * fallback — a purged user never surfaces, whichever path runs.
    * The tombstone frame is purge-set-sized; Catalyst's size checks
    * broadcast it while it fits (never a forced hint). */
  def servePurged(s: SparkSession, dir: String,
      users: Seq[Long]): (DataFrame, Boolean) = {
    val (df, viaIndex) = serve(s, dir, users)
    (df.join(purgedKeys(s, dir), Seq("user_id"), "left_anti")
      .orderBy(col("user_id")), viaIndex)
  }

  /** The per-user profile for `users`: (n, v_fp, active days).
    * Index path while the commit is current — bucket partition pruning
    * + user filter, corpus never touched; raw-scan fallback
    * otherwise (exact either way, fail-closed like every routing
    * serve). Returns the frame and which path ran, for plan pinning. */
  def serve(s: SparkSession, dir: String,
      users: Seq[Long]): (DataFrame, Boolean) = {
    require(users.nonEmpty, "empty lookup set")
    servable(dir).map { data =>
      val buckets = users.map(bucketOf).distinct
      val df = s.read.parquet(data)
        .where(col("bucket").isin(buckets: _*) &&
          col("user_id").isin(users: _*))
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n"), sum(col("v_fp")).as("v_fp"),
          countDistinct(col("day")).as("days"))
        .orderBy(col("user_id"))
      (df, true)
    }.getOrElse {
      val df = graft.Tables(s, dir, "events")
        .where(col("user_id").isin(users: _*))
        .select(col("user_id"), MinMaxManifest.utcDay(col("ts")).as("day"),
          floor(col("value")).as("v"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("v_fp"),
          countDistinct(col("day")).as("days"))
        .orderBy(col("user_id"))
      (df, false)
    }
  }
}
