package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DetHash

/** COUNT-MIN SKETCH daily rollup — the FOURTH mergeable sketch
  * algebra in the library, for the question the other three cannot
  * answer: POINT FREQUENCY of an individual key without storing
  * per-key rows. [[SketchRollup]]'s HLL max-merges set cardinality
  * (no per-key answer), [[HistogramRollup]]'s bins sum-merge VALUE
  * distributions (keys are gone), [[KmvRollup]] k-min-merges
  * identities (membership/overlap, not multiplicity); Count-Min
  * (Cormode & Muthukrishnan 2005 — the public sketch every stream
  * processor ships) keeps a Depth×Width grid of counters, each event
  * incrementing one counter per row, and answers
  * `f̂(u) = min_r Σ_days counter[r][h_r(u)]` with the one-sided
  * guarantee f̂(u) ≥ f(u) ALWAYS (collisions only add) and
  * overcount ≤ e·N/Width with probability 1−e^−Depth.
  *
  * Determinism and exactness at the gate (the q45 discipline): the
  * row hashes are [[DetHash.hash60]] with salts `cms0..cms3` —
  * replayed verbatim in the DuckDB oracle — and every counter, merge,
  * estimate, and overcount is BIGINT arithmetic, so q48's oracle
  * replays the FULL pipeline and the hash gate proves it. The
  * registered surface DISCLOSES its error (an `overcount` column vs
  * the exact window count) the way the dedup family discloses
  * `skipped_candidates` — a sketch that hides its error bound is not
  * an operator, it's a bug.
  *
  * Algebra: counters sum-merge — a late day's grid ADDS in
  * ([[appendBatch]], same non-replay-idempotent caller contract as
  * [[HistogramRollup.appendBatch]]), and the merge is INVERTIBLE, so
  * CDC deletes retract as negative counters in batch-scoped
  * partitions ([[applyDeletes]], the D42 discipline — HLL and KMV
  * provably cannot delete; the histogram and CMS can).
  *
  * Scale shape: the daily table holds ≤ Depth·Width rows per day
  * (4096) REGARDLESS of corpus size; a window read merges kilobytes;
  * point estimates join a bounded probe set against ≤ Depth·Width
  * merged counters (broadcast-sized both sides). Nothing in the
  * sketch path ever scans the raw table. */
object CmsRollup {

  val Depth = 4
  val Width = 1024L

  /** The (r, b) bucket pairs of one key column — an array to EXPLODE,
    * so the batch is scanned once for all Depth rows. */
  private def rbOf(key: Column): Column =
    array((0 until Depth).map { r =>
      struct(lit(r).as("r"),
        pmod(DetHash.hash60(key, s"cms$r"), lit(Width)).as("b"))
    }: _*)

  /** Per-batch daily counter grid: (day, r, b) → c. */
  private def counters(batch: DataFrame): DataFrame =
    batch.select(MinMaxManifest.utcDay(col("ts")).as("day"),
        explode(rbOf(col("user_id"))).as("rb"))
      .select(col("day"), col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("day", "r", "b")
      .agg(count(lit(1)).as("c"))

  private[graft] val rollup = new DailyRollup("cms_daily",
    "day TIMESTAMP, r INT, b BIGINT, c BIGINT")(counters)

  def cmsPath(dir: String): String = rollup.path(dir)

  /** Build the daily counter table once per corpus lifetime. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** Late-day / incremental maintenance: a batch's counters append;
    * the read-side SUM folds duplicate (day, r, b) keys. NOT
    * replay-idempotent (counts add) — exactly-once per batch is the
    * caller's contract, the [[HistogramRollup.appendBatch]]
    * discipline (use [[processStreamBatch]] if the source replays).
    * Vetoes the commit first, like every in-place append. */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit =
    rollup.append(s, dir, counters(batch))

  /** STREAMING maintenance — the exactly-once face of [[appendBatch]]
    * (the [[HistogramRollup.processStreamBatch]] discipline shared by
    * all three sum-merge rollups): each micro-batch's grid lands in
    * its OWN batch-id-scoped side batch, so a checkpoint-replayed
    * batch overwrites itself instead of double-counting.
    * [[mergedCountersMaintained]] folds only COMMITTED batches in. */
  def processStreamBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit =
    rollup.stream(s, dir, counters(batch), batchId)

  /** CDC DELETE maintenance — sum-merge is invertible, so a delete
    * batch retracts as NEGATIVE counters in its own tag-scoped side
    * batch (replaying a tag overwrites itself — idempotent;
    * sequential tags accumulate; the base table is never mutated).
    * Net counters stay ≥ 0 when deletes are a subset of prior
    * inserts — the CDC contract. */
  def applyDeletes(s: SparkSession, dir: String, deleted: DataFrame,
      batchTag: String = "batch0"): Unit =
    rollup.retract(s, dir, counters(deleted)
      .select(col("day"), col("r"), col("b"), (-col("c")).as("c")), batchTag)

  /** SUM-merge the daily grids over [lo, hi): the merged Depth×Width
    * counter grid (≤ Depth·Width rows however wide the window). */
  def mergedCounters(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    sumCounters(rollup.window(s, dir, lo, hi))

  private def sumCounters(rows: DataFrame): DataFrame =
    rows.groupBy(col("r"), col("b")).agg(sum(col("c")).as("c"))

  /** Merged counters with committed CDC retractions folded in (a torn
    * delta batch contributes nothing until its replay completes it —
    * [[DailyRollup.read]]). */
  def mergedCountersWithDeltas(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    foldBatches(s, dir, lo, hi, Seq(DailyRollup.Cdc))

  /** Merged counters with BOTH committed stream batches and CDC
    * retractions folded in — the fully-maintained read. */
  def mergedCountersMaintained(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    foldBatches(s, dir, lo, hi, Seq(DailyRollup.Stream, DailyRollup.Cdc))

  private def foldBatches(s: SparkSession, dir: String, lo: String,
      hi: String, sides: Seq[DailyRollup.Side]): DataFrame =
    sumCounters(rollup.window(s, dir, lo, hi, sides)).where(col("c") =!= 0)

  /** Point-frequency estimates for a probe frame (one `user_id`
    * column) against a merged grid: f̂ = min over the Depth rows of
    * the probed counter (0 when the bucket is empty — an absent key
    * estimates 0 exactly). Every side of the join is bounded: probes
    * by the caller, counters by Depth·Width. */
  def pointEstimates(merged: DataFrame, probes: DataFrame): DataFrame = {
    val pr = probes.select(col("user_id"), explode(rbOf(col("user_id"))).as("rb"))
      .select(col("user_id"), col("rb.r").as("r"), col("rb.b").as("b"))
    pr.join(merged, Seq("r", "b"), "left")
      .groupBy(col("user_id"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }
}
