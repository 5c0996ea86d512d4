package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXPONENTIALLY-DECAYED FEATURE ROLLUP — the feature-store staple
  * ("engagement in the last N days, recent days weighted higher")
  * built on the same mergeable-rollup algebra as [[HistogramRollup]]:
  * persist per-(day, entity-cohort, event_type) PARTIAL SUMS once,
  * and answer any (as-of date, half-life) question by folding decay
  * weights over the daily rows — kilobytes of rollup IO instead of an
  * event scan, with the reference date and horizon free at QUERY time
  * because the stored partials are undecayed (the decay is applied at
  * read, not at write — storing decayed values would pin one as-of
  * date into the artifact).
  *
  * INTEGER-EXACT END-TO-END (the q36 discipline): the daily partial
  * is Σ floor(value) per cell — a BIGINT; a read with horizon H
  * weights day d (age a = asOf − d, 0 ≤ a ≤ H) by 2^(H−a), so the
  * score is Σ daily_fp · 2^(H−a) — pure integer products and sums,
  * order-free, identical in Spark and DuckDB (2^k for k ≤ 50 is exact
  * in the double `pow` both engines evaluate before the BIGINT cast).
  * The reported score is therefore the 2^H-scaled decayed sum with
  * half-life = one day. Overflow headroom: with H = 20 the per-day
  * term is ≤ rows/day·10³·2²⁰ ≈ 2·10¹³ at sf0.1 — five decimal
  * decades of BIGINT headroom; a deployment near the edge widens the
  * fold to DECIMAL(38,0), not the artifact.
  *
  * Algebra: partials merge by SUM (a late day's rows just add — the
  * [[HistogramRollup.appendBatch]] contract), and deletes retract as
  * negative partials (the D42 invertibility), so one daily table
  * serves every horizon, every as-of date, and incremental
  * maintenance without rescans. */
object DecayedFeatures {

  /** Entity cohorts: features are per-entity in a real store; the
    * registered surface folds users into 16 cohorts so the released
    * frame is group-sized at every SF. */
  val Cohorts = 16L

  /** The per-batch (day, event_type, cohort) → (n, v_fp) projection
    * shared by the build, the append leg, and CDC retractions. */
  private def partials(batch: DataFrame): DataFrame =
    batch.select(
        MinMaxManifest.utcDay(col("ts")).as("day"),
        col("event_type"),
        (col("user_id") % Cohorts).as("cohort"),
        floor(col("value")).cast("long").as("v"))
      .groupBy("day", "event_type", "cohort")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_fp"))

  private[graft] val rollup = new DailyRollup("feat_daily",
    "day TIMESTAMP, event_type STRING, cohort BIGINT, n BIGINT, v_fp BIGINT")(
    partials)

  def dailyPath(dir: String): String = rollup.path(dir)

  /** Build the daily partial-sum table once per corpus lifetime. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** Late-data / incremental maintenance: a batch's partials append;
    * the read-side SUM folds duplicate (day, type, cohort) keys.
    * Sum-merge is NOT replay-idempotent (counts add) — blind appends
    * are for single-shot backfills; streaming callers use
    * [[processStreamBatch]], whose batch-id-scoped overwrite makes
    * checkpoint replays idempotent (the exact
    * [[HistogramRollup.processStreamBatch]] discipline). Vetoes the
    * commit first, like every in-place append. */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit =
    rollup.append(s, dir, partials(batch))

  /** STREAMING maintenance — the exactly-once face of [[appendBatch]]:
    * each micro-batch's partials land in their OWN batch-id-scoped
    * side batch, so a checkpoint-replayed batch overwrites itself
    * instead of double-counting. [[featuresMaintained]] folds only
    * COMMITTED batches in. */
  def processStreamBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit =
    rollup.stream(s, dir, partials(batch), batchId)

  /** CDC DELETE maintenance — the invertibility of the sum-merge
    * algebra (the D42 discipline at partial grain): a delete batch
    * retracts as NEGATIVE partials in its own tag-scoped side batch
    * (replaying a tag overwrites itself — idempotent; sequential tags
    * accumulate). The base table is never mutated;
    * [[featuresMaintained]] folds committed retractions in, and the
    * net per-cell mass stays ≥ 0 when deletes are a subset of prior
    * inserts (the CDC contract). */
  def applyDeletes(s: SparkSession, dir: String, deleted: DataFrame,
      batchTag: String = "batch0"): Unit =
    rollup.retract(s, dir, partials(deleted)
      .select(col("day"), col("event_type"), col("cohort"),
        (-col("n")).as("n"), (-col("v_fp")).as("v_fp")), batchTag)

  /** Horizon guard: the integer-exactness proof needs 2^(h−age) exact
    * in the double `pow` BOTH engines evaluate before the BIGINT cast
    * (k ≤ 50 ⇒ exact), and the BIGINT fold needs headroom below
    * 2^63 — an unguarded large horizon would silently overflow the
    * fold instead of failing loudly (the r9 advice). */
  private def requireHorizon(h: Int): Unit =
    require(h >= 0 && h <= 50,
      s"horizon must be in [0, 50] days (got $h): 2^(h-age) is exact " +
        "in double and the BIGINT fold has headroom only up to 2^50")

  /** The decay fold over a daily-partials frame: per (event_type,
    * cohort), the 2^H-scaled exponentially-decayed value sum and the
    * undecayed recent event count, as of `asOf` (UTC day) over ages
    * 0..h (older days weigh zero and are pruned BEFORE the fold). */
  private def fold(daily: DataFrame, asOf: String, h: Int): DataFrame = {
    // zone-FREE age in days: epoch arithmetic on the UTC-midnight day
    // keys (the utcDay discipline — a to_date()/datediff() fold would
    // follow the session zone and mis-age every day under non-UTC)
    val asOfSec = MinMaxManifest.utc(asOf).toInstant.getEpochSecond
    val age = ((lit(asOfSec) - unix_timestamp(col("day"))) / lit(86400L))
      .cast("long")
    daily.where(age >= 0 && age <= h)
      .groupBy(col("event_type"), col("cohort"))
      .agg(
        sum(col("n")).as("n_recent"),
        sum(col("v_fp") *
          pow(lit(2.0), (lit(h) - age).cast("double")).cast("long"))
          .as("score_e"))
  }

  /** The decayed feature read over the base daily rollup only —
    * touches ONLY the daily table, plan-pinned scan-free. */
  def features(s: SparkSession, dir: String, asOf: String, h: Int): DataFrame = {
    requireHorizon(h)
    fold(rollup.read(s, dir), asOf, h)
  }

  /** The maintained read: base partials plus every COMMITTED stream
    * batch and CDC retraction folded in ([[DailyRollup.read]] — a
    * batch torn mid-write contributes nothing until its replay
    * overwrites it). */
  def featuresMaintained(s: SparkSession, dir: String, asOf: String,
      h: Int): DataFrame = {
    requireHorizon(h)
    fold(rollup.read(s, dir, Seq(DailyRollup.Stream, DailyRollup.Cdc)), asOf, h)
  }
}
