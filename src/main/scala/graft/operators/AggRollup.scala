package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SUMMABLE-MEASURE daily rollup — the generalization of the routing
  * store beyond counts (the r9 verdict's top ask): the reference's
  * own Druid ingestion spec serves a count plus seven `doubleSum`
  * metrics per dimension set
  * (`/root/reference/druid/kafkaIngestionTaxiTrips.json:42-82`), so a
  * rollup layer that can transparently serve ONLY `count(*)` covers a
  * fraction of the dashboard surface. This table persists one row per
  * (UTC day, event_type) with two distributive partials —
  * `cnt = count(*)` and `v_fp = Σ floor(value)` (a BIGINT) — and the
  * optimizer rewrite ([[graft.plans.RollupRoutingRule]]) substitutes
  * it for any plain `count(*)` / `sum(floor(value))` aggregate over a
  * day-aligned window: kilobytes of rollup IO for any corpus size.
  *
  * Why `Σ floor(value)` and not `Σ value`: a float sum is
  * order-dependent (doubles don't associate), so a rollup-served
  * float sum could differ from the raw plan's in the last ulp — the
  * rewrite would no longer be provably EXACT, which is the routing
  * contract (the q36/q44 integer-fixpoint discipline; the raw
  * double-sum shape deliberately stays unrouted, pinned by
  * RollupRoutingSpec). Integer partials add exactly in any order in
  * both engines, so the q47 oracle replays the raw aggregate and the
  * hash gate IS the exactness proof.
  *
  * Lifecycle = the shared [[DailyRollup]]: [[ensure]] commits once;
  * [[appendBatch]] (out-of-band data) vetoes the commit FIRST so
  * routing fails closed; [[reEnsure]] is the repair path, a fresh
  * commit from the raw table.
  * Partials merge by SUM (late days add; replays are NOT idempotent —
  * the appendBatch caller owns batch-id discipline). */
object AggRollup {

  /** The per-batch (day, event_type) → (cnt, v_fp) projection shared
    * by the build and the append leg. `v_fp` is NULL for a cell whose
    * values are all NULL (sum semantics, matching the raw plan —
    * coalescing to 0 here would break exactness on all-NULL days). */
  private def partials(batch: DataFrame): DataFrame =
    batch.select(MinMaxManifest.utcDay(col("ts")).as("day"),
        col("event_type"), floor(col("value")).as("v"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("v_fp"))

  private[graft] val rollup = new DailyRollup("agg_daily",
    "day TIMESTAMP, event_type STRING, cnt BIGINT, v_fp BIGINT")(partials)

  def aggPath(dir: String): String = rollup.path(dir)

  /** Build the daily (cnt, v_fp) table once; an appended-to (vetoed)
    * table is kept — the repair path is [[reEnsure]]. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** ROUTING REPAIR — a fresh commit from the raw table; out-of-band
    * appended partials are dropped by design (they are what made
    * routing inexact). */
  def reEnsure(s: SparkSession, dir: String): Unit = rollup.reEnsure(s, dir)

  /** Incremental maintenance: a batch's partials append; the
    * read-side SUM folds duplicate (day, event_type) keys. Vetoes
    * routing FIRST (fail-closed — the appended batch is not in
    * events.parquet, so the rollup stops being the raw aggregate). */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit =
    rollup.append(s, dir, partials(batch))

  /** Direct read face (the routed rewrite builds the same shape):
    * per-event_type (n, v_fp) over [lo, hi) from the rollup only. */
  def merged(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    rollup.window(s, dir, lo, hi)
      .groupBy(col("event_type"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
        sum(col("v_fp")).as("v_fp"))
}
