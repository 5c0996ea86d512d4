package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle every `events`-keyed DAILY ROLLUP shares — the
  * store half of the mergeable-summary split (a summary family owns
  * its build, merge and serve algebra; publishing and reading the
  * artifact is the same for all of them). [[AggRollup]],
  * [[HistogramRollup]], [[TopKRollup]], [[SketchRollup]],
  * [[KmvRollup]], [[CmsRollup]] and [[DecayedFeatures]] each declare
  * only their leaf, the fixed schema of their partial rows, the
  * per-batch `partials` projection, and their merge/estimate algebra
  * over what [[read]]/[[window]] return.
  *
  *  - The artifact lives at `<root>/<fingerprint(events)>/<leaf>` and
  *    commits once through [[EnsureWatermark]]: [[stored]] is the
  *    committed data part, built when absent or torn; a VETOED
  *    (appended-to) commit is kept, not rebuilt — [[reEnsure]] is the
  *    repair, a fresh commit from the raw table.
  *  - [[append]] vetoes serving FIRST, then appends the batch's
  *    partials into the committed version: a crash mid-append fails
  *    closed (never [[current]] again until a fresh commit), while the
  *    maintained readers keep reading the intact, appended part.
  *  - [[stream]] lands one micro-batch's partials in its own
  *    `<leaf>_stream/batch=b<id>` dir, overwrite scoped to that dir, so
  *    a checkpoint-replayed batch overwrites itself instead of
  *    double-counting (Structured Streaming's foreachBatch batch-id
  *    discipline for non-idempotent sinks).
  *  - [[retract]] lands one delete batch's NEGATED partials in its own
  *    `<leaf>_cdc_deltas/batch=<tag>` dir: a replayed tag overwrites
  *    itself, sequential tags accumulate. Only invertible (sum-merge)
  *    algebras have this leg.
  *  - [[read]] is the committed part under the family's fixed schema
  *    (no footer-inference job) plus the COMMITTED batch dirs of the
  *    side legs asked for: a batch torn mid-write (no `_SUCCESS`) adds
  *    nothing until its replay completes it. The side legs never touch
  *    the base commit, and the routed path ([[current]]) never reads
  *    them. */
private[graft] final class DailyRollup(val leaf: String, val ddl: String)(
    partials: DataFrame => DataFrame) {
  import DailyRollup.Side

  def path(dir: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/$leaf"

  private def build(s: SparkSession, dir: String)(data: String): Unit =
    partials(graft.Tables(s, dir, "events")).coalesce(1).write.parquet(data)

  /** The committed data part, built once when absent or torn. */
  def stored(s: SparkSession, dir: String): String =
    EnsureWatermark.ensured(path(dir), dir, "events")(build(s, dir))

  def ensure(s: SparkSession, dir: String): Unit = { stored(s, dir); () }

  /** A fresh commit from the raw table: partials appended from outside
    * events.parquet are dropped by design (they are what made routing
    * inexact); the side legs are untouched. */
  def reEnsure(s: SparkSession, dir: String): Unit =
    EnsureWatermark.commitData(path(dir), dir, "events")(build(s, dir))

  /** The data part while it is exactly ensure()'s build — the routed
    * path's precondition. */
  def current(dir: String): Option[String] = {
    val p = path(dir)
    EnsureWatermark.current(p).map(_.part(p, "data"))
  }

  /** Append `rows` (partials of a batch outside events.parquet) into
    * the committed version, after vetoing it. */
  def append(s: SparkSession, dir: String, rows: DataFrame): Unit = {
    val p = path(dir)
    val st = EnsureWatermark.veto(p)
    require(st.isDefined, s"$leaf at $p must be built before appending")
    rows.coalesce(1).write.mode("append").parquet(st.get.part(p, "data"))
  }

  def sidePath(dir: String, side: Side): String = path(dir) + side.suffix

  private def writeSide(s: SparkSession, dir: String, side: Side, tag: String,
      rows: DataFrame): Unit = {
    ensure(s, dir)
    rows.coalesce(1).write.mode("overwrite")
      .parquet(s"${sidePath(dir, side)}/batch=$tag")
  }

  /** One micro-batch's partials, scoped to its batch id. */
  def stream(s: SparkSession, dir: String, rows: DataFrame,
      batchId: Long): Unit =
    writeSide(s, dir, DailyRollup.Stream, s"b$batchId", rows)

  /** One delete batch's negated partials, scoped to its tag. */
  def retract(s: SparkSession, dir: String, negated: DataFrame,
      batchTag: String): Unit =
    writeSide(s, dir, DailyRollup.Cdc, batchTag, negated)

  /** The committed batch dirs of one side leg. */
  def ready(dir: String, side: Side): Seq[String] = {
    val root = sidePath(dir, side)
    IndexStore.readyBatches(root).map(t => s"$root/$t")
  }

  def removeSide(dir: String, side: Side): Unit =
    IndexStore.removeArtifact(sidePath(dir, side))

  /** The committed part plus the committed batches of `sides`. */
  def read(s: SparkSession, dir: String, sides: Seq[Side] = Nil): DataFrame = {
    val base = IndexStore.readAs(s, ddl, stored(s, dir))
    val extra = sides.flatMap(ready(dir, _))
    if (extra.isEmpty) base else base.union(IndexStore.readAs(s, ddl, extra: _*))
  }

  /** [[read]] cut to the UTC days in [lo, hi). */
  def window(s: SparkSession, dir: String, lo: String, hi: String,
      sides: Seq[Side] = Nil): DataFrame =
    read(s, dir, sides).where(col("day") >= lit(MinMaxManifest.utc(lo)) &&
      col("day") < lit(MinMaxManifest.utc(hi)))
}

private[graft] object DailyRollup {

  /** A side leg of batch-scoped dirs beside the base commit. */
  final class Side private[DailyRollup] (val suffix: String)
  val Stream = new Side("_stream")
  val Cdc = new Side("_cdc_deltas")
}
