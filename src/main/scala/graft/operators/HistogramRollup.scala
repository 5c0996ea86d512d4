package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable HISTOGRAM rollup — [[SketchRollup]]'s quantile sibling:
  * percentiles, like COUNT(DISTINCT), do not decompose across rollup
  * cells (you cannot combine two days' p95s), but fixed-bin INTEGER
  * histograms do — counts add. Persist one tiny per-(day, group)
  * histogram, answer any day-range percentile question by SUM-merging
  * bins and walking the merged cumulative counts — kilobytes of bin
  * IO instead of a corpus sort (the classic monitoring-store design:
  * Prometheus histogram_quantile, Druid fixed-bucket histograms —
  * both public patterns).
  *
  * Everything before the final interpolation is INTEGER-exact and
  * order-independent (bin = clamp(floor(value/W)), counts, sums,
  * cumulative sums, target rank k = ⌈p·n⌉ computed as
  * (p_num·n + p_den − 1) DIV p_den — never a float p·n whose ceil
  * could straddle an ulp); the interpolation itself is one double
  * multiply-divide on integers, identical in both engines, so the
  * DuckDB oracle replays the FULL estimate. Estimate error is
  * bounded by the bin width by construction ON THE BOUNDED DOMAIN
  * [0, NumBins·BinWidth) — spec-pinned against the exact sorted
  * percentile; a percentile landing in the overflow bin is reported
  * as that bin's lower edge (a "≥ edge" answer, the honest best a
  * fixed-bucket histogram can give out of range).
  *
  * The merge is also the late-data story: a straggler day's bins ADD
  * in (sum, not max, so replays are NOT idempotent — exactly-once
  * per batch is the caller's contract here, the same foreachBatch
  * batch-id discipline the manifest append uses; HLL's max tolerance
  * is the price difference between the two sketches). */
object HistogramRollup {

  val BinWidth = 5.0
  val NumBins = 100 // [0, 500) in 5.0-wide bins + one overflow bin

  /** Clamped both ways: negatives land in bin 0, values ≥
    * NumBins·BinWidth in the overflow bin (review catch — an
    * unclamped negative bin would violate the table invariant). */
  private def binOf(v: org.apache.spark.sql.Column) =
    greatest(lit(0L),
      least(floor(v / BinWidth).cast("long"), lit(NumBins.toLong)))

  /** The per-batch (day, event_type, bin) → cnt projection shared by
    * the build, the append legs, the CDC retractions, and the
    * streaming sink. */
  private def binCounts(batch: DataFrame): DataFrame =
    batch.select(MinMaxManifest.utcDay(col("ts")).as("day"),
        col("event_type"), binOf(col("value")).as("bin"))
      .groupBy("day", "event_type", "bin")
      .agg(count(lit(1)).as("cnt"))

  private[graft] val rollup = new DailyRollup("hist_daily",
    "day TIMESTAMP, event_type STRING, bin BIGINT, cnt BIGINT")(binCounts)

  def histPath(dir: String): String = rollup.path(dir)

  /** Build the per-(day, event_type, bin) count table once. Keeps a
    * VETOED table — one [[appendBatch]] maintained (or crashed
    * mid-append): a rebuild would drop the appended bins, re-blessing
    * it would turn fail-closed into fail-open. The repair path is
    * [[reEnsure]]. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** ROUTING REPAIR — a fresh commit of the rollup from the raw table,
    * so q42's optimizer rewrite serves again after the states that
    * veto it: an [[appendBatch]] of out-of-band data, a crash between
    * the append's veto and its write, or a rollup of an older layout.
    * Any partials appended from outside events.parquet are dropped by
    * design (they are what made routing inexact; re-append them after
    * if the serving surface still wants them, accepting de-routing
    * again). Stream-delta and CDC-delta side tables are untouched:
    * they are read only by the maintained readers, never by the
    * routed path. */
  def reEnsure(s: SparkSession, dir: String): Unit = rollup.reEnsure(s, dir)

  /** INCREMENTAL maintenance: a micro-batch appends its own bin
    * counts; the read-side SUM folds duplicates of any (day, group,
    * bin) key, so late days and intra-day micro-batches both just
    * add. NOT replay-idempotent (counts add — see the object
    * scaladoc's exactly-once contract; the spec pins the
    * double-count on purpose so the contract is visible). Vetoes plan
    * routing FIRST: once any batch outside events.parquet lands, the
    * rollup is no longer the raw aggregate. Streaming callers should
    * use [[processStreamBatch]] instead, which makes replays
    * idempotent by batch-id scoping. */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit =
    rollup.append(s, dir, binCounts(batch))

  /** STREAMING maintenance — the exactly-once face of [[appendBatch]]
    * the object scaladoc's foreachBatch contract promises, now
    * asserted (StreamingSpec): each micro-batch's bin counts land in
    * their OWN batch-id-scoped side batch ([[DailyRollup.stream]]) —
    * a checkpoint-replayed batch (restart between the sink write and
    * the commit) OVERWRITES itself instead of double-counting.
    * [[SketchRollup.appendBatch]] needs no such scoping (max-merge is
    * idempotent); the two ride the same sink. */
  def processStreamBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit =
    rollup.stream(s, dir, binCounts(batch), batchId)

  /** Merged bins with the streamed batches folded in — committed side
    * batches only ([[DailyRollup.read]]), so a batch torn mid-write
    * contributes nothing until its replay overwrites it. */
  def mergedBinsWithStream(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    sumBins(rollup.window(s, dir, lo, hi, Seq(DailyRollup.Stream)))

  /** SUM-merge the daily histograms over [lo, hi). */
  def mergedBins(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    sumBins(rollup.window(s, dir, lo, hi))

  private def sumBins(rows: DataFrame): DataFrame =
    rows.groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))

  /** CDC DELETE maintenance — the property that separates the two
    * sketch algebras: SUM-merge is INVERTIBLE, so a delete batch
    * maintains the rollup as NEGATIVE bin counts (the D21 retract
    * discipline at bin grain, O(deleted) work, never a rebuild),
    * while [[SketchRollup]]'s max-merge provably cannot delete (a
    * register's max carries no memory of who set it — its delete
    * story is rebuild-under-fingerprint, D22's retrain path). Each
    * delete BATCH retracts into its own tag-scoped side batch
    * ([[DailyRollup.retract]]), so replaying a batch is idempotent
    * while SEQUENTIAL batches accumulate (a review catch: a
    * table-wide overwrite silently discarded every earlier batch's
    * retractions); the base rollup (q36's surface) is never mutated.
    * [[mergedBinsWithDeltas]] folds every batch in for maintained
    * readers. */
  def applyDeletes(s: SparkSession, dir: String, deleted: DataFrame,
      batchTag: String = "batch0"): Unit =
    rollup.retract(s, dir, binCounts(deleted)
      .select(col("day"), col("event_type"), col("bin"), (-col("cnt")).as("cnt")),
      batchTag)

  /** Merged bins with the committed CDC retractions folded in — a
    * delta batch torn mid-commit contributes nothing until its replay
    * completes it, never a partial retraction (net counts ≥ 0 when
    * deletes are a subset of prior inserts — the CDC contract). */
  def mergedBinsWithDeltas(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    sumBins(rollup.window(s, dir, lo, hi, Seq(DailyRollup.Cdc)))
      .where(col("cnt") > 0)

  /** DISTRIBUTION-DRIFT MONITOR — the second question the daily
    * histogram answers scan-free (percentiles are q36's): did the
    * value distribution SHIFT between two day windows? The standard
    * monitoring statistic here is total variation distance,
    * TVD = ½ Σ_bins |ca/na − cb/nb| (PSI's bounded, bin-zero-safe
    * sibling — PSI's log term blows up on empty bins; TVD is exact
    * integer arithmetic), and it is computable ENTIRELY from the
    * rollup because both windows' bin counts sum-merge from the
    * per-day bins: one kilobyte-sized read however big the corpus.
    *
    * INTEGER-EXACT END-TO-END (the q36 discipline): cross-multiplied
    * numerator tvd_num = Σ |ca·nb − cb·na| (so TVD = tvd_num /
    * (2·na·nb), never a per-bin float ratio), reported with
    * tvd_ppm = (500000·tvd_num) DIV (na·nb) — floor semantics in
    * both engines, no rounding tie to break, so the DuckDB oracle
    * replays the FULL statistic from raw rows. Invariants the spec
    * pins: identical windows → 0; disjoint-support windows →
    * exactly 1000000 (tvd_num = 2·na·nb).
    *
    * Headroom: BIGINT-exact while na·nb ≤ (2⁶³−1)/10⁶ ≈ 9.2e12 —
    * window masses to ~3M rows per group side, comfortably past the
    * gate SFs and their 100× replicas. Past the bound the failure is
    * LOUD, not silent: ANSI mode (Spark 4's default, which this
    * library never disables) throws on the overflowing multiply
    * instead of wrapping, so a caller at that scale sees an error
    * naming the expression — the widening they then apply is
    * DECIMAL(38,0) cross-products (na,nb to ~1e16), a reader-side
    * change only since the rollup table itself is scale-free. An
    * EMPTY window
    * (na·nb = 0) yields an explicit NULL ppm (guarded — ANSI DIV
    * would throw); [[driftAlerts]] treats that one-sidedness as
    * maximal drift. */
  def drift(s: SparkSession, dir: String, aLo: String, aHi: String,
      bLo: String, bHi: String): DataFrame = {
    def win(lo: String, hi: String) =
      col("day") >= lit(MinMaxManifest.utc(lo)) &&
        col("day") < lit(MinMaxManifest.utc(hi))
    val inA = win(aLo, aHi)
    val inB = win(bLo, bHi)
    // ONE rollup read: per-(group, bin) window masses via conditional
    // sums (a day in both windows — callers may overlap — counts in
    // both), bins outside both windows pruned at the scan
    val bins = rollup.read(s, dir)
      .where(inA || inB)
      .groupBy("event_type", "bin")
      .agg(sum(when(inA, col("cnt")).otherwise(0L)).as("ca"),
        sum(when(inB, col("cnt")).otherwise(0L)).as("cb"))
    tvdOf(bins)
  }

  /** The TVD statistic over two independently-produced bin frames —
    * (event_type, bin, cnt) each — for callers whose windows come
    * from DIFFERENT tables (the streaming alert path: reference from
    * the base rollup, current from the stream-maintained deltas).
    * [[drift]] is the one-read special case of the same kernel. */
  def tvd(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("event_type"), col("bin"), col("cnt").as("ca"))
    val r = b.select(col("event_type"), col("bin"), col("cnt").as("cb"))
    tvdOf(l.join(r, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb")))
  }

  private def tvdOf(bins: DataFrame): DataFrame = {
    val totals = bins.groupBy("event_type")
      .agg(sum("ca").as("na"), sum("cb").as("nb"))
    // group-cardinality totals broadcast back over the ≤(NumBins+1)-
    // per-group bin frame; the whole job is rollup-row-sized
    bins.join(broadcast(totals), Seq("event_type"))
      .groupBy("event_type")
      .agg(max("na").as("na"), max("nb").as("nb"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na")))
          .as("tvd_num"))
      // the empty-window guard is EXPLICIT (ANSI mode makes DIV-by-
      // zero throw, not NULL): a one-sided group reads NULL ppm here
      // and the alert path treats it as maximal drift
      .withColumn("tvd_ppm", expr(
        "CASE WHEN na * nb = 0L THEN NULL" +
          " ELSE (500000L * tvd_num) DIV (na * nb) END"))
  }

  /** STREAMING drift alerts — D65's live face: compare the stream-
    * maintained current window (base rollup + committed `batch=`
    * stream deltas, the [[mergedBinsWithStream]] read) against a
    * frozen reference window from the base rollup, and emit one
    * alert row per group whose TVD crosses `thresholdPpm`. Runs
    * after [[processStreamBatch]] in the same foreachBatch, so the
    * alert surface inherits the batch-id exactly-once discipline: a
    * checkpoint-replayed micro-batch overwrites its own bins and the
    * alert answer is unchanged (spec-pinned). A group present on
    * only ONE side (a type that vanished from — or newly appeared
    * in — the live stream) has an undefined ratio (na·nb = 0) and is
    * ALERTED by convention: appearance/disappearance is maximal
    * drift, not a division to silently NULL away. */
  def driftAlerts(s: SparkSession, dir: String, refLo: String,
      refHi: String, curLo: String, curHi: String,
      thresholdPpm: Long): DataFrame = {
    val cur = mergedBinsWithStream(s, dir, curLo, curHi)
    tvd(mergedBins(s, dir, refLo, refHi), cur)
      .where(col("tvd_ppm") >= thresholdPpm ||
        ((col("na") > 0L) =!= (col("nb") > 0L)))
  }

  /** Per-bin width scaled to 1e4: 5.0 → 50000. The whole percentile
    * estimate is emitted at this scale as a BIGINT so NO float op
    * (and no engine-dependent rounding tie-break) ever touches the
    * hash-compared value. */
  val BinWidthE4 = 50000L

  /** Percentile estimates from merged bins: for each p (as an exact
    * rational pNum/100), target rank k = ⌈p·n⌉, pick the first bin
    * whose cumulative count reaches k, interpolate linearly inside
    * it. The per-group frame is ≤ NumBins+1 rows, so the window walk
    * is metadata-sized however big the corpus.
    *
    * INTEGER-EXACT END-TO-END: the estimate is a 1e4-scaled BIGINT
    * `pXX_e4 = 50000·bin + (50000·(k − cum + cnt)) DIV cnt` with
    * floor semantics in BOTH engines (Spark `DIV` ≡ DuckDB `//` on
    * BIGINTs). A `round(interp, 4)` double lands on exactly
    * representable 4-decimal ties (34.21875-shaped, common when cnt
    * has a 2^k divisor) where Spark's BigDecimal HALF_UP and a
    * DuckDB version's tie-break disagree — it turned the percentile
    * rows red against the DuckDB oracle. Integer floor division has
    * no tie to break.
    * Callers wanting the pretty double divide by 1e4 OUTSIDE the
    * hash gate. */
  def percentiles(merged: DataFrame, pNums: Seq[Int]): DataFrame = {
    val grp = Window.partitionBy("event_type")
    val w = Window.partitionBy("event_type").orderBy("bin")
    val withCum = merged
      .withColumn("n", sum("cnt").over(grp))
      .withColumn("cum", sum("cnt").over(w))
    val ests = pNums.map { p =>
      // integer ⌈p·n/100⌉ via BIGINT DIV — exact at any n, no float
      val kSql = s"(${p}L * n + 99L) DIV 100L"
      // the overflow bin has no upper edge, so linear interpolation
      // inside it is meaningless — report its lower edge and let the
      // caller read "≥ edge" (review catch: the bin-width error bound
      // holds only on the bounded domain [0, NumBins·W), which the
      // spec asserts on in-domain fixtures)
      val e4 = expr(
        s"""CASE WHEN bin = ${NumBins}L THEN ${NumBins * BinWidthE4}L
           |ELSE ${BinWidthE4}L * bin
           |  + ($BinWidthE4 * ($kSql - (cum - cnt))) DIV cnt END""".stripMargin)
      // argmin-by-bin of qualifying rows: struct min orders by the
      // leading bin field; non-qualifying rows are null and ignored
      min(when(col("cum") >= expr(kSql), struct(col("bin"), e4.as("e"))))
        .getField("e").as(s"p${p}_e4")
    }
    val nCol = max(col("n")).as("n")
    withCum.groupBy("event_type")
      .agg(ests.head, (ests.tail :+ nCol): _*)
  }
}
