package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TOP-K (heavy-hitter) rollup — the FIFTH mergeable summary algebra
  * in the library, answering the one dashboard question the others
  * cannot: WHO are the heaviest contributors over an arbitrary day
  * range, with a sound error bar. [[SketchRollup]] counts distinct,
  * [[HistogramRollup]] bins values, [[KmvRollup]] intersects
  * identity sets, [[CmsRollup]] point-estimates one key's frequency
  * — none can RANK keys without a full scan. The public design is
  * the truncated per-segment top list every analytics store ships
  * (Druid topN's per-segment tops; the Misra-Gries/SpaceSaving bound
  * argument): per (day, event_type) cell keep the top-[[B]] users by
  * event count (ties broken by user id — fully deterministic) plus
  * the cell's TAIL CEILING (the count of the first EXCLUDED user),
  * and any range query merges additively:
  *
  *   - lower bound lb(u) = Σ kept counts — true events of u
  *     contributed by days that kept u, so lb ≤ true;
  *   - upper bound ub(u) = lb(u) + Σ tail over the range's cells
  *     where u was NOT kept — a day that dropped u saw at most its
  *     tail ceiling from u (counts are sorted: excluded ⟹ count ≤
  *     first-excluded), so true ≤ ub. A cell that kept EVERYONE has
  *     tail 0 and the bound is exact.
  *
  * The sandwich lb ≤ true ≤ ub is spec-pinned against exact
  * recomputation, ranking is by (lb DESC, user) — a total order —
  * and everything is integer counts, so the DuckDB oracle replays
  * build and merge CTE-for-CTE.
  *
  * Scale shape: ≤ B+1 rows per (day, event_type, segment) cell —
  * kilobytes per cell at any corpus size; the build's per-cell rank
  * runs under WindowGroupLimit (heap-bounded per partition,
  * spec-pinned); range reads touch ONLY the summary table
  * (plan-pinned scan-free). [[appendBatch]] adds the batch's own
  * summary as a NEW SEGMENT of its days: truncated tops are not
  * losslessly re-mergeable within a day (the counts were split), but
  * segment bounds ADD — lb sums kept counts across segments, the
  * tail ceiling sums across segments — so bounds stay sound under
  * any append pattern and merely widen (spec-pinned); [[reEnsure]]
  * re-tightens them: it collapses every segment (appended and
  * streamed) back to a single segment-0 summary of the CURRENT raw
  * table, bit-identical to a fresh single build (spec-pinned), and
  * doubles as the CDC-delete repair path — a dropped user's kept
  * counts are unknown inside a truncated top, so deletes repair by
  * rebuild, never by patch.
  *
  * ROUTING: [[ensure]]/[[reEnsure]] commit through the shared
  * [[DailyRollup]]; [[appendBatch]] vetoes the commit FIRST
  * (fail-closed, the discipline every routed rollup observes), and
  * [[routable]] additionally requires ZERO committed stream
  * segments — both legs carry data that is NOT in the raw table, so
  * the optimizer rewrite ([[graft.plans.RollupRoutingRule]]) may
  * substitute this summary for a raw top-k aggregate only while the
  * summary is exactly ensure()'s build. [[exactTopK]] is that
  * route's serving face: the answer, or None when the bounds cannot
  * PROVE it. */
object TopKRollup {

  /** Kept users per cell. 64 keeps a cell ≤ 65 rows while bounding
    * the absent-user ceiling at the 65th count. */
  val B = 64

  /** Per-batch summary rows (day, seg, event_type, user_id, c, tail):
    * top-B users per cell by (count DESC, user) with the first
    * excluded count as the cell's shared tail ceiling. */
  private[graft] def summarize(batch: DataFrame, seg: Long): DataFrame = {
    val counts = batch.select(
        MinMaxManifest.utcDay(col("ts")).as("day"),
        col("event_type"), col("user_id"))
      .groupBy(col("day"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("day"), col("event_type"))
      .orderBy(col("c").desc, col("user_id"))
    // rn <= B+1 keeps the rank under WindowGroupLimit; row B+1 only
    // donates the cell's tail ceiling and is not a kept user
    val ranked = counts.withColumn("rn", row_number().over(w))
      .where(col("rn") <= B + 1)
    val tails = ranked.where(col("rn") === B + 1)
      .select(col("day").as("td"), col("event_type").as("tt"),
        col("c").as("tail"))
    ranked.where(col("rn") <= B)
      .join(tails, col("day") === col("td") && col("event_type") === col("tt"),
        "left")
      .select(col("day"), lit(seg).as("seg"), col("event_type"),
        col("user_id"), col("c"), coalesce(col("tail"), lit(0L)).as("tail"))
  }

  /** One batch's summary as segment `seg`, single-filed.
    * `repartition(1)`, NOT the shared writer's `coalesce(1)` alone:
    * coalesce collapses the whole final stage — including the corpus-
    * cardinality row_number window — into one task; the shuffle
    * boundary keeps the window stage parallel and single-files only
    * the ≤(B+1)-rows-per-cell summary. */
  private def segment(batch: DataFrame, seg: Long): DataFrame =
    summarize(batch, seg).repartition(1)

  /** The summary of the CURRENT raw table is the single segment 0. The
    * summary's fixed schema is passed to every serve-path read, so the
    * reader never pays a footer-inference job (the r17 rule: artifact
    * schemas are code facts, not file facts). */
  private[graft] val rollup = new DailyRollup("topk_daily",
    "day TIMESTAMP, seg BIGINT, event_type STRING, user_id BIGINT, " +
      "c BIGINT, tail BIGINT")(segment(_, 0L))

  def topkPath(dir: String): String = rollup.path(dir)

  /** Built once per corpus lifetime; an appended-to (vetoed) summary
    * is kept. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** ROUTING REPAIR + BOUND RE-TIGHTENING — a fresh commit of the
    * summary as a single segment-0 build of the CURRENT raw table.
    * Appended and streamed segments are DELETED, not merged: their
    * per-day tops were truncated independently, so a rebuild from the
    * raw table (which by now holds their rows, or holds the
    * post-delete truth) is strictly tighter — bit-identical to a
    * fresh single build (spec-pinned). This is the delete-repair path
    * the class scaladoc promises: truncated tops are not
    * subtractable, so CDC deletes repair by reEnsure. */
  def reEnsure(s: SparkSession, dir: String): Unit = {
    rollup.removeSide(dir, DailyRollup.Stream)
    rollup.reEnsure(s, dir)
  }

  /** The summary's data part when it is exactly a build of the raw
    * table — the optimizer rewrite's precondition: current (never
    * appended to) AND no committed stream segments (either would make
    * the summary a superset of the raw aggregate). */
  private[graft] def routable(dir: String): Option[String] =
    rollup.current(dir).filter(_ => rollup.ready(dir, DailyRollup.Stream).isEmpty)

  /** Append a batch as a NEW SEGMENT (caller supplies a unique
    * POSITIVE batchId — negative segment ids belong to the streaming
    * leg by construction, so a colliding (day, seg, type, tail) cell
    * can never dedupe a tail ceiling across legs): O(batch) work,
    * summary never rewritten, bounds stay sound and widen by at most
    * the batch's own tails (see scaladoc). Vetoes routing FIRST — a
    * crash mid-append leaves routing OFF, never serving a torn
    * superset. */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit = {
    require(batchId > 0L,
      "appendBatch segment ids are positive (0 = ensure build, " +
        "negative = streaming leg)")
    rollup.append(s, dir, segment(batch, batchId))
  }

  /** Batch-id-scoped streaming leg — the exactly-once discipline the
    * sum-merge rollups established ([[HistogramRollup
    * .processStreamBatch]]): each micro-batch's summary lands as its
    * own side batch (a replayed batch OVERWRITES itself, never
    * double-counts) and serves as one more additive SEGMENT — the
    * bound algebra needs nothing else. NEGATIVE segment ids: disjoint
    * from appendBatch's positive ones by construction, so a (day,
    * seg, type, tail) cell can never collide across the two legs and
    * silently dedupe a tail ceiling. Deletes are NOT subtractable
    * from a truncated top (a dropped user's kept counts are unknown),
    * so the CDC-delete repair path is a rebuild, not a patch. */
  def processStreamBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit =
    rollup.stream(s, dir, segment(batch, -(batchId + 1L)), batchId)

  /** PROVABLY-EXACT global top-k over [lo, hi) (micros, UTC-midnight
    * aligned), or None — the serving face of the optimizer rewrite
    * that routes `SELECT user_id, count(*) FROM events WHERE <day
    * range> GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT k` (the reference's
    * own "top companies by volume" ask) to this summary. Returns
    * `(user_id, count)` rows, ranked (count DESC, user_id), when the
    * Misra-Gries-style bound argument PROVES them equal to the raw
    * aggregate's:
    *
    *   - every served row is exact: lb(u) == ub(u), i.e. u was kept
    *     by EVERY cell in range (true for genuinely heavy users);
    *   - nothing outranks the cut: the k-th served count strictly
    *     exceeds every other candidate's ub AND the range's total
    *     tail ceiling (an unseen user's ub) — ties at the boundary
    *     veto, because the user-id tiebreak could then differ;
    *   - when ALL cells kept everyone (total tail 0) every user is a
    *     candidate with an exact count, so any k serves — the
    *     degenerate-exact case the class scaladoc names.
    *
    * Anything unprovable → None, and the caller's raw plan stands
    * (fail-closed, like every route in [[graft.plans
    * .RollupRoutingRule]]). Cost: one aggregate over the KILOBYTE
    * summary — never the corpus. */
  def exactTopK(s: SparkSession, dir: String, loMicros: Long,
      hiMicros: Long, k: Int): Option[Seq[(Long, Long)]] = {
    val data = routable(dir).getOrElse(return None)
    if (k <= 0) return Some(Seq.empty)
    val lo = java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plusMillis(loMicros / 1000L))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plusMillis(hiMicros / 1000L))
    // ONE job: the ranged summary is kilobytes (≤ B+1 rows per cell),
    // so collect it whole and run the bound algebra driver-side — the
    // previous three-job ladder (schema-inference read + tails head +
    // perUser collect) fired TWICE per query execution (once when the
    // routing rule optimizes the pin, once when the action re-plans),
    // and the rule runs during OPTIMIZATION, where job latency is
    // serial with everything else (guide §5: the driver should do
    // almost no work — and few jobs)
    val rows = IndexStore.readAs(s, rollup.ddl, data)
      .where(col("day") >= lit(lo) && col("day") < lit(hi))
      .collect()
    // global (cross-type) bounds: one tail ceiling per cell; a user
    // absent from a cell could have contributed up to that cell's tail
    val totalTail = rows.iterator
      .map(r => ((r.getTimestamp(0), r.getLong(1), r.getString(2)), r.getLong(5)))
      .toMap.values.sum
    val perUser = rows.groupBy(_.getLong(3)).iterator
      .map { case (u, rs) =>
        val lb = rs.iterator.map(_.getLong(4)).sum
        val keptTail = rs.iterator.map(_.getLong(5)).sum
        (u, lb, lb + totalTail - keptTail)
      }
      .toArray.sortBy { case (u, lb, _) => (-lb, u) }
    val n = math.min(k, perUser.length)
    val (top, rest) = perUser.splitAt(n)
    val exactCounts = top.forall { case (_, lbU, ubU) => lbU == ubU }
    // the cut is provable when (a) total tail is 0 — every user in
    // range is a candidate with an exact count, so the global order
    // is fully known whatever k — or (b) we found k candidates AND
    // the k-th count strictly exceeds every other candidate's ub and
    // the unseen-user ceiling (the total tail); with FEWER than k
    // candidates and a nonzero tail, an unseen user could own a row
    // the raw LIMIT k would return — unprovable, veto.
    val cut =
      if (totalTail == 0L) true
      else if (perUser.length < k) false
      else {
        val kth = top.last._2
        kth > totalTail && rest.forall(_._3 < kth)
      }
    if (exactCounts && cut) Some(top.map(t => (t._1, t._2)).toSeq)
    else None
  }

  /** Heavy-hitter candidates per event_type over [lo, hi): every
    * user kept by ≥ 1 cell, with the sound bounds
    * (event_type, user_id, lb, ub), ranked (lb DESC, user) and cut
    * to `topN` per type. Touches only the summary table (plus any
    * committed stream-batch segments — [[DailyRollup.read]]: a torn
    * batch contributes nothing until its replay overwrites it). */
  def heavyHitters(s: SparkSession, dir: String, lo: String, hi: String,
      topN: Int = 5): DataFrame = {
    val cells = rollup.window(s, dir, lo, hi, Seq(DailyRollup.Stream))
    // one tail ceiling per (day, seg, type) cell; total per type
    val totalTail = cells.select("day", "seg", "event_type", "tail")
      .distinct()
      .groupBy(col("event_type")).agg(sum(col("tail")).as("total_tail"))
    val perUser = cells.groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("c")).as("lb"), sum(col("tail")).as("kept_tail"))
    val bounded = perUser.join(totalTail, Seq("event_type"))
      .select(col("event_type"), col("user_id"), col("lb"),
        (col("lb") + col("total_tail") - col("kept_tail")).as("ub"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("lb").desc, col("user_id"))
    bounded.withColumn("rn", row_number().over(w))
      .where(col("rn") <= topN).drop("rn")
  }
}
