package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DetHash

/** K-MINIMUM-VALUES sketch rollup — the THIRD mergeable sketch
  * algebra in the library, chosen for the one question the other two
  * cannot answer: SET INTERSECTION. [[SketchRollup]]'s HLL registers
  * max-merge (union-only: a register max carries no membership);
  * [[HistogramRollup]]'s bins sum-merge (values, not identities);
  * KMV (Bar-Yossef et al. 2002; the Beta/ThetaSketch family's public
  * core) keeps the K smallest hash values of a set — a uniform
  * sample of the DISTINCT elements — so two sketches support
  * union (k-min of the merged value sets), distinct-count
  * (D ≈ (K−1)·M / h_K for hash domain M), and OVERLAP: the members
  * of the union sketch that belong to both sides estimate the
  * Jaccard ratio, and |A∩B| ≈ ρ·D(A∪B) — the audience-overlap
  * question every ads/analytics store answers with exactly this
  * sketch.
  *
  * Everything is DETERMINISTIC and integer-exact at the gate: the
  * sketch hash is hash60(user_id, "kmv") mod 2^48 (uniform, replayed
  * verbatim in the oracle; the 48-bit domain keeps (K−1)·M inside
  * BIGINT so the estimate is a pure integer floor division — the q36
  * lesson applied up front), merges are k-min over DISTINCT values
  * (idempotent — a replayed day changes nothing, HLL-style), and
  * cells with fewer than K values report their EXACT distinct count.
  *
  * Scale shape: the daily table holds ≤ K rows per (day, event_type)
  * cell — kilobytes per cell regardless of corpus size; the build's
  * per-cell top-K rank window executes with WindowGroupLimit
  * (heap-bounded per partition, spec-pinned), and every read touches
  * only the sketch table (plan-pinned scan-free). A replayed or late
  * day merges idempotently by the distinct-k-min algebra. */
object KmvRollup {

  val K = 256
  /** Hash domain modulus 2^48 (see scaladoc: keeps (K−1)·M in BIGINT). */
  val M = 281474976710656L

  private def h48(c: org.apache.spark.sql.Column) =
    pmod(DetHash.hash60(c, "kmv"), lit(M))

  /** Per-batch daily sketch rows: the K smallest distinct h per
    * (day, event_type) cell. */
  private def dailySketch(batch: DataFrame): DataFrame = {
    val cells = batch.select(
        MinMaxManifest.utcDay(col("ts")).as("day"),
        col("event_type"), h48(col("user_id")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("day"), col("event_type")).orderBy(col("h"))
    cells.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K).drop("rn")
  }

  private[graft] val rollup = new DailyRollup("kmv_daily",
    "day TIMESTAMP, event_type STRING, h BIGINT")(dailySketch)

  def sketchPath(dir: String): String = rollup.path(dir)

  /** Build the daily sketch table once per corpus lifetime. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** Late-day / incremental maintenance — the leg the k-min algebra
    * makes trivially safe (r9 verdict: the claim existed only in
    * scaladoc): append the BATCH's own daily sketch rows; every read
    * k-min-merges with distinct-then-rank, so appended rows simply
    * compete — a replayed append adds exact-duplicate (day, type, h)
    * rows that the read-side DISTINCT erases (replay-IDEMPOTENT, no
    * batch-id scoping needed, unlike the sum-merge rollups), a
    * same-day second batch may leave up to 2K rows in a cell and the
    * read's rank trims them back to K, and appending B1..Bn is
    * bit-equal to rebuilding over corpus ∪ B1..Bn (KmvRollupSpec pins
    * both). O(batch) work, index never rewritten; vetoes the commit
    * first, like every in-place append. */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit =
    rollup.append(s, dir, dailySketch(batch))

  /** Merge daily sketches over [lo, hi): per event_type, the K
    * smallest DISTINCT h across the window's days — the k-min-merge
    * that makes the rollup a sketch and not a sample: distinct-then-
    * rank is IDEMPOTENT under replayed days and associative across
    * any day partitioning. Touches only the sketch table. */
  def mergedSketch(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame = {
    val cells = rollup.window(s, dir, lo, hi)
      .select("event_type", "h").distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    cells.withColumn("rn", row_number().over(w)).where(col("rn") <= K)
      .drop("rn")
  }

  /** Distinct-count estimates per event_type from a merged sketch:
    * EXACT when the cell holds < K values, else (K−1)·M DIV h_K —
    * integer floor division in both engines. */
  def typeEstimates(sketch: DataFrame): DataFrame =
    sketch.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(col("event_type"),
        when(col("n") < K, col("n"))
          .otherwise(expr(s"(${K - 1}L * ${M}L) div hk")).as("d_est"))

  /** Pairwise audience overlap from a merged sketch: for every
    * unordered event_type pair, the union sketch (k-min of the two
    * value sets), the membership-match count, and the intersection
    * estimate match·D(A∪B) DIV |U|. All integer; every window is
    * K-bounded (≤ 2K rows per pair). */
  def overlaps(sketch: DataFrame): DataFrame = {
    val types = sketch.select(col("event_type")).distinct()
    val prs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .where(col("type_a") < col("type_b"))
    val mem = prs.join(sketch,
        sketch("event_type") === col("type_a") ||
          sketch("event_type") === col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("h"))
      .agg(
        max(when(col("event_type") === col("type_a"), 1L).otherwise(0L)).as("ia"),
        max(when(col("event_type") === col("type_b"), 1L).otherwise(0L)).as("ib"))
    val w = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))
    val u = mem.withColumn("rn", row_number().over(w)).where(col("rn") <= K)
    u.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("nu"), max(col("h")).as("hu"),
        sum(col("ia") * col("ib")).as("match_k"))
      .withColumn("d_union",
        when(col("nu") < K, col("nu"))
          .otherwise(expr(s"(${K - 1}L * ${M}L) div hu")))
      // integer floor division throughout: d_union·match_k ≤ 2^48·K
      // stays in BIGINT, and a double division here would round past
      // the 53-bit mantissa (the estimate must replay bit-equal)
      .select(col("type_a"), col("type_b"), col("d_union"), col("match_k"),
        expr("(d_union * match_k) div nu").as("inter_est"))
  }
}
