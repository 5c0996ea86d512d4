package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch rollup table — the Druid/datasketches pattern the
  * reference's dashboard sits on (its Druid spec pre-aggregates
  * per-interval rollups; the sketch column is how such stores answer
  * COUNT(DISTINCT) over ARBITRARY ranges without raw data): persist
  * one tiny HyperLogLog register table per (day, event_type), answer
  * any day-range distinct-user question by register-wise MAX merge +
  * estimate — kilobytes of sketch IO instead of a corpus scan.
  *
  * Why sketches and not the exact rollup: COUNT(DISTINCT) does not
  * decompose — per-day exact counts cannot be added across days
  * (D21's d11 maintains exact distincts, at the cost of per-(group,
  * value) auxiliary state). HLL registers DO decompose: max is
  * associative/commutative/idempotent, so daily sketches merge into
  * any window, late data merges in by max, and replays are harmless.
  * That algebraic shape — not the 2% error — is what buys the 100-TB
  * scan-free dashboard.
  *
  * This HLL is deliberately REGISTER-EXACT and cross-engine
  * replayable (unlike the binary DataSketches column
  * `hll_sketch_agg` would emit, which no oracle could recompute):
  *  - h = [[graft.functions.DetHash.hash60]](user_id) — 60 md5 bits;
  *  - register = h & 511 (p = 9, m = 512), payload = h >> 9 (51
  *    bits), rho = leading-zero count + 1 = 52 − bitlen(payload),
  *    computed with integer/string ops (`length(bin(x))`) identical
  *    in Spark and DuckDB — no float log2 at any register;
  *  - the harmonic denominator is summed as an INTEGER:
  *    z_int = Σ 2^(52−rho) + zeros·2^52 (every term a dyadic integer
  *    ≤ 2^52, the sum ≤ 2^61 — BIGINT-exact and order-independent,
  *    where a double Σ2^−rho would pick up summation-order ulps);
  *  - the only floats are the final estimate division and — on the
  *    small-range branch — one libm ln, absorbed by round(2) (the
  *    t14 discipline).
  * Standard HLL (Flajolet et al. '07): raw = α·m²/Z with
  * α = 0.7213/(1 + 1.079/m), linear counting m·ln(m/V) when
  * raw ≤ 2.5m and V (empty registers) > 0. */
object SketchRollup {

  val P = 9
  val M = 512 // 2^P registers
  val MaxRho = 52 // 60-bit hash − 9 register bits → 51 payload bits + 1
  val Salt = "hll"

  /** rho over the 51-bit payload: leading zeros + 1, via exact
    * integer/string ops shared by both engines. */
  private def rho(payload: org.apache.spark.sql.Column) =
    when(payload === 0L, lit(MaxRho))
      .otherwise(lit(MaxRho) - length(bin(payload)))

  /** Per-batch (day, event_type, reg, rho) rows with rho = max over
    * the batch's users — ~m rows per (day, group), kilobytes per day
    * at ANY corpus size; the build is one hash-agg scan, the same
    * shuffle the day's exact rollup would need anyway. */
  private def registers(batch: DataFrame): DataFrame = {
    val h = graft.functions.DetHash.hash60(col("user_id"), Salt)
    batch.select(
        MinMaxManifest.utcDay(col("ts")).as("day"),
        col("event_type"),
        h.bitwiseAND(lit(511L)).as("reg"),
        rho(shiftright(h, P)).as("rho"))
      .groupBy(col("day"), col("event_type"), col("reg"))
      .agg(max(col("rho")).as("rho"))
  }

  private[graft] val rollup = new DailyRollup("hll_daily",
    "day TIMESTAMP, event_type STRING, reg BIGINT, rho INT")(registers)

  def sketchPath(dir: String): String = rollup.path(dir)

  /** Build the daily register table once per corpus lifetime. */
  def ensure(s: SparkSession, dir: String): Unit = rollup.ensure(s, dir)

  /** INCREMENTAL maintenance — the streaming-ingest leg: a
    * micro-batch appends its own (day, group, reg, rho) rows; the
    * read-side MAX-merge folds duplicates of any key, so appends
    * never rewrite stored rows AND replaying a batch is harmless
    * (max is idempotent — the property that lets this sink run
    * at-least-once, unlike [[HistogramRollup.appendBatch]]'s
    * exactly-once contract). O(batch) work, one tiny file; vetoes the
    * commit first, like every in-place append. */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame): Unit =
    rollup.append(s, dir, registers(batch))

  /** Register-wise MAX merge of the daily sketches in [lo, hi) —
    * the associative op that makes the rollup answer any window. */
  def mergedRegisters(s: SparkSession, dir: String, lo: String,
      hi: String): DataFrame =
    rollup.window(s, dir, lo, hi)
      .groupBy(col("event_type"), col("reg"))
      .agg(max(col("rho")).as("rho"))

  /** SCALAR rendering of the register→estimate formula — the ONE
    * place the α/linear-counting algebra lives for driver-side
    * consumers (r14 review: three hand-copies risked silent
    * divergence). `regsHit` = registers with any observation,
    * `zObs` = Σ 2^(MaxRho − rho) over them (the integer-Z scheme —
    * an untouched register contributes 2^52, folded in here). */
  def estimateScalar(regsHit: Long, zObs: Long): Long = {
    val twoPow52 = 4503599627370496L
    val zeros = M.toLong - regsHit
    val zInt = BigInt(zObs) + BigInt(zeros) * twoPow52
    val raw = 0.7213 / (1.0 + 1.079 / M) * M * M * twoPow52.toDouble /
      zInt.toDouble
    val est =
      if (raw <= 2.5 * M && zeros > 0)
        M.toDouble * math.log(M.toDouble / zeros.toDouble)
      else raw
    math.round(est)
  }

  /** HLL estimate per event_type from merged registers. Returns
    * (event_type, regs_hit, est_users). */
  def estimate(merged: DataFrame): DataFrame = {
    val twoPow52 = 4503599627370496L // 2^52
    merged
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("regs_hit"),
        sum(pow(lit(2.0), lit(MaxRho) - col("rho")).cast("long"))
          .as("z_obs"))
      .withColumn("zeros", lit(M.toLong) - col("regs_hit"))
      .withColumn("z_int", col("z_obs") + col("zeros") * twoPow52)
      // α·m²·2^52 / z_int — the 2^52 un-scales the integer Z
      .withColumn("raw",
        lit(0.7213 / (1.0 + 1.079 / M)) * M * M * twoPow52.toDouble /
          col("z_int").cast("double"))
      .withColumn("est_users",
        round(when(col("raw") <= 2.5 * M && col("zeros") > 0,
          lit(M.toDouble) * log(lit(M.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw")), 2))
      .select(col("event_type"), col("regs_hit"), col("est_users"))
  }
}
