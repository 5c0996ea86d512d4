package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField, LongType}

/** APPROXIMATE QUERY PROCESSING over a DETERMINISTIC materialized
  * sample (D98) — the BlinkDB / warehouse-sampling capability
  * (public designs) built on this engine's own disciplines: at
  * 100 TB a dashboard that tolerates ±1% does not need the corpus,
  * it needs a 0.1% sample with a stated error — 1000× less IO per
  * exploratory query, with the estimate's scaling integer-exact and
  * oracle-replayable.
  *
  * Why DETERMINISTIC sampling (the engine's no-rand() discipline,
  * [[graft.functions.DetHash]]): a row is in the sample iff
  * hash60(stable key ‖ salt) mod 10⁶ < ppm — a pure function of the
  * row, independent of partitioning, retries, and row order. Three
  * properties fall out:
  *
  *  - ORACLE-REPLAYABLE: DuckDB recomputes the same membership
  *    predicate and the same integer scaling (×10⁶/ppm, floor), so
  *    q88 hash-gates an approximate operator exactly;
  *  - O(batch) MAINTENANCE WITH ZERO DRIFT: an appended batch's
  *    sample is `batch.where(same predicate)` — no coordination, no
  *    reservoir state — and the maintained sample is BIT-IDENTICAL
  *    to a full rebuild (spec-pinned), because membership never
  *    depended on what else was in the corpus;
  *  - STRATIFICATION-SAFE ESTIMATES: every key has the same
  *    inclusion probability ppm/10⁶, so count/sum scale by the
  *    single factor 10⁶/ppm (Horvitz–Thompson with uniform weights).
  *
  * DELIBERATELY NOT TRANSPARENT: an optimizer that silently served
  * approximate answers would be wrong — approximation is a contract
  * the CALLER opts into, stated in the result itself (the serving
  * face returns sample and estimate columns side by side; the
  * statistical error model is the caller's to apply — the spec pins
  * a 6σ binomial bound holding on the gate fixture).
  *
  * Artifact lifecycle = the StatsMaintain contract, the shared
  * [[EnsureWatermark]] commit-and-serve protocol: data written into a
  * fresh version, the stamp (covered source fingerprint, covered row
  * count, baked knobs) LAST as the commit point; [[sampleIfCurrent]]
  * serves only while covered == live listing, so an
  * appended-but-unmaintained corpus fails closed. `ppm` must divide
  * 10⁶ (the scale factor stays an integer — the replay's
  * precondition). */
object SampledAgg {

  val M = 1000000L

  def samplePath(dir: String, table: String, keyCol: String,
      ppm: Long): String =
    s"${IndexStore.root}/aqp_${IndexStore.tablePathKey(dir, table)}_${table}_${keyCol}_$ppm"
  private val DataPart = Seq("data")

  /** Rows of `table` persisted under `path` — the sample IS table
    * rows, so the table's schema is the artifact's (no footer
    * inference job on the serve path). */
  private def tableRows(s: SparkSession, dir: String, table: String,
      path: String): DataFrame =
    s.read.schema(graft.Tables(s, dir, table).schema).parquet(path)

  /** The deterministic membership predicate — change ONLY in
    * lockstep with [[membershipSql]]. */
  def membership(keyCol: String, ppm: Long): org.apache.spark.sql.Column =
    pmod(graft.functions.DetHash.hash60(col(keyCol), "aqp"), lit(M)) < ppm

  /** DuckDB rendering of [[membership]] for oracle replays. */
  def membershipSql(keyExpr: String, ppm: Long): String =
    s"${graft.functions.DetHash.hash60Sql(keyExpr, "aqp")} % $M < $ppm"

  private def requireDivides(ppm: Long): Unit =
    require(ppm > 0 && M % ppm == 0,
      s"ppm must divide $M so the scale factor stays integer, got $ppm")

  /** Build the materialized sample once per (table listing, keyCol,
    * ppm); idempotent while current. One filtered scan. */
  def ensureSample(s: SparkSession, dir: String, table: String,
      keyCol: String, ppm: Long): Unit = {
    requireDivides(ppm)
    if (sampleStamp(dir, table, keyCol, ppm).isEmpty)
      buildSample(s, dir, table, keyCol, ppm)
  }

  private def sampleStamp(dir: String, table: String, keyCol: String,
      ppm: Long): Option[EnsureWatermark.Stamp] =
    EnsureWatermark.current(samplePath(dir, table, keyCol, ppm), DataPart,
      dir, table).filter(_.knobs.get("ppm").contains(ppm))

  private def buildSample(s: SparkSession, dir: String, table: String,
      keyCol: String, ppm: Long): Unit = {
    val t = graft.Tables(s, dir, table)
    EnsureWatermark.commit(samplePath(dir, table, keyCol, ppm), dir, table,
        t.count(), Map("ppm" -> ppm)) { v =>
      t.where(membership(keyCol, ppm)).write.parquet(s"$v/data")
    }
  }

  /** O(batch + sample) maintenance: the caller appended `batch` to
    * the table ALREADY; the batch's members union into the stamped
    * sample, deduplicated on the row-unique `keyCol` — the same
    * contract the stratified rank already requires. Idempotent and
    * crash-convergent by the shared protocol. */
  def appendMaintainSample(s: SparkSession, dir: String, table: String,
      keyCol: String, ppm: Long, batch: DataFrame): Unit = {
    requireDivides(ppm)
    val p = samplePath(dir, table, keyCol, ppm)
    EnsureWatermark.maintain(s, p, DataPart, dir, table, batch)(
        _ => buildSample(s, dir, table, keyCol, ppm)) { (st, liveRows) =>
      EnsureWatermark.commit(p, dir, table, liveRows, Map("ppm" -> ppm)) { v =>
        tableRows(s, dir, table, st.part(p, "data"))
          .union(batch.where(membership(keyCol, ppm)))
          .dropDuplicates(keyCol)
          .write.parquet(s"$v/data")
      }
    }
  }

  private def grpType(s: SparkSession, dir: String, table: String,
      groupCol: String) =
    graft.Tables(s, dir, table).schema(groupCol).dataType

  /** The sampled rows while the artifact covers the LIVE listing —
    * an appended-but-unmaintained corpus fails closed. */
  def sampleIfCurrent(s: SparkSession, dir: String, table: String,
      keyCol: String, ppm: Long): Option[DataFrame] =
    sampleStamp(dir, table, keyCol, ppm).map(st => tableRows(s, dir, table,
      st.part(samplePath(dir, table, keyCol, ppm), "data")))

  /** The integer scale factor 10⁶/ppm — apply to sampled counts and
    * integer-valued sampled sums for the Horvitz–Thompson estimate. */
  def scaleFactor(ppm: Long): Long = { requireDivides(ppm); M / ppm }

  // ------------------------------------------------------------------
  // STRATIFIED sampling (D98's rare-group face — BlinkDB's actual
  // contribution, public design): a uniform ppm sample starves rare
  // strata (a 10⁻⁵ event type contributes ~0 rows at ppm = 10⁴, so
  // its estimate is garbage exactly where the analyst zooms in). The
  // stratified sample keeps the TOP-K ROWS BY HASH per stratum —
  // deterministic, so: the oracle replays membership as a SQL window
  // (row_number over (partition by stratum order by hash, key) ≤ K);
  // every stratum, however rare, carries min(K, n) rows; and the
  // per-stratum estimate scales by the exact recorded stratum count
  // (sum_sample × n_stratum ÷ k_used, integer division — replayable).
  // MAINTENANCE is O(batch + sample) and EXACT: a row ranked below K
  // can only sink as rows append (ranks are monotone under union),
  // so re-ranking (old sample ∪ batch) and keeping K is bit-identical
  // to a full rebuild — the top-K-rollup argument, applied to
  // sampling. Counts add exactly.
  // ------------------------------------------------------------------

  def stratSamplePath(dir: String, table: String, keyCol: String,
      stratumCol: String, k: Int): String =
    s"${IndexStore.root}/aqps_${IndexStore.tablePathKey(dir, table)}_${table}_${stratumCol}_$k"

  /** The deterministic per-stratum rank — change ONLY in lockstep
    * with the q89 oracle's window rendering. */
  private def rankCol(keyCol: String, stratumCol: String) =
    org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(graft.functions.DetHash.hash60(col(keyCol), "aqps"),
        col(keyCol))

  private def buildStrat(s: SparkSession, df: DataFrame, keyCol: String,
      stratumCol: String, k: Int): (DataFrame, DataFrame) = {
    val ranked = df.withColumn("__rk",
      row_number().over(rankCol(keyCol, stratumCol)))
    val sample = ranked.where(col("__rk") <= k).drop("__rk")
    val counts = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n"))
    (sample, counts)
  }

  private val StratParts = Seq("data", "counts")

  private def stratStamp(dir: String, table: String, keyCol: String,
      stratumCol: String, k: Int): Option[EnsureWatermark.Stamp] =
    EnsureWatermark.current(stratSamplePath(dir, table, keyCol, stratumCol, k),
      StratParts, dir, table).filter(_.knobs.get("k").contains(k.toLong))

  /** Build the stratified sample once per listing: one ranked pass
    * (the Z-order/recluster class of one-time cost) + one count pass;
    * idempotent while current. */
  def ensureStratifiedSample(s: SparkSession, dir: String, table: String,
      keyCol: String, stratumCol: String, k: Int): Unit = {
    require(k > 0, "k must be positive")
    if (stratStamp(dir, table, keyCol, stratumCol, k).isEmpty)
      buildStratified(s, dir, table, keyCol, stratumCol, k)
  }

  private def buildStratified(s: SparkSession, dir: String, table: String,
      keyCol: String, stratumCol: String, k: Int): Unit = {
    val t = graft.Tables(s, dir, table)
    val (sample, counts) = buildStrat(s, t, keyCol, stratumCol, k)
    EnsureWatermark.commit(stratSamplePath(dir, table, keyCol, stratumCol, k),
        dir, table, t.count(), Map("k" -> k.toLong)) { v =>
      sample.write.parquet(s"$v/data")
      counts.coalesce(1).write.parquet(s"$v/counts")
    }
  }

  private def stratCounts(s: SparkSession, dir: String, table: String,
      stratumCol: String, path: String): DataFrame =
    s.read.schema(StructType(Seq(
        StructField("stratum", grpType(s, dir, table, stratumCol)),
        StructField("n", LongType))))
      .parquet(path)

  /** O(batch + sample) maintenance, EXACT: the caller appended
    * `batch` ALREADY. The data merge deduplicates on the row-unique
    * `keyCol` before re-ranking; per-stratum counts add exactly.
    * Idempotent and crash-convergent by the shared protocol. */
  def appendMaintainStratified(s: SparkSession, dir: String, table: String,
      keyCol: String, stratumCol: String, k: Int, batch: DataFrame): Unit = {
    val p = stratSamplePath(dir, table, keyCol, stratumCol, k)
    EnsureWatermark.maintain(s, p, StratParts, dir, table, batch)(
        _ => buildStratified(s, dir, table, keyCol, stratumCol, k)) {
        (st, liveRows) =>
      val (batchSample, batchCounts) = buildStrat(s, batch, keyCol, stratumCol, k)
      EnsureWatermark.commit(p, dir, table, liveRows, Map("k" -> k.toLong)) { v =>
        tableRows(s, dir, table, st.part(p, "data")).union(batchSample)
          .dropDuplicates(keyCol)
          .withColumn("__rk", row_number().over(rankCol(keyCol, stratumCol)))
          .where(col("__rk") <= k).drop("__rk")
          .write.parquet(s"$v/data")
        stratCounts(s, dir, table, stratumCol, st.part(p, "counts"))
          .union(batchCounts)
          .groupBy(col("stratum")).agg(sum(col("n")).as("n"))
          .coalesce(1).write.parquet(s"$v/counts")
      }
    }
  }

  // ------------------------------------------------------------------
  // EXACT GROUP ROLLUP (r16, the ladder's error-0 rung): a persisted
  // (group, n, Σ⌊v⌋) table — |groups| rows, kilobytes — maintained
  // ADDITIVELY at O(batch) (counts and integer sums add exactly).
  // When current it DOMINATES every sampled rung on
  // both axes (error 0 ≤ any tolerance; |groups| rows ≤ any sample),
  // so the tolerance ladders consult it FIRST — the D50 rollup
  // lesson restated inside AQP: a dashboard that declared ±5% gets
  // the exact answer for free when someone ensured the rollup.
  // ------------------------------------------------------------------

  def groupRollupPath(dir: String, table: String, groupCol: String,
      valueCol: String): String =
    s"${IndexStore.root}/aqpr_${IndexStore.tablePathKey(dir, table)}_${table}_${groupCol}_$valueCol"

  private def rollupAgg(df: DataFrame, groupCol: String, valueCol: String) =
    df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col(valueCol)).cast("long")).as("s"))

  /** Build once per listing from one grouped pass; idempotent while
    * current. */
  def ensureGroupRollup(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String): Unit =
    if (EnsureWatermark.current(groupRollupPath(dir, table, groupCol, valueCol),
        DataPart, dir, table).isEmpty)
      buildGroupRollup(s, dir, table, groupCol, valueCol)

  private def buildGroupRollup(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String): Unit = {
    val t = graft.Tables(s, dir, table)
    EnsureWatermark.commit(groupRollupPath(dir, table, groupCol, valueCol),
        dir, table, t.count()) { v =>
      rollupAgg(t, groupCol, valueCol).coalesce(1).write.parquet(s"$v/data")
    }
  }

  private def rollupRows(s: SparkSession, dir: String, table: String,
      groupCol: String, path: String): DataFrame =
    s.read.schema(StructType(Seq(
        StructField("grp", grpType(s, dir, table, groupCol)),
        StructField("n", LongType), StructField("s", LongType))))
      .parquet(path)

  /** O(batch) ADDITIVE maintenance: the caller appended `batch`
    * ALREADY; counts and integer sums add exactly, so the merged
    * artifact equals a rebuild. Idempotent and crash-convergent by
    * the shared protocol — whose rowcount-coherence screen matters
    * most here: a blind merge after an out-of-band delete would
    * stamp WRONG EXACT data (served at rel_err 0) as current. */
  def appendMaintainGroupRollup(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String, batch: DataFrame): Unit = {
    val p = groupRollupPath(dir, table, groupCol, valueCol)
    EnsureWatermark.maintain(s, p, DataPart, dir, table, batch)(
        _ => buildGroupRollup(s, dir, table, groupCol, valueCol)) {
        (st, liveRows) =>
      EnsureWatermark.commit(p, dir, table, liveRows) { v =>
        rollupAgg(batch, groupCol, valueCol)
          .union(rollupRows(s, dir, table, groupCol, st.part(p, "data")))
          .groupBy(col("grp"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
          .coalesce(1).write.parquet(s"$v/data")
      }
    }
  }

  /** Drop the rollup artifact — the q100 gate's determinism reset
    * (idempotent; the next ensure rebuilds in one grouped pass). */
  def dropGroupRollup(dir: String, table: String, groupCol: String,
      valueCol: String): Unit = {
    val (fs, p) = IndexStore.fsOf(
      groupRollupPath(dir, table, groupCol, valueCol))
    fs.delete(p, true)
    ()
  }

  /** Drop EVERY group rollup of (dir, table) — the lineage-break
    * tombstone must not depend on which (group, value) pairs the
    * CURRENT ingest configuration names (r16 review #3: a rollup
    * maintained under an earlier configuration would survive the
    * break with pre-replacement counts and poison a later re-add).
    * Glob over the shared table-path key; idempotent. */
  def dropAllGroupRollups(dir: String, table: String): Unit =
    dropAllByPrefix(s"aqpr_${IndexStore.tablePathKey(dir, table)}_${table}_")

  /** [[dropAllGroupRollups]] for the group HISTOGRAMS (D109) — the
    * same lineage-tombstone sweep: a partition replacement can
    * preserve the row count, so the coherence screen alone cannot
    * catch it; the break must drop every artifact of the table. */
  def dropAllGroupHistograms(dir: String, table: String): Unit =
    dropAllByPrefix(s"aqph_${IndexStore.tablePathKey(dir, table)}_${table}_")

  private def dropAllByPrefix(namePrefix: String): Unit = {
    val (fs, root) = IndexStore.fsOf(IndexStore.root)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(namePrefix))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** (grp, n, s) while the artifact covers the LIVE listing. */
  def groupRollupIfCurrent(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String): Option[DataFrame] = {
    val p = groupRollupPath(dir, table, groupCol, valueCol)
    EnsureWatermark.current(p, DataPart, dir, table)
      .map(st => rollupRows(s, dir, table, groupCol, st.part(p, "data")))
  }

  // ------------------------------------------------------------------
  // TOLERANCE-DECLARED SERVING (r14 verdict #7 — "make the opt-in
  // consumable"): the caller states WHAT error it tolerates, the
  // engine picks HOW to serve — approximation stays a contract the
  // caller sees (the tolerance is the opt-in; the answer carries its
  // source and its per-group disclosed bound), never a silent
  // substitution. The decision ladder, cheapest honest answer first:
  //  1. the smallest CURRENT uniform sample whose worst SEEN group
  //     meets the tolerance — bound = 2·10⁶ / ⌊√k⌋ ppm, the 2σ
  //     binomial relative error of the Horvitz–Thompson count
  //     estimate (Var(k) ≈ n·p for small p ⇒ rel-σ ≈ 1/√k);
  //     integer-exact, so DuckDB replays the bound itself;
  //  2. a CURRENT stratified artifact whose stratum IS the group
  //     column: its per-stratum counts are recorded EXACTLY, so the
  //     answer is error-0 without touching the corpus;
  //  3. the corpus (exact, error 0) — the fail-closed floor when no
  //     current artifact covers the live listing.
  // Disclosed limitation: a group the uniform sample never SAW is
  // invisible to both the estimate and the min-k screen — the screen
  // protects seen-group accuracy (a sample whose thinnest seen group
  // misses the tolerance escalates); rare-group completeness is what
  // the stratified tier is for.
  // ------------------------------------------------------------------

  /** The per-group 2σ relative error bound, in ppm — integer-exact
    * for positive k (floor-of-positive-quotient ≡ both engines'
    * integer division; double sqrt agrees on ⌊√k⌋ at these
    * magnitudes). */
  private def relErrPpm(k: org.apache.spark.sql.Column) =
    floor(lit(2L * M) / floor(sqrt(k.cast("double")))).cast("long")

  /** Serve per-group counts of `table` grouped by `groupCol` within
    * the caller's declared `tolerancePpm` (2σ relative, ppm).
    * Returns (frame, source): columns (groupCol, n_est,
    * rel_err_ppm, source), source ∈ sample_<ppm> | stratified |
    * exact. Deterministic: a pure function of the persisted
    * artifacts and the tolerance. */
  def serveGroupCounts(s: SparkSession, dir: String, table: String,
      keyCol: String, groupCol: String, tolerancePpm: Long,
      ppms: Seq[Long] = Seq.empty,
      stratifiedK: Option[Int] = None,
      rollupValueCol: Option[String] = None): (DataFrame, String) = {
    require(tolerancePpm >= 0, "tolerance is a ppm bound, >= 0")
    require(!ReservedServeNames.contains(groupCol),
      s"groupCol collides with a reserved serving column: $groupCol")
    // 0. the exact group rollup (r16): error 0 at |groups| rows
    //    dominates every sampled rung on both axes — consult it first
    rollupValueCol.foreach { vc =>
      groupRollupIfCurrent(s, dir, table, groupCol, vc).foreach { r =>
        return (r.select(col("grp").as(groupCol), col("n").as("n_est"),
          lit(0L).as("rel_err_ppm"), lit("rollup").as("source")), "rollup")
      }
    }
    // 1. cheapest uniform sample meeting the tolerance on its worst
    //    SEEN group
    ppms.sorted.foreach { ppm =>
      sampleIfCurrent(s, dir, table, keyCol, ppm).foreach { sample =>
        val ks = sample.groupBy(col(groupCol)).agg(count(lit(1)).as("__k"))
        // null-safe: an EMPTY-but-current sample (nothing hashed under
        // ppm) must fall down the ladder, not NPE (r15 self-review)
        val minK = Option(ks.agg(min(col("__k"))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val worst = 2L * M / math.floor(math.sqrt(minK.toDouble)).toLong.max(1L)
        if (minK >= 1 && worst <= tolerancePpm) {
          val source = s"sample_$ppm"
          return (ks.select(col(groupCol),
            (col("__k") * scaleFactor(ppm)).as("n_est"),
            relErrPpm(col("__k")).as("rel_err_ppm"),
            lit(source).as("source")), source)
        }
      }
    }
    // 2. stratified-by-group artifact: exact recorded counts, no scan
    stratifiedK.foreach { k =>
      stratifiedIfCurrent(s, dir, table, keyCol, groupCol, k).foreach {
        case (_, counts) =>
          return (counts.select(col("stratum").as(groupCol),
            col("n").as("n_est"),
            lit(0L).as("rel_err_ppm"),
            lit("stratified").as("source")), "stratified")
      }
    }
    // 3. fail-closed floor: the corpus, exactly
    (graft.Tables(s, dir, table).groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_est"))
      .select(col(groupCol), col("n_est"),
        lit(0L).as("rel_err_ppm"), lit("exact").as("source")), "exact")
  }

  /** SUM face of the tolerance ladder (D102): same contract as
    * [[serveGroupCounts]], for per-group sums of the FLOORED value
    * column (the engine's fixed-point discipline — replayable
    * integer sums). The bound is the 2σ relative error of the
    * Horvitz–Thompson sum from the sample's own variance:
    * rel-σ(Σ̂) = √(k·Σv² − (Σv)²) / (Σv·√k) — every ingredient an
    * exact 64-bit integer aggregate of the sample, the final
    * sqrt/division in IEEE doubles computed identically by both
    * engines from identical integers, floored to ppm (DuckDB replays
    * the BOUND, not just the estimate). Documented envelope,
    * ENFORCED: k·Σv² must stay below 2⁶³ (holds through the 100×
    * replica; a corpus with |v| beyond ~10⁶ should band the value
    * first), and the STRATIFIED rung additionally requires
    * k·mv·n < 2⁶³ — its estimate is the scale-up (Σv·n) div k and
    * n is the unbounded exact stratum count (r16 advice). Outside
    * either, the rung refuses and the ladder falls down.
    * Non-positive group sums serve the conservative cap 10⁶ ppm.
    * The STRATIFIED leg scales by its exact recorded count (the q89
    * integer formula) with the same variance bound per stratum —
    * and a stratum fully contained in the sample (k = n) is EXACT,
    * bound 0. */
  private def sumBound(k: org.apache.spark.sql.Column,
      s1: org.apache.spark.sql.Column,
      s2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(s1 > 0L,
      floor(lit(2000000.0) *
        sqrt(greatest(k * s2 - s1 * s1, lit(0L)).cast("double")) /
        (s1.cast("double") * sqrt(k.cast("double")))).cast("long"))
      .otherwise(lit(1000000L))

  /** The variance-bound ingredient frame shared by the SUM and AVG
    * faces (r16 review #8 — one copy, never two drifting ones):
    * per-group count, Σ⌊v⌋, Σ⌊v⌋², max|⌊v⌋|. */
  private def sumIngredients(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val v = floor(col(valueCol)).cast("long")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__k"), sum(v).as("__s1"),
        sum(v * v).as("__s2"), max(abs(v)).as("__mv"))
  }

  /** One rung's decision in ONE aggregate job: the ENFORCED overflow
    * envelope shared by both faces (r15 review #2 + r16 advice: k²·mv²
    * bounds every product in the bound formula; `withScaleN`
    * additionally bounds the STRATIFIED sum rung's scale-up product
    * |Σv|·n ≤ k·mv·n — the AVG faces divide, never multiply, so they
    * pass withScaleN = false) holds AND the worst group `bound` is
    * within `tolerancePpm`. The bound is evaluated only on groups
    * inside their own envelope (k·mv ≤ ⌊√(2⁶³−1)⌋), so a rung
    * outside it falls down the ladder instead of overflowing; an
    * empty frame (null maxima) falls through too (r15 self-review). */
  private def rungServes(ing: DataFrame, bound: org.apache.spark.sql.Column,
      tolerancePpm: Long, withScaleN: Boolean = false): Boolean = {
    val inEnvelope =
      col("__k").cast("double") * col("__mv").cast("double") <= lit(3037000499.0)
    val aggs = Seq(max(col("__k")), max(col("__mv")),
      max(when(inEnvelope, bound))) ++
      (if (withScaleN) Seq(max(col("__n"))) else Nil)
    val r = ing.agg(aggs.head, aggs.tail: _*).head()
    (Option(r.get(0)), Option(r.get(1)), Option(r.get(2))) match {
      case (Some(k0), Some(mv0), Some(worst)) =>
        val k = BigInt(k0.asInstanceOf[Long])
        val mv = BigInt(mv0.asInstanceOf[Long])
        val boundOk = k * k * mv * mv < BigInt(Long.MaxValue)
        val scaleOk = !withScaleN || Option(r.get(3)).exists { n0 =>
          k * mv * BigInt(n0.asInstanceOf[Long]) < BigInt(Long.MaxValue)
        }
        boundOk && scaleOk && worst.asInstanceOf[Long] <= tolerancePpm
      case _ => false
    }
  }

  /** Reserved internal/output names — a group column shadowing one
    * would make the serve frames ambiguous (r15 review: the engine's
    * own fixtures use a column literally named "k"). */
  private val ReservedServeNames =
    Set("__k", "__s1", "__s2", "__mv", "__n", "n_est", "sum_est",
      "avg_est", "rel_err_ppm", "source")

  def serveGroupSums(s: SparkSession, dir: String, table: String,
      keyCol: String, groupCol: String, valueCol: String,
      tolerancePpm: Long, ppms: Seq[Long] = Seq.empty,
      stratifiedK: Option[Int] = None): (DataFrame, String) = {
    require(tolerancePpm >= 0, "tolerance is a ppm bound, >= 0")
    require(!ReservedServeNames.contains(groupCol),
      s"groupCol collides with a reserved serving column: $groupCol")
    // 0. the exact group rollup (r16): error 0 at |groups| rows —
    //    the cheapest honest answer when someone ensured it
    groupRollupIfCurrent(s, dir, table, groupCol, valueCol).foreach { r =>
      return (r.select(col("grp").as(groupCol), col("s").as("sum_est"),
        lit(0L).as("rel_err_ppm"), lit("rollup").as("source")), "rollup")
    }
    // 1. cheapest uniform sample whose worst group bound meets it
    //    (shared [[sumIngredients]]/[[rungServes]] — r16 review #8)
    ppms.sorted.foreach { ppm =>
      sampleIfCurrent(s, dir, table, keyCol, ppm).foreach { sample =>
        val ing = sumIngredients(sample, groupCol, valueCol)
        val b = sumBound(col("__k"), col("__s1"), col("__s2"))
        if (rungServes(ing, b, tolerancePpm)) {
          val source = s"sample_$ppm"
          return (ing.select(col(groupCol),
            (col("__s1") * scaleFactor(ppm)).as("sum_est"),
            b.as("rel_err_ppm"), lit(source).as("source")), source)
        }
      }
    }
    // 2. stratified-by-group: exact-count scaling, variance bound per
    //    stratum; a fully-contained stratum (k = n) is exact. The
    //    scale-up product needs the withScaleN envelope (r16 advice)
    stratifiedK.foreach { kk =>
      stratifiedIfCurrent(s, dir, table, keyCol, groupCol, kk).foreach {
        case (sample, counts) =>
          val ing = sumIngredients(sample, groupCol, valueCol)
            .join(counts.select(col("stratum").as(groupCol),
              col("n").as("__n")), Seq(groupCol))
          val b = when(col("__k") === col("__n"), lit(0L))
            .otherwise(sumBound(col("__k"), col("__s1"), col("__s2")))
          if (rungServes(ing, b, tolerancePpm, withScaleN = true))
            return (ing.select(col(groupCol),
              expr("(__s1 * __n) div __k").as("sum_est"),
              b.as("rel_err_ppm"), lit("stratified").as("source")),
              "stratified")
      }
    }
    // 3. the corpus, exactly
    (graft.Tables(s, dir, table).groupBy(col(groupCol))
      .agg(sum(floor(col(valueCol)).cast("long")).as("sum_est"))
      .select(col(groupCol), col("sum_est"),
        lit(0L).as("rel_err_ppm"), lit("exact").as("source")), "exact")
  }

  /** AVG face of the tolerance ladder (r16, the r15 verdict's #3):
    * per-group FLOOR-AVERAGES of the floored value column —
    * `avg_est = Σ⌊v⌋ div k`, integer division in both engines, so
    * DuckDB replays estimate AND bound. The ratio-estimator bound is
    * [[sumBound]] itself: at fixed group size the relative error of
    * the mean equals the relative error of the Horvitz–Thompson sum
    * (both scale Σv by a constant), so the 2σ formula carries over
    * unchanged. Rungs, cheapest honest first: the exact group rollup
    * (s div n, error 0), the cheapest uniform sample within
    * tolerance, the stratified artifact (a per-stratum top-K-by-hash
    * draw IS a uniform draw within the stratum; k = n strata exact),
    * the exact corpus floor. No scale-up envelope needed — the
    * estimate divides, never multiplies (the k²mv² check still
    * guards the bound's own products). */
  def serveGroupAvgs(s: SparkSession, dir: String, table: String,
      keyCol: String, groupCol: String, valueCol: String,
      tolerancePpm: Long, ppms: Seq[Long] = Seq.empty,
      stratifiedK: Option[Int] = None): (DataFrame, String) = {
    require(tolerancePpm >= 0, "tolerance is a ppm bound, >= 0")
    require(!ReservedServeNames.contains(groupCol),
      s"groupCol collides with a reserved serving column: $groupCol")
    // 0. exact rollup: avg = s div n, error 0
    groupRollupIfCurrent(s, dir, table, groupCol, valueCol).foreach { r =>
      return (r.select(col("grp").as(groupCol),
        expr("s div n").as("avg_est"),
        lit(0L).as("rel_err_ppm"), lit("rollup").as("source")), "rollup")
    }
    // 1. cheapest uniform sample whose worst group bound meets it
    //    (shared [[sumIngredients]]/[[rungServes]] — r16 review #8;
    //    the AVG estimate divides, so withScaleN stays false)
    ppms.sorted.foreach { ppm =>
      sampleIfCurrent(s, dir, table, keyCol, ppm).foreach { sample =>
        val ing = sumIngredients(sample, groupCol, valueCol)
        val b = sumBound(col("__k"), col("__s1"), col("__s2"))
        if (rungServes(ing, b, tolerancePpm)) {
          val source = s"sample_$ppm"
          return (ing.select(col(groupCol),
            expr("__s1 div __k").as("avg_est"),
            b.as("rel_err_ppm"), lit(source).as("source")), source)
        }
      }
    }
    // 2. stratified-by-group: the stratum mean from its sample rows;
    //    a fully-contained stratum (k = n) is exact, bound 0
    stratifiedK.foreach { kk =>
      stratifiedIfCurrent(s, dir, table, keyCol, groupCol, kk).foreach {
        case (sample, counts) =>
          val ing = sumIngredients(sample, groupCol, valueCol)
            .join(counts.select(col("stratum").as(groupCol),
              col("n").as("__n")), Seq(groupCol))
          val b = when(col("__k") === col("__n"), lit(0L))
            .otherwise(sumBound(col("__k"), col("__s1"), col("__s2")))
          if (rungServes(ing, b, tolerancePpm))
            return (ing.select(col(groupCol),
              expr("__s1 div __k").as("avg_est"),
              b.as("rel_err_ppm"), lit("stratified").as("source")),
              "stratified")
      }
    }
    // 3. the corpus, exactly: floor-avg = Σ⌊v⌋ div count
    (graft.Tables(s, dir, table).groupBy(col(groupCol))
      .agg(sum(floor(col(valueCol)).cast("long")).as("__s1"),
        count(lit(1)).as("__k"))
      .select(col(groupCol), expr("__s1 div __k").as("avg_est"),
        lit(0L).as("rel_err_ppm"), lit("exact").as("source")), "exact")
  }

  // ------------------------------------------------------------------
  // QUANTILE face (r16, the r15 verdict's #3): the D39 histogram is
  // an EXACT-algebra artifact the ladder never consulted — its bin
  // counts are exact, so a percentile estimate interpolated inside
  // the rank-k bin is within ONE BIN WIDTH of the exact order
  // statistic (the cumulative counts place rank k in that bin with
  // certainty). That absolute bound discloses as a per-group relative
  // ppm bound; when it meets the declared tolerance the quantile is
  // served from ≤101 kilobyte-sized bin rows per group — the scan-
  // free rung. The floor is the exact rank-k order statistic (a
  // per-group sort — the cost the histogram rung exists to avoid).
  // Both rungs emit 1e4-scaled BIGINTs (the q36 integer discipline:
  // no float tie to break, DuckDB replays estimate AND bound).
  // ------------------------------------------------------------------

  /** Serve the p-th percentile of events.value per event_type over a
    * DAY-ALIGNED window within the caller's tolerance. Returns
    * (frame, source): columns (event_type, q_e4, rel_err_ppm,
    * source), source ∈ histogram | exact. The histogram rung serves
    * only while the histogram rollup's commit is current (never
    * appended to — the fail-closed contract). */
  def serveQuantile(s: SparkSession, dir: String, lo: String, hi: String,
      p: Int, tolerancePpm: Long): (DataFrame, String) = {
    require(p >= 1 && p <= 99, s"percentile in [1, 99], got $p")
    require(tolerancePpm >= 0, "tolerance is a ppm bound, >= 0")
    // ENFORCED day alignment (r16 review #4): the histogram's grain
    // is the day — a mid-day bound would make the two rungs evaluate
    // DIFFERENT windows (bins are day-keyed, the exact floor filters
    // raw ts) and the disclosed bound would not cover the excluded
    // partial day's mass. The check PARSES (the same rendering utc()
    // accepts — review pass 2: a string-suffix test rejected valid
    // ISO-T day-aligned bounds and tested rendering, not alignment)
    require(Seq(lo, hi).forall(t =>
        MinMaxManifest.utc(t).toInstant.getEpochSecond % 86400L == 0L),
      s"serveQuantile windows must be day-aligned (histogram grain): [$lo, $hi)")
    val HR = HistogramRollup
    // 1. the histogram rung: disclosed bound = one bin width,
    //    relative to the estimate — integer-exact, replayable
    if (HR.rollup.current(dir).isDefined) {
      val est = HR.percentiles(HR.mergedBins(s, dir, lo, hi), Seq(p))
        .select(col("event_type"), col(s"p${p}_e4").as("q_e4"))
      val overflowE4 = HR.NumBins.toLong * HR.BinWidthE4
      // integer DIV, never float-divide-then-cast (the r7 tie lesson)
      val b = when(col("q_e4") <= 0L || col("q_e4") >= lit(overflowE4),
        lit(M)) // bin 0 or the unbounded overflow bin: no honest rel bound
        .otherwise(expr(s"${HR.BinWidthE4 * M}L DIV q_e4"))
      val worst = Option(est.agg(max(b)).head().get(0))
        .map(_.asInstanceOf[Long])
      if (worst.exists(_ <= tolerancePpm))
        return (est.select(col("event_type"), col("q_e4"),
          b.as("rel_err_ppm"), lit("histogram").as("source")), "histogram")
    }
    // 2. the exact floor: rank k = ⌈p·n/100⌉ (the histogram's own k),
    //    value at rank k, e4-floored — a per-group sort
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("__v_e4"))
    val grp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    val exact = graft.Tables(s, dir, "events")
      .where(col("ts") >= lit(MinMaxManifest.utc(lo)) &&
        col("ts") < lit(MinMaxManifest.utc(hi)))
      .select(col("event_type"),
        floor(col("value") * 10000.0).cast("long").as("__v_e4"))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(grp))
      .where(col("__rk") === expr(s"(${p}L * __n + 99L) DIV 100L"))
      .select(col("event_type"), col("__v_e4").as("q_e4"),
        lit(0L).as("rel_err_ppm"), lit("exact").as("source"))
    (exact, "exact")
  }

  // ------------------------------------------------------------------
  // GENERIC GROUP HISTOGRAM (D109, r16) — the D39 fixed-bin algebra
  // freed from the events table: a persisted (grp, bin, cnt) table
  // for ANY (table, groupCol, valueCol), additively O(batch)-
  // maintainable, serving per-group percentiles at |groups|·bins
  // rows with the one-bin-width disclosed bound. NULL values land in
  // the SENTINEL bin −1, so Σcnt equals the table row count.
  // Contract: groupCol is a dashboard dimension
  // (bounded cardinality — the artifact is |groups|·(numBins+2)
  // rows); the merge is a distributed aggregate, never a collect.
  // ------------------------------------------------------------------

  def groupHistPath(dir: String, table: String, groupCol: String,
      valueCol: String): String =
    s"${IndexStore.root}/aqph_${IndexStore.tablePathKey(dir, table)}_${table}_${groupCol}_$valueCol"

  private def histBinCol(valueCol: String, binWidth: Double, numBins: Int) =
    when(col(valueCol).isNull, lit(-1L))
      .otherwise(greatest(lit(0L),
        least(floor(col(valueCol) / binWidth).cast("long"),
          lit(numBins.toLong))))

  private def histBins(df: DataFrame, groupCol: String, valueCol: String,
      binWidth: Double, numBins: Int): DataFrame =
    df.select(col(groupCol).as("grp"),
        histBinCol(valueCol, binWidth, numBins).as("bin"))
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Build once per listing from one binning pass. `binWidth` must
    * render exactly at e4 scale (the integer-replay contract); both
    * knobs are baked into the stamp. A current artifact with
    * DIFFERENT knobs than requested is re-provisioned, never a silent
    * no-op (the stratifiedIfCurrent k-check precedent). */
  def ensureGroupHistogram(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String, binWidth: Double = 5.0,
      numBins: Int = 100): Unit = {
    val binWidthE4 = math.round(binWidth * 10000.0)
    require(binWidthE4 > 0 && binWidthE4 / 10000.0 == binWidth,
      s"binWidth must be exact at e4 scale, got $binWidth")
    if (!groupHistIfCurrent(s, dir, table, groupCol, valueCol)
        .exists { case (_, bw, nb) => bw == binWidthE4 && nb == numBins })
      buildGroupHistogram(s, dir, table, groupCol, valueCol,
        binWidthE4, numBins)
  }

  private def buildGroupHistogram(s: SparkSession, dir: String,
      table: String, groupCol: String, valueCol: String, binWidthE4: Long,
      numBins: Long): Unit = {
    val t = graft.Tables(s, dir, table)
    EnsureWatermark.commit(groupHistPath(dir, table, groupCol, valueCol),
        dir, table, t.count(),
        Map("bin_width_e4" -> binWidthE4, "num_bins" -> numBins)) { v =>
      histBins(t, groupCol, valueCol, binWidthE4 / 10000.0, numBins.toInt)
        .write.parquet(s"$v/data")
    }
  }

  private def histRows(s: SparkSession, dir: String, table: String,
      groupCol: String, path: String): DataFrame =
    s.read.schema(StructType(Seq(
        StructField("grp", grpType(s, dir, table, groupCol)),
        StructField("bin", LongType), StructField("cnt", LongType))))
      .parquet(path)

  /** O(batch) ADDITIVE maintenance: bin counts add exactly, so the
    * merged artifact equals a rebuild. Idempotent and
    * crash-convergent by the shared protocol; the knobs the data was
    * binned with come from its own stamp, so a torn custom-knob
    * artifact rebuilds at its own granularity (an absent one at the
    * defaults). */
  def appendMaintainGroupHistogram(s: SparkSession, dir: String,
      table: String, groupCol: String, valueCol: String,
      batch: DataFrame): Unit = {
    val p = groupHistPath(dir, table, groupCol, valueCol)
    EnsureWatermark.maintain(s, p, DataPart, dir, table, batch) {
      case Some(st) => buildGroupHistogram(s, dir, table, groupCol, valueCol,
        st.knobs("bin_width_e4"), st.knobs("num_bins"))
      case None => ensureGroupHistogram(s, dir, table, groupCol, valueCol)
    } { (st, liveRows) =>
      EnsureWatermark.commit(p, dir, table, liveRows, st.knobs) { v =>
        histRows(s, dir, table, groupCol, st.part(p, "data"))
          .union(histBins(batch, groupCol, valueCol,
            st.knobs("bin_width_e4") / 10000.0, st.knobs("num_bins").toInt))
          .groupBy(col("grp"), col("bin")).agg(sum(col("cnt")).as("cnt"))
          .write.parquet(s"$v/data")
      }
    }
  }

  /** (bins frame (grp, bin, cnt), binWidthE4, numBins) while the
    * artifact covers the LIVE listing. */
  def groupHistIfCurrent(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String)
      : Option[(DataFrame, Long, Int)] = {
    val p = groupHistPath(dir, table, groupCol, valueCol)
    for {
      st <- EnsureWatermark.current(p, DataPart, dir, table)
      binWidthE4 <- st.knobs.get("bin_width_e4")
      numBins <- st.knobs.get("num_bins")
    } yield (histRows(s, dir, table, groupCol, st.part(p, "data")),
      binWidthE4, numBins.toInt)
  }

  /** Tolerance-declared PER-GROUP percentiles for any (table,
    * groupCol, valueCol) — the [[serveQuantile]] ladder freed from
    * the events histogram: rung 1 serves from the group histogram's
    * exact bin counts (rank k lands inside one bin with certainty →
    * the disclosed bound is one bin width, integer DIV, replayable;
    * bin 0 / the unbounded overflow bin cap at 10⁶); rung 2 is the
    * exact rank-k order statistic per group (the per-group sort the
    * histogram rung exists to avoid). NULL values are outside the
    * percentile in BOTH rungs (the sentinel bin never enters the
    * walk; the exact rung filters non-null). 1e4-scaled BIGINTs
    * throughout — the q36 discipline. Output: (grp, q_e4,
    * rel_err_ppm, source). */
  def serveGroupQuantiles(s: SparkSession, dir: String, table: String,
      groupCol: String, valueCol: String, p: Int,
      tolerancePpm: Long): (DataFrame, String) = {
    require(p >= 1 && p <= 99, s"percentile in [1, 99], got $p")
    require(tolerancePpm >= 0, "tolerance is a ppm bound, >= 0")
    groupHistIfCurrent(s, dir, table, groupCol, valueCol).foreach {
      case (bins, binWidthE4, numBins) =>
        val grpW = org.apache.spark.sql.expressions.Window.partitionBy("grp")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("grp").orderBy("bin")
        val withCum = bins.where(col("bin") >= 0L)
          .withColumn("n", sum("cnt").over(grpW))
          .withColumn("cum", sum("cnt").over(w))
        val kSql = s"(${p}L * n + 99L) DIV 100L"
        val e4 = expr(
          s"""CASE WHEN bin = ${numBins}L THEN ${numBins * binWidthE4}L
             |ELSE ${binWidthE4}L * bin
             |  + ($binWidthE4 * ($kSql - (cum - cnt))) DIV cnt END""".stripMargin)
        val est = withCum.groupBy(col("grp"))
          .agg(min(when(col("cum") >= expr(kSql),
            struct(col("bin"), e4.as("e")))).getField("e").as("q_e4"))
        val overflowE4 = numBins.toLong * binWidthE4
        val b = when(col("q_e4") <= 0L || col("q_e4") >= lit(overflowE4),
          lit(M))
          .otherwise(expr(s"${binWidthE4 * M}L DIV q_e4"))
        val worst = Option(est.agg(max(b)).head().get(0))
          .map(_.asInstanceOf[Long])
        if (worst.exists(_ <= tolerancePpm))
          return (est.select(col("grp"), col("q_e4"),
            b.as("rel_err_ppm"), lit("histogram").as("source")), "histogram")
    }
    // the exact floor: rank k = ⌈p·n/100⌉ per group, e4-floored
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("__v_e4"))
    val grpW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    (graft.Tables(s, dir, table)
      .where(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        floor(col(valueCol) * 10000.0).cast("long").as("__v_e4"))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(grpW))
      .where(col("__rk") === expr(s"(${p}L * __n + 99L) DIV 100L"))
      .select(col("grp"), col("__v_e4").as("q_e4"),
        lit(0L).as("rel_err_ppm"), lit("exact").as("source")), "exact")
  }

  /** The artifact path of the tolerance fixture `table`. */
  private[graft] def tolerancePath(dir: String, table: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/aqp_${table}_fixture"

  /** A tolerance fixture: the four-equal-group table derived from
    * events (g = event_id mod 4 — DuckDB replays it inline; the raw
    * value column rides along for the SUM face) as the one part
    * `<table>.parquet` of a stamped commit, once per events
    * fingerprint. Returns the committed version directory. */
  private def toleranceTable(s: SparkSession, dir: String,
      table: String): String = {
    val path = tolerancePath(dir, table)
    EnsureWatermark.ensured(path, Seq(s"$table.parquet"), dir, "events") { v =>
      graft.Tables(s, dir, "events")
        .select(col("event_id"), pmod(col("event_id"), lit(4L)).as("g"),
          col("value"))
        .write.parquet(s"$v/$table.parquet")
    }.dir(path)
  }

  /** The q93/q95 GATE FIXTURE: the tolerance table `tol_t` with the
    * 25% uniform sample and the stratified-by-g artifact built. */
  def ensureToleranceFixture(s: SparkSession, dir: String): String = {
    val fix = toleranceTable(s, dir, "tol_t")
    ensureSample(s, fix, "tol_t", "event_id", 250000L)
    ensureStratifiedSample(s, fix, "tol_t", "event_id", "g", 500)
    fix
  }

  /** q100's AVG-face fixture: the tolerance fixture's derivation
    * under its OWN table name (`tol_a`), so the group rollup the q100
    * gate builds and drops can never collide with q93/q95's
    * sampled-rung pins on `tol_t` — artifact isolation per gate, the
    * fixture discipline. */
  def ensureToleranceAvgFixture(s: SparkSession, dir: String): String = {
    val fix = toleranceTable(s, dir, "tol_a")
    ensureSample(s, fix, "tol_a", "event_id", 250000L)
    fix
  }

  /** (sample rows, exact per-stratum counts) while current. */
  def stratifiedIfCurrent(s: SparkSession, dir: String, table: String,
      keyCol: String, stratumCol: String,
      k: Int): Option[(DataFrame, DataFrame)] = {
    val p = stratSamplePath(dir, table, keyCol, stratumCol, k)
    stratStamp(dir, table, keyCol, stratumCol, k).map { st =>
      (tableRows(s, dir, table, st.part(p, "data")),
        stratCounts(s, dir, table, stratumCol, st.part(p, "counts")))
    }
  }
}
