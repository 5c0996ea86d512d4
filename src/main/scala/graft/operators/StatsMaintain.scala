package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** INCREMENTAL STATISTICS MAINTENANCE (D91) — the freshness story
  * the ANALYZE catalog (D77) deliberately lacks: [[StatsCatalog]]
  * keys its artifact on the source LISTING fingerprint, so any
  * append re-keys the path and everything downstream fails closed
  * until a full re-ANALYZE — the right call for PROOFS (uniqueness,
  * FDs), but at 100 TB with hourly appends the ADVISORY consumers
  * (estimates, join advice, dictionary screens) cannot afford a
  * corpus scan per batch. This object maintains an approx-grade
  * stats artifact in O(batch) per append (auto-stats maintenance in
  * SQL Server / Oracle incremental statistics — public designs):
  *
  *  - n / nulls ADD exactly; min / max MIN/MAX exactly (merged under
  *    the column's own type, never its string rendering — "9" > "10"
  *    lexicographically);
  *  - NDV rides the engine's own deterministic HLL ([[SketchRollup]]'s
  *    register algebra, per column): register MAX-merge is EXACT —
  *    merged registers are bit-identical to a full rebuild's
  *    (spec-pinned), so maintenance never degrades the sketch, only
  *    the estimate keeps HLL's usual error.
  *
  * CURRENCY contract: the [[EnsureWatermark]] commit-and-serve
  * protocol every maintained family here shares (and SampledAgg's
  * four): each commit stamps the source-listing fingerprint it
  * COVERS; [[statsIfCurrent]] serves only while that matches the live
  * listing. The caller appends the data file FIRST, then maintains —
  * a crash between the two leaves covered ≠ live → fail-closed
  * stale, repaired by [[reEnsure]] or a late [[appendMaintain]] of
  * the same batch.
  *
  * Costs, stated: the one-time [[ensure]] pays one scan per column
  * for registers (the ExactNdvBatch class of trade — bounded
  * per-task sketch mass); every [[appendMaintain]] scans ONLY the
  * batch. Artifact size is columns × (1 summary row + ≤512 register
  * rows) — kilobytes, collected driver-side for the merge (bounded
  * by schema width, never by corpus). EXACT-mode consumers are
  * untouched: [[StatsCatalog.uniqueNonNull]]/[[StatsCatalog
  * .determines]] still demand a real ANALYZE of the exact listing. */
object StatsMaintain {

  def maintPath(dir: String, table: String): String =
    // keyed on the FS-QUALIFIED table path, not the raw string: the
    // estimator derives `dir` from a relation's rootPaths (scheme-
    // qualified, "file:/…"), callers pass bare "/…" — both must land
    // on ONE artifact ([[IndexStore.tablePathKey]], shared with the
    // AQP artifact families)
    s"${IndexStore.root}/stats_maint_${IndexStore.tablePathKey(dir, table)}_$table"
  private[graft] def statsPath(dir: String, table: String) =
    s"${maintPath(dir, table)}/stats"
  private val StatsParts = Seq("summary", "registers")

  /** One maintained column: exact n/nulls/min/max + the HLL NDV
    * estimate (rounded long; advisory-grade by construction).
    * `degraded` (r16, the CDC-delete story): after a
    * [[deleteMaintain]], n/nulls stay EXACT but min/max are only
    * one-sided BOUNDS of the live range (deletes can only shrink it)
    * and ndvEst is an UPPER bound (register max-merge has no
    * inverse) — still advisory-safe, flagged so [[Steering
    * .adviseAnalyze]] can name the re-ANALYZE that restores
    * exactness. */
  final case class MaintainedCol(column: String, n: Long, nulls: Long,
      min: Option[String], max: Option[String], ndvEst: Long,
      degraded: Boolean = false)

  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Typed min/max merge: parse both renderings under the column's
    * dtype and keep the winner — never a lexicographic compare of
    * numbers. */
  private def mergeBound(dt: DataType, a: Option[String], b: Option[String],
      takeMin: Boolean): Option[String] = (a, b) match {
    case (None, x) => x
    case (x, None) => x
    case (Some(x), Some(y)) =>
      val cmp: Int = dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          x.toLong.compareTo(y.toLong)
        case FloatType | DoubleType => x.toDouble.compareTo(y.toDouble)
        case dec: DecimalType =>
          BigDecimal(x).compare(BigDecimal(y))
        case _ => x.compareTo(y) // strings, rendered timestamps (ISO sorts)
      }
      if ((cmp <= 0) == takeMin) Some(x) else Some(y)
  }

  /** One-pass per-batch summary: total count + per-column count/min/max. */
  private def summarize(df: DataFrame): Seq[(String, Long, Long, Option[String], Option[String])] = {
    val cols = df.schema.fields
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("_n") +: cols.toSeq.flatMap { f =>
        val c = col(f.name)
        val bounds =
          if (orderable(f.dataType))
            Seq(min(c).cast(StringType), max(c).cast(StringType))
          else Seq(lit(null).cast(StringType), lit(null).cast(StringType))
        count(c) +: bounds
      }
    val r: Row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    cols.zipWithIndex.map { case (f, i) =>
      val base = 1 + i * 3
      (f.name, n, n - r.getLong(base),
        Option(r.getString(base + 1)), Option(r.getString(base + 2)))
    }.toIndexedSeq
  }

  /** Per-column HLL register rows (column, reg, rho) — one scan per
    * column, the SketchRollup algebra with a per-column salt. */
  private def registerRows(df: DataFrame): DataFrame = {
    import SketchRollup.{MaxRho, P}
    def rho(payload: org.apache.spark.sql.Column) =
      when(payload === 0L, lit(MaxRho))
        .otherwise(lit(MaxRho) - length(bin(payload)))
    df.schema.fields.map { f =>
      val h = graft.functions.DetHash.hash60(col(f.name), s"maint_${f.name}")
      df.where(col(f.name).isNotNull)
        .select(lit(f.name).as("column"),
          h.bitwiseAND(lit((SketchRollup.M - 1).toLong)).as("reg"),
          rho(shiftright(h, P)).as("rho"))
        .groupBy(col("column"), col("reg"))
        .agg(max(col("rho")).as("rho"))
    }.reduce(_.union(_))
  }

  /** Commit one column-stats state; the row count every column's
    * `n` carries is the covered row count. */
  private def writeArtifact(s: SparkSession, dir: String, table: String,
      sums: Seq[(String, Long, Long, Option[String], Option[String])],
      regs: DataFrame, degraded: Boolean = false): Unit = {
    import s.implicits._
    EnsureWatermark.commit(statsPath(dir, table), dir, table,
        sums.headOption.fold(0L)(_._2)) { v =>
      regs.coalesce(1).write.parquet(s"$v/registers")
      sums.map { case (c, n, nulls, mn, mx) => (c, n, nulls, mn, mx, degraded) }
        .toDF("column", "n", "nulls", "min", "max", "degraded")
        .coalesce(1).write.parquet(s"$v/summary")
    }
  }

  /** Build once from a full scan; safe to call when already current. */
  def ensure(s: SparkSession, dir: String, table: String): Unit =
    if (EnsureWatermark.current(statsPath(dir, table), StatsParts, dir, table)
        .isEmpty) reEnsure(s, dir, table)

  /** Whether a maintained artifact EXISTS (current or stale) — the
    * bootstrap probe for ingest glue: absent → build from the table
    * so far; present → O(batch) maintenance (never a full rescan). */
  def built(dir: String, table: String): Boolean =
    EnsureWatermark.stampOf(statsPath(dir, table)).isDefined

  /** [[built]] for the maintained key profile. */
  def keyProfileBuilt(dir: String, table: String, column: String): Boolean =
    EnsureWatermark.stampOf(keyProfPath(dir, table, column)).isDefined

  /** Drop EVERY maintained artifact of (dir, table) — column stats,
    * key profiles, column groups, MCV lists (they all live under
    * [[maintPath]]). The LINEAGE-BREAK tombstone (r16 advice): an
    * ingest that replaced rows must make the break DURABLE before it
    * transitions its markers, so that any crash-replay state finds
    * the artifacts absent and REBUILDS — an O(batch) merge into
    * artifacts still carrying the replaced rows' contributions would
    * be wrong advisory stats stamped current. Idempotent. */
  def dropMaintained(dir: String, table: String): Unit = {
    val (fs, p) = IndexStore.fsOf(maintPath(dir, table))
    fs.delete(p, true)
    ()
  }

  /** Full rebuild — the repair path for a stale or torn artifact. */
  def reEnsure(s: SparkSession, dir: String, table: String): Unit = {
    val df = graft.Tables(s, dir, table)
    writeArtifact(s, dir, table, summarize(df), registerRows(df))
  }

  /** O(batch) maintenance: the caller appended `batch`'s rows to the
    * table ALREADY; this merges the batch's partials into the
    * artifact — the batch is the only data scanned. Idempotent and
    * crash-convergent by the shared protocol
    * ([[EnsureWatermark.maintain]]). */
  def appendMaintain(s: SparkSession, dir: String, table: String,
      batch: DataFrame): Unit = {
    val path = statsPath(dir, table)
    EnsureWatermark.maintain(s, path, StatsParts, dir, table, batch)(
        _ => reEnsure(s, dir, table)) { (st, _) =>
      val old = readArtifact(s, path, st)
      val dtypes = graft.Tables(s, dir, table).schema
        .fields.map(f => f.name -> f.dataType).toMap
      val batchSums = summarize(batch).map(t => t._1 -> t).toMap
      // every appended row advances EVERY maintained column's row
      // count — a column the batch frame lacks is served as NULL by
      // the parquet scan for each batch row, so n and nulls advance
      // together and the bounds stand (r13 advice: the old behavior
      // froze n for the missing column while its siblings advanced,
      // leaving statsIfCurrent internally inconsistent)
      val batchN = batchSums.values.headOption.map(_._2).getOrElse(0L)
      val mergedSums = old.map { m =>
        val dt = dtypes(m.column)
        batchSums.get(m.column) match {
          case None => (m.column, m.n + batchN, m.nulls + batchN, m.min, m.max)
          case Some((_, bn, bnulls, bmin, bmax)) =>
            (m.column, m.n + bn, m.nulls + bnulls,
              mergeBound(dt, m.min, bmin, takeMin = true),
              mergeBound(dt, m.max, bmax, takeMin = false))
        }
      }
      // register max-merge: batch registers (a Spark job over the
      // batch) ∪ the stamped version's rows
      val merged = registerRows(batch)
        .union(s.read.parquet(st.part(path, "registers")))
        .groupBy(col("column"), col("reg")).agg(max(col("rho")).as("rho"))
      // a degraded (delete-maintained) artifact stays degraded under
      // appends: the kept bounds remain valid bounds, but only a full
      // re-ANALYZE restores exactness (r16)
      writeArtifact(s, dir, table, mergedSums, merged,
        degraded = old.exists(_.degraded))
    }
  }

  /** O(batch) DELETE maintenance (r16, the D42 gap between D91 and
    * the CDC family): the caller REMOVED `deleted`'s rows from the
    * table ALREADY (covered is taken from the post-delete listing).
    * Only the ADDITIVE fields retract exactly — n and nulls subtract
    * (clamped at 0: advisory, never negative). min/max and the NDV
    * registers provably cannot retract (register max-merge has no
    * inverse — the D42 max-merge argument), so they are KEPT as
    * documented one-sided bounds: stored min ≤ live min ≤ live max ≤
    * stored max (deletes only shrink the range) and the HLL estimate
    * is an UPPER bound on live NDV. The artifact marks itself
    * `degraded`; [[Steering.adviseAnalyze]] reports `degraded_stats`
    * for it, and a full [[reEnsure]] (or the next ensure after a
    * fingerprint move) restores exactness. An already-covered
    * artifact no-ops; an absent or torn one rebuilds. A batch column
    * the frame lacks follows the appendMaintain convention (the scan
    * served those rows' column as NULL). */
  def deleteMaintain(s: SparkSession, dir: String, table: String,
      deleted: DataFrame): Unit = {
    val path = statsPath(dir, table)
    val st = EnsureWatermark.intact(path, StatsParts)
      .getOrElse(return reEnsure(s, dir, table))
    if (st.covered == IndexStore.fingerprint(dir, table)) return
    val old = readArtifact(s, path, st)
    val batchSums = summarize(deleted).map(t => t._1 -> t).toMap
    val batchN = batchSums.values.headOption.map(_._2).getOrElse(0L)
    val mergedSums = old.map { m =>
      batchSums.get(m.column) match {
        case None =>
          (m.column, (m.n - batchN).max(0L), (m.nulls - batchN).max(0L),
            m.min, m.max)
        case Some((_, bn, bnulls, _, _)) =>
          (m.column, (m.n - bn).max(0L), (m.nulls - bnulls).max(0L),
            m.min, m.max)
      }
    }
    writeArtifact(s, dir, table, mergedSums,
      s.read.parquet(st.part(path, "registers")), degraded = true)
  }

  /** True when the maintained artifact is CURRENT but degraded (a
    * delete was maintained since the last full build) — the
    * [[Steering.adviseAnalyze]] probe. */
  def statsDegraded(s: SparkSession, dir: String, table: String): Boolean =
    statsIfCurrent(s, dir, table)
      .exists(_.values.exists(_.degraded))

  private def readArtifact(s: SparkSession, path: String,
      st: EnsureWatermark.Stamp): Seq[MaintainedCol] = {
    val ests = estimates(s, st.part(path, "registers"))
    IndexStore.readAs(s, "column STRING, n BIGINT, nulls BIGINT, " +
        "min STRING, max STRING, degraded BOOLEAN", st.part(path, "summary"))
      .collect().toSeq.map { r =>
        MaintainedCol(r.getAs[String]("column"), r.getAs[Long]("n"),
          r.getAs[Long]("nulls"), Option(r.getAs[String]("min")),
          Option(r.getAs[String]("max")),
          ests.getOrElse(r.getAs[String]("column"), 0L),
          degraded = r.getAs[Boolean]("degraded"))
      }
  }

  /** HLL estimate per column from the persisted registers (the
    * [[SketchRollup.estimate]] formula keyed by column). */
  private def estimates(s: SparkSession, regPath: String): Map[String, Long] = {
    val m = SketchRollup.M
    val twoPow52 = 4503599627370496L
    s.read.parquet(regPath)
      .groupBy(col("column"))
      .agg(count(lit(1)).as("regs_hit"),
        sum(pow(lit(2.0), lit(SketchRollup.MaxRho) - col("rho")).cast("long"))
          .as("z_obs"))
      .withColumn("zeros", lit(m.toLong) - col("regs_hit"))
      .withColumn("z_int", col("z_obs") + col("zeros") * twoPow52)
      .withColumn("raw",
        lit(0.7213 / (1.0 + 1.079 / m)) * m * m * twoPow52.toDouble /
          col("z_int").cast("double"))
      .withColumn("est",
        round(when(col("raw") <= 2.5 * m && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw"))).cast("long"))
      .select(col("column"), col("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The q80 GATE FIXTURE: a managed copy of events split into a
    * base build + a late-appended slice (users ≡ 2 mod 5), with the
    * stats MAINTAINED across the append — base ∪ slice ≡ events by
    * construction, so the DuckDB oracle recomputes the exact fields
    * from the raw table and the hash gates the maintenance algebra.
    * Idempotent per events fingerprint: a warm host with current
    * maintained stats skips all mutation. */
  def ensureMaintainedEventsFixture(s: SparkSession, dir: String): String = {
    val fix = s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/maint_fixture"
    val T = "events_m"
    if (statsIfCurrent(s, fix, T).isEmpty) {
      val (tfs, tp) = IndexStore.fsOf(s"$fix/$T.parquet")
      tfs.delete(tp, true)
      val (afs, ap) = IndexStore.fsOf(maintPath(fix, T))
      afs.delete(ap, true)
      val ev = graft.Tables(s, dir, "events")
      val isSlice = pmod(col("user_id"), lit(5L)) === 2L
      ev.where(!isSlice).write.mode("overwrite").parquet(s"$fix/$T.parquet")
      ensure(s, fix, T)
      ev.where(isSlice).write.mode("append").parquet(s"$fix/$T.parquet")
      appendMaintain(s, fix, T, ev.where(isSlice))
    }
    fix
  }

  // ------------------------------------------------------------------
  // MAINTAINED KEY PROFILES + COLUMN GROUPS (D94) — O(batch)
  // freshness for the two ADVISORY artifacts D91 left out (the r13
  // verdict's next-round #5): after one day of appends the exact
  // key profile (fingerprint-keyed) is unreachable and adviseJoin
  // loses its hot-key list — exactly the artifact whose absence
  // melts a reducer. Both ride algebras this file already ships:
  //
  //  - KEY PROFILE: the top-`trackK` (key, count) pairs maintained
  //    additively (Misra–Gries / space-saving family — public
  //    designs): an append sums the batch's per-key counts into the
  //    tracked set and re-takes the top-K. Keys outside the tracked
  //    set accumulate only from when they enter it, so a tracked
  //    count is a LOWER bound — fine for skew advice (a key the
  //    bound already calls hot IS hot; a slowly-warming key is
  //    caught within one tracking window), stated here because it
  //    is the one place maintenance trades exactness for O(batch).
  //    The serve threshold (`hotFreq`) is baked at build like the
  //    exact profile's, so advice reads need no caller knob.
  //  - COLUMN GROUP: tuple-NDV on the same deterministic HLL
  //    registers as the column sketches (hash of the
  //    null-sentineled tuple rendering), register MAX-merge per
  //    append — bit-identical to a rebuild, estimate keeps HLL
  //    error. Serves `exact = false` GroupStats: the estimator's
  //    correlated-GROUP-BY fix survives appends, while the FD
  //    PROOF face ([[StatsCatalog.determines]]) still demands the
  //    exact listing (spec-pinned).
  //
  // Same currency contract as the column stats: the shared
  // [[EnsureWatermark]] commit-and-serve protocol.
  // ------------------------------------------------------------------

  private[graft] def keyProfPath(dir: String, table: String, column: String) =
    topKPath(KeyProf, dir, table, column)
  private[graft] def grpPath(dir: String, table: String, cols: Seq[String]) =
    s"${maintPath(dir, table)}/grp_${cols.sorted.mkString("__")}"

  /** Build the maintained key profile from one full groupBy pass:
    * top `trackK` keys by count (ties by key ASC — deterministic),
    * with the serve threshold `hotFreq` baked into the stamp.
    * Idempotent while current. */
  def ensureKeyProfileMaint(s: SparkSession, dir: String, table: String,
      column: String, hotFreq: Long = 1000L, trackK: Int = 4096): Unit =
    ensureTopK(s, KeyProf, dir, table, column, hotFreq, trackK)

  /** O(batch) profile maintenance: the caller appended `batch`'s rows
    * ALREADY; this sums the batch's per-key counts into the tracked
    * set (tracked keys add, new keys enter at their batch count) and
    * re-takes the top-K — the batch is the only data scanned; the old
    * rows are a ≤trackK-row kilobyte frame. Idempotent and
    * crash-convergent by the shared protocol; the baked knobs come
    * from the stamp, never reset to defaults. */
  def appendMaintainKeyProfile(s: SparkSession, dir: String, table: String,
      column: String, batch: DataFrame): Unit =
    appendTopK(s, KeyProf, dir, table, column, batch)(
      ensureKeyProfileMaint(s, dir, table, column))

  /** Serving face, shaped like [[StatsCatalog.keyProfile]]: (keys at
    * or above the baked hot threshold ranked by frequency, max
    * tracked frequency) while the artifact covers the live listing;
    * None otherwise. An EMPTY tracked set serves (Nil, 0) — "nothing
    * tracked" is an answer, not an absence. Counts are lower bounds
    * (see the block comment), so a served hot key is genuinely hot. */
  def keyProfileIfCurrent(s: SparkSession, dir: String, table: String,
      column: String, maxHot: Int = 1024): Option[(Seq[String], Long)] =
    topKIfCurrent(s, KeyProf, dir, table, column).map { case (hotFreq, rows) =>
      (rows.filter(_._2 >= hotFreq).take(maxHot).map(_._1),
        rows.headOption.map(_._2).getOrElse(0L))
    }

  // ------------------------------------------------------------------
  // MAINTAINED MCV LISTS (D105) — O(batch) freshness for the D92
  // most-common-value statistics, the r15 verdict's #1: the LEARNED
  // TIERS (D99) read [[StatsCatalog.mcvIfReady]], which is exact-
  // listing-keyed — one appended file stales it and the steering /
  // ordering tier silently reverts to uniform until a full
  // re-ANALYZE. The maintained key profile's top-K algebra, applied
  // to VALUES instead of join keys. A tracked count is a LOWER bound
  // for values that ever left the set — fine for BOTH consumers: the
  // estimator's MCV-hit equality under-corrects toward uniform
  // (never fabricates skew), and a value the bound calls hot IS hot
  // (the dispatch's salt-set argument). The serve face returns the
  // top `k` (baked at build — the exact MCV's contract) ranked
  // (freq DESC, value ASC), shaped exactly like mcvIfReady so every
  // consumer composes by orElse.
  // ------------------------------------------------------------------

  private[graft] def mcvMaintPath(dir: String, table: String, column: String) =
    topKPath(Mcv, dir, table, column)

  /** [[built]] for the maintained MCV list. */
  def mcvMaintBuilt(dir: String, table: String, column: String): Boolean =
    EnsureWatermark.stampOf(mcvMaintPath(dir, table, column)).isDefined

  /** Build the maintained MCV list from one full groupBy pass: track
    * the top `trackK` values by count (ties by value ASC), serve the
    * top `k`. Idempotent while current. */
  def ensureMcvMaint(s: SparkSession, dir: String, table: String,
      column: String, k: Int = 32, trackK: Int = 4096): Unit = {
    require(k > 0 && trackK >= k, s"need trackK >= k > 0, got k=$k trackK=$trackK")
    ensureTopK(s, Mcv, dir, table, column, k.toLong, trackK)
  }

  /** O(batch) MCV maintenance — [[appendMaintainKeyProfile]],
    * value-grained. */
  def appendMaintainMcv(s: SparkSession, dir: String, table: String,
      column: String, batch: DataFrame): Unit =
    appendTopK(s, Mcv, dir, table, column, batch)(
      ensureMcvMaint(s, dir, table, column))

  /** Serving face, shaped like [[StatsCatalog.mcvIfReady]]: the top
    * `k` (value, freq) pairs ranked (freq DESC, value ASC) while the
    * artifact covers the live listing; None otherwise. Frequencies
    * are LOWER bounds for values that ever left the tracked set (see
    * the block comment) — advisory-exact for both consumers. */
  def mcvMaintIfCurrent(s: SparkSession, dir: String, table: String,
      column: String): Option[Seq[(String, Long)]] =
    topKIfCurrent(s, Mcv, dir, table, column).map { case (k, rows) =>
      rows.take(k.toInt)
    }

  // ------------------------------------------------------------------
  // The tracked top-K count algebra both faces above share: one
  // `rows` part of (value, freq), ranked (freq DESC, value ASC) and
  // capped at the stamp's `track_k`, plus one baked serve knob.
  // ------------------------------------------------------------------

  /** One top-K face: its path prefix, its value column, and the name
    * of its baked serve knob. */
  private final case class TopK(prefix: String, valueCol: String,
      serveKnob: String)
  private val KeyProf = TopK("keyprof2_", "key", "hot_freq")
  private val Mcv = TopK("mcv_", "value", "k")
  private val TopKParts = Seq("rows")

  private def topKPath(f: TopK, dir: String, table: String, column: String) =
    s"${maintPath(dir, table)}/${f.prefix}$column"

  private def topKCounts(f: TopK, df: DataFrame, column: String): DataFrame =
    df.where(col(column).isNotNull)
      .groupBy(col(column).cast(StringType).as(f.valueCol))
      .agg(count(lit(1)).as("freq"))

  /** Commit `counts`' top `trackK`; `rows` is the live table count
    * the caller already holds (never recounted here). */
  private def commitTopK(f: TopK, dir: String, table: String, column: String,
      counts: DataFrame, serve: Long, trackK: Long, rows: Long): Unit =
    EnsureWatermark.commit(topKPath(f, dir, table, column), dir, table, rows,
        Map(f.serveKnob -> serve, "track_k" -> trackK)) { v =>
      counts.orderBy(col("freq").desc, col(f.valueCol)).limit(trackK.toInt)
        .coalesce(1).write.parquet(s"$v/rows")
    }

  private def buildTopK(s: SparkSession, f: TopK, dir: String, table: String,
      column: String, serve: Long, trackK: Long): Unit = {
    val df = graft.Tables(s, dir, table)
    commitTopK(f, dir, table, column, topKCounts(f, df, column), serve,
      trackK, df.count())
  }

  private def ensureTopK(s: SparkSession, f: TopK, dir: String,
      table: String, column: String, serve: Long, trackK: Long): Unit =
    if (EnsureWatermark.current(topKPath(f, dir, table, column), TopKParts,
        dir, table).isEmpty)
      buildTopK(s, f, dir, table, column, serve, trackK)

  /** The merge: the batch's per-value counts summed into the tracked
    * set, the top-K re-taken under the stamp's knobs. A torn artifact
    * rebuilds under its stamp's knobs; an absent one through the
    * face's own ensure (`rebuildAbsent`). Tracked counts are lower
    * bounds only while the table grew by exactly the batches
    * maintained — the shared rowcount-coherence screen rebuilds
    * otherwise (an out-of-band delete would turn them into
    * OVER-estimates). */
  private def appendTopK(s: SparkSession, f: TopK, dir: String, table: String,
      column: String, batch: DataFrame)(rebuildAbsent: => Unit): Unit = {
    val path = topKPath(f, dir, table, column)
    EnsureWatermark.maintain(s, path, TopKParts, dir, table, batch) {
      case Some(st) => buildTopK(s, f, dir, table, column,
        st.knobs(f.serveKnob), st.knobs("track_k"))
      case None => rebuildAbsent
    } { (st, liveRows) =>
      val merged = topKCounts(f, batch, column)
        .union(IndexStore.readAs(s, s"${f.valueCol} STRING, freq BIGINT",
          st.part(path, "rows")))
        .groupBy(col(f.valueCol)).agg(sum(col("freq")).as("freq"))
      commitTopK(f, dir, table, column, merged, st.knobs(f.serveKnob),
        st.knobs("track_k"), liveRows)
    }
  }

  /** (baked serve knob, tracked (value, freq) rows ranked) while
    * current — stamp-memoized, so a plan-time probe of an unchanged
    * artifact runs no job. */
  private def topKIfCurrent(s: SparkSession, f: TopK, dir: String,
      table: String, column: String): Option[(Long, Seq[(String, Long)])] = {
    val path = topKPath(f, dir, table, column)
    EnsureWatermark.current(path, TopKParts, dir, table).flatMap { st =>
      st.knobs.get(f.serveKnob).map { serve =>
        EnsureWatermark.memo(path, st.version)((serve,
          IndexStore.readAs(s, s"${f.valueCol} STRING, freq BIGINT",
              st.part(path, "rows"))
            .orderBy(col("freq").desc, col(f.valueCol)).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq))
      }
    }
  }

  /** Null-sentineled deterministic tuple rendering — the column-group
    * register hash input. concat_ws alone would collide (null, "x")
    * with ("x", null); the sentinel keeps the rendering injective on
    * tuples whose values avoid the control character. */
  private def tupleCol(cols: Seq[String]): org.apache.spark.sql.Column =
    concat_ws("\u0001",
      cols.sorted.map(c => coalesce(col(c).cast(StringType), lit("\u0000N"))): _*)

  private def grpRegisterRows(df: DataFrame, cols: Seq[String]): DataFrame = {
    import SketchRollup.{MaxRho, P}
    val label = cols.sorted.mkString(",")
    def rho(payload: org.apache.spark.sql.Column) =
      when(payload === 0L, lit(MaxRho))
        .otherwise(lit(MaxRho) - length(bin(payload)))
    val h = graft.functions.DetHash.hash60(tupleCol(cols), s"maintgrp_$label")
    df.select(lit(label).as("column"),
        h.bitwiseAND(lit((SketchRollup.M - 1).toLong)).as("reg"),
        rho(shiftright(h, P)).as("rho"))
      .groupBy(col("column"), col("reg"))
      .agg(max(col("rho")).as("rho"))
  }

  private val GroupParts = Seq("registers")

  /** Build the maintained tuple-NDV group from one pass; idempotent
    * while current. */
  def ensureColumnGroupMaint(s: SparkSession, dir: String, table: String,
      columns: Seq[String]): Unit = {
    require(columns.size >= 2, "a column group needs at least 2 columns")
    if (EnsureWatermark.current(grpPath(dir, table, columns), GroupParts,
        dir, table).isEmpty) buildGroup(s, dir, table, columns)
  }

  private def buildGroup(s: SparkSession, dir: String, table: String,
      columns: Seq[String]): Unit = {
    val df = graft.Tables(s, dir, table)
    EnsureWatermark.commit(grpPath(dir, table, columns), dir, table,
        df.count()) { v =>
      grpRegisterRows(df, columns).coalesce(1).write.parquet(s"$v/registers")
    }
  }

  /** O(batch) group maintenance: register MAX-merge (exact vs a
    * rebuild); the covered row count rides the stamp. Scans only the
    * batch; idempotent and crash-convergent by the shared protocol. */
  def appendMaintainColumnGroup(s: SparkSession, dir: String, table: String,
      columns: Seq[String], batch: DataFrame): Unit = {
    val path = grpPath(dir, table, columns)
    EnsureWatermark.maintain(s, path, GroupParts, dir, table, batch)(
        _ => buildGroup(s, dir, table, columns)) { (st, liveRows) =>
      EnsureWatermark.commit(path, dir, table, liveRows) { v =>
        grpRegisterRows(batch, columns)
          .union(s.read.parquet(st.part(path, "registers")))
          .groupBy(col("column"), col("reg")).agg(max(col("rho")).as("rho"))
          .coalesce(1).write.parquet(s"$v/registers")
      }
    }
  }

  /** Serving face for the ESTIMATOR's correlated-GROUP-BY fix:
    * approx GroupStats while current — `exact = false` by
    * construction, so the FD proof face can never consume it. */
  def columnGroupApproxIfCurrent(s: SparkSession, dir: String,
      table: String, columns: Seq[String]): Option[StatsCatalog.GroupStats] = {
    val path = grpPath(dir, table, columns)
    EnsureWatermark.current(path, GroupParts, dir, table).map { st =>
      EnsureWatermark.memo(path, st.version)(
        StatsCatalog.GroupStats(columns.sorted, st.rows,
          grpEstimate(s, st.part(path, "registers")), exact = false))
    }
  }

  private def grpEstimate(s: SparkSession, regPath: String): Long = {
    val r = s.read.parquet(regPath)
      .agg(count(lit(1)).as("regs_hit"),
        sum(pow(lit(2.0), lit(SketchRollup.MaxRho) - col("rho")).cast("long"))
          .as("z_obs")).head()
    val hit = r.getAs[Long]("regs_hit")
    // the formula itself lives ONCE, in SketchRollup (r14 review)
    SketchRollup.estimateScalar(hit, if (hit == 0) 0L else r.getAs[Long]("z_obs"))
  }

  /** The serving face: Some only while the artifact is intact AND
    * covers exactly the table's LIVE listing — an appended-but-not-
    * maintained file fails closed. Stamp-memoized: the estimator and
    * the advice sites probe it on every candidate plan. */
  def statsIfCurrent(s: SparkSession, dir: String,
      table: String): Option[Map[String, MaintainedCol]] = {
    val path = statsPath(dir, table)
    EnsureWatermark.current(path, StatsParts, dir, table).map { st =>
      EnsureWatermark.memo(path, st.version)(
        readArtifact(s, path, st).map(c => c.column -> c).toMap)
    }
  }

  /** The maintained column stats' identity for plan-layer memo keys:
    * the live listing plus the committed version, so every
    * maintenance re-keys it — an append moves the listing, a rebuild
    * at an unchanged listing commits a new version. FS metadata only. */
  def statsStamp(dir: String, table: String): String =
    IndexStore.fingerprint(dir, table) + ":" +
      EnsureWatermark.stampOf(statsPath(dir, table)).fold("absent")(_.version)
}
