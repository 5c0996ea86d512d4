package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TABLE/COLUMN STATISTICS CATALOG — the engine's `ANALYZE TABLE`
  * (Spark's own `COMPUTE STATISTICS FOR COLUMNS`, Hive/Impala column
  * stats, every CBO's substrate — public designs): one scan per table
  * persists per-column (row count, null count, NDV, min, max), and
  * everything downstream that today guesses starts DECIDING —
  * broadcast-vs-shuffle side selection ([[adviseJoin]]), skew
  * diagnosis (avg key frequency n/ndv), dictionary-encodability
  * screening ([[dictionaryShaped]] — [[Dictionary]]'s build-or-not
  * call), size prediction ([[graft.plans.CardinalityEstimator]]),
  * and — the semantic payoff — KEY-UNIQUENESS PROOFS that license
  * the join-elimination optimizer rewrite
  * ([[graft.plans.JoinEliminationRule]]).
  *
  * EXACT vs APPROX is a first-class axis, not an accident: the
  * default [[ensure]] computes exact NDV in COLUMN-BATCHED distinct
  * passes ([[ExactNdvBatch]] columns per scan — bounding the
  * concurrent per-task distinct-map mass that a single k-wide Expand
  * would multiply into an OOM; the scans-for-memory trade a
  * scheduled maintenance job wants), while [[ensureApprox]] swaps in
  * `approx_count_distinct` (HLL++, ONE plain pass, no Expand,
  * constant-size registers) for the always-on profile path. The
  * catalog records which mode built each artifact, and
  * [[uniqueNonNull]] — the proof face consumed by the rewrite —
  * accepts ONLY exact-mode stats: approximate stats may ADVISE (a
  * wrong broadcast hint costs performance), only exact stats may
  * license a SEMANTICS-CHANGING plan rewrite (a wrong uniqueness
  * claim costs correctness).
  *
  * Staleness discipline = the rollup-routing contract verbatim: the
  * artifact path is keyed by [[IndexStore.fingerprint]] of the RAW
  * table's file listing (a mutated table yields a different path →
  * artifact absent → no stale serve), and the shared
  * [[EnsureWatermark]] commit guards artifact-side mutation, so
  * [[uniqueNonNull]] fails CLOSED — rewrite off, never a wrong
  * answer — whenever either side moved. */
object StatsCatalog {

  /** One column's persisted statistics. `min`/`max` are canonical
    * string renderings (None for non-orderable or all-NULL columns);
    * `exact` records the NDV mode — only exact rows can prove
    * uniqueness. */
  final case class ColStats(column: String, n: Long, nulls: Long,
      ndv: Long, min: Option[String], max: Option[String], exact: Boolean) {
    /** Every NON-NULL value distinct — the left-outer-join
      * elimination precondition (NULL keys never equi-match, so
      * duplicate NULLs cannot fan out a left-outer join). */
    def uniqueNonNull: Boolean = ndv == n - nulls
    /** Mean rows per key — the skew/fan-out advisory ratio. */
    def avgFreq: Double = if (ndv == 0) 0.0 else (n - nulls).toDouble / ndv
  }

  def statsPath(dir: String, table: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, table)}/stats_$table"

  /** Orderable atomic types get min/max; everything else (binary,
    * arrays, structs) records NULL bounds — stats stay total over any
    * schema without claiming an order that doesn't exist. */
  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** EXACT mode runs its count_distincts in batches of this many
    * columns per pass: Catalyst plans k distincts in one aggregate as
    * an Expand×(k+1) whose per-task hash maps hold k columns' partial
    * distinct sets CONCURRENTLY — on a wide high-NDV table that
    * multiplies working-set by the column count and OOMs long before
    * the sort-based fallback can help (measured: 16-column lineitem
    * at 60M rows × 32 tasks × 8 GB heap). Batching bounds the
    * concurrent distinct mass at ceil(k/B) scans — the
    * scans-for-memory trade a scheduled ANALYZE wants. Approx mode
    * needs no batching: HLL++ registers are constant-size. */
  val ExactNdvBatch = 4

  /** The stats aggregates, exploded driver-side into the
    * column-count-sized artifact frame (the collects are bounded by
    * the TABLE'S COLUMN COUNT — metadata-sized). Pass 0 is the
    * Expand-free scan (count/nulls/min/max + approx NDVs when in
    * approx mode); exact mode adds ceil(k/[[ExactNdvBatch]])
    * distinct passes. */
  private def profile(df: DataFrame, exact: Boolean): Seq[ColStats] = {
    val cols = df.schema.fields
    // maps are neither orderable nor hashable in Spark — a map
    // column records ndv = -1 ("unknown") rather than failing the
    // whole ANALYZE
    def ndvOf(f: org.apache.spark.sql.types.StructField): Column =
      if (f.dataType.isInstanceOf[MapType]) lit(-1L)
      else if (exact) count_distinct(col(f.name))
      else approx_count_distinct(col(f.name))
    val baseAggs: Seq[Column] = count(lit(1)).as("_n") +: cols.flatMap { f =>
      val c = col(f.name)
      val bounds =
        if (orderable(f.dataType))
          Seq(min(c).cast(StringType), max(c).cast(StringType))
        else Seq(lit(null).cast(StringType), lit(null).cast(StringType))
      (count(c) +: bounds) ++
        (if (exact) Nil else Seq(ndvOf(f)))
    }.toSeq
    val w = if (exact) 3 else 4
    val r: Row = df.agg(baseAggs.head, baseAggs.tail: _*).head()
    val n = r.getLong(0)
    val ndvByName: Map[String, Long] =
      if (!exact)
        cols.zipWithIndex.map { case (f, i) => f.name -> r.getLong(1 + i * w + 3) }.toMap
      else cols.grouped(ExactNdvBatch).flatMap { batch =>
        val aggs = batch.map(ndvOf)
        val br: Row = df.agg(aggs.head, aggs.tail: _*).head()
        batch.zipWithIndex.map { case (f, i) => f.name -> br.getLong(i) }
      }.toMap
    cols.zipWithIndex.map { case (f, i) =>
      val base = 1 + i * w
      ColStats(f.name, n, n - r.getLong(base), ndvByName(f.name),
        Option(r.getString(base + 1)), Option(r.getString(base + 2)), exact)
    }.toSeq
  }

  /** Commit `df` as the stats artifact at `path` (every stats
    * artifact is one small parquet). */
  private def commitData(path: String, dir: String, table: String)(
      df: DataFrame): Unit =
    EnsureWatermark.commitData(path, dir, table)(df.coalesce(1).write.parquet(_))

  /** MEMOIZED artifact read (r12 advice #1: the plan-time metadata
    * reads inside optimizer rules were unmemoized Spark jobs — one
    * `spark.read.parquet().collect()` per candidate join per
    * optimization): `load` of the current commit's data part, run
    * once per commit through [[EnsureWatermark.memo]]; the currency
    * probe itself is FS metadata, recomputed every call. None — and
    * no read — when the artifact is absent, torn, stale or vetoed,
    * so proof-path callers ([[uniqueNonNull]]) fail closed. */
  private def served[T](path: String)(load: String => T): Option[T] =
    EnsureWatermark.current(path).map(st =>
      EnsureWatermark.memo(path, st.version)(load(st.part(path, "data"))))

  private def writeStats(s: SparkSession, dir: String, table: String,
      exact: Boolean): Unit = {
    import s.implicits._
    commitData(statsPath(dir, table), dir, table)(
      profile(graft.Tables(s, dir, table), exact).toDF())
  }

  private def currentStats(s: SparkSession, dir: String,
      table: String): Option[Map[String, ColStats]] =
    served(statsPath(dir, table))(collectStats(s, _))

  /** ANALYZE once per (table fingerprint, lifetime); exact NDV by
    * default — see the class scaladoc for the Expand-cost trade.
    * An existing APPROX-mode artifact is UPGRADED in place (r12
    * advice: an ensureApprox that ran first must not permanently
    * mask the exact build — uniqueNonNull would stay false for the
    * table's lifetime and join elimination silently off). The mode
    * check is served by the memoized read, so it costs one job per
    * artifact build, not one per call. */
  def ensure(s: SparkSession, dir: String, table: String): Unit =
    if (!currentStats(s, dir, table).exists(_.values.forall(_.exact)))
      writeStats(s, dir, table, exact = true)

  /** The always-on profile path: HLL++ NDV, one plain pass, no
    * Expand. Advisory-grade only — [[uniqueNonNull]] refuses it. */
  def ensureApprox(s: SparkSession, dir: String, table: String): Unit =
    if (EnsureWatermark.current(statsPath(dir, table)).isEmpty)
      writeStats(s, dir, table, exact = false)

  /** Repair/upgrade path: a fresh exact commit. */
  def reEnsure(s: SparkSession, dir: String, table: String): Unit =
    writeStats(s, dir, table, exact = true)

  /** Parsed stats by column name (column-count-sized collect,
    * served through the stamp-keyed memo). */
  def stats(s: SparkSession, dir: String, table: String): Map[String, ColStats] = {
    ensure(s, dir, table)
    currentStats(s, dir, table).get
  }

  /** The persisted stats frame (column, n, nulls, ndv, min, max,
    * exact) — the q62 serving face. */
  def statsDf(s: SparkSession, dir: String, table: String): DataFrame = {
    ensure(s, dir, table)
    val path = statsPath(dir, table)
    IndexStore.readAs(s, StatsDdl, EnsureWatermark.current(path).get.part(path, "data"))
  }

  /** Non-building read face for PLAN-TIME consumers (the Selinger
    * estimator): the persisted stats when the artifact is current,
    * None otherwise — never launches an ANALYZE (and never triggers
    * [[ensure]]'s approx→exact upgrade, which is a build-path
    * decision). Served through the stamp-keyed memo. */
  def statsIfReady(s: SparkSession, dir: String,
      table: String): Option[Map[String, ColStats]] =
    currentStats(s, dir, table)

  // fixed artifact schemas (writers above) — see IndexStore.readAs
  private val StatsDdl =
    "column STRING, n BIGINT, nulls BIGINT, ndv BIGINT, " +
      "min STRING, max STRING, exact BOOLEAN"

  /** Test seam: number of actual stats-parquet collects — the
    * memoization spec's receipt. */
  private[graft] val statsArtifactReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def collectStats(s: SparkSession, path: String): Map[String, ColStats] = {
    statsArtifactReads.incrementAndGet()
    IndexStore.readAs(s, StatsDdl, path).collect().map { r =>
      val cs = ColStats(r.getAs[String]("column"), r.getAs[Long]("n"),
        r.getAs[Long]("nulls"), r.getAs[Long]("ndv"),
        Option(r.getAs[String]("min")), Option(r.getAs[String]("max")),
        r.getAs[Boolean]("exact"))
      cs.column -> cs
    }.toMap
  }

  /** PROOF face: true iff `column`'s non-null values are pairwise
    * distinct, proven by EXACT-mode stats that are still current —
    * artifact fingerprint matches the raw table's listing (a mutated
    * table re-keys the path) AND the commit is intact (nothing
    * touched the artifact). Fails closed on any doubt: absent stats,
    * approx mode, a vetoed or torn commit all return false, so the
    * join-elimination rewrite leaves the plan untouched rather than
    * risking a wrong cardinality. Never builds stats itself — an
    * optimizer rule must not launch jobs; the stats collect is
    * served by the stamp-keyed memo, so N optimizations of the same
    * table pay ONE job (spec-pinned), each still paying the
    * fail-closed stamp probe. */
  def uniqueNonNull(s: SparkSession, dir: String, table: String,
      column: String): Boolean =
    currentStats(s, dir, table).exists(_.get(column)
      .exists(st => st.exact && st.uniqueNonNull))

  /** Raw on-disk footprint of `<dir>/<table>.parquet` — the broadcast
    * decision's input (compressed bytes; the planner's own
    * autoBroadcastJoinThreshold compares the same statistic). */
  def tableBytes(dir: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val (fs, _) = IndexStore.fsOf(p.toString)
    fs.getContentSummary(p).getLength
  }

  /** Stats-driven join planning advice — what a CBO derives from
    * exactly these statistics (public design: Spark's own
    * JoinSelection + skew-join literature). Deliberately ADVICE, not
    * a forced hint: the verdict history here (kAnonymize r9,
    * TemporalEnrich r11, IncrementalJoin r11) is that forced hints
    * bypass the planner's size checks and OOM at the tail — so this
    * returns the decision with its evidence and lets the caller (or
    * AQE) hold the veto. */
  sealed trait JoinAdvice
  /** One side fits the broadcast budget: hash-join it everywhere. */
  final case class BroadcastSide(table: String, bytes: Long) extends JoinAdvice
  /** Key frequency is skewed enough to salt (avgFreq over the
    * threshold): pre-split hot keys or lean on AQE skew handling. */
  final case class SaltedShuffle(avgFreq: Double) extends JoinAdvice
  /** Default: plain shuffled hash/sort-merge on the key. */
  case object PlainShuffle extends JoinAdvice

  /** Dictionary-encodability screen ([[Dictionary]]'s build-or-not
    * call): a column is dictionary-shaped when its NDV is small
    * enough that the (value, code) table stays a broadcastable dim
    * AND the encoding actually compresses (NDV ≪ rows — a
    * near-unique column's dictionary is as big as the column).
    * Advisory, so approx-mode stats serve. */
  def dictionaryShaped(s: SparkSession, dir: String, table: String,
      column: String, maxNdv: Long = 1L << 22): Boolean =
    // statsIfReady, not stats(): an advisory screen must never launch
    // (or upgrade) an ANALYZE at decision time — absent stats answer
    // "not shaped", and adviseAnalyze is how the artifact gets built
    // (r13 review finding: stats()'s ensure could fire the full exact
    // Expand pass from inside a plan-time call)
    statsIfReady(s, dir, table).flatMap(_.get(column)).exists { st =>
      st.ndv > 0 && st.ndv <= maxNdv && st.ndv * 4 <= (st.n - st.nulls)
    }

  def adviseJoin(s: SparkSession, dir: String, leftTable: String,
      rightTable: String, key: String,
      broadcastBytes: Long = 32L * 1024 * 1024,
      skewAvgFreq: Double = 64.0): JoinAdvice =
    adviseJoinSides(s, dir, leftTable, key, dir, rightTable, key,
      broadcastBytes, skewAvgFreq)

  /** Two-sided generalization of [[adviseJoin]] — the form the
    * TRANSPARENT steering rule ([[graft.plans
    * .TransparentJoinSteeringRule]], D93) needs, where the two join
    * legs may live in different directories and join on differently
    * named columns (`l_orderkey = o_orderkey`). Same decision
    * procedure, same fail-closed artifact reads; ties between
    * equal-sized sides broadcast the RIGHT one (the `rb <= lb` arm),
    * a deterministic convention callers can rely on. */
  /** `useMcv = true` (r15, the estimateRows-flag contract: OPT-IN is
    * the declaration of which algebra runs) additionally lets the
    * skew diagnosis read each key's MCV list (D92) when neither the
    * exact nor the maintained profile serves — the MCV top frequency
    * IS a max-frequency lower bound, which is exactly the signal the
    * dispatch needs; q69/q83's replayed decisions pin the default
    * algebra unchanged. */
  def adviseJoinSides(s: SparkSession,
      leftDir: String, leftTable: String, leftKey: String,
      rightDir: String, rightTable: String, rightKey: String,
      broadcastBytes: Long = 32L * 1024 * 1024,
      skewAvgFreq: Double = 64.0,
      useMcv: Boolean = false): JoinAdvice = {
    val lb = tableBytes(leftDir, leftTable)
    val rb = tableBytes(rightDir, rightTable)
    if (math.min(lb, rb) <= broadcastBytes) {
      if (rb <= lb) BroadcastSide(rightTable, rb)
      else BroadcastSide(leftTable, lb)
    } else {
      // prefer the key profile's MAX frequency when one exists: the
      // mean n/ndv is blind to zipfian skew (one hot key among a
      // million uniform ones barely moves the average — exactly the
      // key that melts a shuffle partition); fall back to avgFreq
      // when no profile was built. An ensured-but-EMPTY profile
      // proves only max_freq < hotFreq (1000 by default) — a bound
      // ABOVE the skew threshold (64 by default), so it must fall
      // through to avgFreq too, not report 0 (r12 advice, medium: a
      // key with true max frequency between the thresholds is real
      // skew, and degrading to PlainShuffle there would be strictly
      // worse advice than having no profile at all)
      val freq = Seq((leftDir, leftTable, leftKey),
          (rightDir, rightTable, rightKey)).flatMap { case (d, t, key) =>
        keyProfile(s, d, t, key).flatMap {
          case (Nil, _) => None
          case (_, f) => Some(f.toDouble)
        }.orElse(
          // statsIfReady: advice reads AVAILABLE metadata only — an
          // un-ANALYZEd table contributes no frequency signal rather
          // than triggering a decision-time ANALYZE (r13 review);
          // the MAINTAINED tier (D91/D94) serves when the exact
          // catalog went stale under appends — first the maintained
          // KEY profile's max frequency (the skew signal itself,
          // kept fresh at O(batch)), then the maintained mean —
          // approx stats are exactly advisory-grade
          StatsMaintain.keyProfileIfCurrent(s, d, t, key).flatMap {
            case (Nil, _) => None
            case (_, f) => Some(f.toDouble)
          }).orElse(
          // MCV tier (opt-in): the list's top frequency is an exact
          // max-frequency LOWER bound for the column — a key the
          // bound calls hot IS hot (the maintained profile's own
          // lower-bound argument); the O(batch)-MAINTAINED list
          // (D105) serves when the exact one went stale under appends
          if (useMcv) mcvIfReady(s, d, t, key)
            .orElse(StatsMaintain.mcvMaintIfCurrent(s, d, t, key))
            .flatMap(_.headOption).map(_._2.toDouble)
          else None).orElse(
          statsIfReady(s, d, t).flatMap(_.get(key)).map(_.avgFreq)
            .orElse(StatsMaintain.statsIfCurrent(s, d, t)
              .flatMap(_.get(key))
              .filter(_.ndvEst > 0)
              .map(m => (m.n - m.nulls).toDouble / m.ndvEst)))
      }
      val worst = if (freq.isEmpty) 0.0 else freq.max
      if (worst >= skewAvgFreq) SaltedShuffle(worst) else PlainShuffle
    }
  }

  /** DEEP key profile — the per-key pass the one-row table profile
    * cannot see: `ANALYZE`'s column stats give n/ndv (the MEAN key
    * frequency), but shuffle-join skew is governed by the MAX — a
    * zipfian corpus keeps the mean tiny while one hot key owns a
    * partition. One groupBy job per ensure persists (ndv, max_freq)
    * plus the hot-key list above `hotFreq` (capped — a profile is
    * metadata, not a copy of the column), which is exactly the salt
    * set [[SkewJoin.saltedJoinHot]] consumes: only profiled keys
    * salt, only their dim rows replicate. Same lifecycle as every
    * stats artifact: fingerprint-keyed, stamp-committed. */
  def keyProfilePath(dir: String, table: String, column: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, table)}/stats_${table}_key_$column"

  def ensureKeyProfile(s: SparkSession, dir: String, table: String,
      column: String, hotFreq: Long = 1000L, maxHot: Int = 1024): Unit = {
    val path = keyProfilePath(dir, table, column)
    if (EnsureWatermark.current(path).isEmpty)
      commitData(path, dir, table)(graft.Tables(s, dir, table)
        .where(col(column).isNotNull)
        .groupBy(col(column).cast(StringType).as("key"))
        .agg(count(lit(1)).as("freq"))
        .where(col("freq") >= hotFreq)
        .orderBy(col("freq").desc, col("key"))
        .limit(maxHot))
  }

  /** (hot keys ranked by frequency, max frequency) — None when no
    * profile was ensured. An EMPTY profile is meaningful: no key
    * reaches the hot threshold, so max_freq is bounded by it.
    * Stamp-memoized like [[statsIfReady]]: the steering rule reads it
    * at optimize time, once per join side. */
  def keyProfile(s: SparkSession, dir: String, table: String,
      column: String): Option[(Seq[String], Long)] =
    served(keyProfilePath(dir, table, column)) { data =>
      val rows = IndexStore.readAs(s, "key STRING, freq BIGINT", data)
        .orderBy(col("freq").desc, col("key")).collect()
      (rows.map(_.getString(0)).toSeq,
        rows.headOption.map(_.getLong(1)).getOrElse(0L))
    }

  // ------------------------------------------------------------------
  // COLUMN-GROUP statistics (D87) — multi-column NDV + functional
  // dependencies. The single-column catalog forces the Selinger
  // estimator into the independence assumption, which overestimates
  // every correlated GROUP BY / conjunct by the correlation factor
  // (the classic CBO failure; Oracle extended stats / DB2 column
  // groups / SQL Server multi-column stats are the public fix).
  // One count-distinct-of-struct pass per declared group persists
  // ndv(c1..ck); ndv(a,b) == ndv(a) additionally PROVES the
  // functional dependency a → b (exact-mode only, the uniqueNonNull
  // exactness discipline — an FD is a semantic claim).
  // ------------------------------------------------------------------

  /** One persisted column group: NDV of the column TUPLE. */
  final case class GroupStats(columns: Seq[String], n: Long, ndv: Long,
      exact: Boolean)

  def groupStatsPath(dir: String, table: String, columns: Seq[String]): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, table)}/stats_${table}_grp_${columns.sorted.mkString("__")}"

  /** ANALYZE one column group (exact, one distinct pass over the
    * k-tuple — a single struct hash map, not the k-wide Expand the
    * batched single-column pass avoids). Fingerprint-keyed +
    * stamp-committed like every stats artifact. */
  def ensureColumnGroup(s: SparkSession, dir: String, table: String,
      columns: Seq[String]): Unit = {
    require(columns.size >= 2, "a column group needs at least 2 columns")
    val cols = columns.sorted
    val path = groupStatsPath(dir, table, cols)
    if (EnsureWatermark.current(path).isDefined) return
    import s.implicits._
    val df = graft.Tables(s, dir, table)
    val r = df.agg(count(lit(1)).as("n"),
      count_distinct(struct(cols.map(col): _*)).as("ndv")).head()
    commitData(path, dir, table)(
      Seq((cols.mkString(","), r.getLong(0), r.getLong(1), true))
        .toDF("columns", "n", "ndv", "exact"))
  }

  /** Non-building read face: the group's stats when the artifact is
    * current, None otherwise — never launches an ANALYZE.
    * Stamp-memoized like [[statsIfReady]]. */
  def columnGroupIfReady(s: SparkSession, dir: String, table: String,
      columns: Seq[String]): Option[GroupStats] = {
    val cols = columns.sorted
    served(groupStatsPath(dir, table, cols)) { data =>
      val r = IndexStore.readAs(s,
        "columns STRING, n BIGINT, ndv BIGINT, exact BOOLEAN", data).head()
      GroupStats(cols, r.getAs[Long]("n"), r.getAs[Long]("ndv"),
        r.getAs[Boolean]("exact"))
    }
  }

  // ------------------------------------------------------------------
  // MCV (most-common-value) statistics (D92) — the skew fix for the
  // Selinger estimator. Single-column stats force equality and
  // equi-join selectivities into the uniformity assumption (1/ndv
  // per value), which is blind to exactly the zipfian keys that melt
  // shuffle partitions at 100 TB. A per-column MCV list (PostgreSQL's
  // pg_stats most_common_vals, Oracle frequency histograms, SQL
  // Server stats histograms — public designs) records the top-k
  // values WITH their exact frequencies; the estimator then serves
  // an MCV-hit equality at its true frequency and spreads only the
  // REMAINDER uniformly over the remaining ndv−k values. One groupBy
  // pass per ensure; the artifact is k rows — metadata, not a copy
  // of the column. Same lifecycle as every stats artifact:
  // fingerprint-keyed, stamp-committed, stamp-memoized reads,
  // fail-closed to the uniform formula when absent or stale.
  // ------------------------------------------------------------------

  def mcvPath(dir: String, table: String, column: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, table)}/stats_${table}_mcv_$column"

  /** ANALYZE one column's MCV list: top `k` values by (freq DESC,
    * rendered value ASC) — the tiebreak makes the set DETERMINISTIC,
    * so an oracle recomputing the same ranking lands on the same set
    * (the q81 gate's precondition). Values persist as canonical
    * string renderings (the min/max discipline); k is baked into the
    * artifact — re-ensuring with a different k is a no-op until the
    * table's fingerprint moves. */
  def ensureMcv(s: SparkSession, dir: String, table: String,
      column: String, k: Int = 32): Unit = {
    val path = mcvPath(dir, table, column)
    if (EnsureWatermark.current(path).isEmpty)
      commitData(path, dir, table)(graft.Tables(s, dir, table)
        .where(col(column).isNotNull)
        .groupBy(col(column).cast(StringType).as("value"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("value"))
        .limit(k))
  }

  /** Cheap MCV-TIER STAMP for one table (r16, the learned-tier memo
    * key): the commit versions of both tiers' artifacts — the exact
    * MCV lists (they live under the table's fingerprint dir, so a
    * table mutation re-keys automatically) and the maintained lists.
    * Any build, maintenance, or retirement of either tier changes it
    * — one listing per tier root plus FS metadata per artifact, no
    * jobs. */
  def mcvTierStamp(dir: String, table: String): String = {
    def tier(root: String, prefix: String)(stamp: String => String): String = {
      val (fs, p) = IndexStore.fsOf(root)
      if (!fs.exists(p)) "absent"
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith(prefix)).sorted
        .map(n => s"$n=${stamp(s"$root/$n")}").mkString(",")
    }
    val exact = tier(
      s"${IndexStore.root}/${IndexStore.fingerprint(dir, table)}",
      s"stats_${table}_mcv_")(EnsureWatermark.current(_)
        .fold("torn")(_.version))
    val maint = tier(StatsMaintain.maintPath(dir, table), "mcv_")(
      EnsureWatermark.stampOf(_).fold("absent")(_.version))
    s"$exact;$maint"
  }

  /** Non-building read face: the (value, freq) list ranked
    * (freq DESC, value ASC) when the artifact is current, None
    * otherwise — never launches an ANALYZE. Stamp-memoized like
    * [[statsIfReady]]. */
  def mcvIfReady(s: SparkSession, dir: String, table: String,
      column: String): Option[Seq[(String, Long)]] =
    served(mcvPath(dir, table, column)) { data =>
      IndexStore.readAs(s, "value STRING, freq BIGINT", data)
        .orderBy(col("freq").desc, col("value")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }

  /** FD PROOF face: Some(true) iff `a → b` — every value of `a`
    * co-occurs with exactly one value of `b` — proven by EXACT,
    * current group stats (ndv(a,b) == ndv(a), null-free `a`; a NULL
    * in `a` could hide two b-values under one "key"). None when
    * either artifact is absent/stale: like [[uniqueNonNull]], an FD
    * licenses semantic decisions, so no answer beats a guess. */
  def determines(s: SparkSession, dir: String, table: String,
      a: String, b: String): Option[Boolean] =
    for {
      g <- columnGroupIfReady(s, dir, table, Seq(a, b))
      if g.exact
      st <- statsIfReady(s, dir, table).flatMap(_.get(a))
      if st.exact && st.nulls == 0
    } yield g.ndv == st.ndv
}
