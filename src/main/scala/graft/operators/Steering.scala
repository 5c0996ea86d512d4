package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.CardinalityEstimator

/** PLAN STEERING — the layer that makes the engine-brain artifacts
  * ACT (r12 verdict #1: "advice no plan consumes is not an
  * optimizer"). The stats catalog ([[StatsCatalog]], D77) advises,
  * the key profile diagnoses skew, the Selinger estimator
  * ([[CardinalityEstimator]], D82) predicts sizes — this object is
  * where those three artifacts steer a concrete physical plan, the
  * way every CBO's join-selection stage does (Spark's own
  * JoinSelection, System-R's plan enumeration — public designs):
  *
  *  - [[advisedJoin]] DISPATCHES on [[StatsCatalog.adviseJoin]]:
  *    a within-budget side broadcasts; a profiled-skewed key runs
  *    [[SkewJoin.saltedJoinHot]] with the profile's own hot-key salt
  *    set; everything else shuffles plain — and for the shuffle
  *    paths the ESTIMATOR sizes the exchange (estimated join rows /
  *    target rows-per-partition), so a 10× corpus plans 10× the
  *    partitions without anyone retuning a conf. The decision is
  *    returned with the frame so specs pin plan-shape-by-fixture.
  *  - [[broadcastIfSmall]] licenses a broadcast hint off the
  *    estimate of a FILTERED intermediate — the case Spark's own
  *    planner without CBO stats cannot see (it sizes the whole file,
  *    not the filter's survivors). Fail-closed: no stats or an
  *    over-budget estimate → no hint, the planner's own size checks
  *    keep the veto (the r9/r11 forced-hint lesson).
  *
  * Every decision input is a kilobyte-sized persisted artifact (one
  * ANALYZE pass per table lifetime, one groupBy per key profile);
  * nothing here scans data at decision time. At 100 TB that is the
  * difference between a planner and a guess: the hot key that melts
  * one reducer is salted BEFORE the job runs, the 0.1%-selective
  * dimension filter broadcasts instead of shuffling 10 TB of fact
  * rows, and both choices flip automatically when the stats say the
  * shape changed. */
object Steering {

  /** What [[advisedJoin]] decided, for plan pinning: the advice it
    * dispatched on, the hot-key salt set it applied (empty unless
    * the salted path ran), and the estimator-chosen exchange
    * partition count (None when no estimate was available or no
    * shuffle was planned). */
  final case class Decision(
      advice: StatsCatalog.JoinAdvice,
      hotKeys: Seq[String],
      partitions: Option[Int])

  /** Estimator-sized exchange partition count: estimated output rows
    * of `df` / `targetRowsPerPartition`, clamped to [1, maxPartitions].
    * None when any leaf lacks ANALYZE stats — the caller falls back
    * to the session default rather than a guess. */
  def shufflePartitionsFor(s: SparkSession, df: DataFrame,
      targetRowsPerPartition: Long, maxPartitions: Int = 4096): Option[Int] =
    CardinalityEstimator.estimateRows(s, df).map { rows =>
      val n = (rows + targetRowsPerPartition - 1) / targetRowsPerPartition
      n.min(maxPartitions).max(1).toInt
    }

  /** Broadcast `df` iff the ESTIMATOR proves it small (≤ `maxRows`):
    * the filtered-intermediate case — a 0.1%-selective predicate over
    * a huge table yields a broadcastable frame that file-size-based
    * planning can never license. Fail-closed on absent stats or an
    * over-budget estimate: the frame returns un-hinted and the
    * planner's own size checks decide (never the forced hint that
    * OOMs at the tail). Returns the (possibly hinted) frame and
    * whether the hint was applied, for plan pinning. */
  def broadcastIfSmall(s: SparkSession, df: DataFrame,
      maxRows: Long): (DataFrame, Boolean) =
    CardinalityEstimator.estimateRows(s, df) match {
      case Some(rows) if rows <= BigInt(maxRows) => (broadcast(df), true)
      case _ => (df, false)
    }

  /** One piece of workload-driven ANALYZE advice: which artifact to
    * build so the engine brain can see this workload. */
  final case class AnalyzeAdvice(kind: String, dir: String, table: String,
      columns: Seq[String])

  /** WORKLOAD-DRIVEN STATS ADVISOR — answers "which ANALYZE jobs
    * should tonight's maintenance window run?" from the queries
    * themselves (SQL Server auto-stats, Oracle's dbms_stats advisors
    * — public designs). Walks each plan at metadata cost and reports
    * the artifacts the engine-brain consumers would use but cannot
    * find:
    *
    *  - `table_stats`: a file leaf with no stats artifact — blocks
    *    the estimator (and everything downstream of it) entirely;
    *  - `column_group`: a multi-attribute GROUP BY whose attributes
    *    all trace untouched to one table, with no tuple-NDV artifact
    *    — the correlated-group-by estimate runs on independence;
    *  - `key_profile`: an equi-join key column with no per-key
    *    profile — skew stays invisible to [[adviseJoin]]'s max-
    *    frequency path;
    *  - `mcv`: an equality-against-literal filter column with no
    *    most-common-value list — the skew-aware estimator tier
    *    (D92) runs uniform exactly where the workload filters;
    *  - `feedback`: a plan the estimator cannot cost at all (a
    *    shape outside the algebra, over fully-ANALYZEd tables) —
    *    one recorded execution ([[CardFeedback.record]], D96) makes
    *    it estimable.
    *
    * ADVICE, not action: the caller owns the maintenance window (an
    * advisor that launched scans would be an ANALYZE, not an
    * advisor). Deterministic order (kind, table, columns) for
    * replayable reports; deduplicated across the workload. */
  def adviseAnalyze(s: SparkSession,
      workload: Seq[DataFrame]): Seq[AnalyzeAdvice] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def tableOf(rel: LogicalRelation): Option[(String, String)] =
      rel.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.toList match {
          case p :: Nil if p.getName.endsWith(".parquet") =>
            Some((p.getParent.toString, p.getName.stripSuffix(".parquet")))
          case _ => None
        }
        case _ => None
      }
    val advice = scala.collection.mutable.LinkedHashSet[AnalyzeAdvice]()
    workload.zipWithIndex.foreach { case (df, wi) =>
      val plan = df.queryExecution.analyzed
      val rels = plan.collect { case r: LogicalRelation => r }
      def sourceOf(a: AttributeReference): Option[(String, String)] =
        rels.find(_.output.exists(_.exprId == a.exprId)).flatMap(tableOf)
      val allAnalyzed = rels.flatMap(tableOf).map { case (dir, table) =>
        val ready = StatsCatalog.statsIfReady(s, dir, table).isDefined
        if (!ready) advice += AnalyzeAdvice("table_stats", dir, table, Nil)
        // `degraded_stats` (r16): the maintained artifact is CURRENT
        // but delete-degraded — n/nulls exact, min/max/NDV one-sided
        // bounds — and only a full re-ANALYZE restores exactness;
        // this is the named repair the deleteMaintain contract owes
        if (StatsMaintain.statsDegraded(s, dir, table))
          advice += AnalyzeAdvice("degraded_stats", dir, table, Nil)
        ready
      }.forall(identity)
      // `feedback`: a keyable plan the algebra cannot cost even with
      // every leaf ANALYZEd (table_stats is the right advice until
      // then) and no observation recorded — one execution fixes it.
      // `dir` carries the workload position so the maintenance
      // window knows WHICH plan to record; `table` the record key's
      // prefix for cross-referencing the artifact.
      if (allAnalyzed && rels.nonEmpty &&
          graft.plans.CardinalityEstimator.estimateRows(s, df).isEmpty &&
          CardFeedback.observed(s, plan).isEmpty)
        ResultCache.keyOf(plan).foreach { key =>
          advice += AnalyzeAdvice("feedback", s"workload[$wi]",
            key.take(12), Nil)
        }
      plan.foreach {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
          // `mcv`: equality-against-literal columns without an MCV
          // list — the D92 skew tier runs uniform exactly where the
          // workload filters
          def eqAttr(e: org.apache.spark.sql.catalyst.expressions.Expression)
              : Seq[AttributeReference] = e match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              eqAttr(l) ++ eqAttr(r)
            case org.apache.spark.sql.catalyst.expressions
              .EqualTo(a: AttributeReference,
                _: org.apache.spark.sql.catalyst.expressions.Literal) => Seq(a)
            case org.apache.spark.sql.catalyst.expressions
              .EqualTo(_: org.apache.spark.sql.catalyst.expressions.Literal,
                a: AttributeReference) => Seq(a)
            case _ => Nil
          }
          eqAttr(cond).foreach { a =>
            sourceOf(a).foreach { case (dir, table) =>
              if (StatsCatalog.mcvIfReady(s, dir, table, a.name).isEmpty)
                advice += AnalyzeAdvice("mcv", dir, table, Seq(a.name))
            }
          }
        case Aggregate(groups, _, _, _) if groups.size >= 2 &&
            groups.forall(_.isInstanceOf[AttributeReference]) =>
          val attrs = groups.map(_.asInstanceOf[AttributeReference])
          val per = attrs.flatMap(sourceOf)
          if (per.distinct.size == 1 && per.size == attrs.size) {
            val (dir, table) = per.head
            val cols = attrs.map(_.name).sorted
            if (StatsCatalog.columnGroupIfReady(s, dir, table, cols).isEmpty)
              advice += AnalyzeAdvice("column_group", dir, table, cols)
          }
        case Join(_, _, _, Some(cond), _) =>
          cond.collect {
            case org.apache.spark.sql.catalyst.expressions
              .EqualTo(a: AttributeReference, b: AttributeReference) => Seq(a, b)
          }.flatten.foreach { a =>
            sourceOf(a).foreach { case (dir, table) =>
              if (StatsCatalog.keyProfile(s, dir, table, a.name).isEmpty)
                advice += AnalyzeAdvice("key_profile", dir, table, Seq(a.name))
            }
          }
        case _ => ()
      }
    }
    advice.toSeq.sortBy(a => (a.kind, a.table, a.columns.mkString(",")))
  }

  /** ADMISSION CONTROL — the third decision the estimator's scaladoc
    * promises (after exchange sizing and broadcast licensing): refuse
    * to RUN a plan whose estimated output exceeds `maxRows`, BEFORE
    * the cluster burns a day materializing 10¹² rows someone's BI
    * tool generated by accident (workload-management governors in
    * every warehouse — public design). ADVISORY fail-open: a plan the
    * estimator cannot cost is admitted — a governor that blocked
    * every un-ANALYZEd table would make ANALYZE a prerequisite for
    * running queries, inverting the advice contract (the estimate is
    * allowed to be missing; the REFUSAL must never be wrong about
    * why). Returns the estimate so the caller can log its evidence. */
  def assertAdmissible(s: SparkSession, df: DataFrame,
      maxRows: Long): Option[BigInt] = {
    val est = CardinalityEstimator.estimateRows(s, df)
    est.foreach { rows =>
      require(rows <= BigInt(maxRows),
        s"plan refused by admission control: estimated $rows output rows " +
          s"exceeds the $maxRows budget (raise the budget or narrow the query)")
    }
    est
  }

  /** Inner equi-join of `<dir>/<factTable>.parquet` with
    * `<dir>/<dimTable>.parquet` on `key`, with the physical strategy
    * CHOSEN by the persisted statistics (see class scaladoc).
    * `saltOn` seeds the deterministic salt should the skew path run
    * (a row-stable fact column). The estimator sizes the exchange on
    * both shuffle paths; broadcast plans need no sizing. */
  def advisedJoin(
      s: SparkSession,
      dir: String,
      factTable: String,
      dimTable: String,
      key: String,
      saltOn: Column,
      factor: Int = 8,
      broadcastBytes: Long = 32L * 1024 * 1024,
      skewAvgFreq: Double = 64.0,
      targetRowsPerPartition: Long = 1L << 20): (DataFrame, Decision) = {
    val fact = graft.Tables(s, dir, factTable)
    val dim = graft.Tables(s, dir, dimTable)
    val advice = StatsCatalog.adviseJoin(s, dir, factTable, dimTable, key,
      broadcastBytes, skewAvgFreq)
    advice match {
      case StatsCatalog.BroadcastSide(t, _) =>
        val joined =
          if (t == dimTable) fact.join(broadcast(dim), Seq(key))
          else broadcast(fact).join(dim, Seq(key))
        (joined, Decision(advice, Nil, None))
      case StatsCatalog.SaltedShuffle(_) =>
        // hot set: the exact profile while its fingerprint is live,
        // else the O(batch)-maintained profile (D94) — after a day of
        // appends the salt set survives without a corpus re-profile
        val hot = StatsCatalog.keyProfile(s, dir, factTable, key)
          .map(_._1)
          .orElse(StatsMaintain.keyProfileIfCurrent(s, dir, factTable, key)
            .map(_._1))
          .getOrElse(Nil)
        val parts = shufflePartitionsFor(s,
          fact.join(dim, Seq(key)), targetRowsPerPartition)
        (SkewJoin.saltedJoinHot(fact, dim, key, saltOn, factor, hot,
          partitions = parts), Decision(advice, hot, parts))
      case StatsCatalog.PlainShuffle =>
        val parts = shufflePartitionsFor(s,
          fact.join(dim, Seq(key)), targetRowsPerPartition)
        val joined = parts match {
          case Some(n) =>
            fact.repartition(n, col(key))
              .join(dim.repartition(n, col(key)), Seq(key))
          case None => fact.join(dim, Seq(key))
        }
        (joined, Decision(advice, Nil, parts))
    }
  }

  /** The artifact path of the steering fixture `name` derived from
    * `dir`'s events. */
  private[graft] def fixturePath(dir: String, name: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/$name"

  /** One steering fixture: its tables are the `parts` of ONE stamped
    * commit at [[fixturePath]], derived once per events fingerprint
    * by `write` (which receives the fresh version directory). Returns
    * the committed version directory — the fixture's `dir` for
    * [[graft.Tables]] and [[StatsCatalog]]. */
  private def fixture(dir: String, name: String, parts: String*)(
      write: String => Unit): String = {
    val path = fixturePath(dir, name)
    EnsureWatermark.ensured(path, parts, dir, "events")(write).dir(path)
  }

  /** A skewed fact derived from events: `k = hot` for every row whose
    * user_id ≡ 0 (mod `mod`), `k = event_id` (near-unique) for the
    * tail. */
  private def hotFact(s: SparkSession, dir: String, mod: Long,
      hot: Long): DataFrame =
    graft.Tables(s, dir, "events").select(
      when(col("user_id") % mod === 0, lit(hot))
        .otherwise(col("event_id")).as("k"),
      col("event_id"), col("value"))

  /** The distinct keys of `fact` with a derived `seg = k mod segs`. */
  private def segDim(fact: DataFrame, segs: Long): DataFrame =
    fact.select(col("k")).distinct()
      .withColumn("seg", pmod(col("k"), lit(segs)))

  /** The q69 SKEW FIXTURE, derived DETERMINISTICALLY from the events
    * table so the DuckDB oracle replays it with one CASE expression:
    * `k = -1` for every row of the user_id ≡ 0 (mod 3) third of the
    * corpus (ONE hot key owning ~33% of the fact — the zipfian head
    * that melts a shuffle partition), `k = event_id` (near-unique)
    * for the tail; the dim is the distinct key set with a derived
    * `seg` attribute, near-fact-sized so no honest budget can
    * broadcast it. Committed once per events fingerprint under the
    * artifact root (the raw sf dir is read-only), as plain parquet
    * tables [[StatsCatalog]] / [[graft.Tables]] can serve. */
  def ensureSkewFixture(s: SparkSession, dir: String): String =
    fixture(dir, "steer_fixture", "skew_fact.parquet", "skew_dim.parquet") { v =>
      val fact = hotFact(s, dir, 3L, -1L)
      fact.write.parquet(s"$v/skew_fact.parquet")
      segDim(fact, 7L).write.parquet(s"$v/skew_dim.parquet")
    }

  /** The q90 LEARNED-ORDERING FIXTURE: the skew fixture's fact beside
    * two more tables, each DETERMINISTICALLY derived so the DuckDB
    * oracle replays them inline —
    *  - `ord_b`: every event's (event_id, b_g = event_id mod 400) —
    *    fact-sized, near-unique join key, a 400-value group key;
    *  - `ord_c`: the DISTINCT b_g values under 100 from ORDERS'
    *    keyspace — a 100-row dim joining b_g.
    * The shape is built so the UNIFORM algebra and the MCV tier
    * disagree about the cheapest first join of
    * `fact(k=-1) ⋈ ord_b ⋈ ord_c`: uniformity prices the filtered
    * fact at n/ndv ≈ 1 row (the hot key IS the ndv formula's blind
    * spot) so fact⋈ord_b looks free, while the MCV list prices the
    * filter at its true ~n/3 frequency, making ord_b⋈ord_c (n/4)
    * the cheaper seed — one persisted skew artifact flips the
    * transparent plan, scale-independently (n/3 vs n/4). */
  def ensureOrderTierFixture(s: SparkSession, dir: String): String =
    fixture(dir, "steer_ord_fixture", "skew_fact.parquet", "ord_b.parquet",
        "ord_c.parquet") { v =>
      hotFact(s, dir, 3L, -1L).write.parquet(s"$v/skew_fact.parquet")
      graft.Tables(s, dir, "events")
        .select(col("event_id"), pmod(col("event_id"), lit(400L)).as("b_g"))
        .write.parquet(s"$v/ord_b.parquet")
      graft.Tables(s, dir, "orders")
        .select(pmod(col("o_orderkey"), lit(400L)).as("g"))
        .where(col("g") < 100L).distinct()
        .write.parquet(s"$v/ord_c.parquet")
    }

  /** The q91 CATALOG FIXTURE: the skew fact's rows laid out at a
    * path that does NOT follow the engine's `<table>.parquet` naming
    * (the part `fact_cat`) — the shape every catalog table (`CREATE
    * TABLE … USING parquet LOCATION`, `saveAsTable`) presents.
    * Identity reaches the engine brain only through
    * [[graft.plans.JoinElimination.registerTablePath]]; the rows are
    * byte-derived from the skew fact, so the registration's
    * "same rows" assertion holds by construction and the DuckDB
    * oracle replays the q83 derivation from raw events. Returns the
    * registered path. */
  def ensureCatalogFixture(s: SparkSession, dir: String): String = {
    val fix = ensureSkewFixture(s, dir)
    val path = fixture(dir, "steer_cat_fixture", "fact_cat") { v =>
      IndexStore.readAs(s, "k BIGINT, event_id BIGINT, value DOUBLE",
        s"$fix/skew_fact.parquet").write.parquet(s"$v/fact_cat")
    } + "/fact_cat"
    graft.plans.JoinElimination.registerTablePath(path, fix, "skew_fact")
    path
  }

  /** The q94 MCV-STEERING FIXTURE: a skewed fact (hot key −7 owns the
    * user_id ≡ 0 mod 4 quarter of events) whose key profile is NEVER
    * built — dedicated tables so no other gate's profiled fixture can
    * leak a profile in; only the MCV list (built by the gate) can
    * diagnose the skew. Deterministically derived for the oracle. */
  def ensureMcvSteerFixture(s: SparkSession, dir: String): String =
    fixture(dir, "steer_mcv_fixture", "mcv_fact.parquet", "mcv_dim.parquet") { v =>
      val fact = hotFact(s, dir, 4L, -7L)
      fact.write.parquet(s"$v/mcv_fact.parquet")
      segDim(fact, 9L).write.parquet(s"$v/mcv_dim.parquet")
    }

  /** The q92 COMPOSITE-KEY FIXTURE: a fact keyed by TWO columns
    * (g1 = event_id mod 500, g2 = user_id mod 7) and the distinct
    * (g1, g2) dim with a derived segment — the generated-BI shape
    * the single-equality matcher used to pass over silently. Both
    * deterministically derived from events for the oracle replay. */
  def ensureCompositeFixture(s: SparkSession, dir: String): String =
    fixture(dir, "steer_comp_fixture", "comp_fact.parquet", "comp_dim.parquet") { v =>
      val fact = graft.Tables(s, dir, "events").select(
        pmod(col("event_id"), lit(500L)).as("g1"),
        pmod(col("user_id"), lit(7L)).as("g2"),
        col("value"))
      fact.write.parquet(s"$v/comp_fact.parquet")
      fact.select(col("g1"), col("g2")).distinct()
        .withColumn("seg", pmod(col("g1") + col("g2"), lit(5L)))
        .write.parquet(s"$v/comp_dim.parquet")
    }

  /** A maintained fixture: its dim is the committed part
    * `<dimTable>.parquet`, and its fact `table` is a LIVE table in the
    * same version directory — `build` writes a base, builds the
    * maintained artifacts, then appends a slice and maintains them
    * at O(batch). Served while the dim part is intact and `current`
    * holds over the version directory; otherwise rebuilt as a fresh
    * commit, the replaced version's maintained artifacts dropped. */
  private def maintainedFixture(dir: String, name: String, table: String,
      dimTable: String)(current: String => Boolean)(
      build: String => Unit): String = {
    val path = fixturePath(dir, name)
    def served = EnsureWatermark.intact(path, Seq(s"$dimTable.parquet"))
      .map(_.dir(path))
    served.filter(current).getOrElse {
      served.foreach(fix =>
        IndexStore.removeArtifact(StatsMaintain.maintPath(fix, table)))
      EnsureWatermark.commit(path, dir, "events", 0L)(build)
      served.getOrElse(sys.error(s"$path: no intact commit after its build"))
    }
  }

  /** The q84 MAINTAINED-ADVICE FIXTURE: the skew fixture's fact
    * rebuilt as a base build (event_id ≢ 2 mod 5) plus a late
    * APPENDED slice, with the advisory artifacts MAINTAINED across
    * the append at O(batch) — column stats ([[StatsMaintain
    * .appendMaintain]], D91) and the hot-key profile
    * ([[StatsMaintain.appendMaintainKeyProfile]], D94). The exact
    * fingerprint-keyed profile is deliberately NEVER built here:
    * q84 proves the advice pipeline (skew dispatch, salt set,
    * estimator-sized exchange) runs entirely on the maintained
    * tier after an append that fail-closes the exact one. Base ∪
    * slice ≡ the full derived fact, so the DuckDB oracle replays
    * the q69 derivation from raw events. Idempotent per events
    * fingerprint: a warm host with current maintained artifacts
    * skips all mutation. */
  def ensureMaintainedSkewFixture(s: SparkSession, dir: String,
      hotFreq: Long = 200L): String = {
    val T = "fact_m"
    maintainedFixture(dir, "steer_maint_fixture", T, "dim_m")(fix =>
      StatsMaintain.statsIfCurrent(s, fix, T).isDefined &&
        StatsMaintain.keyProfileIfCurrent(s, fix, T, "k").isDefined) { fix =>
      val fact = hotFact(s, dir, 3L, -1L)
      val isSlice = pmod(col("event_id"), lit(5L)) === 2L
      fact.where(!isSlice).write.parquet(s"$fix/$T.parquet")
      StatsMaintain.ensure(s, fix, T)
      StatsMaintain.ensureKeyProfileMaint(s, fix, T, "k", hotFreq = hotFreq)
      fact.where(isSlice).write.mode("append").parquet(s"$fix/$T.parquet")
      StatsMaintain.appendMaintain(s, fix, T, fact.where(isSlice))
      StatsMaintain.appendMaintainKeyProfile(s, fix, T, "k",
        fact.where(isSlice))
      segDim(fact, 7L).write.parquet(s"$fix/dim_m.parquet")
    }
  }

  /** The q98 MAINTAINED-MCV FIXTURE (D105): the q94 derivation
    * rebuilt as a base build (user_id ≢ 2 mod 5) plus an APPENDED
    * slice, with the column stats and the MCV list maintained at
    * O(batch) across the append. No key profile — exact or
    * maintained — is ever built, and no exact artifact can survive
    * the append (both are fingerprint-keyed): the learned tier's
    * skew diagnosis AND salt set must come entirely from the
    * maintained MCV. Base ∪ slice ≡ the full derived fact, so the
    * DuckDB oracle replays the q94 derivation from raw events.
    * Idempotent per events fingerprint. */
  def ensureMaintainedMcvFixture(s: SparkSession, dir: String): String = {
    val T = "mcvm_fact"
    maintainedFixture(dir, "steer_mcv_maint_fixture", T, "mcvm_dim")(fix =>
      StatsMaintain.statsIfCurrent(s, fix, T).isDefined &&
        StatsMaintain.mcvMaintIfCurrent(s, fix, T, "k").isDefined) { fix =>
      val fact = hotFact(s, dir, 4L, -7L)
      val isSlice = pmod(col("user_id"), lit(5L)) === 2L
      fact.where(!isSlice).write.parquet(s"$fix/$T.parquet")
      StatsMaintain.ensure(s, fix, T)
      StatsMaintain.ensureMcvMaint(s, fix, T, "k")
      fact.where(isSlice).write.mode("append").parquet(s"$fix/$T.parquet")
      StatsMaintain.appendMaintain(s, fix, T, fact.where(isSlice))
      StatsMaintain.appendMaintainMcv(s, fix, T, "k", fact.where(isSlice))
      segDim(fact, 11L).write.parquet(s"$fix/mcvm_dim.parquet")
    }
  }
}
