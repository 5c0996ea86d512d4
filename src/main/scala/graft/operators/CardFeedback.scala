package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** CARDINALITY FEEDBACK (D96) — the learning half of the engine
  * brain (DB2's LEO learning optimizer, SQL Server's CE feedback,
  * Oracle's statistics feedback — public designs): the Selinger
  * algebra (D82) is exactly as wrong as its independence and
  * uniformity assumptions, and the engine RUNS the queries it
  * mispredicts — every execution is a free, exact observation. This
  * object persists observed output cardinalities keyed the result
  * cache's way (canonicalized analyzed plan ‖ source stamp,
  * [[ResultCache.keyOf]]), and the estimator's opt-in feedback tier
  * serves an observation wherever the SAME canonical subtree — a
  * correlated filter, a fan-out join — appears again, inside any
  * larger plan.
  *
  * Why the result-cache keying is the right one:
  *  - the CANONICALIZED plan normalizes exprIds, so the observation
  *    recorded from a standalone `orders.where(cond)` serves the
  *    structurally identical Filter subtree inside tomorrow's
  *    five-way join — the LEO move;
  *  - the SOURCE STAMP makes staleness impossible, not detected: an
  *    appended or mutated table re-keys every affected observation
  *    to an unreachable path — the estimator falls back to the
  *    algebra, never to yesterday's count;
  *  - the uncacheable screen (non-file leaves, non-deterministic or
  *    current-time expressions) refuses the keyspace — a moving
  *    plan's count is not an invariant worth learning.
  *
  * Accuracy contract: an observation is EXACT for its subtree — the
  * feedback tier does not extrapolate (no scaling to "similar"
  * predicates, no decay); a near-miss is a miss. That keeps the
  * tier deterministic and oracle-replayable (q86 recomputes the
  * observed counts straight from the raw tables), the same
  * declared-algebra discipline as useColumnGroups/useMcv.
  *
  * Costs, stated: [[record]] executes the plan once (a count — the
  * maintenance-window pattern: record the workload's worst
  * misestimates, shaped like the ANALYZE advisor's report); serving
  * costs one canonicalization + one in-memory index-listing stamp per
  * plan NODE per estimate and no jobs — the artifact is one kilobyte
  * row read through a stamp-keyed, size-bounded memo. [[sweep]] is
  * the result-cache retention verbatim: dead stamps are unreachable
  * orphans, deleting a live entry only re-misses — and the harvest
  * path invokes it opportunistically so the store stays bounded with
  * no caller discipline. */
object CardFeedback {

  def feedbackPath(key: String): String =
    s"${IndexStore.root}/card_feedback/$key"

  /** Cheap store WATERMARK (r16, the learned-tier memo key): a hash
    * of every file path + length under the store — one recursive FS
    * listing (a flat LIST on object stores), no jobs. Any new
    * observation or retention sweep changes it, so an
    * ordering memo keyed on it serves exactly while the learning
    * state the enumeration read is unchanged. */
  def storeStamp(): String = {
    val (fs, root) = IndexStore.fsOf(s"${IndexStore.root}/card_feedback")
    if (!fs.exists(root)) return "empty"
    // RECURSIVE FILE listing (r16 review, both passes): an entry's
    // dir name and mtime can repeat within one coarse-mtime tick, but
    // each commit's stamp, version and part-FILE names are new —
    // `listFiles(recursive)` reaches them at any depth, and on object
    // stores it is a flat LIST (one RPC-class call), not a per-entry
    // walk
    val it = fs.listFiles(root, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      parts += s"${f.getPath.toUri.getPath}:${f.getLen}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.sorted.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Execute `df` once and persist its observed output cardinality
    * under its plan key. Returns the observation, or None for an
    * unkeyable plan (never recorded — see class scaladoc). Each key
    * is committed once: its source stamp fixes the count, so a
    * re-record of a committed key writes nothing. */
  def record(s: SparkSession, df: DataFrame): Option[Long] =
    ResultCache.keyOf(df.queryExecution.analyzed).map { key =>
      val n = df.count()
      commitObservation(s, key, n)
      n
    }

  /** Commit `n` as the observation filed under `key` through the
    * stamp's plan-keyed face (one commit per key, written once). */
  private def commitObservation(s: SparkSession, key: String, n: Long): Unit = {
    import s.implicits._
    EnsureWatermark.commit(feedbackPath(key), key)(
      Seq(n).toDF("rows").coalesce(1).write.parquet(_))
    ()
  }

  /** Stamp-keyed memo: the key embeds the source stamp, so a cached
    * positive can never go stale (a mutated source re-keys); only
    * positives memoize — an absent artifact may appear later.
    * BOUNDED (r14 advice): auto-record can harvest an unbounded
    * workload, so the memo clears past [[MemoMax]] entries — a clear
    * only re-pays kilobyte artifact reads, never loses observations. */
  private val MemoMax = 4096
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def memoize(key: String, n: Long): Unit = {
    if (cache.size >= MemoMax) cache.clear()
    cache.put(key, n)
    ()
  }

  /** SCOPED plan-key memo (r14 review): the feedback tier checks
    * EVERY node of every estimated plan, and each keyOf pays a full
    * FS-listing walk of the node's leaves — inside the join
    * orderer's 2\u207f-subset sweep that multiplied into thousands of
    * listings per decision. The memo lives only inside an explicit
    * [[withKeyScope]] (opened by one estimateRows evaluation or one
    * JoinOrderer.choose enumeration, re-entrant), so there is NO
    * wall-clock staleness window: across calls, a mutated table
    * re-keys instantly — the "staleness is impossible" contract
    * stays spec-pinned. Keyed on canonicalized form + sorted leaf
    * roots; thread-local, cleared when the outermost scope exits. */
  private val scopeDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private val scopeCache =
    new ThreadLocal[scala.collection.mutable.Map[String, Option[String]]] {
      override def initialValue() =
        scala.collection.mutable.Map.empty[String, Option[String]]
    }

  /** Open a key-memo scope around one plan-enumeration burst. */
  def withKeyScope[A](f: => A): A = {
    scopeDepth.set(scopeDepth.get + 1)
    try f
    finally {
      scopeDepth.set(scopeDepth.get - 1)
      if (scopeDepth.get == 0) scopeCache.get.clear()
    }
  }

  private def keyOfMemo(plan: LogicalPlan): Option[String] = {
    if (scopeDepth.get == 0) return ResultCache.keyOf(plan)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = plan.collect {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.sorted
    if (roots.isEmpty) return ResultCache.keyOf(plan) // unkeyable anyway
    val memoKey = plan.canonicalized.toString + "::" + roots.mkString("|")
    scopeCache.get.getOrElseUpdate(memoKey, ResultCache.keyOf(plan))
  }

  /** The observed cardinality of `plan` if one was recorded for
    * exactly this canonical form over exactly these source files. */
  def observed(s: SparkSession, plan: LogicalPlan): Option[Long] =
    keyOfMemo(plan).flatMap { key =>
      val hit = cache.get(key)
      if (hit != null) Some(hit.longValue())
      else {
        ResultCache.committed(feedbackPath(key), key).flatMap { part =>
          // fail CLOSED on a read race (r15 self-review): the
          // opportunistic sweep deletes entries — an estimate must
          // fall back to the algebra, never fail the user's query from
          // the optimizer
          try {
            val n = IndexStore.readAs(s, "rows BIGINT", part).head()
              .getAs[Long]("rows")
            memoize(key, n)
            Some(n)
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }
    }

  // ------------------------------------------------------------------
  // TRANSPARENT AUTO-RECORDING — the D93/D90 zero-client-change
  // discipline applied to learning: with [[enableAutoRecord]] on,
  // every COMPLETED query action harvests its observed root
  // cardinality into the store, so the estimator's feedback tier
  // improves from the workload the engine is already serving —
  // nobody calls record(), the queries teach the optimizer (LEO's
  // own deployment model; public design).
  //
  // Safety gates, each fail-closed to "not recorded":
  //  - only COMPLETE actions harvest (collect/count/foreach/save
  //    classes; a partially-consumed toLocalIterator would record an
  //    undercount — the one way auto-feedback could learn a lie);
  //  - the key is the ACTION'S OWN analyzed plan, so a limited show()
  //    records the limit-plan's true count, never the unlimited
  //    plan's;
  //  - unkeyable plans (commands, non-file leaves, moving
  //    expressions) are skipped by the keying itself;
  //  - the root metric must exist (nodes without numOutputRows skip).
  //
  // Cost, stated: one kilobyte artifact write per harvested action —
  // the opt-in's price, bounded by [[sweep]]. The write is itself a
  // command and therefore unkeyable: no recursion.
  // ------------------------------------------------------------------

  /** Actions whose completion implies the root metric saw EVERY
    * output row of the action's plan. "save" is deliberately absent
    * (r14 review): a write's analyzed plan is a COMMAND whose leaves
    * are still file relations, so the keying alone would NOT refuse
    * it — harvesting writes would record command-keyed junk the
    * estimator can never match, one Spark job per write, on the
    * listener-bus thread. [[harvest]] also vetoes Command plans
    * outright for the same reason. */
  private val CompleteActions = Set("collect", "collectAsList",
    "collectToPython", "count", "foreach", "foreachPartition",
    "showString", "head", "first")

  /** Observed root cardinality of an executed query, if its plan is
    * keyable and its final root carries the row metric. */
  private[graft] def rootRows(
      p: org.apache.spark.sql.execution.SparkPlan): Option[Long] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      rootRows(a.executedPlan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
      rootRows(w.child)
    case other => other.metrics.get("numOutputRows").map(_.value)
  }

  /** Harvest one completed execution into the store (no-op for
    * unkeyable plans or metric-less roots). Exposed for direct use;
    * the auto-record listener is the transparent caller. Also
    * harvests SUB-ROOT observations ([[harvestSubtrees]], r15). */
  def harvest(s: SparkSession,
      qe: org.apache.spark.sql.execution.QueryExecution): Option[Long] = {
    val root = for {
      _ <- Option.when(!qe.analyzed.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Command])(())
      key <- ResultCache.keyOf(qe.analyzed)
      n <- rootRows(qe.executedPlan)
    } yield {
      writeObservation(s, key, n)
      n
    }
    if (root.isDefined) { harvestSubtrees(s, qe); () }
    root
  }

  private def writeObservation(s: SparkSession, key: String, n: Long): Unit = {
    commitObservation(s, key, n)
    memoize(key, n)
    // opportunistic retention (r14 advice): the store is otherwise
    // only bounded by an explicit sweep() nobody is obliged to call
    if (harvestCount.incrementAndGet() % SweepEvery == 0) { sweep(s, SweepKeep); () }
  }

  /** SUB-ROOT HARVESTING (r14 verdict #6): one workload run should
    * teach the estimator at SUBTREE grain — the executed plan's
    * per-operator `numOutputRows` metrics are free, exact
    * observations of every Filter and Join subtree the query
    * contained (LEO's actual design: it instrumented operators, not
    * roots). Each qualifying physical node's `logicalLink` (the
    * optimizer-stage logical subtree it implements) keys the
    * observation exactly the root path does; the estimator then
    * serves it wherever that canonical subtree reappears — including
    * inside the transparent ordering rule's enumeration, whose
    * leaves ARE optimizer-stage plans.
    *
    * The exactness discipline — a metric is recorded only when the
    * node's output was provably CONSUMED IN FULL:
    *  - the whole plan is vetoed if the query carries any Limit (a
    *    partially-pulled subtree records an undercount — the one way
    *    auto-feedback could learn a lie);
    *  - walking down, a node's metric qualifies only while every
    *    ancestor fully consumes its input: projections, filters,
    *    sorts, aggregates, windows, expands, generates, unions and
    *    exchanges do; a sort-merge or shuffled-hash join does NOT
    *    (it may stop pulling one side when the other exhausts), so
    *    its children disqualify UNLESS a materialization barrier
    *    (shuffle/broadcast exchange, a completed AQE query stage)
    *    sits between — a scheduled map stage always runs to
    *    completion, making everything below it exact again. A
    *    broadcast-hash join's STREAMED side is fully consumed
    *    whenever the join's own output is (every probe row must be
    *    read), so it inherits; the build side re-qualifies at its
    *    broadcast exchange.
    * Bounded at [[MaxSubtreesPerHarvest]] writes per action. */
  private val MaxSubtreesPerHarvest = 16
  private[graft] def harvestSubtrees(s: SparkSession,
      qe: org.apache.spark.sql.execution.QueryExecution): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
    import org.apache.spark.sql.execution._
    val limited = qe.analyzed.exists {
      case _: GlobalLimit | _: LocalLimit => true
      case _ => false
    }
    if (limited) return 0
    var recorded = 0
    def tryRecord(p: SparkPlan): Unit =
      if (recorded < MaxSubtreesPerHarvest) for {
        link <- p.logicalLink
        if !link.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.Command]
        rows <- p.metrics.get("numOutputRows").map(_.value)
        key <- ResultCache.keyOf(link)
      } { writeObservation(s, key, rows); recorded += 1 }
    def fullConsumer(p: SparkPlan): Boolean = p match {
      case _: ProjectExec | _: FilterExec | _: SortExec | _: UnionExec |
           _: ExpandExec | _: GenerateExec => true
      case _: aggregate.HashAggregateExec |
           _: aggregate.ObjectHashAggregateExec |
           _: aggregate.SortAggregateExec => true
      case _: window.WindowExec => true
      case _: adaptive.AQEShuffleReadExec => true
      case _ => false
    }
    def visit(p: SparkPlan, exact: Boolean): Unit = p match {
      case a: adaptive.AdaptiveSparkPlanExec => visit(a.executedPlan, exact)
      // a query stage of a SUCCEEDED query ran to completion: its
      // subtree's metrics are exact whatever happened above it
      case qs: adaptive.QueryStageExec => visit(qs.plan, exact = true)
      case w: WholeStageCodegenExec => visit(w.child, exact)
      case ia: InputAdapter => visit(ia.child, exact)
      case ex: exchange.ShuffleExchangeExec => visit(ex.child, exact = true)
      case ex: exchange.BroadcastExchangeExec => visit(ex.child, exact = true)
      case re: exchange.ReusedExchangeExec => visit(re.child, exact = true)
      case bhj: joins.BroadcastHashJoinExec =>
        if (exact) tryRecord(bhj)
        val (streamed, build) = bhj.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight =>
            (bhj.left, bhj.right)
          case _ => (bhj.right, bhj.left)
        }
        visit(streamed, exact)
        visit(build, exact = false)
      case j: joins.BaseJoinExec =>
        if (exact) tryRecord(j)
        // a merge/hash join may stop pulling one side early — its
        // children re-qualify only below a barrier
        j.children.foreach(visit(_, exact = false))
      case f: FilterExec =>
        if (exact) tryRecord(f)
        visit(f.child, exact)
      case other =>
        other.children.foreach(visit(_, exact && fullConsumer(other)))
    }
    try visit(qe.executedPlan, exact = true)
    catch { case _: Exception => () }
    recorded
  }

  /** Test seam: a cold process has an empty memo — the retention
    * specs model one by clearing it. */
  private[graft] def clearMemoForTest(): Unit = cache.clear()

  private val harvestCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private val SweepEvery = 256L
  private val SweepKeep = 4096

  private val autoSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())
  private val autoListeners =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      org.apache.spark.sql.util.QueryExecutionListener]()

  /** The harvest writes run OFF the listener bus (r14 advice: an
    * artifact write per completed action blocked the shared bus
    * thread — the very cost the CompleteActions comment excluded
    * writes for). One daemon thread, a small bounded queue, DISCARD
    * on overflow: dropping a harvest under burst only loses an
    * observation the next identical run re-records. Race-free even
    * though async: the key is computed from the plan's OWN FileIndex
    * snapshot ([[ResultCache.planStamp]], r15), so an append landing
    * between completion and harvest cannot re-stamp the observation —
    * the count files under the listing the query actually read. */
  private lazy val harvestPool = {
    val p = new java.util.concurrent.ThreadPoolExecutor(
      1, 1, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.ArrayBlockingQueue[Runnable](64),
      (r: Runnable) => { val t = new Thread(r, "graft-feedback-harvest")
        t.setDaemon(true); t },
      new java.util.concurrent.ThreadPoolExecutor.DiscardPolicy())
    // queue-inserted tasks (awaitHarvests) only run if a worker
    // exists; prestart so the drain marker can never sit unserved
    p.prestartCoreThread()
    p
  }

  /** Idempotently enable transparent harvesting on `s`: every
    * completed complete-action execution records its observation. */
  def enableAutoRecord(s: SparkSession): Unit =
    if (autoSessions.add(s)) {
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          if (CompleteActions.contains(funcName)) {
            harvestPool.execute(() => {
              try { harvest(s, qe); () } catch { case _: Exception => () }
            })
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      autoListeners.put(s, l)
      s.listenerManager.register(l)
    }

  /** Test seam: wait until every harvest enqueued so far has drained
    * (the specs assert on artifacts the async pool writes). The
    * marker goes STRAIGHT into the work queue (blocking until space)
    * — submit() under a full queue would hit DiscardPolicy and turn
    * the wait into a silent 60 s timeout (r15 self-review). */
  private[graft] def awaitHarvests(): Unit = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val marker: Runnable = () => latch.countDown()
    require(harvestPool.getQueue.offer(marker, 60,
      java.util.concurrent.TimeUnit.SECONDS), "harvest queue never drained")
    require(latch.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "harvest drain marker never ran")
  }

  /** Test seam: unregister the listener so suites sharing the
    * session don't harvest each other's actions. */
  private[graft] def disableAutoRecordForTest(s: SparkSession): Unit = {
    val l = autoListeners.remove(s)
    if (l != null) s.listenerManager.unregister(l)
    autoSessions.remove(s)
    ()
  }

  /** Retention: keep the newest `maxEntries` observations by mtime.
    * Deleting a live one only costs a fallback to the algebra. */
  def sweep(s: SparkSession, maxEntries: Int): Int = {
    val (fs, root) = IndexStore.fsOf(s"${IndexStore.root}/card_feedback")
    if (!fs.exists(root)) return 0
    val entries = fs.listStatus(root).filter(_.isDirectory)
      .sortBy(-_.getModificationTime)
    val victims = entries.drop(maxEntries)
    victims.foreach(st => fs.delete(st.getPath, true))
    victims.length
  }
}
