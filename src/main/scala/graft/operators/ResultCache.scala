package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** RESULT CACHE (D90) — plan-fingerprint-keyed result reuse with
  * source-stamp invalidation (Snowflake's query result reuse,
  * Databricks' result cache — public designs): the dashboard layer
  * above all the engine's other serving tiers. The rollup router
  * (D50/D57/D81) makes a repeated aggregate cheap; this makes the
  * SECOND run of the *same* query free — kilobytes of result parquet
  * read back, zero scans, zero shuffles — which at 100 TB is the
  * difference between N dashboard viewers costing N scans and
  * costing one.
  *
  * Cache key = md5(canonicalized analyzed plan ‖ source stamp):
  *
  *  - the CANONICALIZED plan normalizes exprIds, so two identical
  *    queries built in different sessions key the same entry, while
  *    any semantic difference (another filter literal, another
  *    column) re-keys — never a wrong-result serve, at worst a miss;
  *  - the SOURCE STAMP is the (path, length, mtime) listing of every
  *    file-based leaf in the plan — raw tables AND engine artifacts
  *    a rewrite may have substituted (a routed plan reads the rollup
  *    parquet, so the rollup's files are stamped automatically). A
  *    mutated source changes the stamp → the old entry is
  *    unreachable, the Fingerprint-keying discipline of every
  *    artifact in this engine applied to results. The stamp reads
  *    each relation's OWN FileIndex (r15) — the listing snapshot the
  *    plan actually scans — NOT a fresh walk of the live filesystem:
  *    a DataFrame created before an append caches the pre-append
  *    listing, and a live-walk stamp would have filed its pre-append
  *    result under the post-append key (a permanent wrong serve); the
  *    plan-own stamp keys every result by exactly the bytes it was
  *    computed from, makes async feedback harvesting race-free by
  *    construction, and is cheaper (the index listing is in memory).
  *
  * Fail-closed like everything else: a plan with any non-file leaf
  * (a LocalRelation's data is not part of the canonicalized string,
  * so it CANNOT be safely keyed) computes directly and is never
  * cached — and so does a plan carrying any NON-DETERMINISTIC or
  * current-time-family expression (`current_timestamp`/`now`/
  * `current_date`/`localtimestamp`): those canonicalize identically
  * across runs while their VALUE moves, so `ts > now() - 1h` would
  * HIT tomorrow and serve yesterday's window — the one way a
  * plan-keyed cache can go stale without any source mutating. Both
  * walks cover subquery plans too ([[sourceStamp]] visits
  * `subqueriesAll`), so a scalar subquery's sources are stamped and
  * its expressions screened like the main plan's. Results are
  * written coalesce(1), so the read-back preserves row order — an
  * ORDER BY survives the cache.
  *
  * CONCURRENT MISSES are safe by staged write + rename commit: each
  * writer computes into its own `$path.staged-<uuid>` directory and
  * COMMITS with one atomic rename onto the final entry path — the
  * first rename wins, losers delete their stage and serve the
  * winner's entry. A reader that passed [[IndexStore.artifactReady]]
  * can never observe a half-written or deleted entry, because the
  * final path is only ever created by a rename of a complete stage
  * and is never overwritten in place — with ONE stated legacy
  * exception: repairing a PRE-FIX torn leftover (a state the fixed
  * writer can no longer create) moves the junk ASIDE with one atomic
  * rename to a `.torn-` sibling (r16 — never a delete: a competitor's
  * complete entry racing that repair stays intact on disk), and the
  * repairer's own identical entry re-commits immediately after;
  * loud at worst for the one atomic op, never wrong, and unreachable
  * for entries written by this code. (Two dashboard viewers missing
  * simultaneously is the DESIGNED workload of a query-keyed cache,
  * so this is load-bearing, not defensive.) Results are RESULT-sized
  * by assumption — a caller caching a corpus-sized frame gets
  * exactly the storage bill it asked for. Entries are immutable once
  * committed; stale entries (dead stamps) and crashed stage
  * directories are orphans the periodic sweep deletes by directory
  * age — they can never serve. */
object ResultCache {

  def cachePath(key: String): String =
    s"${IndexStore.root}/result_cache/$key"

  private def md5(sx: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** (stamp, true) when every leaf is a file relation; (_, false)
    * marks an uncacheable plan. The stamp reads each relation's own
    * in-memory FileIndex listing — no filesystem calls at all. */
  /** Expressions whose VALUE moves between runs while their
    * canonicalized form does not — caching them would serve an
    * earlier moment's rows. Non-deterministic expressions (rand,
    * monotonically_increasing_id, …) are uncacheable for the same
    * reason. */
  private def timeOrNonDeterministic(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    e.exists {
      case _: CurrentTimestampLike | _: CurrentDate | _: LocalTimestamp |
           _: CurrentTimeZone => true
      case ex => !ex.deterministic
    }
  }

  private def sourceStamp(df: DataFrame): (String, Boolean) =
    planStamp(df.queryExecution.analyzed)

  /** The stamp computed over any logical plan — the analyzed-plan
    * face serves [[through]], the OPTIMIZED-plan face serves the
    * transparent tier ([[graft.plans.TransparentResultCacheRule]]), each
    * keying its own entries (the two plan forms canonicalize
    * differently, so the keyspaces never collide). */
  private[graft] def planStamp(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : (String, Boolean) = {
    var indexes = List.empty[org.apache.spark.sql.execution.datasources.FileIndex]
    var other = false
    (analyzed +: analyzed.subqueriesAll).foreach(_.foreach {
      case rel: LogicalRelation =>
        rel.relation match {
          case fs: HadoopFsRelation => indexes = fs.location :: indexes
          case _ => other = true
        }
      case p if p.children.isEmpty && p.output.nonEmpty &&
          !p.isInstanceOf[LogicalRelation] =>
        // LocalRelation / OneRowRelation / ranges: data lives outside
        // the canonicalized string -> cannot key safely
        other = true
      case p =>
        if (p.expressions.exists(timeOrNonDeterministic)) other = true
    })
    if (other || indexes.isEmpty) ("", false)
    else {
      // each relation's OWN index listing (see class scaladoc), in a
      // canonical order-independent rendering: full qualified path +
      // length + mtime, flat-sorted — two indexes over the same bytes
      // stamp identically however they were listed
      val desc = indexes.map { loc =>
        val files = loc.listFiles(Nil, Nil).flatMap(_.files)
        if (files.isEmpty)
          loc.rootPaths.map(_.toString).sorted.mkString(",") + ":empty"
        else files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
          .sorted.mkString("|")
      }.sorted.mkString("||")
      (md5(desc), true)
    }
  }

  /** Serve `df` through the cache: (result frame, whether it HIT).
    * A miss computes, writes the entry, and serves the written copy
    * (write-through — the next identical query hits). Uncacheable
    * plans compute directly with hit = false and no entry. */
  /** The scaladoc's promised orphan sweep: entries whose source
    * stamps died are unreachable by construction, so retention is
    * pure storage hygiene — keep the newest `maxEntries` by mtime,
    * delete the rest. Deleting a LIVE entry is also harmless (the
    * next identical query re-misses and rewrites it), which is why
    * age is a safe policy here where it would be unsound anywhere
    * else in the engine. Returns how many entries were deleted. */
  def sweep(s: SparkSession, maxEntries: Int): Int = {
    val (fs, root) = IndexStore.fsOf(s"${IndexStore.root}/result_cache")
    if (!fs.exists(root)) return 0
    val entries = fs.listStatus(root).filter(_.isDirectory)
      .sortBy(-_.getModificationTime)
    val victims = entries.drop(maxEntries)
    victims.foreach(st => fs.delete(st.getPath, true))
    victims.length
  }

  def through(s: SparkSession, df: DataFrame): (DataFrame, Boolean) = {
    val (stamp, cacheable) = sourceStamp(df)
    if (!cacheable) return (df, false)
    val key = md5(df.queryExecution.analyzed.canonicalized.toString + "\u0000" + stamp)
    val path = cachePath(key)
    // the entry's schema IS the cached frame's own (writeEntry writes
    // df verbatim) — passing it skips the footer-inference job on
    // every hit (r17)
    if (IndexStore.artifactReady(path)) (s.read.schema(df.schema).parquet(path), true)
    else {
      writeEntry(df, path)
      (s.read.schema(df.schema).parquet(path), false)
    }
  }

  /** Stage-then-rename commit of one entry (see class scaladoc):
    * write `df` into a private stage, commit with ONE atomic rename
    * onto `path`. A lost race (the rename finds the path taken)
    * deletes the stage and returns false — the winner's entry is
    * byte-equivalent by keying, so the loser serves it. A rename
    * blocked by a TORN leftover (a directory without its _SUCCESS —
    * only a pre-fix overwrite or an outside mutation can leave one)
    * clears the junk and retries once; a second failure is loud. */
  private[graft] def writeEntry(df: DataFrame, path: String): Boolean = {
    val stage = s"$path.staged-${java.util.UUID.randomUUID().toString.take(12)}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val (fs, target) = IndexStore.fsOf(path)
    val st = new org.apache.hadoop.fs.Path(stage)
    // FileContext.rename, NOT FileSystem.rename: the FileSystem face
    // MOVES-INTO an existing destination directory (the loser's stage
    // would nest inside the winner's entry and double its rows on
    // read); the FileContext face fails atomically when the
    // destination exists — exactly the commit-or-lose semantics the
    // race needs
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, df.sparkSession.sessionState.newHadoopConf())
    def tryCommit(): Boolean =
      try { fc.rename(st, target); true }
      catch { case _: java.io.IOException => false }
    def discard(): Unit = { fs.delete(st, true); () }
    if (tryCommit()) true
    else if (IndexStore.artifactReady(path)) { discard(); false }
    else {
      // torn-leftover repair. Post-fix, a torn FINAL path cannot be
      // CREATED (finals appear only by atomic rename of a complete
      // stage), so this leg only ever fires on a pre-fix leftover or
      // an external mutation. The junk is moved ASIDE with one atomic
      // rename (r16 advice) — never deleted in place: a COMPETING
      // writer committing its complete entry between our readiness
      // re-check and the repair now has that entry renamed to a
      // junk-suffixed sibling (still intact on disk) instead of
      // destroyed mid-read, and our own identical entry re-commits
      // immediately after — the loud window shrinks to the one atomic
      // op. Junk paths are `.torn-` siblings under result_cache, so
      // the age-based [[sweep]] retires them with the stale entries.
      if (!IndexStore.artifactReady(path)) {
        val junk = new org.apache.hadoop.fs.Path(
          s"$path.torn-${java.util.UUID.randomUUID().toString.take(12)}")
        try fc.rename(target, junk)
        catch { case _: java.io.IOException => () } // already gone or taken
      }
      val won = tryCommit()
      // the stage is discarded on EVERY non-winning exit — including
      // the loud one (r15 review #2: a result-sized stage orphaned
      // per failed repair would accumulate unbounded junk)
      if (!won) discard()
      if (won) true
      else if (IndexStore.artifactReady(path)) false
      else sys.error(
        s"result cache: could not commit $path and no committed entry exists")
    }
  }

  /** Cache key of an arbitrary plan: canonicalized form ‖ source
    * stamp, None when uncacheable — the shared keying for both
    * serving faces. */
  private[graft] def keyOf(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[String] = {
    val (stamp, cacheable) = planStamp(plan)
    if (!cacheable) None
    else Some(md5(plan.canonicalized.toString + "\u0000" + stamp))
  }

  /** The schema the entry at `path` was written with, as Spark
    * recorded it in its part file's footer — one listing and one
    * footer read, no Spark job. None when the entry has no part file
    * or its footer carries no readable Spark schema. */
  private[graft] def entrySchema(path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val (fs, p) = IndexStore.fsOf(path)
    fs.listStatus(p).find(_.getPath.getName.endsWith(".parquet")).flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      finally reader.close()
    }.flatMap { json =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(json)).toOption
        .collect { case t: org.apache.spark.sql.types.StructType => t }
    }
  }

  /** true when any leaf already reads a result-cache entry — the
    * recursion guard for the transparent tier (a substituted plan
    * must never re-key, and a cache read must never publish). */
  private[graft] def readsCache(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.exists {
      case rel: LogicalRelation =>
        rel.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("/result_cache/"))
          case _ => false
        }
      case _ => false
    }

  /** PUBLISH for the transparent tier ([[graft.plans
    * .TransparentResultCacheRule]]): write `df`'s result keyed by its
    * OPTIMIZED plan — the form the optimizer rule sees — so the NEXT
    * optimization of the same query substitutes the entry with no
    * caller cooperation. Returns true when an entry was written
    * (false: uncacheable plan, already published, or the plan is
    * itself a cache read — publishing that would key an entry on the
    * entry). */
  def publish(s: SparkSession, df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    if (readsCache(plan)) return false
    keyOf(plan) match {
      case None => false
      case Some(key) =>
        val path = cachePath(key)
        if (IndexStore.artifactReady(path)) false
        else writeEntry(df, path)
    }
  }
}
