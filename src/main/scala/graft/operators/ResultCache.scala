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
  * CONCURRENT MISSES converge through the stamp every rebuildable
  * artifact shares ([[EnsureWatermark.commit]]'s plan-keyed face):
  * each writer computes into its own fresh version and lands one
  * stamp covering the entry's key by a rename that fails when the
  * name exists — the first stamp wins, losers delete their version
  * and serve the winner's entry, and a stamp never lands over an
  * intact entry, so no reader's version is retired under it. A
  * missing, torn or unparsable stamp, or a version whose files are
  * not the listed ones, reads as a MISS and rebuilds in place.
  * (Two dashboard viewers missing simultaneously is the DESIGNED
  * workload of a query-keyed cache, so this is load-bearing, not
  * defensive.) Results are RESULT-sized by assumption — a caller
  * caching a corpus-sized frame gets exactly the storage bill it
  * asked for. Entries are immutable once committed; stale entries
  * (dead stamps) are orphans the periodic sweep deletes by directory
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

  /** Serve `df` through the cache: (result frame, whether it HIT).
    * A miss computes, writes the entry, and serves the written copy
    * (write-through — the next identical query hits). Uncacheable
    * plans compute directly with hit = false and no entry. */
  def through(s: SparkSession, df: DataFrame): (DataFrame, Boolean) = {
    val (stamp, cacheable) = sourceStamp(df)
    if (!cacheable) return (df, false)
    val key = md5(df.queryExecution.analyzed.canonicalized.toString + "\u0000" + stamp)
    // the entry's schema IS the cached frame's own (the commit writes
    // df verbatim) — passing it skips the footer-inference job on
    // every hit (r17)
    def read(part: String) = s.read.schema(df.schema).parquet(part)
    entry(key) match {
      case Some(part) => (read(part), true)
      case None =>
        commitEntry(df, key)
        (read(entry(key).getOrElse(sys.error(
          s"result cache: no committed entry for $key after its commit"))), false)
    }
  }

  /** The committed result part of the entry filed under `key`, while
    * an intact stamp covers it — FS metadata only. */
  private[graft] def entry(key: String): Option[String] =
    committed(cachePath(key), key)

  /** The `data` part of the plan-keyed artifact at `path` while an
    * intact stamp covers `key` (the entries here, CardFeedback's
    * observations). */
  private[graft] def committed(path: String, key: String): Option[String] =
    EnsureWatermark.intact(path, EnsureWatermark.Data)
      .filter(_.covered == key).map(_.part(path, "data"))

  /** Write `df` once as the entry filed under `key` (see the class
    * scaladoc); false when an entry already stood or a concurrent
    * writer's commit won. Written coalesce(1) so the read-back keeps
    * the row order. */
  private def commitEntry(df: DataFrame, key: String): Boolean =
    EnsureWatermark.commit(cachePath(key), key)(df.coalesce(1).write.parquet(_))

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

  /** The schema the committed entry part `part` was written with, as
    * Spark recorded it in its part file's footer — one listing and one
    * footer read, no Spark job. None when the part has no parquet file
    * or its footer carries no readable Spark schema. */
  private[graft] def entrySchema(part: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val (fs, p) = IndexStore.fsOf(part)
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
      case Some(key) => entry(key).isEmpty && commitEntry(df, key)
    }
  }
}
