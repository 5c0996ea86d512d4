package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion vectors — merge-on-read row deletes over the immutable
  * [[MinMaxManifest]] file layout, plus a crash-safe vacuum that
  * purges only the touched files (the Delta deletion-vector / Iceberg
  * position+equality-delete shape, from the PUBLIC specs of both —
  * the idea, not the formats).
  *
  * Why a 100-TB engine needs this layer: data files are immutable
  * (that is what makes manifests, snapshots, and appends cheap), so
  * "delete these rows" cannot touch the files in place, and rewriting
  * 100 TB to drop 0.1% of rows is a non-starter. The table-format
  * answer is two SIDE TABLES of tombstones applied at read:
  *
  *  - POSITION deletes: (file_path, row_index) pairs naming exact
  *    physical rows — produced by a predicate delete against the
  *    current file set (`file_path`/`row_index` come from Spark's
  *    `_metadata` struct, so recording a delete is one scan that
  *    writes only the matched coordinates).
  *  - EQUALITY deletes: key values (here `user_id`) — the GDPR/CCPA
  *    erasure shape: "remove every row of user X" recorded as one
  *    tombstone row per key with NO scan at all at delete time.
  *
  * The merged read anti-joins both against the layout scan. Both
  * tombstone tables are deleted-row-sized, not corpus-sized — at a
  * 0.1% delete rate on 100 TB the position table is ~100 GB spread
  * over the cluster and the key table is tiny, so Catalyst's
  * size-based planning broadcasts them while they fit and falls back
  * to a shuffled anti-join beyond (no hint pinning the wrong choice
  * at scale; per-file roaring bitmaps — Delta's refinement — are the
  * next compression step and change nothing semantically).
  *
  * VACUUM materializes the tombstones: rewrite ONLY the files that
  * contain deleted rows (position paths name them directly; equality
  * keys find theirs with one skinny key-column scan) through
  * [[MinMaxManifest]]'s one rewrite commit — the survivors of the
  * touched files replace them, and the same commit expires time-travel
  * history (snapshot ids reset to 0): erased rows must not remain
  * reachable via time travel, the same reason Iceberg's GDPR story is
  * rewrite-data-files + expire-snapshots. The consumed tombstones
  * clear after the stamp lands; a JOURNAL naming the touched files,
  * written before the rewrite, is the redo record for that step: a
  * crash after the stamp leaves none of the journal's files committed,
  * and [[recover]] clears the tombstones; a crash before it leaves
  * them committed, and recover drops the journal — the committed
  * layout + tombstones stay authoritative throughout.
  *
  * Equality-tombstone scope follows the table-format rule: tombstones
  * apply to data present when the delete was recorded; vacuum folds
  * them into the current file set and clears them, so rows APPENDED
  * AFTER a vacuum are not retro-filtered (Iceberg sequences equality
  * deletes against data files for exactly this reason — callers
  * re-record deletes for late-arriving data).
  */
object DeletionVectors {

  /** Dedicated layout table — q30/q31's shared `events_by_ts` layout
    * must never see these deletes. */
  val Table = "events_dv"

  private def artifact(dir: String, leaf: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/$leaf"
  def layoutPath(dir: String): String = MinMaxManifest.layoutPath(dir, Table)
  def posDeletesPath(dir: String): String = artifact(dir, s"${Table}_pos_deletes")
  def eqDeletesPath(dir: String): String = artifact(dir, s"${Table}_eq_deletes")
  private def journalPath(dir: String): String = artifact(dir, s"${Table}_vacuum_journal")

  private def ready(p: String): Boolean = IndexStore.artifactReady(p)

  /** Whether an equality-tombstone table exists for `dir` — the
    * registered query's re-run guard (appending the same keys twice
    * would not change results, only grow the artifact). */
  def eqDeletesRecorded(dir: String): Boolean = ready(eqDeletesPath(dir))

  /** Whether a position-tombstone table exists for `dir` — the same
    * re-run guard for [[deleteWhere]] (r16): the pass is result-
    * idempotent either way (DeletionVectorsSpec pins that), but an
    * unguarded re-run still pays the full layout scan + two
    * anti-joins just to find zero surviving matches. Callers whose
    * predicate is fixed per layout (the registered q32 fixture) can
    * skip the no-op scan once tombstones are committed; a first pass
    * that matched nothing leaves the path absent, so the guard never
    * masks a delete that still has work to do. */
  def posDeletesRecorded(dir: String): Boolean = ready(posDeletesPath(dir))

  /** Build the layout if it has no current commit. Position tombstones
    * name the files of the layout they were recorded against, so a
    * (re)build starts from no tombstones of either kind: a rebuilt
    * layout with the old tombstones would silently un-delete rows
    * while [[posDeletesRecorded]] still reported them recorded. */
  def ensure(s: SparkSession, dir: String): Unit = {
    recover(s, dir)
    if (!MinMaxManifest.built(dir, Table)) {
      clearTombstones(dir)
      MinMaxManifest.ensureFrom(s, dir, graft.Tables(s, dir, "events"), Table)
    }
  }

  private def clearTombstones(dir: String): Unit =
    Seq(posDeletesPath(dir), eqDeletesPath(dir)).foreach(IndexStore.removeArtifact)

  /** The committed files' scan with their physical row coordinates
    * exposed — `_metadata` is generated by the scan node itself, so
    * this adds two cheap per-row values, never a data column. */
  private def coords(s: SparkSession, dir: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      MinMaxManifest.read(s, dir, Nil)
        .withColumn("_path", lit(null).cast("string"))
        .withColumn("_pos", lit(null).cast("long"))
    else
      MinMaxManifest.read(s, dir, files)
        .withColumn("_path", col("_metadata.file_path"))
        .withColumn("_pos", col("_metadata.row_index"))

  private def coords(s: SparkSession, dir: String): DataFrame =
    coords(s, dir, MinMaxManifest.entries(s, dir, Table).map(_.path))

  private def posDeletes(s: SparkSession, dir: String): DataFrame =
    if (ready(posDeletesPath(dir)))
      IndexStore.readAs(s, "path STRING, row_index BIGINT", posDeletesPath(dir))
    else s.range(0).select(lit("").as("path"), lit(0L).as("row_index"))

  private def eqDeletes(s: SparkSession, dir: String): DataFrame =
    if (ready(eqDeletesPath(dir)))
      IndexStore.readAs(s, "user_id BIGINT", eqDeletesPath(dir))
    else s.range(0).select(col("id").as("user_id"))

  /** The equality-tombstoned keys as a frame (empty-safe) — the GDPR
    * purge set OTHER layers anti-join at their own read boundary:
    * governed time travel (q41) needs purged rows invisible at EVERY
    * snapshot, including ones minted before the purge, which the
    * per-layout merge-on-read alone cannot give it. */
  def erasedKeys(s: SparkSession, dir: String): DataFrame =
    eqDeletes(s, dir).select(col("user_id")).distinct()

  /** MERGE-ON-READ: the layout minus both tombstone tables. Path
    * strings on both anti-join sides are `_metadata.file_path`
    * renderings from the same reader, so equality is exact; the
    * tombstone tables are deleted-row-sized, so the planner's
    * size-based broadcast threshold makes these anti-joins
    * broadcast-hash while they fit (the common case) without a hint
    * wrongly forcing it at scale. */
  def readMerged(s: SparkSession, dir: String): DataFrame = {
    ensure(s, dir)
    val pd = posDeletes(s, dir)
    val ed = eqDeletes(s, dir).select(col("user_id")).distinct()
    val base = coords(s, dir)
    base
      .join(pd, base("_path") === pd("path") && base("_pos") === pd("row_index"),
        "left_anti")
      .join(ed, Seq("user_id"), "left_anti")
      .drop("_path", "_pos")
  }

  /** Record POSITION deletes for every current (merged-visible) row
    * matching `pred`: one scan writing only matched coordinates.
    * Naturally idempotent at the result level — a second call finds
    * the rows already invisible and appends nothing. Returns the
    * number of rows tombstoned. */
  def deleteWhere(s: SparkSession, dir: String, pred: Column): Long = {
    ensure(s, dir)
    val pd = posDeletes(s, dir)
    val ed = eqDeletes(s, dir).select(col("user_id")).distinct()
    val base = coords(s, dir)
    val hit = base
      .join(pd, base("_path") === pd("path") && base("_pos") === pd("row_index"),
        "left_anti")
      .join(ed, Seq("user_id"), "left_anti")
      .where(pred)
      .select(col("_path").as("path"), col("_pos").as("row_index"))
    // count + write in one pass over a deleted-rows-sized frame; the
    // file count scales with the tombstone mass (review catch — a
    // flat coalesce(1) would funnel a broad delete's ~100-GB position
    // table through one task at the scaladoc's own 100-TB sizing)
    val rows = hit.persist()
    try {
      val n = rows.count()
      if (n > 0) {
        val files = math.max(1L, n / 4000000L).toInt
        rows.coalesce(files).write.mode("append").parquet(posDeletesPath(dir))
      }
      n
    } finally { rows.unpersist(); () }
  }

  /** Record EQUALITY tombstones for a set of `user_id` keys — the
    * GDPR erasure write: no data scan, one tiny append. */
  def deleteKeys(s: SparkSession, dir: String, keys: DataFrame): Unit = {
    ensure(s, dir)
    keys.select(col("user_id").cast("long")).distinct()
      .coalesce(1).write.mode("append").parquet(eqDeletesPath(dir))
  }

  final case class VacuumStats(
      touchedFiles: Int, totalFiles: Int, rowsRemoved: Long)

  /** VACUUM: materialize all tombstones into the file layout,
    * rewriting ONLY the touched files. See the object scaladoc for the
    * commit, the journal and the snapshot-expiry rationale.
    * `onJournaledForTest` is the spec's crash-injection seam (throw
    * there to simulate dying right after the commit point). */
  def vacuum(s: SparkSession, dir: String,
      onJournaledForTest: () => Unit = () => ()): VacuumStats = {
    ensure(s, dir)
    val cur = MinMaxManifest.committed(s, dir, Table).get
    val pd = posDeletes(s, dir)
    val ed = eqDeletes(s, dir).select(col("user_id")).distinct()
    // touched files: position paths directly, plus the files holding
    // equality-deleted keys (one skinny (key, path) column scan — the
    // only way to locate them, and still O(corpus keys read, deleted
    // rows shuffled)), kept to the committed ones
    val posTouched = pd.select(col("path")).distinct()
    val eqTouched = coords(s, dir)
      .select(col("user_id"), col("_path").as("path"))
      .join(ed, Seq("user_id"), "left_semi")
      .select(col("path")).distinct()
    val touchedKeys = posTouched.union(eqTouched).distinct()
      .collect().map(r => MinMaxManifest.pathKey(r.getString(0))).toSet
    val touched = cur.entries.filter(e => touchedKeys(MinMaxManifest.pathKey(e.path)))
    if (touched.isEmpty) {
      // tombstones that hit nothing (e.g. keys never present) still
      // clear — they are consumed by this vacuum
      clearTombstones(dir)
      return VacuumStats(0, cur.entries.size, 0L)
    }
    val touchedScan = coords(s, dir, touched.map(_.path))
    val survivors = touchedScan
      .join(pd, touchedScan("_path") === pd("path") &&
        touchedScan("_pos") === pd("row_index"), "left_anti")
      .join(ed, Seq("user_id"), "left_anti")
      .drop("_path", "_pos")
    import s.implicits._
    touched.map(_.path).toDF("old_path").coalesce(1).write.mode("overwrite")
      .parquet(journalPath(dir))
    val after = MinMaxManifest.rewrite(s, dir, Table, cur, touched.map(_.path).toSet,
      survivors.repartitionByRange(touched.length, col("ts"))
        .sortWithinPartitions(col("ts")), "vacuum").map(_.rows).sum
    onJournaledForTest()
    recover(s, dir)
    VacuumStats(touched.length, cur.entries.size, touched.map(_.rows).sum - after)
  }

  /** Crash repair, run before every mutating/reading entry point: a
    * journaled vacuum whose files are no longer committed landed, so
    * its consumed tombstones clear; one whose files are still
    * committed never landed, and the tombstones stay authoritative.
    * Either way the journal goes last. */
  def recover(s: SparkSession, dir: String): Unit =
    if (ready(journalPath(dir))) {
      val committed = MinMaxManifest.committed(s, dir, Table)
        .fold(Set.empty[String])(_.entries.map(e => MinMaxManifest.pathKey(e.path)).toSet)
      if (!s.read.parquet(journalPath(dir)).collect()
          .exists(r => committed(MinMaxManifest.pathKey(r.getString(0)))))
        clearTombstones(dir)
      IndexStore.removeArtifact(journalPath(dir))
    }
}
