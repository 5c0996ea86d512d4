package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max manifest data skipping — the Iceberg/Delta scan-
  * planning primitive, expressed with plain parquet + a tiny metadata
  * table (cf. the public Iceberg spec's manifest files and Delta's
  * per-file stats; no proprietary format, just the idea).
  *
  * [[ZOrder]] (q28) showed IN-file row-group skipping once rows are
  * clustered; this operator adds the layer ABOVE the file: a manifest
  * with one row per data file carrying (path, min_ts, max_ts, rows),
  * built once per corpus lifetime, so a time-range query prunes its
  * FILE LIST from kilobytes of metadata before a single data byte is
  * read. At 100 TB the difference is structural: partition pruning
  * needs a directory scheme chosen up front, while stats-based
  * skipping works for any clustered column, composes with row-group
  * pruning on the surviving files, and the manifest itself stays tiny
  * (one row per ~128 MB file ⇒ ~10⁶ rows at 100 TB — itself a
  * partition-prunable table, far below the driver-collect ceiling
  * here and range-shardable when it outgrows one executor).
  *
  * Layout build (once, keyed by the events fingerprint like every
  * [[IndexStore]] artifact): `repartitionByRange(ts)` +
  * `sortWithinPartitions(ts)` gives each file a narrow, mostly
  * disjoint time range — the clustering that makes min/max stats
  * selective (an unclustered file's [min,max] spans everything and
  * prunes nothing; that honesty lives in the spec, which asserts
  * pruning actually removes files).
  *
  * TABLE STATE = ONE COMMIT. A table's state is one [[EnsureWatermark]]
  * commit at [[manifestPath]], whose `data` part holds one [[Entry]]
  * per live data file — (path, min_ts, max_ts, rows, snap_id): the
  * stats manifest and the snapshot log are one kilobyte table, so they
  * can never disagree (the Iceberg/Delta design: the committed manifest
  * IS the table). Data files are never moved or rewritten in place:
  * each mutation writes its new files into a fresh `c_<uuid>` directory
  * of the layout, stats exactly that directory, and lands one commit on
  * top of the stamp it read. Files no commit names — a crashed or a
  * losing mutation's — are invisible to every read, and reads never
  * write: they trust only the current stamp and read its entries once
  * per committed version through [[EnsureWatermark.memo]].
  */
object MinMaxManifest {

  val NumFiles = 16
  private val Default = "events_by_ts"

  def layoutPath(dir: String, table: String = Default): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/$table"
  def manifestPath(dir: String, table: String = Default): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/${table}_manifest"

  /** One live data file of a committed table state: its ts range, its
    * row count, and the snapshot that added it — a reader AS OF
    * snapshot s sees exactly the files with `snap` ≤ s. The layout
    * build is snapshot 0 and each [[appendBatch]] the next id; data
    * files are immutable, so time travel costs nothing extra at read
    * time. */
  final case class Entry(path: String, minTs: java.sql.Timestamp,
      maxTs: java.sql.Timestamp, rows: Long, snap: Long)

  /** A table's current stamp and the entries it commits. */
  private[operators] final case class Committed(
      stamp: EnsureWatermark.Stamp, entries: Seq[Entry])

  /** The entries' fixed schema — passing it to the reader skips the
    * footer-inference job; it changes only with [[commit]]'s writer. */
  private val EntrySchema = org.apache.spark.sql.types.StructType.fromDDL(
    "path STRING, min_ts TIMESTAMP, max_ts TIMESTAMP, rows BIGINT, snap_id BIGINT")

  /** The current commit of `table` — None when it has none (never
    * built, torn, or in an older stamp-less layout). Its entries are
    * read once per committed version; a warm call is FS metadata only. */
  private[operators] def committed(s: SparkSession, dir: String,
      table: String): Option[Committed] = {
    val mp = manifestPath(dir, table)
    EnsureWatermark.current(mp).map { st =>
      Committed(st, EnsureWatermark.memo(mp, st.version) {
        s.read.schema(EntrySchema).parquet(st.part(mp, "data")).collect()
          .toSeq.map(r => Entry(r.getString(0), r.getTimestamp(1),
            r.getTimestamp(2), r.getLong(3), r.getLong(4)))
      })
    }
  }

  private def live(s: SparkSession, dir: String, table: String,
      op: String): Committed =
    committed(s, dir, table).getOrElse(throw new IllegalArgumentException(
      s"$op: ${layoutPath(dir, table)} is not a built manifest layout"))

  /** Whether `table` has a current commit — FS metadata only. */
  def built(dir: String, table: String = Default): Boolean =
    EnsureWatermark.current(manifestPath(dir, table)).isDefined

  /** The committed entries of a built table. */
  def entries(s: SparkSession, dir: String,
      table: String = Default): Seq[Entry] =
    live(s, dir, table, "read").entries

  /** Scheme-independent identity of a file path string: entries carry
    * `input_file_name()` renderings ("file:///…"), `_metadata` and
    * Hadoop listings render "file:/…". */
  private[operators] def pathKey(p: String): String = new Path(p).toUri.getPath

  /** An events-shaped frame over exactly `paths` (a local empty frame
    * when there are none). Every layout here is built from the events
    * frame, so the reader takes the table's cached schema instead of
    * paying a footer-inference job per read. */
  private[operators] def read(s: SparkSession, dir: String,
      paths: Seq[String]): DataFrame = {
    val schema = graft.Tables(s, dir, "events").schema
    if (paths.isEmpty) s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else s.read.schema(schema).parquet(paths: _*)
  }

  /** Every committed row of `table`, unpruned. */
  def scan(s: SparkSession, dir: String, table: String = Default): DataFrame =
    read(s, dir, entries(s, dir, table).map(_.path))

  private def clustered(df: DataFrame, files: Int): DataFrame =
    df.repartitionByRange(files, col("ts")).sortWithinPartitions(col("ts"))

  private def freshDir(dir: String, table: String): String =
    s"${layoutPath(dir, table)}/c_${java.util.UUID.randomUUID()}"

  /** Write `df` into the fresh directory `c` (one subdirectory per
    * value of the `by` columns) and stat exactly the files under it —
    * one O(new files) scan of the ts column; one entry per non-empty
    * file, at snapshot 0. */
  private def writeFiles(s: SparkSession, c: String, df: DataFrame,
      by: String*): Seq[Entry] = {
    df.write.partitionBy(by: _*).parquet(c)
    s.read.schema("ts TIMESTAMP").parquet(c)
      .groupBy(input_file_name().as("path"))
      .agg(min("ts"), max("ts"), count(lit(1)))
      .collect().toSeq
      .map(r => Entry(r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), 0L))
      .sortBy(_.path)
  }

  /** Land `entries` as the table's next state on top of stamp `on`
    * (None: whatever is latest when the commit starts). True when it
    * landed — or when the current state already names every one of
    * `fresh`, the files this mutation wrote into its own directory (no
    * other mutation can name them), because a later commit built on it
    * the moment it landed. The landed entries also seed the read memo
    * of their version. */
  private def commit(s: SparkSession, dir: String, table: String,
      entries: Seq[Entry], on: Option[EnsureWatermark.Stamp],
      fresh: Seq[Entry]): Boolean = {
    import s.implicits._
    val mp = manifestPath(dir, table)
    var version = ""
    val landed = EnsureWatermark.commit(mp, dir, "events",
        entries.size.toLong, on = on) { v =>
      version = new Path(v).getName
      entries.toDF(EntrySchema.fieldNames.toIndexedSeq: _*)
        .coalesce(1).write.parquet(s"$v/data")
    }
    if (landed) EnsureWatermark.memo(mp, version)(entries)
    landed || fresh.nonEmpty && committed(s, dir, table).exists(c =>
      fresh.map(_.path).toSet.subsetOf(c.entries.map(_.path).toSet))
  }

  /** After a landed commit of `table` whose entries are `live`: delete
    * the `victims` (owned files the commit no longer names) and every
    * `c_` directory of theirs left holding no live file, and what an
    * older stamp-less layout left — its top-level files and its
    * snapshot log. A directory no commit names yet (an in-flight
    * mutation's) is never touched. */
  private def retire(dir: String, table: String, victims: Seq[String],
      live: Seq[Entry]): Unit = {
    val lp = layoutPath(dir, table)
    val (fs, lpp) = IndexStore.fsOf(lp)
    val own = pathKey(lp) + "/"
    def cDir(p: String) = pathKey(p).stripPrefix(own).takeWhile(_ != '/')
    val gone = victims.filter(pathKey(_).startsWith(own))
    gone.foreach(p => fs.delete(new Path(pathKey(p)), false))
    (gone.map(cDir).toSet -- live.map(e => cDir(e.path)))
      .foreach(d => fs.delete(new Path(lpp, d), true))
    if (fs.exists(lpp))
      fs.listStatus(lpp).filter(_.isFile).foreach(f => fs.delete(f.getPath, false))
    IndexStore.removeArtifact(s"${lp}_snapshots")
  }

  /** Build the time-clustered default layout if it has no current
    * commit. */
  def ensure(s: SparkSession, dir: String): Unit =
    if (!built(dir)) { ensureFrom(s, dir, graft.Tables(s, dir, "events")); () }

  /** Build `table` from an arbitrary events-shaped frame as one commit
    * at snapshot 0 on top of the stamp read first (the [[ensure]]
    * worker, and the base step of a versioned history): the frame is
    * written time-clustered into a fresh directory and every file it
    * wrote committed; once the stamp lands, the files of the state it
    * replaced are retired. A build that loses the race to a concurrent
    * commit deletes its own files, leaves the winner standing and
    * returns false. */
  def ensureFrom(s: SparkSession, dir: String, base: DataFrame,
      table: String = Default): Boolean = {
    val on = EnsureWatermark.stampOf(manifestPath(dir, table))
    val prior = committed(s, dir, table).filter(c => on.contains(c.stamp))
      .fold(Seq.empty[String])(_.entries.map(_.path))
    val c = freshDir(dir, table)
    val files = writeFiles(s, c, clustered(base, NumFiles))
    val landed = commit(s, dir, table, files, on, files)
    if (landed) retire(dir, table, prior, files)
    else { val (fs, _) = IndexStore.fsOf(c); fs.delete(new Path(c), true) }
    landed
  }

  /** INCREMENTAL manifest maintenance — the streaming-ingest leg,
    * O(batch) work applied to scan planning: a micro-batch writes its
    * rows into its own fresh directory of the layout, stats exactly
    * the files there (one O(batch) scan), and commits the old entries
    * plus its files under the next snapshot id. Per-file stats are
    * immutable once written (the Iceberg manifest property), so a
    * reader's prune stays correct at every point between appends. Until
    * the commit lands the batch is invisible; a crash before it leaves
    * only files no commit names, and a retried append lands the batch
    * once. Appends commute: one that loses the race to a concurrent
    * commit re-reads the winner's entries and retries the kilobyte
    * commit with the files it already wrote. Batch files are
    * range-clustered on ts within the batch; a streaming source's
    * event-time progression keeps cross-batch ranges narrow too.
    * Replay idempotence is the CALLER's job (ship each batch exactly
    * once — the foreachBatch batch_id discipline StreamingDedup uses).
    * The base layout must exist (build-before-append). */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchFiles: Int = 2, table: String = Default): Unit = {
    require(built(dir, table),
      s"manifest layout at ${layoutPath(dir, table)} must be built before appending")
    val files = writeFiles(s, freshDir(dir, table), clustered(batch, batchFiles))
    @annotation.tailrec
    def land(lost: Option[EnsureWatermark.Stamp]): Unit = {
      val cur = live(s, dir, table, "appendBatch")
      if (lost.contains(cur.stamp))
        throw new IllegalStateException(s"appendBatch: the commit on " +
          s"${cur.stamp.version} of ${layoutPath(dir, table)} failed with no concurrent commit")
      val next = cur.entries.map(_.snap).maxOption.fold(1L)(_ + 1L)
      if (!commit(s, dir, table, cur.entries ++ files.map(_.copy(snap = next)),
          Some(cur.stamp), files)) land(Some(cur.stamp))
    }
    if (files.nonEmpty) land(None)
  }

  /** ZERO-COPY SHALLOW CLONE — the lakehouse table feature
    * (Delta `CREATE TABLE ... SHALLOW CLONE`, public shape): a new
    * table whose committed entries REFERENCE the source's data files
    * by absolute path, with ZERO data IO — the clone is O(files)
    * metadata however many terabytes the source holds. From then on
    * the two tables diverge at FILE granularity: appends to the clone
    * land in the clone's OWN layout dir and never touch the source;
    * the source keeps appending into its dir, invisible to the clone
    * (the clone pinned the file set as of clone time — it is also a
    * cheap branch/snapshot primitive).
    *
    * Contract (the same caveat Delta documents): shared files belong
    * to the SOURCE's lifecycle — a source [[compactSmall]],
    * [[reclusterOverlap]] or vacuum that rewrites them breaks every
    * clone. Rewrites on the CLONE are refused while shared files
    * remain (deep-copy first); quiesce source rewrites while clones are
    * live, or clone from a snapshot-exported layout. The clone's
    * history restarts at snapshot 0 = the cloned file set. */
  def cloneTable(s: SparkSession, dir: String, srcTable: String,
      dstTable: String): Unit = {
    val src = live(s, dir, srcTable, "clone source")
    val target = s"clone target ${layoutPath(dir, dstTable)}"
    require(!built(dir, dstTable), s"$target already exists")
    val cloned = src.entries.map(_.copy(snap = 0L))
    require(commit(s, dir, dstTable, cloned,
      EnsureWatermark.stampOf(manifestPath(dir, dstTable)), Nil),
      s"$target was committed concurrently")
    retire(dir, dstTable, Nil, cloned)
  }

  /** The current commit of a table a rewrite may touch: a shallow
    * clone's entries name files the SOURCE owns, which the clone must
    * never rewrite or delete — deep-copy the clone first. */
  private def owned(s: SparkSession, dir: String, table: String,
      op: String): Committed = {
    val cur = live(s, dir, table, op)
    val own = pathKey(layoutPath(dir, table)) + "/"
    val shared = cur.entries.count(e => !pathKey(e.path).startsWith(own))
    require(shared == 0,
      s"$op on a shallow clone is not supported: $shared shared " +
        s"file(s) live outside $own — deep-copy the clone first")
    cur
  }

  /** The one rewrite commit of the layout-maintenance family (and of
    * [[DeletionVectors.vacuum]]): `replacement` is written into a fresh
    * directory (one subdirectory per value of its `by` columns), and
    * the next state is `on`'s entries minus `victims` plus the new
    * files, every snapshot id reset to 0 — rewritten files expire
    * time-travel history (Iceberg's rewrite-data-files + an immediate
    * expire-snapshots). Files outside the victims are never read or
    * touched: the entries keep naming them. The victims are retired
    * after the stamp lands. A rewrite that loses the race to a
    * concurrent commit deletes its own files and fails loudly — the
    * writer must be quiesced (every table format's compaction holds
    * the same single-writer rule; here it is the commit's
    * compare-and-swap). Returns the new files' entries. */
  private[operators] def rewrite(s: SparkSession, dir: String, table: String,
      on: Committed, victims: Set[String], replacement: DataFrame, op: String,
      by: Seq[String] = Nil, onStagedForTest: () => Unit = () => ()): Seq[Entry] = {
    val c = freshDir(dir, table)
    val files = writeFiles(s, c, replacement, by: _*)
    onStagedForTest()
    val next = on.entries.filterNot(e => victims(e.path)).map(_.copy(snap = 0L)) ++ files
    if (!commit(s, dir, table, next, Some(on.stamp), files)) {
      val (fs, _) = IndexStore.fsOf(c)
      fs.delete(new Path(c), true)
      throw new IllegalStateException(
        s"concurrent write detected during $op of ${layoutPath(dir, table)} — " +
          s"quiesce the writer and re-run $op()")
    }
    retire(dir, table, victims.toSeq, next)
    files
  }

  /** The rows of `groups`' files in one frame, each tagged `__grp`
    * with its group's index — one scan per group, unioned into one
    * job. */
  private def tagged(s: SparkSession, dir: String,
      groups: Seq[Seq[String]]): DataFrame =
    groups.zipWithIndex
      .map { case (g, i) => read(s, dir, g).withColumn("__grp", lit(i)) }
      .reduce(_ union _)

  /** TARGETED small-file compaction — OPTIMIZE's public shape (Delta
    * `OPTIMIZE` / Iceberg `rewrite_data_files` with a size filter):
    * this rewrites ONLY undersized files, bin-packing time-adjacent
    * ones into ≤ `targetBytes` files, so the IO cost is proportional to
    * the SMALL-FILE MASS — at 100 TB that is the difference between an
    * hourly housekeeping job and a full-table rewrite. Right-sized
    * files are never read, copied or moved: the committed entries keep
    * naming them, with their stats and row-group clustering.
    *
    * Candidates = entries whose file size < targetBytes/2 (the
    * standard half-target rule), ordered by min_ts so packed bins stay
    * time-clustered and min/max stats stay selective. Bins of one file
    * are left alone (rewriting them buys nothing). Every bin is packed
    * in ONE Spark job over the whole small-file mass: one shuffle
    * partition per bin keeps each bin contiguous and ts-sorted, and
    * `partitionBy` on the bin splits hash-colliding bins into their own
    * files, so each bin lands as one file. Commit, expiry and the
    * concurrent-writer failure are [[rewrite]]'s.
    *
    * Returns the number of bins packed (0 = nothing to do, layout
    * untouched). */
  def compactSmall(s: SparkSession, dir: String,
      table: String = Default,
      targetBytes: Long = 128L * 1024 * 1024,
      onStagedForTest: () => Unit = () => ()): Int = {
    val cur = owned(s, dir, table, "compactSmall")
    val (fs, _) = IndexStore.fsOf(layoutPath(dir, table))
    val sizeOf = cur.entries
      .map(e => e.path -> fs.getFileStatus(new Path(e.path)).getLen).toMap
    val small = cur.entries.filter(e => sizeOf(e.path) < targetBytes / 2)
      .sortBy(e => (e.minTs.getTime, e.path))
    // greedy adjacent packing up to the target
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[String])
    var acc = 0L
    small.foreach { e =>
      val sz = sizeOf(e.path)
      if (acc + sz > targetBytes && bins.last.nonEmpty) {
        bins += scala.collection.mutable.ArrayBuffer.empty[String]
        acc = 0L
      }
      bins.last += e.path
      acc += sz
    }
    val packed = bins.filter(_.size >= 2).map(_.toSeq).toSeq
    if (packed.nonEmpty)
      rewrite(s, dir, table, cur, packed.flatten.toSet,
        tagged(s, dir, packed).repartition(packed.size, col("__grp"))
          .sortWithinPartitions(col("__grp"), col("ts")),
        "compactSmall", Seq("__grp"), onStagedForTest)
    packed.size
  }

  /** OVERLAP-TARGETED RECLUSTERING — the layout-maintenance member
    * along the second axis: [[compactSmall]] rewrites UNDERSIZED files
    * (restores file size, O(small-file mass)); this rewrites files
    * whose [min_ts, max_ts] ranges OVERLAP each other (restores skip
    * SELECTIVITY, O(overlap mass)) — the incremental-clustering shape
    * (Delta's liquid clustering / Iceberg's binpack-with-sort on
    * conflicting files — public designs). Late-arriving appends land as
    * files whose ranges sit INSIDE older files' spans; every such
    * overlap makes a point query read all of them. The sweep groups
    * files into overlap-CONNECTED components (driver-side over the
    * files-count-sized entries), rewrites only components of ≥ 2 files
    * into range-disjoint replacements of about the same file count
    * (one range partition per file rewritten), and leaves every
    * isolated file untouched. Post-condition: ALL live
    * files pairwise range-disjoint (each rewritten component's new
    * files partition its envelope by range; distinct components'
    * envelopes were disjoint by maximality), so a point query reads
    * exactly one file again. At 100 TB this is the nightly
    * housekeeping job that costs one day's late-data neighborhood,
    * never the table. Commit, expiry, the shallow-clone refusal and
    * the concurrent-writer failure are [[compactSmall]]'s.
    *
    * Returns the number of overlap components rewritten (0 = layout
    * already fully disjoint, untouched). */
  def reclusterOverlap(s: SparkSession, dir: String,
      table: String = Default,
      onStagedForTest: () => Unit = () => ()): Int = {
    val cur = owned(s, dir, table, "reclusterOverlap")
    // overlap sweep: sort by min_ts, a file joins the current
    // component iff its min ≤ the component's running max. The SORT
    // must be as precise as the overlap test: Timestamp.compareTo is
    // nano-aware while getTime truncates to millis, so a getTime sort
    // could process sub-millisecond min_ts ties out of true order and
    // let a micros-wide overlap land in a new component, violating
    // the pairwise-disjoint post-condition (r12 advice)
    implicit val tsOrd: Ordering[java.sql.Timestamp] =
      (a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b)
    val sorted = cur.entries.sortBy(e => (e.minTs, e.path))(
      Ordering.Tuple2(tsOrd, Ordering.String))
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Entry]]
    var curMax: java.sql.Timestamp = null
    sorted.foreach { e =>
      if (curMax == null || e.minTs.after(curMax)) {
        groups += scala.collection.mutable.ArrayBuffer(e)
        curMax = e.maxTs
      } else {
        groups.last += e
        if (e.maxTs.after(curMax)) curMax = e.maxTs
      }
    }
    val comps = groups.filter(_.size >= 2).map(_.map(_.path).toSeq).toSeq
    if (comps.isEmpty) return 0
    // ONE job for ALL components (r12 advice #2): every component's
    // rows are range-partitioned by (component, ts) into
    // sum-of-component-sizes partitions and written once with
    // partitionBy on the component. Disjointness survives
    // file-for-file: the directory split happens AFTER partitioning,
    // so a physical file never mixes components; within a component,
    // ascending partition id is ascending ts range (rows with equal
    // (component, ts) keys colocate under RangePartitioner), and
    // distinct components' envelopes were disjoint by sweep maximality.
    rewrite(s, dir, table, cur, comps.flatten.toSet,
      tagged(s, dir, comps)
        .repartitionByRange(comps.flatten.size, col("__grp"), col("ts"))
        .sortWithinPartitions(col("__grp"), col("ts")),
      "reclusterOverlap", Seq("__grp"), onStagedForTest)
    comps.size
  }

  /** UTC wall-clock parse shared by every bound in this object (see
    * [[asOfMany]]' timezone note). */
  def utc(t: String): java.sql.Timestamp = java.sql.Timestamp.from(
    java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  /** Zone-FREE UTC day truncation of a timestamp column — epoch
    * integer arithmetic instead of `date_trunc("DAY", …)`, which
    * follows the session zone: a rollup built under a non-UTC session
    * would persist day keys that disagree with every reader's
    * [[utc]]-parsed bounds (the r7 advice). Identical to date_trunc
    * under a UTC session, correct under any other. */
  def utcDay(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_seconds(unix_timestamp(c) - pmod(unix_timestamp(c), lit(86400L)))

  /** The pruned read of the latest state: consult ONLY the committed
    * entries (one row per file) to pick the files whose [min_ts, max_ts]
    * intersects [lo, hi), then scan just those, re-applying the row
    * predicate for the boundary files. Returns (dataframe, files kept,
    * files total) so callers and specs can see the skip rate. A window
    * matching no files returns an EMPTY frame, preserving equivalence
    * with the full scan it replaces. */
  def prunedEvents(s: SparkSession, dir: String, lo: String,
      hi: String, table: String = Default): (DataFrame, Int, Int) = {
    // only the default table auto-builds from the raw events source;
    // derived layouts (time travel's events_tt, DeletionVectors'
    // events_dv) are built by their owners and must exist already
    if (table == Default) ensure(s, dir)
    asOfMany(s, dir, Seq(Long.MaxValue), lo, hi, table).head
  }

  /** TIME-TRAVEL read — the layout AS OF snapshot `snapId`, composed
    * with the min/max prune: file list = (entries with snap_id ≤
    * snapId) ∩ (files whose [min_ts, max_ts] intersects [lo, hi)) —
    * the full Iceberg read shape (snapshot → file set → stats prune)
    * at zero extra read cost, because data files are immutable and the
    * entries are kilobytes. Returns (frame, files kept, files in
    * snapshot). */
  def asOfEvents(s: SparkSession, dir: String, snapId: Long, lo: String,
      hi: String, table: String = Default): (DataFrame, Int, Int) =
    asOfMany(s, dir, Seq(snapId), lo, hi, table).head

  /** [[asOfEvents]] for SEVERAL snapshots of one table in one call,
    * every snapshot's file set cut from the same committed entries.
    * Bound strings parse as UTC wall clock ([[utc]]), and the row
    * predicate is built from the SAME instants as the file prune (lit
    * on java.sql.Timestamp is an instant literal, not a session-zone
    * string parse), so both layers share one clock on ANY session
    * timezone. */
  def asOfMany(s: SparkSession, dir: String, snapIds: Seq[Long],
      lo: String, hi: String,
      table: String = Default): Seq[(DataFrame, Int, Int)] = {
    val es = entries(s, dir, table)
    val (loTs, hiTs) = (utc(lo), utc(hi))
    val rowPred = col("ts") >= lit(loTs) && col("ts") < lit(hiTs)
    snapIds.map { snapId =>
      val inSnap = es.filter(_.snap <= snapId)
      val kept = inSnap.filter(e => !e.maxTs.before(loTs) && e.minTs.before(hiTs))
      (read(s, dir, kept.map(_.path)).where(rowPred), kept.length, inSnap.length)
    }
  }

  /** Idempotent versioned-history builder: base frame as snapshot 0,
    * then each batch as snapshots 1..N — the deterministic fixture a
    * registered time-travel query replays (build once per corpus
    * lifetime; a replay sees the completed history and does nothing).
    * A partial build (crash between batches) is detected by the
    * max-snapshot check and rebuilt from scratch — correct because the
    * inputs are deterministic frames of the immutable source table. A
    * history that legitimately grew beyond the fixture (later appends)
    * is complete too. */
  def ensureHistory(s: SparkSession, dir: String, table: String,
      base: DataFrame, batches: Seq[DataFrame]): Unit =
    if (!committed(s, dir, table).exists(
        _.entries.map(_.snap).maxOption.getOrElse(0L) >= batches.length)) {
      // a build that lost the race leaves the history to the winner
      if (ensureFrom(s, dir, base, table))
        batches.foreach(b => appendBatch(s, dir, b, table = table))
    }
}
