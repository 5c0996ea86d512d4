package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * pruning actually removes files). The manifest is ONE extra scan of
  * the freshly-written layout, aggregated per `input_file_name`.
  * Incremental ingest composes: a new batch appends its own files and
  * its own manifest rows (per-file stats never change once written —
  * exactly why Iceberg manifests are immutable).
  */
object MinMaxManifest {

  val NumFiles = 16

  def layoutPath(dir: String, table: String = "events_by_ts"): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/$table"
  def manifestPath(dir: String, table: String = "events_by_ts"): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/${table}_manifest"

  /** The SNAPSHOT LOG — the table-format versioning layer above the
    * stats manifest (Iceberg's snapshot → manifest-list chain, reduced
    * to one append-only parquet table of (snap_id, path) rows): the
    * layout build is snapshot 0, each [[appendBatch]] adds its files
    * under the next id, and a reader AS OF snapshot s sees exactly the
    * files logged with snap_id ≤ s. Data files are immutable once
    * written, so time travel costs NOTHING extra at read time — the
    * historical file set plus the same min/max prune. */
  def snapshotsPath(dir: String, table: String = "events_by_ts"): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/${table}_snapshots"

  private def ready(path: String): Boolean = IndexStore.artifactReady(path)

  /** Fixed schemas of the two kilobyte metadata tables this object
    * owns — passing them to the reader skips the per-read parquet
    * schema-inference JOB (~30–50 ms each; the manifest/log pair is
    * read on EVERY pruned/as-of read, so time-travel queries paid
    * several such jobs per execution — r17, guide §5). The DDL must
    * change only in lockstep with [[ensureFrom]]/[[appendBatch]]'s
    * writers. */
  private val ManifestSchema = org.apache.spark.sql.types.StructType
    .fromDDL("path STRING, min_ts TIMESTAMP, max_ts TIMESTAMP, rows BIGINT")
  private val SnapshotsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("snap_id BIGINT, path STRING")
  private def readManifest(s: SparkSession, mp: String) =
    s.read.schema(ManifestSchema).parquet(mp)
  private def readSnapshots(s: SparkSession, sp: String) =
    s.read.schema(SnapshotsSchema).parquet(sp)

  /** Metadata ops share [[IndexStore.fsOf]] (session Hadoop conf →
    * works on HDFS/S3A, not just local disk — the same port the
    * artifact store got; review catch: this file had kept
    * `java.io.File` walks). */
  private def listParts(lp: String): Set[String] = {
    val (fs, p) = IndexStore.fsOf(lp)
    fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
  }

  /** Scheme-independent identity of a file path string: manifest rows
    * carry `input_file_name()` renderings ("file:///…"), Hadoop
    * listings render "file:/…" — comparisons go through the URI path
    * so the two spellings can never desynchronize a heal. */
  private def pathKey(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Build the time-clustered layout + its manifest if absent. */
  def ensure(s: SparkSession, dir: String): Unit =
    if (!(ready(layoutPath(dir)) && ready(manifestPath(dir))))
      ensureFrom(s, dir, graft.Tables(s, dir, "events"))

  /** Build a time-clustered layout + manifest + snapshot-0 log from an
    * arbitrary events-shaped frame (the [[ensure]] worker, and the
    * base step of a versioned history). Overwrites any partial state. */
  def ensureFrom(s: SparkSession, dir: String, base: DataFrame,
      table: String = "events_by_ts"): Unit = {
    val lp = layoutPath(dir, table)
    val mp = manifestPath(dir, table)
    base
      .repartitionByRange(NumFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(lp)
    s.read.parquet(lp)
      .groupBy(input_file_name().as("path"))
      .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
        count(lit(1)).as("rows"))
      .coalesce(1).write.mode("overwrite").parquet(mp)
    readManifest(s, mp).select(lit(0L).as("snap_id"), col("path"))
      .coalesce(1).write.mode("overwrite").parquet(snapshotsPath(dir, table))
  }

  /** INCREMENTAL manifest maintenance — the streaming-ingest leg,
    * O(batch) work applied to scan planning: a micro-batch appends
    * its rows into the layout, and the manifest gains rows for ONLY the files that batch created —
    * identified by a metadata-only listing diff, then stat'd with one
    * O(batch) scan of just those files. Per-file stats are immutable
    * once written (the Iceberg manifest property), so old manifest
    * rows are never touched and a reader's prune stays correct at
    * every point between appends. The two writes (data files, then
    * manifest rows) are not atomic; a crash between them is repaired
    * by [[healedEntries]] on the next read — the listing diff finds
    * unmanifested files and stats exactly those back in, so a torn
    * append can delay a file's stats but never hide its rows. Batch
    * files are range-clustered on
    * ts within the batch; a streaming source's event-time progression
    * keeps cross-batch ranges narrow too, so skipping stays selective
    * without compaction (and compaction = re-running [[ensure]] into
    * a fresh layout). Replay idempotence is the CALLER's job (ship
    * each batch exactly once — the foreachBatch batch_id discipline
    * StreamingDedup uses); this appends blindly, like any file sink.
    * The base layout must exist (build-before-append). */
  def appendBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchFiles: Int = 2, table: String = "events_by_ts"): Unit = {
    val lp = layoutPath(dir, table)
    val mp = manifestPath(dir, table)
    require(ready(lp) && ready(mp),
      s"manifest layout at $lp must be built before appending")
    val before = listParts(lp)
    batch.repartitionByRange(batchFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("append").parquet(lp)
    val fresh = (listParts(lp) -- before).toIndexedSeq.sorted.map(n => s"$lp/$n")
    if (fresh.nonEmpty) {
      val stats = s.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("path"))
        .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
          count(lit(1)).as("rows"))
      stats.coalesce(1).write.mode("append").parquet(mp)
      // snapshot-log leg (skipped for legacy layouts built before the
      // log existed — [[asOfEvents]] backfills those on first use):
      // this batch's files belong to the NEXT snapshot id. The
      // data→manifest→log write order means a crash can leave a batch
      // statted but unlogged; the as-of read self-heals by logging
      // manifest-known unlogged files under a fresh repair snapshot.
      val sp = snapshotsPath(dir, table)
      if (ready(sp)) {
        val next = readSnapshots(s, sp).agg(max("snap_id")).head().getLong(0) + 1L
        stats.select(lit(next).as("snap_id"), col("path"))
          .coalesce(1).write.mode("append").parquet(sp)
      }
    }
  }

  /** ZERO-COPY SHALLOW CLONE — the lakehouse table feature
    * (Delta `CREATE TABLE ... SHALLOW CLONE`, public shape): a new
    * table whose manifest and snapshot log REFERENCE the source's
    * data files by absolute path, with ZERO data IO — the clone is
    * O(files) metadata however many terabytes the source holds. From
    * then on the two tables diverge at FILE granularity: appends to
    * the clone land in the clone's OWN (initially empty) layout dir
    * and never touch the source; the source keeps appending into its
    * dir, invisible to the clone (the clone pinned the file set as of
    * clone time — it is also a cheap branch/snapshot primitive).
    * [[healedEntries]] understands the split: shared (external) rows
    * pass through heals verbatim, owned files keep the full
    * listing-diff repair.
    *
    * Contract (the same caveat Delta documents): shared files belong
    * to the SOURCE's lifecycle — a source [[compact]]/[[compactSmall]]
    * or vacuum that rewrites/deletes them breaks every clone.
    * Compaction on the CLONE is refused while shared files remain
    * (deep-copy first); quiesce source compaction while clones are
    * live, or clone from a snapshot-exported layout. The clone's
    * history restarts at snapshot 0 = the cloned file set. */
  def cloneTable(s: SparkSession, dir: String, srcTable: String,
      dstTable: String): Unit = {
    import org.apache.hadoop.fs.Path
    val slp = layoutPath(dir, srcTable)
    val dlp = layoutPath(dir, dstTable)
    require(ready(slp) && ready(manifestPath(dir, srcTable)),
      s"clone source $slp must be a built manifest layout")
    require(!ready(dlp), s"clone target $dlp already exists")
    // durable heal FIRST so the cloned manifest is complete (a torn
    // source append cloned un-healed would hide rows in the clone)
    healedEntries(s, dir, srcTable)
    // the clone's own layout dir: empty but ready — future appends
    // land here
    val (fs, dp) = IndexStore.fsOf(dlp)
    fs.mkdirs(dp)
    fs.create(new Path(dp, "_SUCCESS"), true).close()
    s.read.parquet(manifestPath(dir, srcTable))
      .coalesce(1).write.mode("overwrite")
      .parquet(manifestPath(dir, dstTable))
    s.read.parquet(manifestPath(dir, dstTable))
      .select(lit(0L).as("snap_id"), col("path"))
      .coalesce(1).write.mode("overwrite")
      .parquet(snapshotsPath(dir, dstTable))
  }

  /** The shared-file guard for rewrite ops: a shallow clone must be
    * deep-copied before compaction (rewriting would diverge from —
    * or, worse, try to rename — files the source owns). */
  private def requireNoSharedFiles(s: SparkSession, dir: String,
      table: String, op: String): Unit = {
    val lpKey = new org.apache.hadoop.fs.Path(layoutPath(dir, table))
      .toUri.getPath + "/"
    val ext = s.read.parquet(manifestPath(dir, table)).select("path")
      .collect().map(r => pathKey(r.getString(0)))
      .filterNot(_.startsWith(lpKey))
    require(ext.isEmpty,
      s"$op on a shallow clone is not supported: ${ext.length} shared " +
        s"file(s) live outside $lpKey — deep-copy the clone first")
  }

  /** COMPACTION: re-cluster the CURRENT layout contents (base rows
    * plus every appended batch — [[ensure]] must not be used for
    * this: it rebuilds from the source table and would drop appended
    * rows) into a fresh [[NumFiles]]-file time-range layout with a
    * fresh manifest. Restores skip selectivity after many small-batch
    * appends widened per-file ranges and multiplied file count. The
    * rewrite stages into a sibling directory and swaps by rename, so
    * a crash mid-compaction leaves the old layout intact (the swap is
    * two local renames; on an object store this is the
    * pointer-file/metadata-commit step every table format performs).
    *
    * Concurrency contract: the WRITER MUST BE QUIESCED during
    * compaction — a batch appended between the rewrite's read and the
    * directory swap would be silently renamed away with the old
    * layout (the r6 advice). This is the same single-writer rule
    * every table format's compaction holds (Iceberg/Delta take a
    * commit-level conflict check); here it is ENFORCED rather than
    * assumed: the file set is re-listed immediately before the swap
    * and the compaction FAILS LOUDLY (old layout untouched, staging
    * dirs removed) if any file appeared or vanished since the read. */
  def compact(s: SparkSession, dir: String,
      onStagedForTest: () => Unit = () => ()): Unit = {
    val lp = layoutPath(dir)
    val mp = manifestPath(dir)
    require(ready(lp) && ready(mp), s"nothing to compact at $lp")
    // same guard as compactSmall (r10 advice): a shallow clone's
    // manifest names SHARED files outside this layout dir; rebuilding
    // the manifest from the layout listing alone would silently drop
    // every shared row — the cloned data would vanish from pruned
    // reads. Deep-copy the clone first.
    requireNoSharedFiles(s, dir, "events_by_ts", "compact")
    val stagedL = lp + ".compacting"
    val stagedM = mp + ".compacting"
    val (cfs, _) = IndexStore.fsOf(lp)
    val readSet = listParts(lp)
    s.read.parquet(lp)
      .repartitionByRange(NumFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(stagedL)
    s.read.parquet(stagedL)
      .groupBy(input_file_name().as("p0"))
      .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
        count(lit(1)).as("rows"))
      // the manifest must name the files at their POST-swap (live)
      // location, not the staging path it read them from
      .select(regexp_replace(col("p0"),
        java.util.regex.Pattern.quote(stagedL), lp).as("path"),
        col("min_ts"), col("max_ts"), col("rows"))
      .coalesce(1).write.mode("overwrite").parquet(stagedM)
    import org.apache.hadoop.fs.Path
    def delete(p: String): Unit = { cfs.delete(new Path(p), true); () }
    // the concurrent-appender guard: any file that appeared since the
    // rewrite's read would be dropped by the swap — fail before
    // touching the live layout, leaving it (with the straggler batch)
    // fully intact; the caller quiesces the writer and re-runs.
    // (onStagedForTest is the spec's injection point for a racing
    // append — the window is real but sub-second, untestable without
    // a seam.)
    onStagedForTest()
    val nowSet = listParts(lp)
    if (nowSet != readSet) {
      delete(stagedL)
      delete(stagedM)
      val appeared = (nowSet -- readSet).toSeq.sorted
      val vanished = (readSet -- nowSet).toSeq.sorted
      throw new IllegalStateException(
        s"concurrent write detected during compaction of $lp — " +
          s"appeared: $appeared, vanished: $vanished; quiesce the " +
          "writer and re-run compact()")
    }
    def swap(live: String, staged: String): Unit = {
      val old = new Path(live + ".old")
      if (cfs.exists(old)) delete(live + ".old")
      require(cfs.rename(new Path(live), old), s"swap-out of $live failed")
      require(cfs.rename(new Path(staged), new Path(live)),
        s"swap-in of $staged failed")
      delete(live + ".old")
    }
    // manifest first: a crash between the two swaps leaves a manifest
    // whose paths point at the staged layout names — healedEntries'
    // listing diff re-stats the live files on the next read
    swap(mp, stagedM)
    swap(lp, stagedL)
    // compaction rewrites every data file, so it EXPIRES time-travel
    // history (the Iceberg analog: rewrite-data-files + an immediate
    // expire-snapshots): the log restarts at snapshot 0 = the
    // compacted file set. Callers needing history across compaction
    // must snapshot-export first.
    val sp = snapshotsPath(dir)
    if (ready(sp))
      readManifest(s, mp).select(lit(0L).as("snap_id"), col("path"))
        .coalesce(1).write.mode("overwrite").parquet(sp)
  }

  /** Manifest rows, SELF-HEALED against a torn write: a crash can
    * leave data files without manifest rows ([[appendBatch]]'s two
    * non-atomic writes) or manifest rows naming files that no longer
    * exist ([[compact]]'s window between its two swaps). The
    * metadata-only listing diff detects both here — missing files are
    * stat'd back in (one O(new-files) scan), vanished-file rows are
    * dropped — before any read uses the manifest, so "prune never
    * hides a file, and never names a ghost" holds across failures at
    * the cost of one directory listing per read (the price the
    * staleness fingerprint already pays). */
  /** TARGETED small-file compaction — OPTIMIZE's public shape (Delta
    * `OPTIMIZE` / Iceberg `rewrite_data_files` with a size filter),
    * completing the layout-maintenance family: [[compact]] rewrites
    * EVERYTHING (restores clustering after appends widened file
    * ranges); this rewrites ONLY undersized files, bin-packing
    * time-adjacent ones into ≤ `targetBytes` files, so the IO cost is
    * proportional to the SMALL-FILE MASS — at 100 TB that is the
    * difference between an hourly housekeeping job and a full-table
    * rewrite. Right-sized files are never read or copied: they move
    * into the fresh layout by METADATA RENAME only (zero data bytes),
    * keeping their names, their manifest rows, and their row-group
    * clustering.
    *
    * Candidates = manifest entries whose file size < targetBytes/2
    * (the standard half-target rule), ordered by min_ts so packed
    * bins stay time-clustered and min/max stats stay selective.
    * Bins of one file are left alone (rewriting them buys nothing).
    *
    * Crash/concurrency contract = [[compact]]'s, deliberately: the
    * writer must be quiesced (enforced by the same re-list-then-abort
    * guard), the staged directory swaps in by rename, and the
    * manifest is rebuilt afterwards — a crash around the swap is
    * repaired by [[healedEntries]]' listing diff on the next read
    * (new files stat'd in, ghost rows dropped), and a crash between
    * the two renames leaves the `.old` layout for manual recovery,
    * exactly like compact. Rewritten data files expire time-travel
    * history (the snapshot log restarts at 0), also like compact.
    *
    * Returns the number of bins packed (0 = nothing to do, layout
    * untouched). */
  def compactSmall(s: SparkSession, dir: String,
      table: String = "events_by_ts",
      targetBytes: Long = 128L * 1024 * 1024,
      onStagedForTest: () => Unit = () => ()): Int = {
    import org.apache.hadoop.fs.Path
    val lp = layoutPath(dir, table)
    val mp = manifestPath(dir, table)
    require(ready(lp) && ready(mp), s"nothing to optimize at $lp")
    requireNoSharedFiles(s, dir, table, "compactSmall")
    val (fs, lpp) = IndexStore.fsOf(lp)
    val readSet = listParts(lp)
    // heal first (write path — durable repair allowed) so every live
    // file has a manifest row to order by
    val entries = healedEntries(s, dir, table)
    val sizeByKey = fs.listStatus(lpp).toIndexedSeq
      .filter(st => st.getPath.getName.startsWith("part-") &&
        st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.toUri.getPath -> st.getLen).toMap
    val small = entries.toIndexedSeq
      .filter(e => sizeByKey.get(pathKey(e._1)).exists(_ < targetBytes / 2))
      .sortBy(e => (e._2.getTime, e._1))
    // greedy adjacent packing up to the target
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[String])
    var acc = 0L
    small.foreach { e =>
      val sz = sizeByKey(pathKey(e._1))
      if (acc + sz > targetBytes && bins.last.nonEmpty) {
        bins += scala.collection.mutable.ArrayBuffer.empty[String]
        acc = 0L
      }
      bins.last += e._1
      acc += sz
    }
    val packed = bins.filter(_.size >= 2).map(_.toSeq).toSeq
    if (packed.isEmpty) return 0
    val packedKeys = packed.flatten.map(pathKey).toSet
    val keepNames = readSet.filter(n => !packedKeys.contains(
      new Path(lpp, n).toUri.getPath))
    // stage: one time-sorted file per bin, under stable opt names —
    // in ONE Spark job over the whole small-file mass (the r13
    // verdict's leftover per-bin job loop): every row routes to its
    // bin by file name (broadcast map), one shuffle partition per bin
    // so each bin lands contiguous and ts-sorted, and partitionBy
    // splits any hash-colliding bins into their own files. N bins =
    // one scan + one shuffle, not N scheduler round-trips.
    val stagedL = lp + ".optimizing"
    fs.delete(new Path(stagedL), true)
    import s.implicits._
    val binByFile = packed.zipWithIndex.flatMap { case (bin, i) =>
      bin.map(p => (new Path(p).getName, i))
    }.toDF("__file", "__bin")
    val stagedTmp = lp + ".optimizing_bins"
    fs.delete(new Path(stagedTmp), true)
    val smallDf = s.read.parquet(packed.flatten: _*)
    val origCols = smallDf.columns.toSeq
    smallDf
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .join(broadcast(binByFile), Seq("__file"))
      .select((origCols :+ "__bin").map(col): _*)
      .repartition(packed.size, col("__bin"))
      .sortWithinPartitions(col("__bin"), col("ts"))
      .write.partitionBy("__bin").mode("overwrite").parquet(stagedTmp)
    fs.mkdirs(new Path(stagedL))
    packed.indices.foreach { i =>
      val parts = fs.listStatus(new Path(stagedTmp, s"__bin=$i"))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      require(parts.length == 1,
        s"bin $i must stage as exactly one file, got ${parts.length}")
      require(fs.rename(parts.head,
        new Path(stagedL, f"part-opt$i%05d.parquet")),
        s"staging rename failed for bin $i")
    }
    fs.delete(new Path(stagedTmp), true)
    onStagedForTest()
    // the single-writer guard, as in compact: abort losslessly if
    // anything appeared or vanished since the read
    val nowSet = listParts(lp)
    if (nowSet != readSet) {
      fs.delete(new Path(stagedL), true)
      throw new IllegalStateException(
        s"concurrent write detected during optimize of $lp — " +
          "quiesce the writer and re-run compactSmall()")
    }
    // move every right-sized file into the staged layout by METADATA
    // rename (no data IO), then swap directories
    keepNames.toSeq.sorted.foreach { n =>
      require(fs.rename(new Path(lpp, n), new Path(stagedL, n)),
        s"keep-rename failed for $n")
    }
    val succ = new Path(lpp, "_SUCCESS")
    if (fs.exists(succ)) { fs.rename(succ, new Path(stagedL, "_SUCCESS")); () }
    val old = new Path(lp + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(lpp, old), s"swap-out of $lp failed")
    require(fs.rename(new Path(stagedL), lpp), s"swap-in failed for $lp")
    fs.delete(old, true)
    // manifest: unchanged rows for kept files (same names, same dir),
    // fresh stats for the packed files — one O(new-files) scan; then
    // the snapshot log restarts (rewritten files expire history)
    val keptRows = readManifest(s, mp)
      .where(!col("path").isin(packed.flatten: _*))
    val newFiles = (listParts(lp) -- keepNames).toIndexedSeq.sorted
      .map(n => s"$lp/$n")
    val freshRows = s.read.parquet(newFiles: _*)
      .groupBy(input_file_name().as("path"))
      .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
        count(lit(1)).as("rows"))
    val stagedM = mp + ".optimizing"
    keptRows.unionByName(freshRows)
      .coalesce(1).write.mode("overwrite").parquet(stagedM)
    val oldM = new Path(mp + ".old")
    if (fs.exists(oldM)) fs.delete(oldM, true)
    val (mfs, mpp) = IndexStore.fsOf(mp)
    require(mfs.rename(mpp, oldM), s"manifest swap-out failed for $mp")
    require(mfs.rename(new Path(stagedM), mpp), s"manifest swap-in failed")
    mfs.delete(oldM, true)
    val sp = snapshotsPath(dir, table)
    if (ready(sp))
      readManifest(s, mp).select(lit(0L).as("snap_id"), col("path"))
        .coalesce(1).write.mode("overwrite").parquet(sp)
    packed.size
  }

  /** OVERLAP-TARGETED RECLUSTERING — the third layout-maintenance
    * member, completing the family along the third axis: [[compact]]
    * rewrites EVERYTHING (restores clustering, O(table)),
    * [[compactSmall]] rewrites UNDERSIZED files (restores file size,
    * O(small-file mass)); this rewrites files whose [min_ts, max_ts]
    * ranges OVERLAP each other (restores skip SELECTIVITY, O(overlap
    * mass)) — the incremental-clustering shape (Delta's liquid
    * clustering / Iceberg's binpack-with-sort on conflicting files —
    * public designs). Late-arriving appends land as files whose
    * ranges sit INSIDE older files' spans; every such overlap makes a
    * point query read all of them. The sweep groups files into
    * overlap-CONNECTED components (driver-side over the
    * files-count-sized manifest), rewrites only components of ≥ 2
    * files into range-disjoint replacements of the same file count,
    * and leaves every isolated file untouched — by METADATA RENAME,
    * zero data bytes, keeping its name, manifest row, and row-group
    * clustering. Post-condition: ALL live files pairwise
    * range-disjoint (each rewritten component's new files partition
    * its envelope by range; distinct components' envelopes were
    * disjoint by maximality), so a point query reads exactly one
    * file again. At 100 TB this is the nightly housekeeping job that
    * costs one day's late-data neighborhood, never the table.
    *
    * Crash/concurrency contract = [[compactSmall]]'s verbatim:
    * quiesced writer enforced by the re-list-then-abort guard, staged
    * directory swapped in by rename, manifest rebuilt with fresh
    * stats for only the rewritten files, [[healedEntries]] repairs a
    * crash around the swap, rewritten files expire time-travel
    * history (snapshot log restarts at 0). Shallow clones with shared
    * files are refused (deep-copy first), also verbatim.
    *
    * Returns the number of overlap components rewritten (0 = layout
    * already fully disjoint, untouched). */
  def reclusterOverlap(s: SparkSession, dir: String,
      table: String = "events_by_ts",
      onStagedForTest: () => Unit = () => ()): Int = {
    import org.apache.hadoop.fs.Path
    val lp = layoutPath(dir, table)
    val mp = manifestPath(dir, table)
    require(ready(lp) && ready(mp), s"nothing to recluster at $lp")
    requireNoSharedFiles(s, dir, table, "reclusterOverlap")
    val (fs, lpp) = IndexStore.fsOf(lp)
    val readSet = listParts(lp)
    val entries = healedEntries(s, dir, table)
    // overlap sweep: sort by min_ts, a file joins the current
    // component iff its min ≤ the component's running max. The SORT
    // must be as precise as the overlap test: Timestamp.compareTo is
    // nano-aware while getTime truncates to millis, so a getTime sort
    // could process sub-millisecond min_ts ties out of true order and
    // let a micros-wide overlap land in a new component, violating
    // the pairwise-disjoint post-condition (r12 advice)
    implicit val tsOrd: Ordering[java.sql.Timestamp] =
      (a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b)
    val sorted = entries.toIndexedSeq.sortBy(e => (e._2, e._1))(
      Ordering.Tuple2(tsOrd, Ordering.String))
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[(String, java.sql.Timestamp, java.sql.Timestamp)]]
    var curMax: java.sql.Timestamp = null
    sorted.foreach { e =>
      if (curMax == null || e._2.after(curMax)) {
        groups += scala.collection.mutable.ArrayBuffer(e)
        curMax = e._3
      } else {
        groups.last += e
        if (e._3.after(curMax)) curMax = e._3
      }
    }
    val rewrite = groups.filter(_.size >= 2).map(_.toSeq).toSeq
    if (rewrite.isEmpty) return 0
    // stage: ONE Spark job for ALL components (r12 advice #2: a
    // per-component write loop launches one job per overlap
    // component, serially — at nightly-100-TB scale with hundreds of
    // small late-data components, job-scheduling overhead dominates
    // the small rewrite IO). Every component's rows are unioned with
    // a component-id tag, range-partitioned by (component, ts) into
    // sum-of-component-sizes partitions, and written once with
    // partitionBy on the tag. Disjointness survives file-for-file:
    // the directory split happens AFTER partitioning, so a physical
    // file never mixes components; within a component, ascending
    // partition id is ascending ts range (rows with equal (grp, ts)
    // keys colocate under RangePartitioner), and distinct components'
    // envelopes were disjoint by sweep maximality.
    val stagedL = lp + ".reclustering"
    fs.delete(new Path(stagedL), true)
    val totalFiles = rewrite.map(_.size).sum
    // ONE scan of every component's files; the component id rides in
    // as a filename→id map literal (file names are unique within the
    // layout, and shared-file clones were refused above). The map is
    // manifest-row-sized — metadata in the plan, never a data pass.
    val fileGrp: Map[String, Int] = rewrite.zipWithIndex.flatMap {
      case (g, i) => g.map(e => new Path(e._1).getName -> i)
    }.toMap
    val tagged = s.read.parquet(rewrite.flatten.map(_._1): _*)
      .withColumn("__grp", coalesce(
        element_at(typedLit(fileGrp),
          regexp_extract(input_file_name(), "[^/]+$", 0)),
        lit(-1)))
    val stagedTmp = s"$stagedL/__onejob"
    tagged
      .repartitionByRange(totalFiles, col("__grp"), col("ts"))
      .sortWithinPartitions(col("__grp"), col("ts"))
      .write.mode("overwrite").partitionBy("__grp").parquet(stagedTmp)
    // fail loudly if any row missed the map (a lost row would
    // otherwise vanish at swap time — this directory is never renamed)
    require(!fs.exists(new Path(stagedTmp, "__grp=-1")),
      s"recluster staging could not attribute every row to a component at $lp")
    rewrite.indices.foreach { i =>
      val gdir = new Path(stagedTmp, s"__grp=$i")
      val parts =
        if (fs.exists(gdir))
          fs.listStatus(gdir).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        else Array.empty[Path]
      parts.zipWithIndex.foreach { case (p, j) =>
        require(fs.rename(p, new Path(stagedL, f"part-rc$i%03d-$j%05d.parquet")),
          s"staging rename failed for component $i file $j")
      }
    }
    fs.delete(new Path(stagedTmp), true)
    onStagedForTest()
    // single-writer guard, as in compact/compactSmall
    val nowSet = listParts(lp)
    if (nowSet != readSet) {
      fs.delete(new Path(stagedL), true)
      throw new IllegalStateException(
        s"concurrent write detected during recluster of $lp — " +
          "quiesce the writer and re-run reclusterOverlap()")
    }
    val rewriteKeys = rewrite.flatten.map(e => pathKey(e._1)).toSet
    val keepNames = readSet.filter(n =>
      !rewriteKeys.contains(new Path(lpp, n).toUri.getPath))
    keepNames.toSeq.sorted.foreach { n =>
      require(fs.rename(new Path(lpp, n), new Path(stagedL, n)),
        s"keep-rename failed for $n")
    }
    val succ = new Path(lpp, "_SUCCESS")
    if (fs.exists(succ)) { fs.rename(succ, new Path(stagedL, "_SUCCESS")); () }
    val old = new Path(lp + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(lpp, old), s"swap-out of $lp failed")
    require(fs.rename(new Path(stagedL), lpp), s"swap-in failed for $lp")
    fs.delete(old, true)
    // manifest: kept files keep their rows; rewritten components get
    // fresh stats from one O(rewritten-files) scan
    val keptRows = readManifest(s, mp)
      .where(!col("path").isin(rewrite.flatten.map(_._1): _*))
    val newFiles = (listParts(lp) -- keepNames).toIndexedSeq.sorted
      .map(n => s"$lp/$n")
    val freshRows = s.read.parquet(newFiles: _*)
      .groupBy(input_file_name().as("path"))
      .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
        count(lit(1)).as("rows"))
    val stagedM = mp + ".reclustering"
    keptRows.unionByName(freshRows)
      .coalesce(1).write.mode("overwrite").parquet(stagedM)
    val oldM = new Path(mp + ".old")
    if (fs.exists(oldM)) fs.delete(oldM, true)
    val (mfs, mpp) = IndexStore.fsOf(mp)
    require(mfs.rename(mpp, oldM), s"manifest swap-out failed for $mp")
    require(mfs.rename(new Path(stagedM), mpp), s"manifest swap-in failed")
    mfs.delete(oldM, true)
    val sp = snapshotsPath(dir, table)
    if (ready(sp))
      readManifest(s, mp).select(lit(0L).as("snap_id"), col("path"))
        .coalesce(1).write.mode("overwrite").parquet(sp)
    rewrite.size
  }

  private def healedEntries(s: SparkSession, dir: String,
      table: String = "events_by_ts") = {
    val lp = layoutPath(dir, table)
    val mp = manifestPath(dir, table)
    val (hfs, hlp) = IndexStore.fsOf(lp)
    // comparisons run on scheme-independent pathKey: the manifest
    // stores input_file_name() URIs, the FS listing its own rendering
    val listedByKey = hfs.listStatus(hlp).toIndexedSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .map(p => p.toUri.getPath -> p.toString).toMap
    val entries = readManifest(s, mp)
      .select("path", "min_ts", "max_ts", "rows").collect()
    // EXTERNAL rows — paths outside this table's own layout dir —
    // are [[cloneTable]]'s shared files: they belong to the SOURCE
    // table's lifecycle, are invisible to this dir's listing, and
    // must pass through every heal verbatim (before clones existed,
    // an out-of-dir path would have been classed stale and silently
    // healed AWAY). The listing diff below covers only OWNED files.
    val lpKeyPrefix = hlp.toUri.getPath + "/"
    val ownedKnown = entries
      .filter(r => pathKey(r.getString(0)).startsWith(lpKeyPrefix))
    val knownKeys = ownedKnown.map(r => pathKey(r.getString(0))).toSet
    val missing = (listedByKey.keySet -- knownKeys).toIndexedSeq.sorted
      .map(listedByKey)
    val stale = knownKeys -- listedByKey.keySet
    if (missing.isEmpty && stale.isEmpty)
      entries.map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
    else {
      val keptRows = entries
        .filter(r => !pathKey(r.getString(0)).startsWith(lpKeyPrefix) ||
          listedByKey.contains(pathKey(r.getString(0))))
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      val freshRows =
        if (missing.isEmpty) Array.empty[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
        else {
          import s.implicits._
          s.read.parquet(missing: _*)
            .groupBy(input_file_name().as("path"))
            .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
              count(lit(1)).as("rows"))
            .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
            .collect()
        }
      val healed = keptRows ++ freshRows
      import s.implicits._
      s.createDataset(healed.toIndexedSeq)
        .toDF("path", "min_ts", "max_ts", "rows")
        .coalesce(1).write.mode("overwrite").parquet(mp)
      healed.map(r => (r._1, r._2, r._3))
    }
  }

  /** The pruned read: consult ONLY the manifest (bounded collect — one
    * row per file) to pick the files whose [min_ts, max_ts] intersects
    * [lo, hi), then scan just those, re-applying the row predicate for
    * the boundary files. Returns (dataframe, files kept, files total)
    * so callers and specs can see the skip rate. A window matching no
    * files returns an EMPTY frame (a `false` filter over the layout —
    * metadata-only), preserving equivalence with the full scan it
    * replaces. Bound strings parse as UTC wall clock — the SAME
    * convention `lit(ts).cast("timestamp")` uses under the harness's
    * UTC session timezone — so file pruning and the row predicate
    * agree on any JVM default timezone. */
  /** UTC wall-clock parse shared by every bound in this object (see
    * [[prunedEvents]]' timezone note). */
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

  def prunedEvents(s: SparkSession, dir: String, lo: String,
      hi: String, table: String = "events_by_ts"): (DataFrame, Int, Int) = {
    // only the default table auto-builds from the raw events source;
    // derived layouts (time travel's events_tt, DeletionVectors'
    // events_dv) are built by their owners and must exist already
    if (table == "events_by_ts") ensure(s, dir)
    val (loTs, hiTs) = (utc(lo), utc(hi))
    val entries = healedEntries(s, dir, table)
    val kept = entries.filter { case (_, minTs, maxTs) =>
      !maxTs.before(loTs) && minTs.before(hiTs)
    }.map(_._1)
    // the row predicate is built from the SAME utc()-parsed instants
    // as the file-pruning bounds (lit on java.sql.Timestamp is an
    // instant literal, not a session-timezone string parse), so both
    // layers share one clock on ANY session timezone — a
    // lit(str).cast("timestamp") here would parse under the session
    // zone and disagree with the prune at every boundary file (r6
    // advice closed)
    val rowPred = col("ts") >= lit(loTs) && col("ts") < lit(hiTs)
    // every layout here is events-shaped (built from the events
    // frame), so the reader takes the table's cached schema instead
    // of paying a footer-inference job per read (r17)
    val evSchema = graft.Tables(s, dir, "events").schema
    val df =
      if (kept.isEmpty) {
        // schema-only read: a fresh shallow clone's own layout dir is
        // EMPTY (all files shared from the source), so take the
        // schema from any manifest file instead of the dir
        val schemaSrc = entries.headOption.map(_._1)
          .getOrElse(layoutPath(dir, table))
        s.read.schema(evSchema).parquet(schemaSrc).where(lit(false))
      }
      else s.read.schema(evSchema).parquet(kept.toIndexedSeq: _*).where(rowPred)
    (df, kept.length, entries.length)
  }

  /** TIME-TRAVEL read — the layout AS OF snapshot `snapId`, composed
    * with the min/max prune: file list = (files logged with snap_id ≤
    * snapId) ∩ (files whose [min_ts, max_ts] intersects [lo, hi)) —
    * the full Iceberg read shape (snapshot → file set → stats prune)
    * at zero extra read cost, because data files are immutable and the
    * log is kilobytes. Returns (frame, files kept, files in snapshot).
    *
    * Self-healing, same discipline as [[healedEntries]]: a legacy
    * layout without a log gets snapshot 0 = its current manifest; a
    * crash between [[appendBatch]]'s manifest and log writes leaves
    * statted-but-unlogged files, which are logged here under a fresh
    * REPAIR snapshot id (max+1) — as-of results for every EXISTING
    * snapshot are immutable under repair, which is the property that
    * makes time travel trustworthy. */
  def asOfEvents(s: SparkSession, dir: String, snapId: Long, lo: String,
      hi: String, table: String = "events_by_ts"): (DataFrame, Int, Int) =
    asOfMany(s, dir, Seq(snapId), lo, hi, table).head

  /** [[asOfEvents]] for SEVERAL snapshots of one table in one call:
    * the manifest heal and the snapshot-log read/repair — several
    * driver-side metadata jobs each — run ONCE and every requested
    * snapshot's file set is cut from the same consistent view
    * (guide §1/§5: a 3-snapshot audit query was paying the metadata
    * tax three times; the per-snapshot frames are unchanged). */
  def asOfMany(s: SparkSession, dir: String, snapIds: Seq[Long],
      lo: String, hi: String,
      table: String = "events_by_ts"): Seq[(DataFrame, Int, Int)] = {
    val sp = snapshotsPath(dir, table)
    val entries = healedEntries(s, dir, table)
    if (!ready(sp))
      s.createDataFrame(
        s.sparkContext.parallelize(entries.map(e => (0L, e._1)).toIndexedSeq, 1))
        .toDF("snap_id", "path")
        .coalesce(1).write.mode("overwrite").parquet(sp)
    val logged0 = readSnapshots(s, sp)
      .select("snap_id", "path").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val liveKeys = entries.map(e => pathKey(e._1)).toSet
    // DEAD log references mean a compaction swapped the data+manifest
    // but crashed before its history-expiry log reset: every
    // historical snapshot would otherwise silently read as empty
    // (kept = live ∩ dead = ∅ — review catch). Complete the expiry
    // the crashed compaction started: snapshot 0 = the live manifest.
    val logged =
      if (logged0.forall(l => liveKeys.contains(pathKey(l._2)))) logged0
      else {
        val rows = entries.map(e => (0L, e._1)).toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1))
          .toDF("snap_id", "path")
          .coalesce(1).write.mode("overwrite").parquet(sp)
        rows.toArray
      }
    val unlogged = liveKeys -- logged.map(l => pathKey(l._2)).toSet
    val repaired =
      if (unlogged.isEmpty) logged
      else {
        val next = logged.map(_._1).max + 1L
        val rows = entries.map(_._1)
          .filter(p => unlogged.contains(pathKey(p)))
          .toIndexedSeq.sorted.map(p => (next, p))
        s.createDataFrame(s.sparkContext.parallelize(rows, 1))
          .toDF("snap_id", "path")
          .coalesce(1).write.mode("append").parquet(sp)
        logged ++ rows
      }
    val (loTs, hiTs) = (utc(lo), utc(hi))
    val rowPred = col("ts") >= lit(loTs) && col("ts") < lit(hiTs)
    val evSchema = graft.Tables(s, dir, "events").schema
    snapIds.map { snapId =>
      val inSnap = repaired.filter(_._1 <= snapId).map(l => pathKey(l._2)).toSet
      val kept = entries.filter { case (p, minTs, maxTs) =>
        inSnap.contains(pathKey(p)) && !maxTs.before(loTs) && minTs.before(hiTs)
      }.map(_._1)
      val df =
        if (kept.isEmpty) {
          // schema-only read via the manifest (a shallow clone's own
          // layout dir can be empty — see [[prunedEvents]])
          val schemaSrc = entries.headOption.map(_._1)
            .getOrElse(layoutPath(dir, table))
          s.read.schema(evSchema).parquet(schemaSrc).where(lit(false))
        }
        else s.read.schema(evSchema).parquet(kept.toIndexedSeq: _*).where(rowPred)
      (df, kept.length, inSnap.size)
    }
  }

  /** Idempotent versioned-history builder: base frame as snapshot 0,
    * then each batch as snapshots 1..N — the deterministic fixture a
    * registered time-travel query replays (build once per corpus
    * lifetime; a replay sees the completed history and does nothing).
    * A partial build (crash between batches) is detected by the
    * max-snapshot check and rebuilt from scratch — correct because the
    * inputs are deterministic frames of the immutable source table. */
  def ensureHistory(s: SparkSession, dir: String, table: String,
      base: DataFrame, batches: Seq[DataFrame]): Unit = {
    val complete =
      ready(layoutPath(dir, table)) && ready(manifestPath(dir, table)) &&
        ready(snapshotsPath(dir, table)) &&
        // >= not ==: a history that legitimately grew beyond the
        // fixture (later appends / repair snapshots) is complete too —
        // rebuilding would destroy it
        readSnapshots(s, snapshotsPath(dir, table))
          .agg(max("snap_id")).head().getLong(0) >= batches.length.toLong
    if (!complete) {
      ensureFrom(s, dir, base, table)
      batches.foreach(b => appendBatch(s, dir, b, table = table))
    }
  }
}
