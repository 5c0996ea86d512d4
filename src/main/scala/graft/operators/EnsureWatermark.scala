package graft.operators

/** The ENSURE-ONLY routing watermark shared by every rollup that the
  * optimizer rewrite layer ([[graft.plans.RollupRoutingRule]]) may
  * substitute for a raw aggregate: `ensure`/`reEnsure` record the
  * exact data-file listing they wrote; any mutator that can make the
  * rollup a SUPERSET of the raw aggregate (an out-of-band
  * appendBatch) deletes the manifest FIRST, so a crash between the
  * delete and the append fails CLOSED (routing off), never open. The
  * rewrite routes only while [[holds]] — artifact ready AND the
  * listing still byte-matches — so an append, a torn write, or any
  * out-of-band mutation all veto routing instead of silently breaking
  * its exactness proof (the r8 advice's medium finding: the
  * fingerprint in the artifact path tracks only the RAW table and
  * cannot see rollup-side mutation).
  *
  * PLAN-TIME COST (r12 advice): optimizer rules call [[holds]] /
  * [[stampIfHolds]] once per candidate node, so the check must stay a
  * METADATA operation — one directory listing per call (fresh every
  * time: a stale listing would serve a mutated artifact, fail-open).
  * The recorded-manifest FILE read is memoized keyed on its
  * (mtime, length) from that same listing, so repeated checks of an
  * unchanged artifact never re-open the file; the listing itself is
  * never cached.
  *
  * COMMIT STAMPS (the O(batch)-MAINTAINED families — StatsMaintain's
  * column stats, key profiles, MCV lists and column groups;
  * SampledAgg's uniform and stratified samples, group rollups and
  * group histograms): those artifacts cover a source LISTING that
  * moves under appends, so their path cannot be fingerprint-keyed.
  * They share one commit-and-serve protocol instead:
  *
  *  - [[commit]] writes the family's parts into a FRESH version
  *    directory, then ONE small stamp file LAST (covered listing
  *    fingerprint, covered row count, the family's baked knobs, the
  *    version it names), then retires every other child — superseded
  *    versions, a crashed commit's orphan, any older layout;
  *  - [[current]] serves only while the stamp parses, every named
  *    part is intact (`_SUCCESS`) and covered == the live listing — a
  *    listing plus a small file read, never a Spark job. A missing,
  *    torn or unparsable stamp reads as ABSENT, so an artifact from
  *    any older layout rebuilds in place;
  *  - [[maintain]] is the append half: already current → no-op;
  *    absent or torn → rebuild; covered rows + |batch| ≠ |table|
  *    (an out-of-band delete or replacement) → rebuild; otherwise
  *    the family merges the batch into the STAMPED version and
  *    commits a new one. The stamped version is never written in
  *    place, so a crash after the data landed but before the stamp
  *    leaves the old stamp naming the old data: the retry merges the
  *    batch exactly once.
  *
  * Single-maintainer scope: two concurrent commits to one artifact
  * would retire each other's versions. */
private[graft] object EnsureWatermark {

  private val ManifestFile = "_GRAFT_ENSURE_MANIFEST"

  /** (manifest mtime, manifest length) → contents, per path — a
    * rewritten manifest changes both fields in the fresh listing, so
    * the cache can never serve a superseded recording. */
  private val recordedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, String)]()

  /** RECURSIVE data-file listing: a partition-directory artifact
    * (the entity store's `bucket=` layout) keeps its data files in
    * subdirectories, and a top-level-only listing would record the
    * empty string — making the watermark vacuously true under any
    * bucket-file mutation (r13 review finding). Relative paths keep
    * flat artifacts' stamps byte-identical to the old format; the
    * walk costs one extra listStatus per subdirectory — still a
    * metadata operation. */
  private def dataListing(fs: org.apache.hadoop.fs.FileSystem,
      sts: Array[org.apache.hadoop.fs.FileStatus]): String = {
    def walk(prefix: String,
        arr: Array[org.apache.hadoop.fs.FileStatus]): Seq[String] =
      arr.toIndexedSeq.flatMap { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          Seq(s"$prefix${st.getPath.getName}:${st.getLen}")
        else if (st.isDirectory)
          walk(s"$prefix${st.getPath.getName}/", fs.listStatus(st.getPath))
        else Seq.empty
      }
    walk("", sts).sorted.mkString("\n")
  }

  /** Record the current data-file listing as the routed build. */
  def write(path: String): Unit = {
    val (fs, p) = IndexStore.fsOf(path)
    val listing = dataListing(fs, fs.listStatus(p))
    val out = fs.create(new org.apache.hadoop.fs.Path(p, ManifestFile), true)
    try out.write(listing.getBytes("UTF-8")) finally out.close()
  }

  /** Veto routing BEFORE mutating the table (call first, fail-closed). */
  def invalidate(path: String): Unit = {
    val (fs, p) = IndexStore.fsOf(path)
    fs.delete(new org.apache.hadoop.fs.Path(p, ManifestFile), false)
    ()
  }

  /** True iff the artifact is ready AND is exactly what the last
    * ensure/reEnsure built — the rewrite layer's routing
    * precondition. */
  def holds(path: String): Boolean = stampIfHolds(path).isDefined

  /** The current data-file listing when [[holds]] — None otherwise.
    * The returned stamp identifies the exact build, so callers may
    * key caches of EXPENSIVE derived reads (a stats parquet collect,
    * a schema) on it: a reEnsure writes new files → new stamp → the
    * stale entry can never serve. One fresh directory listing per
    * call; the recorded-manifest file read is memoized (see the
    * class scaladoc). */
  def stampIfHolds(path: String): Option[String] = {
    val (fs, p) = IndexStore.fsOf(path)
    val sts =
      try fs.listStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (!sts.exists(st => st.isFile && st.getPath.getName == "_SUCCESS"))
      return None
    val mf = sts.find(st => st.isFile && st.getPath.getName == ManifestFile)
      .getOrElse(return None)
    val key = (mf.getModificationTime, mf.getLen)
    val cached = recordedCache.get(path)
    val recorded =
      if (cached != null && (cached._1, cached._2) == key) cached._3
      else {
        val in =
          try fs.open(mf.getPath)
          catch { case _: java.io.FileNotFoundException => return None }
        val bytes = try {
          val bs = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 4096, false)
          new String(bs.toByteArray, "UTF-8")
        } finally in.close()
        recordedCache.put(path, (key._1, key._2, bytes))
        bytes
      }
    val live = dataListing(fs, sts)
    if (recorded == live) Some(live) else None
  }

  // ------------------------------------------------------------------
  // The one stamp-keyed memo
  // ------------------------------------------------------------------

  private val memoCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  /** The plan-time read memo every stamped artifact shares: the
    * value `load`ed for `path` is served again while `stamp` — a
    * watermark listing or a commit version, both re-derived from FS
    * metadata by the caller on every call — is unchanged. Every
    * build or commit changes the stamp, so a superseded entry can
    * never serve and nothing ever needs clearing. */
  def memo[T](path: String, stamp: String)(load: => T): T = {
    val hit = memoCache.get(path)
    if (hit != null && hit._1 == stamp) hit._2.asInstanceOf[T]
    else {
      val v = load
      memoCache.put(path, (stamp, v))
      v
    }
  }

  // ------------------------------------------------------------------
  // Commit stamps of the O(batch)-maintained artifacts
  // ------------------------------------------------------------------

  private val StampFile = "_GRAFT_STAMP"
  private val StampEnd = "end"

  /** One commit of a maintained artifact: the source listing it
    * covers, that listing's row count, the version directory holding
    * the committed parts, and the family's baked knobs. */
  final case class Stamp(covered: String, rows: Long, version: String,
      knobs: Map[String, Long]) {
    def part(path: String, name: String): String = s"$path/$version/$name"
  }

  /** The committed stamp of `path` — None when missing, torn (no
    * terminating line) or unparsable. A plain file read. */
  def stampOf(path: String): Option[Stamp] = {
    val (fs, p) = IndexStore.fsOf(path)
    val text =
      try {
        val in = fs.open(new org.apache.hadoop.fs.Path(p, StampFile))
        try {
          val bs = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 4096, false)
          new String(bs.toByteArray, "UTF-8")
        } finally in.close()
      } catch { case _: java.io.IOException => return None }
    val lines = text.split("\n").toSeq
    if (lines.lastOption.forall(_ != StampEnd)) return None
    val kv = lines.init.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    scala.util.Try(Stamp(kv("covered"), kv("rows").toLong, kv("version"),
      kv.collect { case (k, v) if k.startsWith("knob.") =>
        k.stripPrefix("knob.") -> v.toLong })).toOption
  }

  /** The stamp when every named part of its version is intact. */
  def intact(path: String, parts: Seq[String]): Option[Stamp] =
    stampOf(path).filter(st =>
      parts.forall(n => IndexStore.artifactReady(st.part(path, n))))

  /** The serving precondition: an intact stamp covering exactly the
    * LIVE listing of `dir/table` — FS metadata only, no Spark job. */
  def current(path: String, parts: Seq[String], dir: String,
      table: String): Option[Stamp] =
    intact(path, parts).filter(_.covered == IndexStore.fingerprint(dir, table))

  private def writeStamp(path: String, st: Stamp): Unit = {
    val (fs, p) = IndexStore.fsOf(path)
    val body = (Seq(s"covered=${st.covered}", s"rows=${st.rows}",
        s"version=${st.version}") ++
      st.knobs.toSeq.sorted.map { case (k, v) => s"knob.$k=$v" } :+
      StampEnd).mkString("\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(p, StampFile), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Test seam: rewrite `path`'s stamp through `f` — how specs forge
    * a stale, superseded or crash-window commit record. */
  private[graft] def rewriteStampForTest(path: String)(f: Stamp => Stamp): Unit =
    stampOf(path).foreach(st => writeStamp(path, f(st)))

  /** Commit one state of the artifact at `path`: `write` receives a
    * fresh version directory and writes the family's parts under it;
    * the stamp (covering the live listing of `dir/table`, `rows` of
    * it) lands LAST; then every other child of `path` is retired. */
  def commit(path: String, dir: String, table: String, rows: Long,
      knobs: Map[String, Long] = Map.empty)(write: String => Unit): Unit = {
    val covered = IndexStore.fingerprint(dir, table)
    val version = s"v_${java.util.UUID.randomUUID()}"
    write(s"$path/$version")
    writeStamp(path, Stamp(covered, rows, version, knobs))
    val (fs, p) = IndexStore.fsOf(path)
    fs.listStatus(p).map(_.getPath)
      .filterNot(c => c.getName == version || c.getName == StampFile ||
        c.getName.startsWith("."))
      .foreach(fs.delete(_, true))
  }

  /** The append protocol every maintained family shares (see the
    * class scaladoc). The caller appended `batch`'s rows to the table
    * ALREADY. `rebuild` receives the surviving stamp, if any, so a
    * torn artifact rebuilds under its own baked knobs; `merge`
    * receives the intact stamped state and the live row count, and
    * commits the merged state. */
  def maintain(s: org.apache.spark.sql.SparkSession, path: String,
      parts: Seq[String], dir: String, table: String,
      batch: org.apache.spark.sql.DataFrame)(
      rebuild: Option[Stamp] => Unit)(merge: (Stamp, Long) => Unit): Unit =
    intact(path, parts) match {
      case Some(st) if st.covered == IndexStore.fingerprint(dir, table) => ()
      case Some(st) =>
        val liveRows = graft.Tables(s, dir, table).count()
        if (BigInt(st.rows) + BigInt(batch.count()) != BigInt(liveRows))
          rebuild(Some(st))
        else merge(st, liveRows)
      case None => rebuild(stampOf(path))
    }
}
