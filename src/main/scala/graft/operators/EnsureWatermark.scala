package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one commit-and-serve protocol of every rebuildable artifact:
  * the O(batch)-MAINTAINED families (StatsMaintain's column stats, key
  * profiles, MCV lists and column groups; SampledAgg's uniform and
  * stratified samples, group rollups and group histograms) cover a
  * live source listing; the FINGERPRINT-KEYED ones
  * (`<root>/<fingerprint>/<name>`: the seven [[DailyRollup]]s,
  * Dictionary, EntityIndex, StatsCatalog's stats, key profiles,
  * column groups and MCV lists, IndexStore's indexes, the steering
  * and tolerance fixtures, the partition- and schema-evolution
  * layouts, the shard export) cover their path's fingerprint; the
  * PLAN-KEYED ones (ResultCache entries, CardFeedback observations,
  * GraphRank's bucketed edges) cover the key they are filed under.
  *
  *  - [[commit]] writes the parts into a FRESH version `v_<seq>_<uuid>`,
  *    then lands ONE stamp `_GRAFT_STAMP.<seq>` LAST (covered
  *    fingerprint and row count, baked knobs, the version, each part's
  *    data-file listing) by a rename that fails when the name exists:
  *    of two commits that read the same latest stamp exactly one lands,
  *    and the loser deletes its own version; a stamp landing on a
  *    sequence a later stamp already superseded (and retired)
  *    withdraws itself and loses too. The winner retires what
  *    its stamp no longer names — older stamps, versions of older
  *    sequence numbers, older layouts — never a version of its own
  *    sequence or later (a commit still in flight).
  *  - [[current]] serves only while the latest stamp parses, covers
  *    the live listing (maintained) or the path's fingerprint (keyed),
  *    and every named part is intact: `_SUCCESS` present and the
  *    data-file listing the recorded one, so an out-of-band file
  *    vetoes serving. A missing, torn or unparsable stamp reads as
  *    ABSENT, so any older layout rebuilds in place. FS metadata only:
  *    one listing of the artifact and one per part, the stamp read
  *    memoized on its (name, mtime, length).
  *  - [[veto]] comes before any in-place mutation (the rollups' and
  *    the entity store's `appendBatch`): a stamp marking the same
  *    version VETOED lands first, so a crash mid-mutation fails
  *    closed — [[intact]] for the maintained readers, never current
  *    again until a fresh commit.
  *  - [[maintain]] is the maintained families' append half: current →
  *    no-op; absent or torn → rebuild; covered rows + |batch| ≠ |table|
  *    → rebuild; else the family merges the batch into the STAMPED
  *    version and commits a new one, so a crash before the new stamp
  *    leaves the old stamp naming the old data and the retry merges
  *    once. Merges assume a table's appends are serialized with their
  *    maintenance. */
private[graft] object EnsureWatermark {

  private val StampPrefix = "_GRAFT_STAMP."
  private val StampEnd = "end"
  private val Vetoed = "vetoed"

  /** The single-part layout of the fingerprint-keyed families. */
  val Data: Seq[String] = Seq("data")

  /** One commit: covered fingerprint and rows, the version holding the
    * parts, the family's baked knobs, each part's data-file listing. */
  final case class Stamp(covered: String, rows: Long, version: String,
      knobs: Map[String, Long], listing: Map[String, String]) {
    def dir(path: String): String = s"$path/$version"
    def part(path: String, name: String): String = s"${dir(path)}/$name"
    def vetoed: Boolean = covered == Vetoed
  }

  /** RECURSIVE data-file listing of one part (relative names and
    * lengths; the entity store keeps its files in `bucket=` dirs). */
  private def dataListing(fs: FileSystem, sts: Array[FileStatus]): String = {
    def walk(prefix: String, arr: Array[FileStatus]): Seq[String] =
      arr.toIndexedSeq.flatMap { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          Seq(s"$prefix${st.getPath.getName}:${st.getLen}")
        else if (st.isDirectory)
          walk(s"$prefix${st.getPath.getName}/", fs.listStatus(st.getPath))
        else Seq.empty
      }
    walk("", sts).sorted.mkString(",")
  }

  private def seqOf(name: String): Option[Long] =
    if (!name.startsWith(StampPrefix)) None
    else name.stripPrefix(StampPrefix).toLongOption

  private val VersionName = """v_(\d+)_.+""".r

  /** The artifact's children — empty when it does not exist. */
  private def children(fs: FileSystem, p: Path): Array[FileStatus] =
    try fs.listStatus(p)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** The latest stamp file among `sts`, with its sequence number. */
  private def latest(sts: Array[FileStatus]): Option[(FileStatus, Long)] =
    sts.flatMap(st => seqOf(st.getPath.getName).map(st -> _))
      .maxByOption(_._2)

  private def render(st: Stamp): String =
    (Seq(s"covered=${st.covered}", s"rows=${st.rows}",
        s"version=${st.version}") ++
      st.knobs.toSeq.sorted.map { case (k, v) => s"knob.$k=$v" } ++
      st.listing.toSeq.sorted.map { case (k, v) =>
        s"part.${java.net.URLEncoder.encode(k, "UTF-8")}=$v" } :+
      StampEnd).mkString("\n")

  private def parse(text: String): Option[Stamp] = {
    val lines = text.split("\n").toSeq
    if (lines.lastOption.forall(_ != StampEnd)) return None
    val kv = lines.init.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    def prefixed(pre: String) =
      kv.collect { case (k, v) if k.startsWith(pre) => k.stripPrefix(pre) -> v }
    scala.util.Try(Stamp(kv("covered"), kv("rows").toLong, kv("version"),
      prefixed("knob.").map { case (k, v) => k -> v.toLong },
      // a part name may hold `=` (hive-style `gen=0`): it is stored
      // URL-encoded, so the first `=` always ends the key
      prefixed("part.").map { case (k, v) =>
        java.net.URLDecoder.decode(k, "UTF-8") -> v })).toOption
  }

  /** (stamp name, mtime, length) → parsed stamp, per artifact path: a
    * new commit lands under a new name, so the cache can never serve
    * a superseded stamp. Bounded: the plan-keyed families file one
    * artifact per distinct plan, so past [[StampCacheMax]] paths it
    * clears — a clear only re-reads small stamp files. */
  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long, Option[Stamp])]()
  private val StampCacheMax = 4096

  private def read(fs: FileSystem, path: String, f: FileStatus): Option[Stamp] = {
    val key = (f.getPath.getName, f.getModificationTime, f.getLen)
    val hit = stampCache.get(path)
    if (hit != null && (hit._1, hit._2, hit._3) == key) hit._4
    else {
      val parsed =
        try {
          val in = fs.open(f.getPath)
          try {
            val bs = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 4096, false)
            parse(new String(bs.toByteArray, "UTF-8"))
          } finally in.close()
        } catch { case _: java.io.IOException => None }
      if (stampCache.size >= StampCacheMax) stampCache.clear()
      stampCache.put(path, (key._1, key._2, key._3, parsed))
      parsed
    }
  }

  /** The latest committed stamp of `path` — None when missing, torn
    * (no terminating line) or unparsable. One listing of the artifact
    * plus a memoized small-file read. */
  def stampOf(path: String): Option[Stamp] = {
    val (fs, p) = IndexStore.fsOf(path)
    latest(children(fs, p)).flatMap { case (f, _) => read(fs, path, f) }
  }

  /** The stamp when every named part of its version is intact: its
    * `_SUCCESS` present and, unless vetoed, its data-file listing the
    * recorded one — one listing per part. */
  def intact(path: String, parts: Seq[String]): Option[Stamp] =
    stampOf(path).filter(partsIntact(path, parts, _))

  private def partsIntact(path: String, parts: Seq[String], st: Stamp): Boolean = {
    val (fs, _) = IndexStore.fsOf(path)
    parts.forall { n =>
      val sts = children(fs, new Path(st.part(path, n)))
      sts.exists(f => f.isFile && f.getPath.getName == "_SUCCESS") &&
        (st.vetoed || st.listing.get(n).contains(dataListing(fs, sts)))
    }
  }

  private def serving(path: String, parts: Seq[String])(
      covers: String => Boolean): Option[Stamp] =
    stampOf(path).filter(st => covers(st.covered) && partsIntact(path, parts, st))

  /** The serving precondition of a MAINTAINED artifact: an intact
    * stamp covering exactly the LIVE listing of `dir/table`. */
  def current(path: String, parts: Seq[String], dir: String,
      table: String): Option[Stamp] =
    serving(path, parts)(_ == IndexStore.fingerprint(dir, table))

  /** The serving precondition of a FINGERPRINT-KEYED artifact
    * (`<root>/<fingerprint>/<name>`): an intact stamp covering the
    * fingerprint its path was built from — no second source listing. */
  def current(path: String): Option[Stamp] =
    serving(path, Data)(_ == new Path(path).getParent.getName)

  /** A fresh commit of a keyed artifact's single `data` part. */
  def commitData(path: String, dir: String, table: String)(
      write: String => Unit): Unit =
    commit(path, dir, table, 0L)(v => write(s"$v/data"))

  /** The intact `data` part of a keyed artifact, committed through
    * `write` first when absent or torn — the maintained readers' face
    * (a vetoed artifact still serves here; [[current]] is the routing
    * precondition). */
  def ensured(path: String, dir: String, table: String)(
      write: String => Unit): String =
    ensured(path, Data, dir, table)(v => write(s"$v/data")).part(path, "data")

  /** The intact commit of a keyed artifact's `parts`, committed
    * through `write` (which receives the fresh version directory)
    * first when absent or torn. */
  def ensured(path: String, parts: Seq[String], dir: String, table: String)(
      write: String => Unit): Stamp =
    intact(path, parts).getOrElse {
      commit(path, dir, table, 0L)(write)
      intact(path, parts).getOrElse(
        sys.error(s"$path: no intact commit after its build"))
    }

  /** Land `st` as stamp `seq`: staged inside its version, renamed
    * into place by a rename that fails when the name exists
    * (FileContext's, not FileSystem's). False when another commit
    * landed that sequence number first. */
  private def publish(fs: FileSystem, p: Path, seq: Long, st: Stamp): Boolean = {
    val staged = new Path(p, s"${st.version}/_stamp-${java.util.UUID.randomUUID()}")
    val out = fs.create(staged, true)
    try out.write(render(st).getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
    try { fc.rename(staged, new Path(p, s"$StampPrefix$seq")); true }
    catch {
      case _: java.io.IOException => fs.delete(staged, false); false
    }
  }

  /** Retire what stamp `seq` naming `version` no longer names: older
    * stamps, versions of older sequence numbers, older layouts. */
  private def retire(fs: FileSystem, p: Path, seq: Long, version: String): Unit =
    children(fs, p).map(_.getPath).filter { c =>
      val n = c.getName
      seqOf(n) match {
        case Some(k) => k < seq
        case None => n match {
          case VersionName(k) => n != version && k.toLong < seq
          case _ => !n.startsWith(".")
        }
      }
    }.foreach(fs.delete(_, true))

  /** Whether a stamp above `seq` exists. */
  private def superseded(fs: FileSystem, p: Path, seq: Long): Boolean =
    latest(children(fs, p)).exists(_._2 > seq)

  /** Land `st` as stamp `seq` and retire what it supersedes. A stamp
    * above `seq` means `seq` was landed and retired since the caller
    * read its base: the publish then withdraws its own stamp and
    * loses, so no commit lands on a superseded base. */
  private def land(fs: FileSystem, p: Path, seq: Long, st: Stamp): Boolean =
    publish(fs, p, seq, st) && {
      if (superseded(fs, p, seq)) {
        fs.delete(new Path(p, s"$StampPrefix$seq"), false)
        false
      } else { retire(fs, p, seq, st.version); true }
    }

  /** Commit one state of the artifact at `path`: `write` receives a
    * fresh version directory and writes the family's parts under it;
    * the stamp (covering the live listing of `dir/table`, `rows` of
    * it) lands LAST, at the sequence after the stamp `on` the caller
    * built its state from — by default the latest one when the commit
    * starts. A commit that loses the race to another commit discards
    * its version, leaves the winner standing and returns false. */
  def commit(path: String, dir: String, table: String, rows: Long,
      knobs: Map[String, Long] = Map.empty, on: Option[Stamp] = None)(
      write: String => Unit): Boolean = {
    val covered = IndexStore.fingerprint(dir, table)
    val (fs, p) = IndexStore.fsOf(path)
    val seq = 1L + on.fold(latest(children(fs, p)).fold(0L)(_._2))(
      _.version match { case VersionName(k) => k.toLong })
    commitAt(fs, p, path, seq, covered, rows, knobs)(write)
  }

  /** The commit of a PLAN-KEYED artifact: its `data` part, written
    * through `write`, covering `key` itself. Unless an intact commit
    * covering `key` is already there, it lands on the latest stamp it
    * read, so of concurrent first commits exactly one lands and none
    * retires a version a reader was handed. True when this call's
    * commit landed; a reader probes with
    * `intact(path, Data).filter(_.covered == key)`. */
  def commit(path: String, key: String)(write: String => Unit): Boolean = {
    val (fs, p) = IndexStore.fsOf(path)
    val last = latest(children(fs, p))
    val live = last.flatMap { case (f, _) => read(fs, path, f) }
      .exists(st => st.covered == key && partsIntact(path, Data, st))
    !live && commitAt(fs, p, path, 1L + last.fold(0L)(_._2), key, 0L,
      Map.empty)(v => write(s"$v/data"))
  }

  private def commitAt(fs: FileSystem, p: Path, path: String, seq: Long,
      covered: String, rows: Long, knobs: Map[String, Long])(
      write: String => Unit): Boolean = {
    val version = s"v_${seq}_${java.util.UUID.randomUUID()}"
    // a commit landing `seq` or later retires this version while it is
    // written: the failed write is then a lost race
    val listing =
      try {
        write(s"$path/$version")
        Some(fs.listStatus(new Path(p, version)).filter(_.isDirectory)
          .map(d => d.getPath.getName -> dataListing(fs, fs.listStatus(d.getPath)))
          .toMap)
      } catch { case _: Exception if superseded(fs, p, seq - 1L) => None }
    listing.exists(l => land(fs, p, seq, Stamp(covered, rows, version, knobs, l))) || {
      fs.delete(new Path(p, version), true)
      false
    }
  }

  /** Veto serving BEFORE an in-place mutation of the committed version
    * (see the class scaladoc). Returns the intact stamp whose version
    * the caller may now mutate — None when there is no intact commit
    * to mutate. */
  def veto(path: String): Option[Stamp] = {
    val (fs, p) = IndexStore.fsOf(path)
    intact(path, Data).map { st =>
      if (!st.vetoed) {
        val seq = latest(children(fs, p)).fold(1L)(_._2 + 1L)
        require(land(fs, p, seq, st.copy(covered = Vetoed)),
          s"$path: a concurrent commit landed during the veto")
      }
      st
    }
  }

  /** Test seam: rewrite `path`'s latest stamp through `f` — how specs
    * forge a stale, superseded or crash-window commit record. */
  private[graft] def rewriteStampForTest(path: String)(f: Stamp => Stamp): Unit = {
    val (fs, p) = IndexStore.fsOf(path)
    for ((file, _) <- latest(children(fs, p)); st <- read(fs, path, file)) {
      val out = fs.create(file.getPath, true)
      try out.write(render(f(st)).getBytes("UTF-8")) finally out.close()
      stampCache.remove(path)
    }
  }

  // ------------------------------------------------------------------
  // The one stamp-keyed memo
  // ------------------------------------------------------------------

  private val memoCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  /** The plan-time read memo every stamped artifact shares: the
    * value `load`ed for `path` is served again while `stamp` — a
    * commit version, re-derived from FS metadata by the caller on
    * every call — is unchanged. Every commit lands a new version, so
    * a superseded entry can never serve and nothing ever needs
    * clearing. */
  def memo[T](path: String, stamp: String)(load: => T): T = {
    val hit = memoCache.get(path)
    if (hit != null && hit._1 == stamp) hit._2.asInstanceOf[T]
    else {
      val v = load
      memoCache.put(path, (stamp, v))
      v
    }
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
