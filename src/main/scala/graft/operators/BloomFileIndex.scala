package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level BLOOM index — the third leg of the data-skipping triad
  * and the one the other two can't cover: partition pruning needs a
  * directory scheme, min/max stats ([[MinMaxManifest]]) need the
  * column CLUSTERED (an unclustered column's per-file [min,max]
  * spans everything and prunes nothing) — but a point lookup on an
  * unclustered unique key (find event 4217 in a month of files) can
  * only skip files through per-file membership summaries. That is
  * exactly what parquet column bloom filters and Delta's file-level
  * blooms are (public features; the idea, not the formats).
  *
  * Representation: k=4 hash-derived bit positions per value in an
  * m = 2^17 space, stored as DISTINCT (path, bit) rows — row-prunable
  * (`bit IN (...)` pushes down on the bit-sorted layout) and
  * SQL-replayable, which is what lets the oracle recompute the probe
  * verdicts. A packed long[] bitmap per file is the production
  * compression of the same structure (~8× smaller) and changes no
  * semantics; per-file cardinality caps rows at min(n·k, m).
  * Bloom property preserved end to end: a file the index skips
  * CANNOT contain the probe (no false negatives — spec-pinned by
  * exhaustive lookup equality), a false-positive file merely gets
  * scanned and filtered (~0.1% at the gate's n/m).
  *
  * The probe path is metadata-only until the final scan: qualifying
  * files = the (path, bit) rows hit by the probe's k bits, grouped
  * by path, HAVING all k present — kilobytes of index IO, then a
  * scan of only the surviving files with the row predicate
  * re-applied. */
object BloomFileIndex {

  val K = 4
  val MBits = 1 << 17
  private val Salts = (0 until K).map(i => s"bloom$i")

  /** The index is keyed on the layout's committed version, not just
    * the source table: the layout legitimately changes under
    * [[MinMaxManifest.appendBatch]] and its rewrites, and an index
    * built against an older file set would false-negative appended
    * rows and name deleted paths (review catch — a source-only
    * fingerprint can't see layout mutations). Every commit lands a new
    * version, so a changed layout resolves to a fresh path and
    * rebuilds; the build then retires the indexes of older versions
    * ([[ensure]]). */
  private def indexPath(s: SparkSession, dir: String): String = {
    MinMaxManifest.ensure(s, dir)
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/${indexName(dir).get}"
  }

  /** The index directory name the manifest's current version keys. */
  private def indexName(dir: String): Option[String] =
    EnsureWatermark.current(MinMaxManifest.manifestPath(dir))
      .map(st => s"bloom_event_id_${st.version}")

  /** The k bit positions of a value (hash60 mod m per salt). */
  private def bitsOf(v: Column): Seq[Column] =
    Salts.map(s => (graft.functions.DetHash.hash60(v, s) % MBits).cast("int"))

  /** JVM-side replica for driver-side probe computation. */
  def probeBits(v: Long): Seq[Int] =
    Salts.map(s =>
      (graft.functions.HashSketch.hash60Jvm(v.toString, s) % MBits).toInt)

  /** Build the per-file bit table over the committed files of the
    * time-clustered layout's event_id column (one scan; distinct
    * collapses to ≤ min(n·k, m) rows per file), bit-sorted so probe
    * reads prune row groups, committed through [[EnsureWatermark]].
    * Once a build's stamp lands, it deletes every sibling index that
    * neither it nor the manifest's current version names: a reader
    * still holding an older version's path finds it absent and
    * rebuilds it. Returns the committed index part it ensured. */
  def ensure(s: SparkSession, dir: String): String = {
    val path = indexPath(s, dir)
    var built = false
    val part = EnsureWatermark.ensured(path, dir, "events") { out =>
      built = true
      MinMaxManifest.scan(s, dir)
        .select(input_file_name().as("path"), col("event_id"))
        .select(col("path"), explode(array(bitsOf(col("event_id")): _*)).as("bit"))
        .distinct()
        .repartitionByRange(4, col("bit"))
        .sortWithinPartitions("bit", "path")
        .write.parquet(out)
    }
    if (built) {
      val (fs, p) = IndexStore.fsOf(path)
      val live = Set(p.getName) ++ indexName(dir)
      fs.listStatus(p.getParent).map(_.getPath)
        .filter(c => c.getName.startsWith("bloom_event_id_") && !live(c.getName))
        .foreach(fs.delete(_, true))
    }
    part
  }

  /** Files that may contain `id`: the k probe bits are computed
    * driver-side (k tiny integers), and a file qualifies iff ALL k
    * (path, bit) rows exist. Returns (qualifying paths, total files
    * indexed) so callers and specs see the skip rate. */
  /** Per-index-build memo of the layout's file count: the total is a
    * property of the build, not the probe — recomputing it with a
    * full-index distinct per call charged every lookup a redundant
    * scan (review catch). */
  private val totalCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def totalFiles(s: SparkSession, path: String): Long =
    totalCache.computeIfAbsent(path, _ =>
      IndexStore.readAs(s, "path STRING, bit INT", path)
        .select("path").distinct().count())

  def candidateFiles(s: SparkSession, dir: String, id: Long): (Seq[String], Long) = {
    val path = ensure(s, dir)
    val idx = IndexStore.readAs(s, "path STRING, bit INT", path)
    // the required count is this probe's DISTINCT bit count, not K:
    // a probe whose own k hash bits collide (~1 in 22k ids) would
    // otherwise disqualify every file — a false negative, the one
    // error class a bloom index must never make
    val bits = probeBits(id).distinct
    val hits = idx.where(col("bit").isin(bits.map(Integer.valueOf): _*))
      .groupBy("path")
      .agg(countDistinct("bit").as("k"))
      .where(col("k") === bits.length.toLong)
      .select("path").collect().map(_.getString(0)).toSeq.sorted
    (hits, totalFiles(s, path))
  }

  /** The indexed point lookup: consult the bloom table, scan ONLY
    * the qualifying files, re-apply the row predicate. */
  def lookup(s: SparkSession, dir: String, id: Long): DataFrame =
    lookupAll(s, dir, Seq(id))

  /** Batched lookups — ONE index consultation and ONE data scan for
    * the whole probe set (a per-id loop would cost 2 jobs per probe;
    * a dashboard's k lookups should cost what one costs). The union
    * of each probe's qualifying files is scanned once under the
    * combined IN-list predicate — equivalent row-for-row to the
    * per-id scans because the row predicate re-applies. */
  def lookupAll(s: SparkSession, dir: String, ids: Seq[Long]): DataFrame = {
    import s.implicits._
    val idx = IndexStore.readAs(s, "path STRING, bit INT", ensure(s, dir))
    // per-probe DISTINCT bits, with the per-probe required count
    // riding along (see candidateFiles — requiring the constant K
    // would false-negative any probe whose own hash bits collide)
    val probePairs = ids.flatMap { id =>
      val bits = probeBits(id).distinct
      bits.map(b => (id, b, bits.length))
    }
    val allBits = probePairs.map(_._2).distinct
    // the HAVING-all-bits verdict stays IN the plan (a probes×bits
    // broadcast join + per-(path, probe) distinct count); only the
    // qualifying PATHS come back to the driver — at 10⁶ files the
    // hit (path, bit) rows would not
    val probeDf = probePairs.toDF("pid", "bit", "need")
    val files = idx
      .where(col("bit").isin(allBits.map(Integer.valueOf): _*))
      .join(broadcast(probeDf), Seq("bit"))
      .groupBy("path", "pid", "need").agg(countDistinct("bit").as("k"))
      .where(col("k") === col("need"))
      .select("path").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    MinMaxManifest.read(s, dir, files)
      .where(col("event_id").isin(ids.map(java.lang.Long.valueOf): _*))
  }
}
