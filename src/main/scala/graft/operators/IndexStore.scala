package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DetHash, VectorOps}

/** Persisted, sample-trained ANN index artifacts — the
  * train-once / probe-many split of a production vector pipeline.
  *
  * Round-5 shape (what this replaces): every execution of the IVF/PQ
  * consumers (v04/v09/v11/d03/v10) re-counted the corpus, re-trained
  * its pivots or codebooks with full-corpus Lloyd passes, and
  * re-broadcast them — correct and linear, but at 100 TB those
  * training scans dominate the query, and the reference's own daily
  * cadence (`TransformTaxiTrips.py:23-28`; `AreasLoc.py` builds
  * once, the daily jobs read) says index artifacts persist between
  * runs. This object gives each artifact exactly that lifecycle:
  *
  *  - **Train on a deterministic sample** — the c02 no-rand()
  *    discipline ([[DetHash.hash60]](vec_id, "ivf") % [[SampleMod]]
  *    = 0, a pure function of the stable id), so the artifact is a
  *    reproducible function of the data and the DuckDB oracles replay
  *    the identical training set. Lloyd passes now scan N/SampleMod
  *    rows instead of N; at 100 TB the mod would be chosen to cap the
  *    sample at ~10⁶ vectors (any fixed sample bounds training cost;
  *    the knob trades quantizer quality, not correctness, because
  *    assignment of the FULL corpus to the trained quantizer is
  *    unchanged).
  *  - **Persist once** — parquet under [[root]] (env `GRAFT_INDEX_DIR`;
  *    a real deployment would put this beside the data it indexes),
  *    keyed by a FINGERPRINT of the source table's file metadata
  *    (name/size/mtime), so a rewritten corpus can never be served by
  *    a stale quantizer — the staleness guard costs a directory
  *    listing, not a data scan.
  *  - **Load everywhere else** — the query path reads the bounded
  *    artifact (B ≤ [[MaxPivots]] pivots ≈ 33 MB at dim 64; M·K PQ
  *    centroids ≈ kilobytes), collects, and broadcasts. No count
  *    scan, no training pass: a warm v04 execution touches the corpus
  *    exactly twice (assignment + probe).
  *
  * Training is deterministic (fixed seeds = lowest-id sample vectors,
  * rounded means, id tie-breaks), so warm and cold executions return
  * bit-identical arrays — IndexStoreSpec pins load-equals-train and
  * proves the load path is really taken by tampering the artifact.
  */
object IndexStore {

  /** Artifact root — override with the GRAFT_INDEX_DIR env var (or
    * the graft.index.dir system property, which tests use to isolate
    * their artifacts). */
  def root: String = sys.props.get("graft.index.dir")
    .orElse(sys.env.get("GRAFT_INDEX_DIR"))
    .getOrElse("/tmp/graft-index")

  /** Training-sample modulus: vec_id joins the training sample iff
    * hash60(vec_id, [[SampleSalt]]) % SampleMod == 0 (~25%). Mirrored
    * verbatim in every IVF/PQ oracle. */
  val SampleMod = 4L
  val SampleSalt = "ivf"

  /** Hard pivot-count ceiling (the v04 broadcast-budget contract —
    * see the scaladoc at [[adaptiveB]]). */
  val MaxPivots = 65536L

  /** Adaptive pivot count with a hard broadcast ceiling:
    * B = min(MaxPivots, max(16, ⌈√(N/8)⌉)). √(N/8) keeps per-bucket
    * candidates sub-linear as the corpus grows; the cap bounds the
    * pivot broadcast at ~33 MB of dim-64 doubles — past it
    * (N > 3.4×10¹⁰) the scale path is d03's second quantizer level,
    * which squares the cell count without another pivot byte.
    * Mirrored as `least(65536, greatest(16, …))` in every IVF oracle. */
  def adaptiveB(n: Long): Long =
    math.min(MaxPivots, math.max(16L, math.ceil(math.sqrt(n / 8.0)).toLong))

  /** The embeddings corpus as a typed (vec_id, vector) Dataset. */
  private def corpus(s: SparkSession, dir: String): Dataset[(Long, Array[Double])] = {
    import s.implicits._
    graft.Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
  }

  /** The deterministic training sample of the corpus. */
  private def sampleOf(ev: Dataset[(Long, Array[Double])]): Dataset[(Long, Array[Double])] = {
    import ev.sparkSession.implicits._
    ev.toDF("vec_id", "v")
      .where(DetHash.hash60(col("vec_id"), SampleSalt) % SampleMod === 0)
      .as[(Long, Array[Double])]
  }

  /** The filesystem a path lives on, resolved through the Hadoop
    * FileSystem API — identical behavior on local paths, and the same
    * code serves HDFS / S3A / any configured scheme, which is where a
    * 100-TB deployment's artifacts actually live (the r6 advice: a
    * `java.io.File` walk is dead off the local disk). Metadata ops
    * only ever go through this — never a data scan. */
  private[operators] def fsOf(path: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    // resolve through the session's Hadoop configuration when one is
    // live — S3A credentials / fs.defaultFS / endpoints arrive as
    // spark.hadoop.* session properties, which a bare
    // `new Configuration()` (classpath XML only) never sees (review
    // catch); the bare fallback keeps non-session tooling working
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  /** A cloned session pinned to UTC — for artifact BUILDS whose
    * persisted values embed a timezone rendering (partition-dir
    * strings, date_trunc day keys). The clone shares the
    * SparkContext but owns its SQLConf, so the caller's session zone
    * is never mutated (the bm25-build discipline), and the artifact's
    * values are UTC regardless of who builds it — which is what every
    * reader's UTC-parsed bounds ([[MinMaxManifest.utc]]) assume. */
  private[operators] def utcSession(s: SparkSession): SparkSession = {
    val us = s.newSession()
    us.conf.set("spark.sql.session.timeZone", "UTC")
    us.conf.set("spark.sql.ansi.enabled", s.conf.get("spark.sql.ansi.enabled"))
    us.conf.set("spark.sql.shuffle.partitions",
      s.conf.get("spark.sql.shuffle.partitions"))
    us
  }

  /** Recursive artifact delete — the retrain guard's force-rebuild
    * step. Safe because every artifact build is deterministic from
    * the source table. */
  private[operators] def removeArtifact(path: String): Unit = {
    val (fs, p) = fsOf(path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** The FS-QUALIFIED identity key of a table path — md5(canonical
    * URI), truncated: the one derivation every table-path-keyed
    * artifact family shares (maintained stats, AQP samples, group
    * rollups), so a fix to the qualification caveat lands everywhere
    * at once (r16 review: the block existed in four copies). */
  private[operators] def tablePathKey(dir: String, table: String): String = {
    val (fs, p) = fsOf(s"$dir/$table.parquet")
    val canon = fs.makeQualified(p).toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** Staleness fingerprint of `dir/table.parquet`: md5 over the sorted
    * (name, size, mtime) list of its files — a metadata-only listing,
    * never a data scan. A rewritten corpus gets a fresh key (and a
    * fresh artifact); replicas at different paths with identical bytes
    * but different mtimes simply train their own copy. */
  private[operators] def fingerprint(dir: String, table: String): String = {
    import org.apache.hadoop.fs.FileStatus
    val (fs, root) = fsOf(s"$dir/$table.parquet")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName)
          .toIndexedSeq.flatMap(walk)
      else Seq(st)
    val desc = walk(fs.getFileStatus(root))
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The one artifact-readiness rule (shared by every persisted
    * layout in this package — MinMaxManifest, ShardExport — and by
    * the plan-rewrite layer's routed-rollup guard). */
  private[graft] def artifactReady(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    val marker = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
    try fs.getFileStatus(marker).isFile
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** Read a parquet artifact whose schema is FIXED by its writer —
    * passing the schema skips the per-read footer-inference JOB a
    * schema-less `read.parquet` launches (~30–50 ms each; measured
    * r17 — metadata-heavy queries were nothing but such jobs). Only
    * for artifacts whose layout cannot evolve under a reader's feet;
    * the DDL must change in lockstep with the writer. */
  private[graft] def readAs(s: SparkSession, ddl: String,
      paths: String*): org.apache.spark.sql.DataFrame =
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(paths: _*)

  /** Canonical FULL qualified URI (scheme ‖ authority ‖ path) — the
    * ONE rendering both path registries (RollupRouting,
    * JoinElimination) key on. The authority is rendered EXPLICITLY:
    * Hadoop's makeQualified is not idempotent on it (a bare "/x"
    * qualifies to file:///x with an EMPTY authority, an
    * already-qualified "file:/x" keeps a NULL one), so the raw URI
    * rendering differs for one filesystem location depending on who
    * wrote the path — the r15 catalog gate caught a registration
    * missing its own lookup this way, and a helper duplicated per
    * registry is the same bug waiting to diverge (r15 self-review). */
  private[graft] def canonUri(p: org.apache.hadoop.fs.Path): String = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val u = p.getFileSystem(conf).makeQualified(p).toUri
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }

  /** Artifact directory for the IVF pivots of `dir`'s embeddings. */
  def ivfPivotPath(dir: String): String =
    s"$root/${fingerprint(dir, "embeddings")}/ivf_pivots"

  /** IVF coarse-quantizer pivots for `dir`'s embeddings corpus:
    * load the persisted artifact if present, else train on the
    * deterministic sample (B = adaptiveB(full N); KMeans seeds = the
    * B lowest-id SAMPLE vectors, `iters` Lloyd passes over the sample
    * only) and persist. Returns the pivot array indexed by pivot_id
    * (= rank of the surviving centroid's seed id — the broadcast
    * index [[VectorOps.nearest2Pivots]] assignment uses). */
  def ivfPivots(s: SparkSession, dir: String, iters: Int): Array[Array[Double]] = {
    import s.implicits._
    val path = ivfPivotPath(dir)
    if (artifactReady(path)) {
      // warm path: B rows (hard-capped), bounded collect — no corpus scan
      readAs(s, "pivot_id BIGINT, pv ARRAY<DOUBLE>", path)
        .select($"pivot_id", $"pv")
        .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
    } else {
      val ev = corpus(s, dir)
      // full-corpus COUNT sets B (the √(N/8) rule needs the true N —
      // one column-pruned scan, cold path only); training then reads
      // only the sample (KMeans persists it across its iters+1 passes)
      val b = adaptiveB(ev.count())
      val pivots = KMeans.centroids(sampleOf(ev), b.toInt, iters).map(_._2)
      s.createDataset(pivots.toIndexedSeq.zipWithIndex
          .map { case (pv, i) => (i.toLong, pv) })
        .toDF("pivot_id", "pv")
        .coalesce(1).write.mode("overwrite").parquet(path)
      pivots
    }
  }

  /** Artifact directory for the PQ codebooks of `dir`'s embeddings. */
  def pqCodebookPath(dir: String, m: Int, sub: Int, k: Int): String =
    s"$root/${fingerprint(dir, "embeddings")}/pq_codebooks_${m}x${sub}k$k"

  /** Product-quantization codebooks: per-subspace (m of `m`, width
    * `sub`) k-entry centroid tables, load-or-train-and-persist.
    * Training (cold path only) = seeds from the `k` lowest-id SAMPLE
    * vectors' subvectors, ONE Lloyd pass over the sample (micro-unit
    * L2 assignment, round-8 means — the established replay contract).
    * Returned as, per subspace, the (code, centroid) array sorted by
    * code — codes that lose every sample vector drop out, exactly as
    * in the oracle's GROUP BY. */
  def pqCodebooks(s: SparkSession, dir: String, m: Int, sub: Int,
      k: Int): Array[Array[(Int, Array[Double])]] = {
    import s.implicits._
    val path = pqCodebookPath(dir, m, sub, k)
    val rows: Seq[(Int, Int, Array[Double])] =
      if (artifactReady(path)) {
        // warm path: ≤ m·k rows — kilobytes, no corpus scan
        readAs(s, "m INT, code INT, cv ARRAY<DOUBLE>", path)
          .select($"m", $"code", $"cv")
          .as[(Int, Int, Array[Double])].collect().toIndexedSeq
      } else {
        val sample = sampleOf(corpus(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          def slice(v: Array[Double], i: Int): Array[Double] =
            java.util.Arrays.copyOfRange(v, i * sub, (i + 1) * sub)
          val seeds = sample.toDF("id", "v").orderBy($"id").limit(k)
            .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
          val seedCb: Array[Array[(Int, Array[Double])]] =
            Array.tabulate(m)(i =>
              seeds.zipWithIndex.map { case (v, c) => (c, slice(v, i)) })
          val bcSeed = s.sparkContext.broadcast(seedCb)
          // ONE Lloyd pass for all m subspaces in one sample scan:
          // map-side assignment over the broadcast seeds, then a single
          // (m, code)-keyed partial-mean shuffle (VectorAgg)
          val trained = sample.flatMap { case (_, v) =>
            (0 until m).iterator.map { i =>
              (i, bcSeed.value(i)(
                VectorOps.nearestCodeIdx(v, i * sub, bcSeed.value(i)))._1,
                slice(v, i))
            }
          }.toDF("m", "code", "sv")
            .groupBy($"m", $"code")
            .agg(VectorAgg.vectorMean($"sv").as("mv"))
            .select($"m", $"code", transform($"mv", x => round(x, 8)).as("cv"))
            .as[(Int, Int, Array[Double])].collect().toIndexedSeq
          bcSeed.destroy()
          s.createDataset(trained).toDF("m", "code", "cv")
            .coalesce(1).write.mode("overwrite").parquet(path)
          trained
        } finally sample.unpersist()
      }
    val byM = rows.groupBy(_._1)
    Array.tabulate(m)(i => byM(i).map(r => (r._2, r._3)).sortBy(_._1).toArray)
  }

  /** Artifact directory for the ENCODED inverted index. */
  def ivfadcIndexPath(dir: String, iters: Int, m: Int, sub: Int, k: Int): String =
    s"$root/${fingerprint(dir, "embeddings")}/ivfadc_index_i${iters}_${m}x${sub}k$k"

  /** The ENCODED inverted index — what a production IVFADC system
    * actually stores: one row per corpus vector with its IVF bucket
    * and its M one-byte PQ codes, built ONCE from the two quantizer
    * artifacts and persisted PARTITIONED BY BUCKET, so a query's
    * nprobe-cell scan is parquet partition pruning (reads ≈ nprobe/B
    * of the index files, 16 code bytes per row — never a raw vector).
    * The build pass is the only full assignment+encode scan; every
    * later execution reads back the index. Cold and warm executions
    * are identical by construction: the cold path builds, then READS
    * THE ARTIFACT it just wrote.
    *
    * At B near [[MaxPivots]] one directory per bucket is a
    * small-files problem — a production layout groups cells into
    * bucket RANGES per file (the same pruning, coarser granularity);
    * at the gate SFs B ≤ 160 and the per-bucket layout is exact. */
  def ivfadcIndex(s: SparkSession, dir: String, iters: Int, m: Int, sub: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    val path = ivfadcIndexPath(dir, iters, m, sub, k)
    if (!artifactReady(path))
      encodeWith(s, dir, corpus(s, dir), iters, m, sub, k)
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // explicit schema: skips the inference job AND pins the partition
    // column to long directly (the casts below stay as belt-and-braces)
    readAs(s, "vec_id BIGINT, codes ARRAY<INT>, bucket BIGINT", path)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("bucket").cast("long").as("bucket"), col("codes"))
  }

  /** Assign + encode `vecs` under `dir`'s (frozen) quantizer
    * artifacts — the one map pass shared by the index build and
    * [[appendToIndex]]. */
  private[operators] def encodeWith(s: SparkSession, dir: String,
      vecs: Dataset[(Long, Array[Double])], iters: Int, m: Int, sub: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val bcP = s.sparkContext.broadcast(ivfPivots(s, dir, iters))
    val bcC = s.sparkContext.broadcast(pqCodebooks(s, dir, m, sub, k))
    vecs.map { case (id, v) =>
      val bucket = VectorOps.nearest2Pivots(v, bcP.value)._1.toLong
      val codes = Array.tabulate(m)(i =>
        VectorOps.nearestCodeIdx(v, i * sub, bcC.value(i)))
      (id, bucket, codes)
    }.toDF("vec_id", "bucket", "codes")
  }

  /** INCREMENTAL index maintenance — the daily-embedding-ingest leg:
    * encode a new batch under the EXISTING (frozen) pivots and
    * codebooks and append it into the partitioned index, touching
    * only the bucket partitions the batch lands in. No retraining, no
    * corpus re-scan — O(batch) work, the [[Bucketing.appendBucketed]]
    * discipline applied to the vector index.
    *
    * Contract: frozen quantizers mean the composed index is
    * bit-identical to a full re-encode of (corpus ∪ batches) under
    * the same artifacts (IndexStoreSpec pins this), so probe-side
    * correctness is unaffected; what CAN drift is quantizer QUALITY
    * (cell balance / code error) if the batch distribution shifts —
    * production cadence is append daily, retrain on a schedule (which
    * rewrites the artifact under a fresh corpus fingerprint). Replay
    * idempotence is the CALLER's job (ship each batch exactly once —
    * the StreamingDedup batch_id discipline); this method appends
    * blindly, like any file sink. The index must already exist
    * (build-before-append). */
  def appendToIndex(s: SparkSession, dir: String,
      batch: Dataset[(Long, Array[Double])], iters: Int, m: Int, sub: Int,
      k: Int): Unit = {
    val path = ivfadcIndexPath(dir, iters, m, sub, k)
    require(artifactReady(path),
      s"ivfadc index at $path must be built before appending")
    encodeWith(s, dir, batch, iters, m, sub, k)
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** TARGETED IVFADC index compaction — the OPTIMIZE leg of the
    * [[appendToIndex]] lifecycle (every append leaves one small file
    * per touched `bucket=` partition; probes keep pruning to their
    * buckets but read one run per batch inside each). Rewrites ONLY
    * buckets holding more than one file — each bucket's rows
    * re-sorted by vec_id into a single file and swapped in at the
    * BUCKET-directory level — so the IO cost is the appended mass,
    * never the index (the [[MinMaxManifest.compactSmall]] discipline
    * at the partition grain; untouched buckets keep their files
    * byte-identical). Single-writer contract, enforced per bucket:
    * the bucket's file list is re-checked before its swap and the
    * compaction aborts losslessly on a race. Codes are immutable
    * once written (encodeWith is deterministic given the artifacts),
    * so compaction never changes a probe's result set — the spec
    * pins warm v12 results bit-identical across it. Returns the
    * number of buckets rewritten.
    *
    * ALL staging lives OUTSIDE the index root, in the sibling
    * `<index>.compacting` dir (the r9 advice's medium finding: a
    * staged `bucket=N.compacting` dir INSIDE the root is parsed by
    * partition discovery as a bucket value, normalizes to NULL under
    * the probe's cast('long'), and silently drops that bucket's
    * vectors from results mid-compaction or after a crash). The swap
    * itself is two renames with the displaced bucket parked in the
    * staging dir; the one crash window — between swap-out and swap-in,
    * when the bucket is briefly absent from the root — is REPAIRED on
    * the next compactIndex run: a parked `old.bucket=N` whose bucket
    * is missing from the root renames back before any new work, then
    * the whole staging dir is cleared. Readers racing the two renames
    * of a live run see a complete index minus that one in-flight
    * bucket — a bounded, self-healing gap, never NULL-bucket
    * corruption. */
  def compactIndex(s: SparkSession, dir: String, iters: Int, m: Int,
      sub: Int, k: Int): Int = {
    import org.apache.hadoop.fs.Path
    val path = ivfadcIndexPath(dir, iters, m, sub, k)
    require(artifactReady(path),
      s"ivfadc index at $path must be built before compacting")
    val (fs, root) = fsOf(path)
    val staging = new Path(root.toString + ".compacting")
    // crash repair first (single-writer path): restore any bucket
    // parked by a run that died between its two renames, then drop
    // every other stale staging remnant
    if (fs.exists(staging)) {
      fs.listStatus(staging).toIndexedSeq
        .filter(_.getPath.getName.startsWith("old.bucket="))
        .foreach { st =>
          val orig = new Path(root, st.getPath.getName.stripPrefix("old."))
          if (!fs.exists(orig))
            require(fs.rename(st.getPath, orig),
              s"crash repair failed restoring ${st.getPath} to $orig")
        }
      fs.delete(staging, true)
    }
    def filesOf(bucket: Path): Seq[String] =
      fs.listStatus(bucket).toIndexedSeq.map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet")).sorted
    val multi = fs.listStatus(root).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
      .map(_.getPath)
      .filter(b => filesOf(b).size > 1)
    multi.foreach { bucket =>
      val before = filesOf(bucket)
      val staged = new Path(staging, bucket.getName)
      fs.delete(staged, true)
      s.read.parquet(bucket.toString)
        .repartitionByRange(1, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").parquet(staged.toString)
      if (filesOf(bucket) != before) {
        fs.delete(staged, true)
        throw new IllegalStateException(
          s"concurrent append detected in $bucket during index " +
            "compaction — quiesce the appender and re-run")
      }
      val old = new Path(staging, "old." + bucket.getName)
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(bucket, old), s"swap-out failed for $bucket")
      require(fs.rename(staged, bucket), s"swap-in failed for $bucket")
      fs.delete(old, true)
    }
    fs.delete(staging, true)
    multi.size
  }

  /** INCREMENTAL BM25 maintenance — the daily-crawl leg of the
    * lexical index, completing the append family ([[appendToIndex]],
    * [[minhashBands]]' noted composition): tokenize ONLY the new
    * batch, append its postings into the term-sorted table, and fold
    * its (doc count, token mass) into the one-row stats artifact (a
    * read of one row + an O(batch) aggregate — df counts need no
    * maintenance because queries derive them from the pruned posting
    * scan itself). Appended posting files are term-sorted WITHIN the
    * batch, so the IN-list still prunes at file/row-group granularity
    * per batch file; what degrades is file COUNT per term (one run
    * per batch), restored by compaction = re-running the build.
    * Contract: appending batches B1..Bn yields bit-identical query
    * results to rebuilding over corpus ∪ B1..Bn (postings are per-doc
    * rows, stats are distributive sums — IndexStoreSpec pins it);
    * replay idempotence is the caller's batch_id discipline, as with
    * every append path here.
    *
    * Crash safety (the r6 advice + r7 verdict closed): each batch —
    * including the base build — lands in its OWN `batch=<tag>` dir on
    * BOTH sides with its own _SUCCESS marker, postings first, stats
    * Readers serve only postings-ready batches and sum only
    * their stats rows, deriving any missing stats batch IN MEMORY
    * from its own postings ([[bm25Stats]] -- reads never write);
    * durable repair ([[bm25Recover]]) runs here and in compaction,
    * the single-writer paths. So a crash in EITHER window
    * (mid-postings: the torn batch is invisible until its tag is
    * replayed; between postings and stats: the read-side derivation
    * restores exact N/total-dl for exactly the served postings) never
    * loses an appended batch and never serves constants inconsistent
    * with the postings. Replaying a tag overwrites only its own dirs
    * -- idempotent; omitting the tag auto-numbers from the MAX
    * existing dir (torn dirs included, so a crashed append keeps its
    * replay slot -- the r8 advice). */
  def bm25Append(s: SparkSession, dir: String,
      batch: org.apache.spark.sql.DataFrame, batchTag: String = null): Unit = {
    import s.implicits._
    val pPath = bm25PostingsPath(dir)
    val sPath = bm25StatsPath(dir)
    require(artifactReady(s"$pPath/$Bm25BaseTag"),
      s"bm25 index at $pPath must be built before appending")
    // durable stats repair belongs HERE (a write path under the
    // single-writer contract), not on reads — see [[bm25Stats]]
    bm25Recover(s, pPath, sPath)
    // auto-tag = max existing numbered dir + 1, counting TORN dirs: a
    // crashed append keeps its tag as a replay slot instead of having
    // the next auto append silently reuse it with different data
    val tag = Option(batchTag).map("batch=" + _).getOrElse {
      val used = allBatchDirs(pPath).map(_.stripPrefix("batch="))
        .filter(_.matches("b\\d+")).map(_.drop(1).toInt)
      f"batch=b${(used :+ 0).max + 1}%04d"
    }
    val tk = batch
      .select($"doc_id", graft.functions.TextStats.tokens($"text").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tk.select($"doc_id", size($"toks").as("dl"))
      writeBm25PostingsBatch(
        tk.select($"doc_id", explode($"toks").as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
          .join(dl, "doc_id")
          .select($"term", $"doc_id", $"tf", $"dl"),
        pPath, tag, parts = 2)
      // THIS batch's stats row into its own dir — never read-modify-write
      dl.agg(count(lit(1)).as("n"), sum($"dl").cast("long").as("sdl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$sPath/$tag")
    } finally tk.unpersist()
  }

  /** Public artifact path for a derived table over `dir/table` —
    * the generic face of the per-corpus artifact discipline, for
    * consumers outside this package (the perceptual-hash tables).
    * `leaf` must carry its own version suffix when the builder's
    * definition can change (the SchemaEvolution.FixtureVersion
    * lesson). */
  def derivedTablePath(dir: String, table: String, leaf: String): String =
    s"$root/${fingerprint(dir, table)}/$leaf"

  /** Load-or-build for a derived table artifact: build once per
    * corpus lifetime (fingerprint-keyed path), read thereafter —
    * the lifecycle every index here follows, offered generically so
    * one-shot derived tables (perceptual hashes, audio signatures)
    * don't re-run their heavy pass per execution. */
  def cachedTable(s: org.apache.spark.sql.SparkSession, path: String,
      parts: Int = 1, ddl: String = null)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    if (!artifactReady(path))
      build.coalesce(parts).write.mode("overwrite").parquet(path)
    // callers that know their artifact's shape pass `ddl` so the warm
    // read skips the footer-inference job (r17); the by-name `build`
    // can't supply it — evaluating it would construct the heavy plan
    // on every warm call
    if (ddl == null) s.read.parquet(path) else readAs(s, ddl, path)
  }

  /** Artifact directory for the IVF-FLAT assignment table of `dir`'s
    * embeddings (the `c` suffix versions the CELL-PARTITIONED layout
    * introduced in round 7 — an old flat-directory artifact under the
    * same fingerprint must not be mistaken for it). */
  def ivfFlatPath(dir: String, iters: Int): String =
    s"$root/${fingerprint(dir, "embeddings")}/ivf_flat_i${iters}c"

  /** The persisted IVF-FLAT index — the classic inverted file with
    * full vectors (the non-compressed sibling of [[ivfadcIndex]]):
    * one row per corpus vector carrying its two-level cell assignment
    * (nearest and second-nearest pivot), its similarity to the
    * nearest pivot, and the raw vector. Why it exists: the assignment
    * is an N×B cosine pass (the broadcast-argmax map), and BEFORE
    * this artifact every execution of the cell-join family recomputed
    * it per DATAFRAME REFERENCE — d10's three self-references cost
    * three full assignment passes, 72 s warm at the 1000× replica
    * (2 M vectors × B=500). Persisting the assignment makes it what
    * it is in a production IVF system: built once per corpus
    * lifetime under the frozen pivots, then every consumer (d03 pair
    * join, d10 policy, v04/v09/v11 candidate generation) reads a
    * columnar table instead of redoing quantizer math. Values are
    * identical by construction (the build runs the same
    * [[graft.functions.VectorOps.nearest2Pivots]] map the inline path
    * ran), so every oracle replays unchanged; IndexStoreSpec pins
    * cold-vs-warm query identity. Incremental corpora: new batches
    * assign under the frozen pivots and append, the
    * [[appendToIndex]] contract.
    *
    * LAYOUT (round 7): PARTITIONED BY `cell1`, like [[ivfadcIndex]]'s
    * bucket layout — a probe-side consumer's `cell1 IN (probed)`
    * restriction becomes reader-level PARTITION PRUNING (reads
    * ≈ nprobe/B of the artifact files) instead of a full-artifact
    * scan + join-side discard; the full-scan consumers (d03/d10 pair
    * joins) read every partition exactly as before. The build
    * `repartition(cell1)`s before the write so each cell's rows land
    * in one task → ~1 file per cell (without it every write task
    * touches every cell directory — B×tasks small files). At B near
    * [[MaxPivots]] one directory per cell inherits [[ivfadcIndex]]'s
    * documented cell-RANGE grouping mitigation. */
  def ivfFlat(s: SparkSession, dir: String,
      iters: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val path = ivfFlatPath(dir, iters)
    if (!artifactReady(path)) {
      val bcP = s.sparkContext.broadcast(ivfPivots(s, dir, iters))
      corpus(s, dir).map { case (id, v) =>
        val (b1, b2) = VectorOps.nearest2Pivots(v, bcP.value)
        (id, b1.toLong, b2.toLong, VectorOps.cosine6(v, bcP.value(b1)), v)
      }.toDF("vec_id", "cell1", "cell2", "simc", "v")
        .repartition(col("cell1"))
        .write.mode("overwrite").partitionBy("cell1").parquet(path)
    }
    // explicit schema: skips the inference job; the partition column
    // parses as the long the inline build produced (cast = no-op)
    readAs(s,
        "vec_id BIGINT, cell2 BIGINT, simc DOUBLE, v ARRAY<DOUBLE>, cell1 BIGINT",
        path)
      .select(col("vec_id"), col("cell1").cast("long").as("cell1"),
        col("cell2"), col("simc"), col("v"))
  }

  /** Artifact directory for the MinHash band-signature index of
    * `dir`'s documents. */
  def minhashBandsPath(dir: String, bands: Int, rows: Int): String =
    s"$root/${fingerprint(dir, "documents")}/minhash_bands_${bands}x$rows"

  /** Persisted MinHash band-signature index — the dedup family's
    * IndexStore artifact. d01's banded frame feeds THREE exchanges per
    * execution (bucket-mass count + both self-join sides), and the
    * sketch (shingling + 65 mod-P minima per doc) is the CPU-dominant
    * stage; recomputing it per consumer tripled that cost, while an
    * executor-cache materialization measured 3× WORSE at the 100×
    * replica (competes with join execution memory — see d01's
    * scaladoc). The production shape is the same train-once/probe-many
    * split as the vector artifacts: sketch the corpus ONCE per corpus
    * lifetime, persist the (doc_id, band, sig) rows as parquet keyed
    * by the documents fingerprint, and let every execution (and every
    * consumer within one) read the columnar primitives back. The
    * signatures are pure deterministic functions of the text
    * ([[graft.functions.HashSketch.minhashModP]]), so oracle parity is
    * untouched — the DuckDB side recomputes them in SQL as before.
    * Incremental corpora compose exactly like [[appendToIndex]]:
    * sketch only the new batch and append (signatures are per-doc,
    * there is no quantizer to freeze or drift). */
  def minhashBands(s: SparkSession, dir: String, bands: Int,
      rows: Int): org.apache.spark.sql.DataFrame = {
    val path = minhashBandsPath(dir, bands, rows)
    if (!artifactReady(path))
      sketchBands(graft.Tables(s, dir, "documents"), bands, rows)
        .write.mode("overwrite").parquet(path)
    readAs(s, "doc_id BIGINT, band INT, sig BIGINT", path)
  }

  /** The per-doc band-signature projection shared by the build and
    * [[appendBands]]. */
  private def sketchBands(docs: org.apache.spark.sql.DataFrame, bands: Int,
      rows: Int): org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    graft.functions.Par.widen(
        docs.select(col("doc_id"), col("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        val mins = graft.functions.HashSketch.minhashModP(
          graft.functions.HashSketch.shingle3(text), bands * rows)
        (0 until bands).iterator.map { b =>
          (id, b, graft.functions.HashSketch
            .bandKeyModP(mins, b * rows, (b + 1) * rows))
        }
      }.toDF("doc_id", "band", "sig")
  }

  /** INCREMENTAL band-index maintenance — the daily-crawl leg the
    * scaladoc above promises, now built: sketch ONLY the new batch
    * (`doc_id`, `text` rows) and append its signature rows. O(batch)
    * work, no corpus re-sketch; signatures are pure per-doc functions
    * of the text, so appending batches B1..Bn yields a band table
    * bit-identical to rebuilding over corpus ∪ B1..Bn
    * (IndexStoreSpec pins it), and every dedup consumer (d01's
    * bucket-mass count + self-join) sees the grown corpus on its next
    * read. Replay idempotence is the caller's batch_id discipline, as
    * with every append path here; the index must exist first
    * (build-before-append). */
  def appendBands(s: SparkSession, dir: String,
      batch: org.apache.spark.sql.DataFrame, bands: Int, rows: Int): Unit = {
    val path = minhashBandsPath(dir, bands, rows)
    require(artifactReady(path),
      s"minhash band index at $path must be built before appending")
    sketchBands(batch, bands, rows).write.mode("append").parquet(path)
  }

  /** Artifact directories for the BM25 inverted index of `dir`'s
    * documents. The `_b` suffix versions the round-8 BATCH-DIR layout
    * (`batch=<tag>` subdirectories with per-batch _SUCCESS markers on
    * BOTH the postings and stats sides) — an old flat-directory
    * artifact under the same fingerprint must not be misread as it
    * (the SchemaEvolution.FixtureVersion discipline). */
  def bm25PostingsPath(dir: String): String =
    s"$root/${fingerprint(dir, "documents")}/bm25_postings_b"
  def bm25StatsPath(dir: String): String =
    s"$root/${fingerprint(dir, "documents")}/bm25_stats_b"

  /** The base-build batch tag. */
  private val Bm25BaseTag = "batch=base"

  /** List the `batch=` subdirectories of a BM25 artifact root whose
    * own _SUCCESS marker is present — the only batches a reader may
    * see. A torn batch (crash mid-write: part files, no marker) is
    * invisible until replayed or repaired, never half-read (the
    * AnnDeletes ready-partition rule applied here). */
  private[operators] def readyBatches(path: String): Seq[String] =
    allBatchDirs(path).filter(t => artifactReady(s"$path/$t"))

  /** Every `batch=` dir — ready or torn. The auto-tag allocator must
    * see torn dirs too: a crashed append's tag is a REPLAY SLOT, and
    * numbering by ready-count would hand it to the next append with
    * different data (the r8 advice). */
  private def allBatchDirs(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .sorted.toIndexedSeq
  }

  /** Write one batch's postings under its own `batch=` dir —
    * range-partitioned and sorted by (term, doc_id) within the batch,
    * so the IN-list prune works at file/row-group granularity per
    * batch file. Overwrite-scoped to the batch dir, so replaying a
    * tag is idempotent. */
  private def writeBm25PostingsBatch(df: org.apache.spark.sql.DataFrame,
      pPath: String, tag: String, parts: Int): Unit =
    df.repartitionByRange(parts, col("term"), col("doc_id"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$pPath/$tag")

  /** Derive one batch's (n, Σdl) stats row from ITS OWN postings —
    * exact because dl is denormalized onto every posting (docs with
    * ≥1 token; zero-token docs carry no postings and contribute 0 to
    * every score, the disclosed bounded discrepancy). This is both
    * the repair path for a batch whose stats write was lost AND the
    * invariant that makes the postings side the single source of
    * truth. */
  private def rederiveBm25Stats(s: SparkSession, pPath: String,
      sPath: String, tag: String): Unit =
    s.read.parquet(s"$pPath/$tag")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("sdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$sPath/$tag")

  /** Make every postings-ready batch stats-ready: any batch whose
    * postings committed but whose stats row is missing or torn (the
    * crash window between the two appends) gets its stats rederived
    * from its own postings — so after recovery the served N/Σdl are
    * EXACT for exactly the postings being served, and no appended
    * batch is ever lost or double-counted. Idempotent. Runs ONLY on
    * the write paths (append/compact — single-writer contract);
    * reads derive missing stats in memory instead ([[bm25Stats]]),
    * so the read path never writes. */
  private def bm25Recover(s: SparkSession, pPath: String, sPath: String): Unit =
    readyBatches(pPath)
      .filterNot(t => artifactReady(s"$sPath/$t"))
      .foreach(t => rederiveBm25Stats(s, pPath, sPath, t))

  /** Persisted BM25 inverted index — the lexical-retrieval member of
    * the train-once / probe-many family. One tokenize pass over the
    * corpus builds the classic posting list (term, doc_id, tf) with
    * the document length DENORMALIZED onto every posting (the standard
    * trick that lets scoring run without a doc-table join), plus a
    * one-row stats artifact (N docs, Σdl) for the idf / length-norm
    * constants. Postings are RANGE-partitioned and sorted by term, so
    * every file (and every row group inside it) covers a contiguous
    * term range — a query's `term IN (…)` predicate prunes at BOTH
    * granularities via parquet min/max stats, and the warm query path
    * reads ≈ the query terms' posting lists, never the corpus. That is
    * the inverted-index access pattern expressed as columnar layout +
    * pushdown instead of a bespoke index structure: at 100 TB the
    * posting table shards by term range across the cluster and a
    * k-term query touches k posting runs. Incremental corpora: per-doc
    * postings append like [[minhashBands]]; the stats row and df
    * counts must be re-aggregated (cheap — one pass over the appended
    * batch plus a counter merge), disclosed rather than hidden.
    * Tokenization is [[graft.functions.TextStats.tokens]] — the same
    * `\s+`-on-trimmed-text rule every text query and oracle uses. */
  def bm25Postings(s: SparkSession, dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val pPath = bm25PostingsPath(dir)
    val sPath = bm25StatsPath(dir)
    if (!artifactReady(s"$pPath/$Bm25BaseTag")) {
      // The (doc_id, term) aggregate's group count ≈ distinct terms ×
      // docs — at the 1000× replica (5 M docs) the session's 32
      // shuffle partitions put ~5 M groups on each reducer and the
      // hash aggregate OOM-retried its way through. The BUILD (one
      // per corpus lifetime) runs its jobs on a CLONED session
      // (shared SparkContext and executors, PRIVATE SQLConf) with the
      // shuffle width sized to the corpus, so a query planning
      // concurrently on the caller's session never sees the widened
      // setting — the r6 advice closed (the previous save/restore of
      // the shared conf was a mid-build race). On a real cluster this
      // is just "size the build's reducers to the corpus, not to the
      // query default".
      val bs = s.newSession()
      // newSession starts from the STATIC conf — carry over the two
      // runtime settings the build's semantics depend on
      bs.conf.set("spark.sql.session.timeZone",
        s.conf.get("spark.sql.session.timeZone"))
      bs.conf.set("spark.sql.ansi.enabled", s.conf.get("spark.sql.ansi.enabled"))
      bs.conf.set("spark.sql.shuffle.partitions",
        math.max(s.conf.get("spark.sql.shuffle.partitions").toInt, 256).toString)
      import bs.implicits._
      // NO persist of the tokenized corpus: caching 5 M docs'
      // token arrays is gigabytes of deserialized heap (it
      // hard-OOM'd the 8 GB driver at the 1000× replica), while
      // re-tokenizing per consumer is cheap JIT'd column work —
      // the d01 lesson (its persist measured 3× slower than
      // pipelined recompute) applied here
      def tk = graft.Tables(bs, dir, "documents")
        .select($"doc_id", graft.functions.TextStats.tokens($"text").as("toks"))
      def dl = tk.select($"doc_id", size($"toks").as("dl"))
      writeBm25PostingsBatch(
        tk.select($"doc_id", explode($"toks").as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
          .join(dl, "doc_id")
          .select($"term", $"doc_id", $"tf", $"dl"),
        pPath, Bm25BaseTag, parts = 8)
      dl.agg(count(lit(1)).as("n"), sum($"dl").cast("long").as("sdl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$sPath/$Bm25BaseTag")
    }
    val ready = readyBatches(pPath)
    (s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "term STRING, doc_id BIGINT, tf BIGINT, dl INT"))
      .parquet(ready.map(t => s"$pPath/$t"): _*), bm25Stats(s, dir))
  }

  /** TARGETED BM25 compaction (the r6 ask): [[bm25Append]] degrades
    * the layout one batch at a time — extra posting files per term
    * range (the IN-list prune keeps working but touches one run per
    * batch) and one stats partial per batch. Compaction restores the
    * built shape by REWRITING ONLY THE INDEX: read the posting table
    * back, re-range-partition/sort by (term, doc_id), and swap via
    * the staged-rename discipline [[MinMaxManifest.compact]]
    * established — the `documents` table is never touched and nothing
    * is re-tokenized (the previous story, "compaction = re-running
    * the build", was a full-corpus tokenize pass). Cost is one
    * read+shuffle+write of the posting table itself — ≈ the matched
    * posting mass, typically ≪ the corpus. The stats partials fold
    * into one row the same way. Crash safety: each swap is
    * stage-then-rename (a crash leaves either the old or the new
    * layout fully live); postings swap first, so a crash between the
    * two swaps leaves compacted postings + uncompacted partials —
    * sums unchanged, results identical. Single-writer contract as
    * everywhere in this family, ENFORCED like MinMaxManifest: the
    * file set is re-listed before the swap and compaction aborts
    * (staging removed, live layout untouched) if an append raced it. */
  def bm25Compact(s: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val pPath = bm25PostingsPath(dir)
    val sPath = bm25StatsPath(dir)
    require(artifactReady(s"$pPath/$Bm25BaseTag"),
      s"bm25 index at $pPath must exist before compacting")
    bm25Recover(s, pPath, sPath)
    val stagedP = pPath + ".compacting"
    val stagedS = sPath + ".compacting"
    val (fs, _) = fsOf(pPath)
    // snapshot BOTH artifact trees (batch dirs AND their files) before
    // the rewrite: an append writes postings THEN its stats row, so a
    // race can land either side while only the other is watched — the
    // swap would then destroy that batch's mass permanently (review
    // catch). Guarding both recursive listings makes every overlap
    // abort losslessly; only the sub-second check→swap window remains,
    // as in MinMaxManifest.compact.
    def snapshot(p: String): Set[String] = {
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).toIndexedSeq.flatMap(walk)
        else Seq(st.getPath.toString)
      val root = new Path(p)
      if (fs.exists(root)) walk(fs.getFileStatus(root)).toSet else Set.empty
    }
    val readP = snapshot(pPath)
    val readS = snapshot(sPath)
    val ready = readyBatches(pPath)
    // fold every committed batch into a single fresh base batch —
    // postings re-range-partitioned/sorted, stats partials summed
    writeBm25PostingsBatch(
      s.read.parquet(ready.map(t => s"$pPath/$t"): _*),
      stagedP, Bm25BaseTag, parts = 8)
    bm25Stats(s, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$stagedS/$Bm25BaseTag")
    if (snapshot(pPath) != readP || snapshot(sPath) != readS) {
      fs.delete(new Path(stagedP), true)
      fs.delete(new Path(stagedS), true)
      throw new IllegalStateException(
        s"concurrent write detected during bm25 compaction of $pPath — " +
          "quiesce the appender and re-run bm25Compact()")
    }
    def swap(live: String, staged: String): Unit = {
      val old = new Path(live + ".old")
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(new Path(live), old), s"swap-out of $live failed")
      require(fs.rename(new Path(staged), new Path(live)),
        s"swap-in of $staged failed")
      fs.delete(old, true)
      ()
    }
    swap(pPath, stagedP)
    swap(sPath, stagedS)
  }

  /** The BM25 scoring constants (N docs, Σdl) as a ONE-ROW frame:
    * the sum of the per-batch partial rows over exactly the batches
    * whose POSTINGS are served (the visibility rule lives on the
    * postings side; [[bm25Recover]] guarantees every served batch has
    * a stats row) — a bounded aggregate over one tiny file per batch,
    * each immutable once written (no read-modify-write to tear). */
  def bm25Stats(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val pPath = bm25PostingsPath(dir)
    val sPath = bm25StatsPath(dir)
    // READ-ONLY repair (the r8 advice: reads must not write — a read
    // path that repairs durably races concurrent readers overwriting
    // the same stats dir and fails outright on read-only storage):
    // any postings-ready batch whose stats row is missing or torn
    // gets its (n, Σdl) derived IN MEMORY from its own postings for
    // this frame only — exact, per batch, so a doc appearing in two
    // batches still counts per-batch as the durable rows would.
    // Durable repair stays on the write paths (append/compact), which
    // hold the single-writer contract.
    val ready = readyBatches(pPath)
    require(ready.nonEmpty, s"no ready bm25 batches under $pPath")
    val (withStats, missing) =
      ready.partition(t => artifactReady(s"$sPath/$t"))
    val parts =
      (if (withStats.isEmpty) Seq.empty[org.apache.spark.sql.DataFrame]
       else Seq(s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
           "n BIGINT, sdl BIGINT"))
         .parquet(withStats.map(t => s"$sPath/$t"): _*)
         .select(col("n"), col("sdl")))) ++
      missing.map(t =>
        s.read.parquet(s"$pPath/$t")
          .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("sdl")))
    parts.reduce(_ unionAll _)
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("sdl")).cast("long").as("sdl"))
  }

  /** DuckDB CTE rendering of the training sample, assuming a CTE `e`
    * (vec_id, v) is in scope — emits `es`. Shared by every IVF/PQ
    * oracle so the sample rule lives in exactly one string. */
  def sampleCte: String =
    s"""es AS (
       |  SELECT vec_id, v FROM e
       |  WHERE ${DetHash.hash60Sql("vec_id", SampleSalt)} % $SampleMod = 0)""".stripMargin
}
