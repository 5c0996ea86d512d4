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
  *    listing, not a data scan. Each artifact commits once through
  *    [[EnsureWatermark.ensured]] into a fresh version whose stamp
  *    lands last: a missing, torn or older-layout artifact reads as
  *    absent and rebuilds in place, and two cold builders converge on
  *    one version.
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

  /** Recursive delete of an artifact directory, when present — for
    * the batch-scoped and staging layouts the stamp does not govern. */
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

  /** The `_SUCCESS` readiness rule of the two crash-recovery
    * journals of table mutations — WriteAuditPublish's staging and
    * intent, DeletionVectors' journal and delete files. They record an
    * in-flight mutation, not a rebuildable artifact, so they stay off
    * the stamp; every rebuildable artifact's readiness is
    * [[EnsureWatermark]]'s. */
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

  /** The pivot array (indexed by pivot_id) of a committed pivots part. */
  private[operators] def readPivots(s: SparkSession,
      part: String): Array[Array[Double]] = {
    import s.implicits._
    readAs(s, "pivot_id BIGINT, pv ARRAY<DOUBLE>", part)
      .select($"pivot_id", $"pv")
      .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)
  }

  /** IVF coarse-quantizer pivots for `dir`'s embeddings corpus:
    * load the committed artifact if present, else train on the
    * deterministic sample (B = adaptiveB(full N); KMeans seeds = the
    * B lowest-id SAMPLE vectors, `iters` Lloyd passes over the sample
    * only) and commit. Returns the pivot array indexed by pivot_id
    * (= rank of the surviving centroid's seed id — the broadcast
    * index [[VectorOps.nearest2Pivots]] assignment uses). */
  def ivfPivots(s: SparkSession, dir: String, iters: Int): Array[Array[Double]] = {
    import s.implicits._
    // warm path: B rows (hard-capped), bounded collect — no corpus scan
    readPivots(s, EnsureWatermark.ensured(ivfPivotPath(dir), dir, "embeddings") { data =>
      val ev = corpus(s, dir)
      // full-corpus COUNT sets B (the √(N/8) rule needs the true N —
      // one column-pruned scan, cold path only); training then reads
      // only the sample (KMeans persists it across its iters+1 passes)
      val b = adaptiveB(ev.count())
      val pivots = KMeans.centroids(sampleOf(ev), b.toInt, iters).map(_._2)
      s.createDataset(pivots.toIndexedSeq.zipWithIndex
          .map { case (pv, i) => (i.toLong, pv) })
        .toDF("pivot_id", "pv")
        .coalesce(1).write.parquet(data)
    })
  }

  /** Artifact directory for the PQ codebooks of `dir`'s embeddings. */
  def pqCodebookPath(dir: String, m: Int, sub: Int, k: Int): String =
    s"$root/${fingerprint(dir, "embeddings")}/pq_codebooks_${m}x${sub}k$k"

  /** Product-quantization codebooks: per-subspace (m of `m`, width
    * `sub`) k-entry centroid tables, load-or-train-and-commit.
    * Training (cold path only) = seeds from the `k` lowest-id SAMPLE
    * vectors' subvectors, ONE Lloyd pass over the sample (micro-unit
    * L2 assignment, round-8 means — the established replay contract).
    * Returned as, per subspace, the (code, centroid) array sorted by
    * code — codes that lose every sample vector drop out, exactly as
    * in the oracle's GROUP BY. */
  def pqCodebooks(s: SparkSession, dir: String, m: Int, sub: Int,
      k: Int): Array[Array[(Int, Array[Double])]] = {
    import s.implicits._
    val part = EnsureWatermark.ensured(pqCodebookPath(dir, m, sub, k), dir,
        "embeddings") { data =>
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
          .coalesce(1).write.parquet(data)
      } finally sample.unpersist()
    }
    // warm path: ≤ m·k rows — kilobytes, no corpus scan
    val rows = readAs(s, "m INT, code INT, cv ARRAY<DOUBLE>", part)
      .select($"m", $"code", $"cv")
      .as[(Int, Int, Array[Double])].collect().toIndexedSeq
    val byM = rows.groupBy(_._1)
    Array.tabulate(m)(i => byM(i).map(r => (r._2, r._3)).sortBy(_._1).toArray)
  }

  /** Artifact directory for the ENCODED inverted index. */
  def ivfadcIndexPath(dir: String, iters: Int, m: Int, sub: Int, k: Int): String =
    s"$root/${fingerprint(dir, "embeddings")}/ivfadc_index_i${iters}_${m}x${sub}k$k"

  /** The ENCODED inverted index — what a production IVFADC system
    * actually stores: one row per corpus vector with its IVF bucket
    * and its M one-byte PQ codes, built ONCE from the two quantizer
    * artifacts and committed PARTITIONED BY BUCKET inside its data
    * part, so a query's nprobe-cell scan is parquet partition pruning
    * (reads ≈ nprobe/B of the index files, 16 code bytes per row —
    * never a raw vector). The build pass is the only full
    * assignment+encode scan; every later execution reads back the
    * index. Cold and warm executions are identical by construction:
    * the cold path builds, then READS THE PART it just committed.
    *
    * At B near [[MaxPivots]] one directory per bucket is a
    * small-files problem — a production layout groups cells into
    * bucket RANGES per file (the same pruning, coarser granularity);
    * at the gate SFs B ≤ 160 and the per-bucket layout is exact. */
  def ivfadcIndex(s: SparkSession, dir: String, iters: Int, m: Int, sub: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val part = EnsureWatermark.ensured(ivfadcIndexPath(dir, iters, m, sub, k),
        dir, "embeddings") { data =>
      val bcP = s.sparkContext.broadcast(ivfPivots(s, dir, iters))
      val bcC = s.sparkContext.broadcast(pqCodebooks(s, dir, m, sub, k))
      corpus(s, dir).map { case (id, v) =>
        val bucket = VectorOps.nearest2Pivots(v, bcP.value)._1.toLong
        val codes = Array.tabulate(m)(i =>
          VectorOps.nearestCodeIdx(v, i * sub, bcC.value(i)))
        (id, bucket, codes)
      }.toDF("vec_id", "bucket", "codes")
        .write.partitionBy("bucket").parquet(data)
    }
    // explicit schema: skips the inference job AND pins the partition
    // column to long directly (the casts below stay as belt-and-braces)
    readAs(s, "vec_id BIGINT, codes ARRAY<INT>, bucket BIGINT", part)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("bucket").cast("long").as("bucket"), col("codes"))
  }

  /** Load-or-build for a derived table artifact over `dir/table`:
    * built once per corpus lifetime under
    * `<root>/<fingerprint>/<leaf>`, read thereafter through its fixed
    * `ddl` — the lifecycle every index here follows, offered
    * generically so one-shot derived tables (perceptual hashes, audio
    * signatures) don't re-run their heavy pass per execution. `leaf`
    * must carry its own version suffix when the builder's definition
    * can change (the SchemaEvolution.FixtureVersion lesson). */
  def cachedTable(s: SparkSession, dir: String, table: String, leaf: String,
      parts: Int, ddl: String)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    readAs(s, ddl, EnsureWatermark.ensured(
        s"$root/${fingerprint(dir, table)}/$leaf", dir, table)(
      build.coalesce(parts).write.parquet(_)))

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
    * cold-vs-warm query identity. A grown corpus moves the
    * fingerprint, so it trains and assigns its own artifacts.
    *
    * LAYOUT (round 7): PARTITIONED BY `cell1` inside the data part,
    * like [[ivfadcIndex]]'s bucket layout — a probe-side consumer's
    * `cell1 IN (probed)` restriction becomes reader-level PARTITION
    * PRUNING (reads ≈ nprobe/B of the artifact files) instead of a
    * full-artifact scan + join-side discard; the full-scan consumers
    * (d03/d10 pair joins) read every partition exactly as before. The
    * build `repartition(cell1)`s before the write so each cell's rows
    * land in one task → ~1 file per cell (without it every write task
    * touches every cell directory — B×tasks small files). At B near
    * [[MaxPivots]] one directory per cell inherits [[ivfadcIndex]]'s
    * documented cell-RANGE grouping mitigation. */
  def ivfFlat(s: SparkSession, dir: String,
      iters: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val part = EnsureWatermark.ensured(ivfFlatPath(dir, iters), dir,
        "embeddings") { data =>
      val bcP = s.sparkContext.broadcast(ivfPivots(s, dir, iters))
      corpus(s, dir).map { case (id, v) =>
        val (b1, b2) = VectorOps.nearest2Pivots(v, bcP.value)
        (id, b1.toLong, b2.toLong, VectorOps.cosine6(v, bcP.value(b1)), v)
      }.toDF("vec_id", "cell1", "cell2", "simc", "v")
        .repartition(col("cell1"))
        .write.partitionBy("cell1").parquet(data)
    }
    // explicit schema: skips the inference job; the partition column
    // parses as the long the inline build produced (cast = no-op)
    readAs(s,
        "vec_id BIGINT, cell2 BIGINT, simc DOUBLE, v ARRAY<DOUBLE>, cell1 BIGINT",
        part)
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
    * lifetime, commit the (doc_id, band, sig) rows as parquet keyed
    * by the documents fingerprint, and let every execution (and every
    * consumer within one) read the columnar primitives back. The
    * signatures are pure deterministic functions of the text
    * ([[graft.functions.HashSketch.minhashModP]]), so oracle parity is
    * untouched — the DuckDB side recomputes them in SQL as before. */
  def minhashBands(s: SparkSession, dir: String, bands: Int,
      rows: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val part = EnsureWatermark.ensured(minhashBandsPath(dir, bands, rows), dir,
        "documents") { data =>
      graft.functions.Par.widen(graft.Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))).as[(Long, String)]
        .flatMap { case (id, text) =>
          val mins = graft.functions.HashSketch.minhashModP(
            graft.functions.HashSketch.shingle3(text), bands * rows)
          (0 until bands).iterator.map { b =>
            (id, b, graft.functions.HashSketch
              .bandKeyModP(mins, b * rows, (b + 1) * rows))
          }
        }.toDF("doc_id", "band", "sig")
        .write.parquet(data)
    }
    readAs(s, "doc_id BIGINT, band INT, sig BIGINT", part)
  }

  /** Artifact directories for the BM25 inverted index of `dir`'s
    * documents: the postings and the one-row (n, Σdl) stats, two
    * artifacts each built from `documents` alone, so no commit spans
    * both. The `_b` leaf names are kept from an older batch-dir
    * layout, which now reads as absent and rebuilds in place. */
  def bm25PostingsPath(dir: String): String =
    s"$root/${fingerprint(dir, "documents")}/bm25_postings_b"
  def bm25StatsPath(dir: String): String =
    s"$root/${fingerprint(dir, "documents")}/bm25_stats_b"

  /** The `batch=` subdirectories of a batch-scoped artifact root whose
    * own _SUCCESS marker is present — the only batches a reader may
    * see (the rollups' side legs, the entity store's stream and purge
    * batches, the ANN tombstones). A torn batch (crash mid-write: part
    * files, no marker) is invisible until replayed, never half-read. */
  private[operators] def readyBatches(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath)
      .filter(b => b.getName.startsWith("batch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(b, "_SUCCESS")))
      .map(_.getName).sorted
  }

  /** The (doc_id, tokens) corpus on a BUILD session. The (doc_id,
    * term) aggregate's group count ≈ distinct terms × docs — at the
    * 1000× replica (5 M docs) the session's 32 shuffle partitions put
    * ~5 M groups on each reducer and the hash aggregate OOM-retried
    * its way through. A build (one per corpus lifetime) therefore runs
    * its jobs on a CLONED session (shared SparkContext and executors,
    * PRIVATE SQLConf) with the shuffle width sized to the corpus, so a
    * query planning concurrently on the caller's session never sees
    * the widened setting. NO persist of the tokens: caching 5 M docs'
    * token arrays is gigabytes of deserialized heap (it hard-OOM'd the
    * 8 GB driver at the 1000× replica), while re-tokenizing per
    * consumer is cheap JIT'd column work. */
  private def bm25Tokens(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val bs = s.newSession()
    // newSession starts from the STATIC conf — carry over the two
    // runtime settings the build's semantics depend on
    bs.conf.set("spark.sql.session.timeZone",
      s.conf.get("spark.sql.session.timeZone"))
    bs.conf.set("spark.sql.ansi.enabled", s.conf.get("spark.sql.ansi.enabled"))
    bs.conf.set("spark.sql.shuffle.partitions",
      math.max(s.conf.get("spark.sql.shuffle.partitions").toInt, 256).toString)
    graft.Tables(bs, dir, "documents")
      .select(col("doc_id"), graft.functions.TextStats.tokens(col("text")).as("toks"))
  }

  private def bm25Lengths(tk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tk.select(col("doc_id"), size(col("toks")).as("dl"))

  /** Persisted BM25 inverted index — the lexical-retrieval member of
    * the train-once / probe-many family, returned as (postings,
    * one-row stats). The postings are the classic posting list (term,
    * doc_id, tf) with the document length DENORMALIZED onto every
    * posting (the standard trick that lets scoring run without a
    * doc-table join); the stats artifact holds (N docs, Σdl) for the
    * idf / length-norm constants. Postings are RANGE-partitioned and
    * sorted by term, so every file (and every row group inside it)
    * covers a contiguous term range — a query's `term IN (…)`
    * predicate prunes at BOTH granularities via parquet min/max
    * stats, and the warm query path reads ≈ the query terms' posting
    * lists, never the corpus. That is the inverted-index access
    * pattern expressed as columnar layout + pushdown instead of a
    * bespoke index structure: at 100 TB the posting table shards by
    * term range across the cluster and a k-term query touches k
    * posting runs. Tokenization is
    * [[graft.functions.TextStats.tokens]] — the same
    * `\s+`-on-trimmed-text rule every text query and oracle uses. */
  def bm25Postings(s: SparkSession, dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val postings = EnsureWatermark.ensured(bm25PostingsPath(dir), dir,
        "documents") { data =>
      val tk = bm25Tokens(s, dir)
      tk.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .join(bm25Lengths(tk), "doc_id")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .repartitionByRange(8, col("term"), col("doc_id"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.parquet(data)
    }
    val stats = EnsureWatermark.ensured(bm25StatsPath(dir), dir,
        "documents") { data =>
      bm25Lengths(bm25Tokens(s, dir))
        .agg(count(lit(1)).as("n"), sum(col("dl")).cast("long").as("sdl"))
        .coalesce(1).write.parquet(data)
    }
    (readAs(s, "term STRING, doc_id BIGINT, tf BIGINT, dl INT", postings),
      readAs(s, "n BIGINT, sdl BIGINT", stats))
  }

  /** DuckDB CTE rendering of the training sample, assuming a CTE `e`
    * (vec_id, v) is in scope — emits `es`. Shared by every IVF/PQ
    * oracle so the sample rule lives in exactly one string. */
  def sampleCte: String =
    s"""es AS (
       |  SELECT vec_id, v FROM e
       |  WHERE ${DetHash.hash60Sql("vec_id", SampleSalt)} % $SampleMod = 0)""".stripMargin
}
