package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCHEMA EVOLUTION over an immutable file layout — the lakehouse
  * contract that a long-lived 100-TB table outlives its writers'
  * schemas (the public Iceberg/Delta evolution semantics: ADD column,
  * DROP column, RENAME via read-time name mapping; never a rewrite).
  *
  * Why this is its own operator and not "just mergeSchema": at scale,
  * history IS heterogeneous — a table ingested over years contains
  * files from every schema the pipeline ever had, and rewriting 100 TB
  * on each ALTER TABLE is exactly the non-starter deletion vectors
  * ([[DeletionVectors]]) exist for on the row axis. The reader owns
  * unification:
  *
  *  - ADDED columns read as NULL from files written before the add
  *    (Spark's parquet `mergeSchema` union does this natively);
  *  - DROPPED columns read as NULL from files written after the drop
  *    (same mechanism, time-reversed);
  *  - RENAMES never touch data — parquet stores the OLD physical
  *    name; a read-time name mapping (the Iceberg name-mapping /
  *    Delta column-mapping idea, reduced to its Spark-expressible
  *    core) projects stored names to current names. A rename
  *    implemented as drop+add would null out all history — the
  *    mapping is what keeps old files readable under new names.
  *
  * The fixture commits THREE schema generations of the events table
  * as one stamped version (hive-style `gen=N` parts, so generation
  * provenance rides along as a partition column and the reader can be
  * audited per generation):
  *   gen 0 — the original schema;
  *   gen 1 — ADDs `channel` (a new ingest dimension);
  *   gen 2 — ADDs `score` and DROPs `props` (writer stopped
  *           producing it).
  * The current table schema renames `props` → `attributes`.
  *
  * Scale shape: unification is metadata-only (schema union at plan
  * time + per-file projection at scan time) — zero extra IO, zero
  * shuffle; the one real cost is `mergeSchema` footer-sampling on the
  * file listing, which table formats amortize by tracking the schema
  * in table metadata instead of re-deriving it (the manifest layer
  * [[MinMaxManifest]] is where that would live here). */
object SchemaEvolution {

  /** Generation boundaries (event-time split of the source table).
    * Fixed literals are safe here, unlike q31's read window: every
    * generation is always READ in full — on a ScaleUp replica whose
    * events extend past gen1's boundary the extension simply lands in
    * later generations, which changes nothing about unification. */
  val Gen1Start = "2024-01-11 00:00:00"
  val Gen2Start = "2024-01-21 00:00:00"

  /** The read-time name mapping: stored physical name → current
    * logical name. */
  val NameMapping: Seq[(String, String)] = Seq("props" -> "attributes")

  /** Fixture-generator version, part of the artifact path: the
    * staleness fingerprint keys on the SOURCE table only, so an
    * operator-side change to what the generations contain must bump
    * this or a warm host silently replays the old layout. */
  private val FixtureVersion = 2

  def layoutPath(dir: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/events_sev_v$FixtureVersion"

  private val Generations = (0 to 2).map(g => s"gen=$g")

  /** Commit the three schema generations, parts `gen=0..2` of one
    * stamped version, if absent; returns the committed version
    * directory. */
  def ensure(s: SparkSession, dir: String): String = {
    val lp = layoutPath(dir)
    EnsureWatermark.ensured(lp, Generations, dir, "events") { v =>
      val ev = graft.Tables(s, dir, "events")
      val t1 = lit(MinMaxManifest.utc(Gen1Start))
      val t2 = lit(MinMaxManifest.utc(Gen2Start))
      // gen 0: the original schema
      ev.where(col("ts") < t1).write.parquet(s"$v/gen=0")
      // gen 1: ADD channel
      ev.where(col("ts") >= t1 && col("ts") < t2)
        .withColumn("channel",
          concat(lit("ch"), (col("user_id") % 3).cast("string")))
        .write.parquet(s"$v/gen=1")
      // gen 2: ADD score, DROP props. Score is integer "cents"
      // (floor(value·100) as BIGINT) so cross-generation sums are
      // engine-exact — a round(double) score diverged from DuckDB by
      // accumulated half-rounding-mode ulps at sf0.01
      ev.where(col("ts") >= t2)
        .withColumn("channel",
          concat(lit("ch"), (col("user_id") % 3).cast("string")))
        .withColumn("score", floor(col("value") * 100).cast("long"))
        .drop("props")
        .write.parquet(s"$v/gen=2")
    }.dir(lp)
  }

  /** The unified read: parquet schema-union across all generations
    * (absent columns → NULL per file), then the name mapping projects
    * stored names to the CURRENT schema. Column order is pinned so
    * downstream consumers see one stable table regardless of which
    * generations exist yet. */
  def readUnified(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.option("mergeSchema", "true").parquet(ensure(s, dir))
    val mapped = NameMapping.foldLeft(raw) { case (df, (stored, current)) =>
      df.withColumnRenamed(stored, current)
    }
    mapped.select("event_id", "ts", "user_id", "event_type", "value",
      "attributes", "channel", "score", "gen")
  }
}
