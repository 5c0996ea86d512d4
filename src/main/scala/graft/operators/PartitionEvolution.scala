package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PARTITION EVOLUTION — the partition-spec axis of table evolution
  * ([[SchemaEvolution]] covers columns): a long-lived table's
  * partitioning outlives its first layout choice (coarse MONTH dirs
  * chosen at ingest volume X stop pruning well at 100×; the fix is
  * DAY dirs for NEW data — rewriting the historical 100 TB into the
  * new scheme is the same non-starter as ever). The public Iceberg
  * semantics: each data file is bound to the partition SPEC it was
  * written under, readers plan each spec's files with that spec's
  * transform, and specs never rewrite history.
  *
  * Reduced to its Spark-expressible core: two hive-layout generations
  * under one root — gen 0 partitioned by `pmonth`, gen 1 by `pday` —
  * each read through its OWN reader so its partition values prune at
  * the directory level (PartitionFilters, before any file IO;
  * spec-pinned on both legs), unioned after the partition columns are
  * dropped. The union is the Iceberg read shape: per-spec scan tasks
  * under one table scan. A single mergeSchema read of the root would
  * see two disjoint partition columns and prune NEITHER leg — the
  * per-spec readers are the whole point.
  *
  * Time-range predicates translate per spec: [lo, hi) becomes a
  * month-string range for gen 0 and a day-string range for gen 1 —
  * boundary partitions re-filter rows (the [[MinMaxManifest]]
  * discipline at directory grain). At 100 TB the plan cost is two
  * directory listings; no data file outside the surviving partitions
  * is opened. */
object PartitionEvolution {

  /** Spec boundary: data before this instant was written under the
    * month spec, data from it on under the day spec. */
  val SpecChange = "2024-01-16 00:00:00"

  def rootPath(dir: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/events_pev"
  private val Specs = Seq("spec0", "spec1")

  /** Commit the two spec generations, parts `spec0` and `spec1` of one
    * stamped version, if absent; returns the committed version
    * directory. The build runs on a UTC-pinned cloned session
    * ([[IndexStore.utcSession]]): the partition VALUES are
    * date_format renderings, which follow the session zone — under a
    * non-UTC caller the directory names would disagree with
    * [[read]]'s UTC-pinned predicate strings and pruning would
    * silently exclude in-window rows (the r7 advice). Pinning the
    * WRITE side makes the persisted names UTC forever, matching the
    * reader on any session zone. */
  def ensure(s: SparkSession, dir: String): String = {
    val path = rootPath(dir)
    EnsureWatermark.ensured(path, Specs, dir, "events") { v =>
      val us = IndexStore.utcSession(s)
      val ev = graft.Tables(us, dir, "events")
      val cut = lit(MinMaxManifest.utc(SpecChange))
      ev.where(col("ts") < cut)
        .withColumn("pmonth", date_format(col("ts"), "yyyy-MM"))
        .write.partitionBy("pmonth").parquet(s"$v/spec0")
      ev.where(col("ts") >= cut)
        .withColumn("pday", date_format(col("ts"), "yyyy-MM-dd"))
        .write.partitionBy("pday").parquet(s"$v/spec1")
    }.dir(path)
  }

  /** The evolved-table read over [lo, hi): each spec's files planned
    * under that spec's transform, partition-pruned at the directory
    * level, rows re-filtered at the boundary, unioned. Returns the
    * two legs too so specs can pin each plan. */
  def read(s: SparkSession, dir: String, lo: String,
      hi: String): (DataFrame, DataFrame, DataFrame) = {
    val layout = ensure(s, dir)
    val (gen0, gen1) = (s"$layout/spec0", s"$layout/spec1")
    val (loTs, hiTs) = (MinMaxManifest.utc(lo), MinMaxManifest.utc(hi))
    val rowPred = col("ts") >= lit(loTs) && col("ts") < lit(hiTs)
    val fmtM = new java.text.SimpleDateFormat("yyyy-MM")
    val fmtD = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmtM.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    fmtD.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    // the partition predicate is a STRING range on the partition
    // value — lexicographic order matches time order for these
    // zero-padded formats, and an inclusive month/day containing the
    // bound must survive (its rows re-filter), so the upper bound is
    // the bound instant's own partition value, inclusive. A leg whose
    // GENERATION lies wholly outside the window is skipped entirely
    // (review catch: a post-boundary window otherwise still opened
    // the whole boundary month of history and row-filtered it to
    // zero — at the operator's own 100-TB framing, a month of 100×
    // data read for nothing).
    val cut = MinMaxManifest.utc(SpecChange)
    // both generations are events-shaped plus their own partition
    // column — pass the schemas so neither leg pays a footer-inference
    // job per read (r17; partition values stay directory facts)
    val evSchema = graft.Tables(s, dir, "events").schema
    val g0Schema = evSchema.add("pmonth",
      org.apache.spark.sql.types.StringType)
    val g1Schema = evSchema.add("pday",
      org.apache.spark.sql.types.StringType)
    val leg0 =
      if (!loTs.before(cut)) s.read.schema(g0Schema).parquet(gen0).drop("pmonth").where(lit(false))
      else s.read.schema(g0Schema).parquet(gen0)
        .where(col("pmonth") >= fmtM.format(loTs) &&
          col("pmonth") <= fmtM.format(hiTs) && rowPred)
        .drop("pmonth")
    val leg1 =
      if (!cut.before(hiTs)) s.read.schema(g1Schema).parquet(gen1).drop("pday").where(lit(false))
      else s.read.schema(g1Schema).parquet(gen1)
        .where(col("pday") >= fmtD.format(loTs) &&
          col("pday") <= fmtD.format(hiTs) && rowPred)
        .drop("pday")
    (leg0.union(leg1), leg0, leg1)
  }
}
