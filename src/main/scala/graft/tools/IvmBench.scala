package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IncrementalRollup, SnapshotMerge}

/** Measures the claim d09 exists to make: with the rollup PERSISTED
  * (the materialized-view deployment shape — the registered d09 query
  * rebuilds it in-query only because the correctness gate runs
  * stateless), maintaining it under a CDC delta costs O(groups +
  * touched), while the reference-style rebuild re-aggregates the
  * corpus. Times both paths over the SAME scenario
  * ([[graft.queries.DedupQueries.cdcScenario]]) at whatever scale the
  * given directory holds, min-of-2 per path, interleaved so neither
  * path benefits from the other's page-cache warmup asymmetrically.
  *
  * The oracle scenario's delta deliberately touches ~30% of the corpus
  * (good for exercising every CDC case, wrong for a view-maintenance
  * claim — a daily delta at 100 TB is ~0.1%). So the bench SWEEPS the
  * delta fraction by deterministically sub-setting the scenario delta
  * on a key hash (mod 1 / 32 / 256 ≈ 30% / 1% / 0.1% of keys touched)
  * and times BOTH paths per fraction: full recompute's window is O(N)
  * regardless of delta size, maintain is O(touched), so the sweep
  * shows where the crossover sits instead of a single cherry-picked
  * point.
  *
  * Prints one JSON line per fraction:
  * {"metric":"ivm_maintain_sec","value":M,"full_recompute_sec":F,
  *  "speedup":F/M,"delta_mod":m,"docs":N,"touched":T,"groups":G,"sf":dir}
  *
  * Usage: runMain graft.tools.IvmBench <sfDir>
  */
object IvmBench {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession(graft.GraftSession.envCores(32))

    // The oracle scenario derives base AND delta as views over
    // documents.parquet — fine for a stateless correctness query,
    // wrong for timing maintenance, where every reference re-scans the
    // corpus. Deployment shape: the snapshot and the CDC delta are
    // data on disk. Materialize both once, untimed.
    val (baseView, deltaView) = graft.queries.DedupQueries.cdcScenario(spark, dir)
    val scratch = java.nio.file.Files.createTempDirectory("ivm-bench")
    baseView.write.mode("overwrite").parquet(s"$scratch/base")
    deltaView.write.mode("overwrite").parquet(s"$scratch/delta")
    val base = spark.read.parquet(s"$scratch/base")
    val fullDelta = spark.read.parquet(s"$scratch/delta")
    val contribs = Seq(
      "docs" -> lit(1L),
      "version_sum" -> col("version").cast("long"),
      "upper_docs" -> when(col("text") === upper(col("text")), 1L).otherwise(0L))
    def rollupOf(df: DataFrame): DataFrame =
      df.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("version")).as("version_sum"),
          sum(when(col("text") === upper(col("text")), 1).otherwise(0)).as("upper_docs"))

    // the stored artifact: rollup of the base snapshot, persisted once
    // (its build cost is the one-time full aggregation d09 amortizes)
    val rollupPath = java.nio.file.Files
      .createTempDirectory("ivm-rollup").resolve("rollup").toString
    rollupOf(base).write.mode("overwrite").parquet(rollupPath)
    val stored = spark.read.parquet(rollupPath)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = base.count()
    val groups = stored.count()
    for (mod <- Seq(1L, 32L, 256L)) {
      val delta =
        if (mod == 1L) fullDelta
        else fullDelta.where(pmod(xxhash64(col("doc_id")), lit(mod)) === 0)
      // full-recompute first, then maintain, two reps each — interleaved
      // so both paths see the same cache state on their second rep
      val reps = (1 to 2).map { _ =>
        val f = time(noop(rollupOf(SnapshotMerge.applyCdc(base, delta, "doc_id", "version"))))
        val m = time(noop(IncrementalRollup.maintain(stored, base, delta,
          "doc_id", "version", Seq("lang", "source"), contribs, liveCount = "docs")))
        (f, m)
      }
      val full = reps.map(_._1).min
      val maint = reps.map(_._2).min
      val touched = delta.select(col("doc_id")).distinct().count()
      println(f"""{"metric":"ivm_maintain_sec","value":$maint%.3f,"full_recompute_sec":$full%.3f,"speedup":${full / maint}%.2f,"delta_mod":$mod,"docs":$docs,"touched":$touched,"groups":$groups,"sf":"$dir"}""")
    }

    // ---- partitioned-base variant: the 100-TB layout. Both unpruned
    // paths above are floored by the same full-width base scan (a
    // broadcast-hash ROW filter cannot skip parquet row groups). With
    // the base laid out in 64 hash-"day" partitions and a
    // partition-local delta (corrections landing in 4 recent days —
    // the realistic CDC skew), pruneToTouchedPartitions turns the
    // maintain-side scan into 4/64 of the corpus plus a 2-column
    // discovery projection, while the recompute still reads it all.
    val day = pmod(xxhash64(col("doc_id")), lit(64))
    val partDir = java.nio.file.Files
      .createTempDirectory("ivm-part").resolve("base").toString
    // repartition by the layout key first: without it every input task
    // writes into every day directory (32 x 64 ~0.5 MB files whose
    // listing/task overhead swamps the pruning win being measured —
    // and the same small-files discipline a real daily writer needs)
    base.withColumn("day", day).repartition(64, col("day")).write
      .mode("overwrite").partitionBy("day").parquet(partDir)
    val partBase = spark.read.parquet(partDir)
    val localDelta = fullDelta.where(day < 4)
    val pReps = (1 to 2).map { _ =>
      val f = time(noop(rollupOf(
        SnapshotMerge.applyCdc(partBase.drop("day"), localDelta, "doc_id", "version"))))
      val m = time {
        val pruned = SnapshotMerge
          .pruneToTouchedPartitions(partBase, localDelta, "doc_id", "day")
        noop(IncrementalRollup.maintain(stored, pruned.drop("day"), localDelta,
          "doc_id", "version", Seq("lang", "source"), contribs, liveCount = "docs"))
      }
      (f, m)
    }
    val pFull = pReps.map(_._1).min
    val pMaint = pReps.map(_._2).min
    val pTouched = localDelta.select(col("doc_id")).distinct().count()
    println(f"""{"metric":"ivm_maintain_partitioned_sec","value":$pMaint%.3f,"full_recompute_sec":$pFull%.3f,"speedup":${pFull / pMaint}%.2f,"partitions_touched":4,"partitions_total":64,"docs":$docs,"touched":$pTouched,"groups":$groups,"sf":"$dir"}""")
    spark.stop()
  }
}
