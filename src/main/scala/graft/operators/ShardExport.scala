package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DetHash

/** Training-data shard export — the writer leg of an LLM data
  * pipeline (the WebDataset/TFRecord-shards shape: training jobs
  * stream fixed shard files, each internally in a reproducible
  * pseudo-random order, resumable by shard id). The curation family
  * decides WHAT goes into the corpus (c01–c10); this operator decides
  * HOW it lands on disk for the trainer:
  *
  *  - **Shard assignment** = [[DetHash.hash60]](doc_id, "shard") mod
  *    [[NumShards]] — the library's no-rand() discipline, so a doc's
  *    shard is a pure function of its stable id: retries, reruns, and
  *    repartitioning cannot reshuffle the split, and the DuckDB
  *    oracle replays it verbatim.
  *  - **Global pseudo-random order without a global sort**: the
  *    trainer wants shuffled data, but a corpus-wide orderBy is a
  *    full-sort barrier at 100 TB. The salted hash IS the shuffle:
  *    rows sort by `h` only WITHIN each shard task
  *    (`sortWithinPartitions` — a local sort, no exchange beyond the
  *    one shard repartition), and reading shards round-robin yields
  *    hash-ordered ≈ uniformly shuffled data end to end.
  *  - **Layout** = one directory per shard (`partitionBy`, the
  *    [[IndexStore.ivfadcIndex]] convention) inside the committed
  *    part, keyed by the documents fingerprint like every artifact; a
  *    trainer resumes by skipping whole shard directories it has
  *    consumed.
  *
  * At 100 TB: one hash-partition exchange + local sorts, every stage
  * map-side beyond it; NumShards scales to O(corpus/shard-budget)
  * (here 8 for a 500-doc gate corpus). A changed corpus re-keys the
  * layout and rebuilds it whole; a file dropped into a committed
  * part that its stamp does not list vetoes serving. */
object ShardExport {

  val NumShards = 8
  val Salt = "shard"

  def path(dir: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "documents")}/shards$NumShards"

  /** Build the shard layout if absent — one partitioned part of a
    * stamped commit; return it re-read (shard as a normalized long —
    * partition columns come back type-inferred). */
  def ensure(s: SparkSession, dir: String): DataFrame = {
    val part = EnsureWatermark.ensured(path(dir), dir, "documents") { data =>
      graft.Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(graft.functions.TextStats.tokens(col("text"))).as("toks"),
          DetHash.hash60(col("doc_id"), Salt).as("h"))
        .withColumn("shard", col("h") % NumShards)
        // RANGE partition on the shard id: hash-partitioning 8
        // distinct values into 8 partitions strands ~1/e of the tasks
        // empty and doubles up others; range boundaries give one
        // shard per task (and so one file per shard dir)
        .repartitionByRange(NumShards, col("shard"))
        // leading sort key = the partition column: the dynamic-
        // partition writer needs shard-clustered input and would
        // otherwise inject its own (unstable) sort, destroying the
        // h order this layout exists to provide
        .sortWithinPartitions(col("shard"), col("h"))
        .write.partitionBy("shard").parquet(data)
    }
    s.read.parquet(part)
      .withColumn("shard", col("shard").cast("long"))
  }
}
