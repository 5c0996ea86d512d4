package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming leg of incremental dedup (D3, the d05 shape as a
  * continuous pipeline): each micro-batch of incoming documents is
  * checked against the STANDING corpus index with the asymmetric
  * banded join — batch ⋈ index on the prefix bucket, exact token-set
  * Jaccard verify — then novel documents' index entries are appended
  * so later batches dedup against everything seen so far. This is the
  * daily-crawl ingest shape run continuously: per batch the join
  * shuffles O(batch) rows, never O(corpus), and the corpus side is a
  * persisted bucket-keyed parquet index (at scale: bucketed/partitioned
  * by the band key so index lookups prune to matching buckets).
  *
  * foreachBatch is the right tool (not a stream-stream join): the
  * index is a slowly-growing BATCH table the stream joins against.
  * Structured Streaming replays a micro-batch whose writes completed
  * but whose checkpoint commit did not, so BOTH sinks write their
  * batch into a `batch_id=<id>` partition with dynamic partition
  * overwrite — a replay rewrites the same partition instead of
  * appending duplicate decision/index rows.
  *
  * Batch/stream parity: the per-batch logic is expression-for-
  * expression the d05 oracle semantics (bucket = substr(text,1,20),
  * Jaccard over distinct tokens ≥ 0.6, best match by (J desc, id)) —
  * pinned by the spec's cross-check against the batch formulation.
  * Beyond d05 (whose corpus side is all prior docs), a micro-batch is
  * ALSO checked against its own earlier-id members — a crawl batch is
  * exactly where near-dups cluster, and without the self-check every
  * same-batch twin would enter the index as "novel". `dup_of` may
  * therefore name a same-batch doc that is itself a dup of something
  * older; chains collapse downstream via d04 cluster resolution.
  */
object StreamingDedup {

  val indexSchema: StructType = StructType(Seq(
    StructField("corpus_id", LongType),
    StructField("bucket", StringType),
    StructField("toks", ArrayType(StringType))))

  private def indexed(df: DataFrame, idCol: String): DataFrame =
    df.select(
      col(idCol),
      substring(col("text"), 1, 20).as("bucket"),
      array_distinct(split(trim(col("text")), "\\s+")).as("toks"))

  /** Read the standing index, tolerating the empty first batch.
    * The on-disk layout is partitioned by `batch_id` (see run); the
    * partition column is pruned after the optional `beforeBatch`
    * bound. A replayed batch passes its own id as the bound so a
    * crashed attempt's already-written partition — which carries the
    * replayed batch's OWN doc ids — is never re-matched against. */
  def readIndex(spark: SparkSession, indexDir: String,
      beforeBatch: Option[Long] = None): DataFrame =
    BatchTables.read(spark, indexDir, indexSchema, beforeBatch)

  /** Best match per batch doc against the index PLUS earlier-id
    * members of the same batch (id order stands in for arrival order
    * within a batch; any deterministic tie-break works, it only has
    * to be acyclic so one of each twin-pair survives as novel). */
  private def bestMatch(in: DataFrame, index: DataFrame): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    val intra = in.select($"doc_id".as("corpus_id"), $"bucket",
      $"toks".as("ctoks"), lit(true).as("is_intra"))
    val idx = index.select($"corpus_id", $"bucket", $"toks".as("ctoks"),
      lit(false).as("is_intra"))
      .unionByName(intra)
    in.join(idx, Seq("bucket"))
      .where(!$"is_intra" || $"corpus_id" < $"doc_id")
      .select($"doc_id", $"corpus_id",
        round(size(array_intersect($"toks", $"ctoks")).cast("double")
          / size(array_union($"toks", $"ctoks")), 4).as("j"))
      .where($"j" >= 0.6)
      .groupBy($"doc_id")
      .agg(max_by(struct($"corpus_id", $"j"), struct($"j", -$"corpus_id")).as("m"))
      .select($"doc_id", $"m.corpus_id".as("dup_of"), $"m.j".as("jaccard"))
  }

  private def decisionsOf(in: DataFrame, best: DataFrame): DataFrame =
    in.select(col("doc_id")).join(best, Seq("doc_id"), "left")

  private def novelOf(in: DataFrame, best: DataFrame): DataFrame =
    in.join(best, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("corpus_id"), col("bucket"), col("toks"))

  /** Wire a streaming (doc_id, text) source through per-batch dedup:
    * decisions append to `outDir`, novel docs' entries to `indexDir`. */
  def run(docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, indexDir, outDir)
      }
      .start()
  }

  /** The foreachBatch body, exposed so the replay path is testable.
    * Idempotent replay: each write lands in its batch_id partition
    * under dynamic overwrite, so a batch replayed after a
    * crash-between-write-and-commit replaces its own partition rather
    * than appending a second copy, and the bounded index read
    * guarantees the replay joins against exactly the index state the
    * original attempt saw. */
  def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    // both sinks consume the same (tokenized batch, best-match) pair;
    // persisting them runs the index join + verify ONCE, not once per
    // write action
    val in = indexed(batch, "doc_id").persist()
    val best =
      bestMatch(in, readIndex(spark, indexDir, Some(batchId))).persist()
    try {
      BatchTables.writeBatchPartition(decisionsOf(in, best), batchId, outDir)
      BatchTables.writeBatchPartition(novelOf(in, best), batchId, indexDir)
    } finally {
      in.unpersist()
      best.unpersist()
      ()
    }
  }
}
