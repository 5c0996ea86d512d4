package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GDPR deletes for the ANN index — the [[DeletionVectors]] idea at
  * the vector layer: the persisted IVF artifacts ([[IndexStore]])
  * are immutable, train-once structures, so "erase user X's
  * embeddings" must not mean a retrain per request. Tombstones are
  * MERGE-ON-READ: a delete batch writes its vec_ids into a per-batch
  * partition (overwrite scoped to the batch tag — replay-idempotent,
  * cumulative across batches, the [[HistogramRollup.applyDeletes]]
  * discipline), and search paths anti-join them at the
  * CANDIDATE/REFINE boundary — a tombstoned vector can never be
  * RETURNED, whatever index files still physically hold its codes.
  *
  * Physical purge rides the index lifecycle that already exists: a
  * retrain rebuilds only under a new corpus fingerprint (the
  * post-delete corpus rewritten; [[RetrainTrigger]] on recall decay
  * ensures that fingerprint's artifacts), at which point the
  * tombstones' work is done — the same two-phase story as
  * [[DeletionVectors.vacuum]], with the rebuild standing in for the
  * file rewrite. Until then the cost is one deleted-row-sized
  * anti-join per query (size-based broadcast, like every tombstone
  * table here). */
object AnnDeletes {

  def tombstonePath(dir: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "embeddings")}/ann_tombstones"

  /** Record a delete batch (vec_ids). Overwrite is scoped to this
    * batch's partition: replays are idempotent, batches accumulate. */
  def deleteVectors(s: SparkSession, dir: String, ids: DataFrame,
      batchTag: String): Unit =
    ids.select(col("vec_id").cast("long")).distinct()
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${tombstonePath(dir)}/batch=$batchTag")

  /** All tombstoned vec_ids (empty frame when none recorded). Reads
    * ONLY the `batch=` partitions that individually carry a _SUCCESS
    * marker — a batch torn by a crash during task-commit must not
    * surface phantom tombstones that hide live vectors (the r7 advice:
    * gating on "≥1 ready batch" then reading the whole root did
    * exactly that). */
  def tombstones(s: SparkSession, dir: String): DataFrame = {
    val root = tombstonePath(dir)
    val ready = IndexStore.readyBatches(root)
    if (ready.isEmpty) s.range(0).select(col("id").as("vec_id"))
    else s.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
      .parquet(ready.map(t => s"$root/$t"): _*)
      .select("vec_id").distinct()
  }

  /** The merge-on-read boundary: drop tombstoned vectors from a
    * candidate frame (any frame carrying `vec_id`). */
  def filterDeleted(s: SparkSession, dir: String,
      candidates: DataFrame): DataFrame =
    candidates.join(tombstones(s, dir), Seq("vec_id"), "left_anti")
}
