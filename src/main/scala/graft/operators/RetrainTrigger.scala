package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Quantizer-drift response — the operational loop of the
  * [[IndexStore]] train-once lifecycle.
  *
  * A deployment that keeps serving the pivots it trained while the
  * corpus grows keeps correct assignments, but quantizer QUALITY
  * drifts if the new rows' distribution shifts — new-region vectors
  * smear across cells trained on the old region, probes stop
  * covering true neighbors, and recall decays silently. v13 measures
  * that recall continuously; this tool wires the measurement to the
  * response: recall under the DEPLOYED pivot artifact < τ ⇒ build
  * the artifacts of the corpus's CURRENT fingerprint (retraining
  * made recall-driven instead of a blind schedule).
  *
  * Cost shape: the recall probe is v13's — one exact pass over the
  * corpus for the bounded query set (Q·N map-side cosines, top-k
  * windows over Q·k rows) plus one inline assignment pass under the
  * candidate pivots; at 100 TB both run on a deterministic SAMPLE of
  * queries (the `queryIds` knob) and the exact leg is the one you
  * already run for v13 monitoring. The retrain itself is the standard
  * [[IndexStore]] cold build: sample-train pivots, one assignment
  * pass for the flat index — all keyed by the new fingerprint, so
  * every index consumer picks the fresh artifacts up automatically
  * and the old ones age out with their key.
  */
object RetrainTrigger {

  /** The deployed pivot artifact, loaded by explicit path as its
    * committed part (after a corpus append the CURRENT fingerprint no
    * longer points at it — that is exactly the drifted state this tool
    * exists to judge). */
  def loadPivots(s: SparkSession, path: String): Array[Array[Double]] =
    IndexStore.readPivots(s, EnsureWatermark.current(path)
      .getOrElse(sys.error(s"no committed pivot artifact at $path"))
      .part(path, "data"))

  /** recall@k of the nprobe=2 IVF candidate stage UNDER THE GIVEN
    * pivots, against exact cosine ground truth over the corpus at
    * `dir` as it stands now. Assignment runs inline under `pivots` —
    * the same [[VectorOps.nearest2Pivots]] map an index built under
    * them runs, so the number measured is the deployed pivots' recall
    * over today's corpus without building anything. */
  def recallUnderPivots(s: SparkSession, dir: String,
      pivots: Array[Array[Double]], queryIds: Seq[Long],
      k: Int = 10): Double = {
    import s.implicits._
    val ev = graft.Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val qSet = queryIds.toSet
    val queries = ev.filter(t => qSet.contains(t._1)).collect().sortBy(_._1)
    require(queries.nonEmpty, "no query vectors found for the given ids")
    val bc = s.sparkContext.broadcast(pivots)
    val probePairs = VectorOps.probePairs2(queries.toIndexedSeq, pivots)
    val probes = s.createDataset(probePairs).toDF("query_id", "bucket", "qv")
    val assigned = ev.map { case (id, v) =>
      (id, VectorOps.nearest2Pivots(v, bc.value)._1.toLong, v)
    }.toDF("vec_id", "bucket", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    val approx = assigned.join(broadcast(probes), Seq("bucket"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        graft.queries.VectorQueries.cosine6($"v", $"qv").as("sim"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(w)).where($"rnk" <= k)
      .select($"query_id".as("a_query_id"), $"vec_id".as("a_vec_id"))
    val qDf = s.createDataset(queries.toIndexedSeq).toDF("query_id", "qv")
    val exact = ev.toDF("vec_id", "v").crossJoin(broadcast(qDf))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        graft.queries.VectorQueries.cosine6($"v", $"qv").as("sim"))
      .withColumn("rnk", row_number().over(w)).where($"rnk" <= k)
      .select($"query_id", $"vec_id")
    val hits = exact.join(broadcast(approx),
        $"query_id" === $"a_query_id" && $"vec_id" === $"a_vec_id", "left")
      .agg(count($"a_vec_id").cast("double"), count(lit(1)).cast("double"))
      .as[(Double, Double)].head()
    hits._1 / hits._2
  }

  /** The guard: measure recall of the deployed pivots over the current
    * corpus; below `tau`, ensure pivots AND the flat index under the
    * corpus's current fingerprint and report their recall. Returns
    * (oldRecall, retrained, newRecall — = oldRecall when no retrain
    * fired). Builds are deterministic and every index artifact is
    * keyed by its source fingerprint, so the current fingerprint's
    * committed artifacts ARE the retrain: they build once, and a
    * re-check loads them. */
  def check(s: SparkSession, dir: String, deployedPivotPath: String,
      iters: Int, tau: Double, queryIds: Seq[Long],
      k: Int = 10): (Double, Boolean, Double) = {
    val oldRecall = recallUnderPivots(s, dir,
      loadPivots(s, deployedPivotPath), queryIds, k)
    if (oldRecall >= tau) (oldRecall, false, oldRecall)
    else {
      // retraining sees the corpus AS THE SOURCE TABLE STANDS
      val fresh = IndexStore.ivfPivots(s, dir, iters)
      IndexStore.ivfFlat(s, dir, iters) // materialize the assignment too
      (oldRecall, true, recallUnderPivots(s, dir, fresh, queryIds, k))
    }
  }

  /** CLI: `runMain graft.operators.RetrainTrigger <dir> <tau>` —
    * checks the CURRENT-fingerprint pivot artifact against τ (the
    * scheduled-monitoring shape). Prints one JSON line. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val tau = args.lift(1).map(_.toDouble).getOrElse(0.6)
    val iters = 2
    val spark = graft.GraftSession(8)
    IndexStore.ivfPivots(spark, dir, iters) // ensure deployed artifact
    val (r0, fired, r1) = check(spark, dir,
      IndexStore.ivfPivotPath(dir), iters, tau, queryIds = 0L until 5L)
    println(f"""{"metric":"retrain_guard","recall":$r0%.4f,"tau":$tau%.2f,"retrained":$fired,"post_recall":$r1%.4f}""")
    spark.stop()
  }
}
