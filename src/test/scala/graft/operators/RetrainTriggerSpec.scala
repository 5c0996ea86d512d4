package graft.operators

import graft.SparkSpec

/** The quantizer-drift guard: a distribution-shifted append batch must
  * drop the deployed index's recall below τ, the trigger must fire and
  * rebuild artifacts under the corpus's new fingerprint, and the fresh
  * quantizer must recover the recall — the operational loop of the
  * train-once index lifecycle. */
class RetrainTriggerSpec extends SparkSpec {

  private def withRoot[A](body: => A): A = {
    val dir = tmpDir("graft-retrain-spec")
    sys.props("graft.index.dir") = dir
    try body
    finally sys.props.remove("graft.index.dir")
  }

  private val Dim = 12
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private def jit(i: Int, j: Int): Double = math.sin(i * 37.0 + j * 101.0) * 0.05

  /** Two tight clusters around e0 and e1, jittered ONLY on dims 0..3 —
    * the distribution the deployed quantizer is trained on. Its pivots
    * are therefore ≈ 0 on dims 4..7: the stale quantizer is BLIND to
    * that subspace. */
  private def baseCorpus: Seq[(Long, Array[Double])] =
    (0 until 200).map { i =>
      val v = Array.fill(Dim)(0.0)
      v(if (i < 100) 0 else 1) = 1.0
      (0 until 4).foreach(j => v(j) += jit(i, j))
      (i.toLong, unit(v))
    }

  /** The drifted batch: a NEW region (e8+e9) with its true-neighbor
    * structure living ENTIRELY in dims 4..7 (4 topics, weight 0.5) —
    * the subspace the stale pivots are blind to — while per-vector
    * noise on dims 0..3 decides which stale micro-cell each vector
    * smears into. Assignment and similarity are thereby DECOUPLED
    * under the stale quantizer: same-topic neighbors scatter across
    * cells, nprobe=2 probing misses them, recall decays — exactly the
    * drift failure frozen-quantizer appends accumulate. A retrained
    * quantizer sees the new region (and its topic subspace) and
    * collapses it into dedicated cells. */
  private def driftBatch: Seq[(Long, Array[Double])] =
    (0 until 50).map { i =>
      val v = Array.fill(Dim)(0.0)
      v(8) = 1.0
      v(9) = 1.0
      v(4 + i % 4) += 0.5
      (0 until 4).foreach(j => v(j) += jit(i + 500, j) * 4.0)
      (1000L + i, unit(v))
    }

  test("a drifted append trips the guard; retraining recovers recall") {
    withRoot {
      val s2 = spark
      import s2.implicits._
      val d = tmpDir("retrain-corpus")
      spark.createDataset(baseCorpus).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      // deploy: train on the base distribution, remember the artifact
      IndexStore.ivfPivots(spark, d, 2)
      val deployedPath = IndexStore.ivfPivotPath(d)
      // drift: the batch lands in the corpus (fingerprint moves on) but
      // the deployment keeps serving the OLD artifact
      spark.createDataset(driftBatch).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(s"$d/embeddings.parquet")
      val queries = (1000L until 1005L).toSeq
      val tau = 0.6
      // diagnostic: where do the drifted vectors land under the stale pivots?
      val pivDiag = RetrainTrigger.loadPivots(spark, deployedPath)
      val cellsDiag = driftBatch.map { case (id, v) =>
        (id, graft.functions.VectorOps.nearest2Pivots(v, pivDiag)._1)
      }
      info(s"drift cell histogram: ${cellsDiag.groupBy(_._2).view.mapValues(_.size).toMap}")
      val (oldRecall, fired, newRecall) =
        RetrainTrigger.check(spark, d, deployedPath, iters = 2,
          tau = tau, queryIds = queries)
      info(f"deployed recall $oldRecall%.3f -> retrained=$fired -> $newRecall%.3f")
      assert(oldRecall < tau,
        f"the drifted batch must drop recall below tau: $oldRecall%.3f")
      assert(fired, "the guard must fire below tau")
      assert(newRecall > oldRecall,
        f"retraining must recover recall: $oldRecall%.3f -> $newRecall%.3f")
      // fresh artifacts really exist under the corpus's NEW fingerprint
      assert(EnsureWatermark.current(IndexStore.ivfPivotPath(d)).isDefined,
        "retrain must persist pivots under the current fingerprint")
      assert(EnsureWatermark.current(IndexStore.ivfFlatPath(d, 2)).isDefined,
        "retrain must rebuild the flat index too")
      // a re-check against the fresh deployment is quiet
      val (r2, fired2, _) = RetrainTrigger.check(spark, d,
        IndexStore.ivfPivotPath(d), iters = 2, tau = tau, queryIds = queries)
      assert(!fired2 && r2 >= tau,
        f"the freshly-trained deployment must pass the guard: $r2%.3f")
    }
  }

  test("an undrifted corpus does not trip the guard") {
    withRoot {
      val s2 = spark
      import s2.implicits._
      val d = tmpDir("retrain-quiet")
      spark.createDataset(baseCorpus).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      IndexStore.ivfPivots(spark, d, 2)
      val (r, fired, _) = RetrainTrigger.check(spark, d,
        IndexStore.ivfPivotPath(d), iters = 2, tau = 0.6,
        queryIds = Seq(0L, 1L, 100L, 101L))
      assert(!fired, f"in-distribution recall $r%.3f must not trigger a retrain")
    }
  }
}
