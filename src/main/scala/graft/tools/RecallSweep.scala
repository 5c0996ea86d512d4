package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps
import graft.queries.VectorQueries.cosine6

/** Measures the accuracy/cost dial behind v13's single recall point:
  * recall@10 of the deployed persisted-pivot IVF stage as a function
  * of nprobe, alongside the candidate mass each setting scans. v13
  * reports nprobe=2 (the production default v04/v09/v11/v12 run);
  * this sweep shows the dial works — recall must rise monotonically
  * toward 1.0 as probes approach B while scanned candidate mass grows
  * ~linearly in nprobe — which is exactly how an operator answers the
  * tuning question a recall-drop alert raises ("is the index bad, or
  * is nprobe too low for this corpus?"). Ground truth is v13's exact
  * side (one broadcast-queries corpus scan); the probe stage
  * generalizes `ivfCandidates`' nearest-2 to nearest-k with the SAME
  * tie order (cosine6 desc, pivot_id asc), so nprobe=2 reproduces the
  * deployed stage bit-for-bit — asserted here, not assumed: the sweep
  * aborts if its nprobe=2 recall disagrees with the registered v13
  * query's own output on the same data.
  *
  * Prints one JSON line per nprobe:
  * {"metric":"ivf_recall_at_10","value":meanRecall,"nprobe":k,
  *  "per_query":[...],"candidates":C,"corpus":N,"scan_frac":C/(Q*N),
  *  "stage_sec":S,"sf":dir}
  *
  * Usage: runMain graft.tools.RecallSweep <sfDir> [nprobe...]
  */
object RecallSweep {

  /** Top-k pivot ids by (cosine6 desc, pivot_id asc) — the nearest-k
    * generalization of [[VectorOps.nearest2Pivots]] (k=2 agrees with
    * it elementwise: same rounded similarity, same first-wins ties). */
  private[graft] def nearestKPivots(v: Array[Double],
      pivots: Array[Array[Double]], k: Int): Array[Int] = {
    val sims = Array.tabulate(pivots.length)(p => (VectorOps.cosine6(v, pivots(p)), p))
    sims.sortBy { case (s, p) => (-s, p) }.take(k).map(_._2)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nprobes =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 2, 4, 8, 16)
    val spark = graft.GraftSession(graft.GraftSession.envCores(32))
    import spark.implicits._

    val ev = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val n = ev.count()
    // 2 = VectorQueries.IvfTrainIters — the deployed artifact's
    // training depth, so the sweep loads the SAME persisted pivots
    // the registered queries serve from (warm path: no training scan)
    val pivotArr = graft.operators.IndexStore.ivfPivots(spark, dir, 2)
    val bc = spark.sparkContext.broadcast(pivotArr)

    val assigned = ev
      .map { case (id, v) => (id, VectorOps.nearest2Pivots(v, bc.value)._1.toLong, v) }
      .toDF("vec_id", "bucket", "v")

    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    val qsDf = ev.toDF("vec_id", "v").where($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val exactTop = ev.toDF("vec_id", "v").crossJoin(broadcast(qsDf))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine6($"v", $"qv").as("sim"))
      .withColumn("rnk", row_number().over(w)).where($"rnk" <= 10)
      .select($"query_id", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    for (k <- nprobes) {
      val kk = math.min(k, pivotArr.length)
      val t0 = System.nanoTime()
      val probes = ev.where(col("vec_id") < 5).as[(Long, Array[Double])]
        .flatMap { case (id, v) =>
          nearestKPivots(v, bc.value, kk).iterator.map(b => (id, b.toLong, v))
        }.toDF("query_id", "bucket", "qv")
      val cands = assigned.join(broadcast(probes), Seq("bucket"))
        .where($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id", cosine6($"v", $"qv").as("sim"))
        .dropDuplicates("query_id", "vec_id")
      val approxTop = cands
        .withColumn("rnk", row_number().over(w)).where($"rnk" <= 10)
        .select($"query_id", $"vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nCands = cands.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val hits = approxTop.count(exactTop.contains)
      val perQ = (0L until 5L).map { q =>
        val ex = exactTop.count(_._1 == q).toDouble
        if (ex == 0) 1.0
        else approxTop.count(p => p._1 == q && exactTop.contains(p)) / ex
      }
      val mean = perQ.sum / perQ.size
      println(f"""{"metric":"ivf_recall_at_10","value":$mean%.4f,"nprobe":$kk,""" +
        s""""per_query":[${perQ.map(x => f"$x%.2f").mkString(",")}],""" +
        f""""candidates":$nCands,"corpus":$n,"scan_frac":${nCands.toDouble / (5 * n)}%.4f,""" +
        f""""stage_sec":$sec%.3f,"sf":"$dir"}""")
    }

    // guard: the k=2 leg of this harness must agree with the
    // registered v13 query on the same data — otherwise the sweep is
    // measuring a different index than the one deployed
    val v13 = graft.SparkEntry.queries("v13_recall_eval")(spark, dir)
      .select($"query_id", $"recall").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val probes2 = ev.where(col("vec_id") < 5).as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        nearestKPivots(v, bc.value, 2).iterator.map(b => (id, b.toLong, v))
      }.toDF("query_id", "bucket", "qv")
    val approx2 = assigned.join(broadcast(probes2), Seq("bucket"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine6($"v", $"qv").as("sim"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(w)).where($"rnk" <= 10)
      .select($"query_id", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val agree = (0L until 5L).forall { q =>
      val ex = exactTop.count(_._1 == q).toDouble
      val rec = if (ex == 0) 1.0
        else approx2.count(p => p._1 == q && exactTop.contains(p)) / ex
      math.abs(rec - v13.getOrElse(q, -1.0)) < 1e-9
    }
    require(agree, "sweep nprobe=2 recall disagrees with registered v13 — harness drift")
    println(s"""{"metric":"ivf_recall_sweep_v13_agreement","value":1,"sf":"$dir"}""")
    spark.stop()
  }
}
