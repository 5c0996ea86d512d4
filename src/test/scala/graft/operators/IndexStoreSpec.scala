package graft.operators

import graft.SparkSpec
import graft.QueryRegistry

/** The train-once / probe-many contract of the persisted index
  * artifacts: cold training and warm loading must return bit-identical
  * quantizers (and therefore identical query results), the load path
  * must REALLY be taken (proved by tampering the artifact), and the
  * fingerprint must invalidate on any rewrite of the source table. */
class IndexStoreSpec extends SparkSpec {
  // = VectorQueries.IvfTrainIters (private[queries]); a drift would
  // surface as a cold-vs-artifact mismatch in the v04 identity test
  private val IvfIters = 2
  private val sf = "/root/testdata/sf0.001"

  /** Run `body` against an isolated artifact root. */
  private def withRoot[A](body: String => A): A = {
    val dir = tmpDir("graft-index-spec")
    sys.props("graft.index.dir") = dir
    try body(dir)
    finally sys.props.remove("graft.index.dir")
  }

  test("ivf pivots: warm load returns the identical trained array") {
    withRoot { _ =>
      val cold = IndexStore.ivfPivots(spark, sf, IvfIters)
      assert(EnsureWatermark.current(IndexStore.ivfPivotPath(sf)).isDefined,
        "cold training must persist the artifact")
      val warm = IndexStore.ivfPivots(spark, sf, IvfIters)
      assert(cold.length === warm.length)
      cold.zip(warm).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b), "pivot arrays must be bit-identical")
      }
    }
  }

  test("ivf pivots: the warm path really loads (tampered artifact is served)") {
    withRoot { _ =>
      IndexStore.ivfPivots(spark, sf, IvfIters)
      // commit a recognizable fake over the artifact; a loader that
      // silently retrained would return the real pivots instead
      val s2 = spark
      import s2.implicits._
      val fake = Seq((0L, Array.fill(64)(1.5)), (1L, Array.fill(64)(-2.5)))
      EnsureWatermark.commitData(IndexStore.ivfPivotPath(sf), sf, "embeddings")(
        spark.createDataset(fake).toDF("pivot_id", "pv").coalesce(1).write.parquet(_))
      val got = IndexStore.ivfPivots(spark, sf, IvfIters)
      assert(got.length === 2)
      assert(got(0).forall(_ === 1.5) && got(1).forall(_ === -2.5),
        "warm call must serve the persisted artifact, not retrain")
    }
  }

  test("pq codebooks: warm load returns the identical trained tables") {
    withRoot { _ =>
      val cold = IndexStore.pqCodebooks(spark, sf, 16, 4, 32)
      val warm = IndexStore.pqCodebooks(spark, sf, 16, 4, 32)
      assert(cold.length === warm.length)
      cold.zip(warm).foreach { case (cm, wm) =>
        assert(cm.map(_._1).toSeq === wm.map(_._1).toSeq, "code ids must match")
        cm.zip(wm).foreach { case ((_, a), (_, b)) =>
          assert(java.util.Arrays.equals(a, b), "centroids must be bit-identical")
        }
      }
    }
  }

  test("v04 results are identical cold (train) and warm (load)") {
    withRoot { _ =>
      val q = QueryRegistry.asMap("v04_lsh_ann")
      val cold = q(spark, sf).collect().map(_.toString).sorted
      val warm = q(spark, sf).collect().map(_.toString).sorted
      assert(cold.toSeq === warm.toSeq,
        "assignment/probing must be identical through the persisted artifact")
    }
  }

  test("minhash band index: cold build and warm load serve identical signatures") {
    withRoot { _ =>
      val cold = IndexStore.minhashBands(spark, sf, 13, 5)
        .collect().map(_.toString).sorted
      assert(EnsureWatermark.current(IndexStore.minhashBandsPath(sf, 13, 5)).isDefined,
        "cold build must persist the artifact")
      val warm = IndexStore.minhashBands(spark, sf, 13, 5)
        .collect().map(_.toString).sorted
      assert(cold.toSeq === warm.toSeq)
      assert(cold.nonEmpty)
      // the warm path really loads: tamper and observe
      val s2 = spark
      import s2.implicits._
      EnsureWatermark.commitData(IndexStore.minhashBandsPath(sf, 13, 5), sf,
        "documents")(Seq((42L, 0, 7L)).toDF("doc_id", "band", "sig").write.parquet(_))
      assert(IndexStore.minhashBands(spark, sf, 13, 5).count() === 1L,
        "warm call must serve the persisted artifact, not re-sketch")
    }
  }

  test("d01 results are identical cold (sketch) and warm (load)") {
    withRoot { _ =>
      val q = QueryRegistry.asMap("d01_minhash_lsh_dedup")
      val cold = q(spark, sf).collect().map(_.toString).sorted
      val warm = q(spark, sf).collect().map(_.toString).sorted
      assert(cold.toSeq === warm.toSeq)
    }
  }

  test("ivf-flat: warm load serves the persisted assignment (tampered artifact is served)") {
    withRoot { _ =>
      val cold = IndexStore.ivfFlat(spark, sf, IvfIters)
        .collect().map(_.toString).sorted
      assert(cold.nonEmpty)
      assert(EnsureWatermark.current(IndexStore.ivfFlatPath(sf, IvfIters)).isDefined,
        "cold build must persist the artifact")
      val warm = IndexStore.ivfFlat(spark, sf, IvfIters)
        .collect().map(_.toString).sorted
      assert(cold.toSeq === warm.toSeq, "warm read must equal the cold build")
      // tamper: a loader that silently re-assigned would return N rows
      val s2 = spark
      import s2.implicits._
      EnsureWatermark.commitData(IndexStore.ivfFlatPath(sf, IvfIters), sf,
          "embeddings")(Seq((42L, 0L, 1L, 0.5, Array(1.0, 2.0)))
        .toDF("vec_id", "cell1", "cell2", "simc", "v").write.parquet(_))
      assert(IndexStore.ivfFlat(spark, sf, IvfIters).count() === 1L,
        "warm call must serve the persisted artifact, not re-assign")
    }
  }

  test("bm25: warm t18 serves the posting index — pushed IN filter, no documents scan") {
    withRoot { _ =>
      val q = QueryRegistry.asMap("t18_bm25_index_search")
      val cold = q(spark, sf).collect().map(_.toString).sorted
      // warm execution: plan must read ONLY index artifacts
      val warm = q(spark, sf)
      // executedPlan.toString elides long paths — read scan locations
      // from the optimized logical plan instead
      val paths = warm.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
      assert(!paths.exists(_.contains("documents.parquet")),
        s"warm BM25 must never scan the documents table: $paths")
      assert(paths.exists(_.contains("bm25_postings"))
          && paths.exists(_.contains("bm25_stats")),
        s"warm BM25 must read the persisted posting + stats artifacts: $paths")
      assert(warm.queryExecution.executedPlan.toString
          .contains("PushedFilters: [In(term"),
        "the term IN-list must push down to the posting scan")
      assert(warm.collect().map(_.toString).sorted.toSeq === cold.toSeq,
        "cold (build) and warm (load) executions must agree")
    }
  }

  test("bm25: posting files cover disjoint term ranges (file-skip layout)") {
    withRoot { _ =>
      import org.apache.spark.sql.functions._
      IndexStore.bm25Postings(spark, sf) // build
      val path = IndexStore.bm25PostingsPath(sf)
      val ranges = spark.read.parquet(EnsureWatermark.current(path).get.part(path, "data"))
        .groupBy(input_file_name().as("f"))
        .agg(min("term").as("lo"), max("term").as("hi"))
        .collect().map(r => (r.getString(1), r.getString(2)))
        .sortBy(_._1)
      assert(ranges.length > 1, "range layout should produce multiple files")
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2,
            s"file term ranges must not interleave: [$hi1] vs [$lo2]")
        case _ =>
      }
    }
  }

  test("bm25 cold build never widens the caller session's shuffle setting") {
    withRoot { _ =>
      val s2 = spark
      import s2.implicits._
      val d = tmpDir("bm25-conf-scope")
      (0L until 50L).map(i => (i, s"one two three doc$i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      val orig = spark.conf.get("spark.sql.shuffle.partitions")
      // observe the CALLER session's conf at every job boundary during
      // the build — the r5/r6 save/restore approach mutated it
      // mid-build, which this listener would have caught
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        IndexStore.bm25Postings(spark, d) // cold build
        Thread.sleep(200) // let the listener bus drain
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === orig)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.nonEmpty, "the build must have run jobs")
      assert(seen.asScala.forall(_ == orig),
        s"caller conf was mutated mid-build: ${seen.asScala.toSet}")
    }
  }

  test("fingerprint: a rewritten source table invalidates the artifact key") {
    val dir = tmpDir("idx-fp")
    val f = new java.io.File(dir, "embeddings.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val fp1 = IndexStore.fingerprint(dir, "embeddings")
    // same bytes, newer mtime — a rewrite the metadata fingerprint
    // must catch without scanning data
    assert(f.setLastModified(f.lastModified() + 73000))
    val fp2 = IndexStore.fingerprint(dir, "embeddings")
    assert(fp1 !== fp2, "fingerprint must change when file metadata changes")
  }
}
