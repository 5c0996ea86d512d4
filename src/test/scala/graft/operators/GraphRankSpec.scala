package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The iterative-rank contract: the symmetric fixed point is exact,
  * mass flows toward in-degree, results are partitioning-independent,
  * and the loop's physical shape never re-derives the edge input. */
class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphRank.pagerank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a symmetric pair is a stationary fixed point at exactly 1e6") {
    // contrib = 1e6 DIV 1 = 1e6; rank' = 150000 + 85·1e6 DIV 100 = 1e6
    val r = ranksOf(Seq((1L, 2L), (2L, 1L)), 5)
    assert(r === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("a hub outranks its spokes; spokes stay symmetric") {
    // undirected star: hub 0 ↔ spokes 1..4
    val star = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L)))
    val r = ranksOf(star, 3)
    val spokes = (1L to 4L).map(r)
    assert(spokes.distinct.size === 1, "spokes must rank identically")
    assert(r(0L) > spokes.head * 2,
      s"the hub must dominate: ${r(0L)} vs ${spokes.head}")
  }

  test("ranks are partitioning-independent and iteration-deterministic") {
    val edges = (for (i <- 1L to 40L) yield (i, i % 7 + 100L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val once = ranksOf(edges, 3)
    val again = GraphRank.pagerank(
        edges.toDF("src", "dst").repartition(13), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once === again)
  }

  test("a node with no in-edges keeps exactly the teleport mass") {
    // 1 → 2 and 2 ↔ 3: node 1 is a source-only node after step 1
    val r = ranksOf(Seq((1L, 2L), (2L, 3L), (3L, 2L)), 2)
    assert(r(1L) === 150000L, s"source-only node must hold teleport: $r")
  }

  test("bucketed edges: bit-identical ranks, zero-exchange edge side, nothing corpus-sized cached") {
    val edges = (for (i <- 1L to 40L) yield (i, i % 7 + 100L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val expected = ranksOf(edges, 3)
    val path = tmpDir("graft-pr-bucketed") + "/edges_tbl"
    val tbl = GraphRank.writeEdgesBucketed(
      edges.toDF("src", "dst"), "pr_edges_spec", path, 8)
    try {
      // numerical parity: both serving shapes run the same superstep
      val before = spark.sparkContext.getPersistentRDDs.size
      val out = GraphRank.pagerankBucketed(tbl, 3)
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected,
        "bucketed and cached paths must agree bit-for-bit")
      // no corpus-sized pin: only the caller-owned node-cardinality
      // result cache may remain
      assert(spark.sparkContext.getPersistentRDDs.size - before <= 1,
        "pagerankBucketed must not cache the edge list")
      out.unpersist()
      // plan pin (the r10 verdict's ask): in a superstep over the
      // at-rest table, NO shuffle has the edge scan below it — the
      // bucket layout replaces the exchange; only rank rows and
      // combined (dst, contrib) messages move. AQE off so the
      // executed plan is structurally collectible.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val nodes = tbl.select(col("src").as("node")).distinct()
        val ranks0 = nodes.select(col("node"), lit(1000000L).as("rank"))
        val step = GraphRank.superstep(tbl, ranks0, nodes)
        step.collect()
        val plan = step.queryExecution.executedPlan
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.aggregate.HashAggregateExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val scans = plan.collect { case f: FileSourceScanExec => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"the edge side must be a bucketed scan:\n$plan")
        // the scale pin: EDGE ROWS never shuffle. Any exchange whose
        // input derives from the edge scan must have an aggregation
        // strictly between (the map-side-combined (dst, contrib)
        // messages / the node-cardinality distinct) — a path from a
        // shuffle down to the scan with no aggregate in between would
        // mean the edge list itself is being moved, the exact cost
        // the bucketed layout exists to delete.
        def scanReachableWithoutAgg(p: SparkPlan): Boolean = p match {
          case _: HashAggregateExec => false
          case _: FileSourceScanExec => true
          case other => other.children.exists(scanReachableWithoutAgg)
        }
        val shuffles = plan.collect { case sh: ShuffleExchangeExec => sh }
        shuffles.foreach { sh =>
          assert(!scanReachableWithoutAgg(sh.child),
            s"a shuffle moves raw edge rows — the bucket layout must prevent this:\n$plan")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally spark.sql("DROP TABLE IF EXISTS pr_edges_spec")
  }

  test("ensureBucketedEdges: build once, reuse from catalog, DDL-re-register after catalog loss") {
    withIndexRoot("graft-pr-ensure") {
      val edges = (for (i <- 1L to 30L) yield (i, i % 5 + 50L))
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      def derive = edges.toDF("src", "dst")
      val dir = "/root/testdata/sf0.001"
      val (path, tbl) = GraphRank.edgeArtifact(dir, "region", "nation", "spec_edges")
      try {
        // 1) cold: builds the artifact
        var built = 0
        val t1 = GraphRank.ensureBucketedEdges(spark, tbl, path, { built += 1; derive })
        assert(built === 1 && EnsureWatermark.current(path).isDefined)
        val r1 = GraphRank.pagerankBucketed(t1, 2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // 2) warm: catalog + files present — edge derivation NOT re-run
        val t2 = GraphRank.ensureBucketedEdges(spark, tbl, path, { built += 1; derive })
        assert(built === 1, "a warm ensure must not re-derive the edges")
        assert(t2.count() === t1.count())
        // 3) catalog lost (the fresh-JVM state): files survive, the
        // DDL path re-registers the SAME bucket spec — ranks identical
        spark.sql(s"DROP TABLE `$tbl`")
        val t3 = GraphRank.ensureBucketedEdges(spark, tbl, path, { built += 1; derive })
        assert(built === 1, "re-registration must never rebuild the files")
        val r3 = GraphRank.pagerankBucketed(t3, 2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(r3 === r1, "a re-registered table must serve identical ranks")
        // and the re-registered scan still reports its bucketing
        val scan = t3.queryExecution.executedPlan.toString
        assert(scan.contains("Bucketed: true") ||
          t3.groupBy($"src").count().queryExecution.executedPlan
            .toString.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
          s"the re-registered table must keep its bucket spec:\n$scan")
      } finally spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    }
  }

  test("the result is a materialized rank vector; internal caches are released") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = GraphRank.pagerank(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), 2)
    // pagerank checkpoints the node-cardinality result and RELEASES
    // its edge caches before returning — the returned plan is a
    // single materialized leaf (no re-execution path back to the
    // supersteps), and repeated calls cannot accumulate cache pins:
    // the only persistent RDD the call may leave behind is the
    // checkpoint itself
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.getClass.getSimpleName).toSet
    assert(leaves === Set("InMemoryRelation"),
      s"the rank vector must be served from its cache, got $leaves")
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 1,
      s"only the caller-owned result cache may persist past the call, found $leaked")
  }
}
