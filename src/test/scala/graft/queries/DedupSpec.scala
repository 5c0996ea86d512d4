package graft.queries

import graft.{QueryRegistry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Pins the fuzzy-dedup family against exact ground truth at sf0.001
  * (the oracle gate covers d01 vs DuckDB; these specs cover what SQL
  * can't — LSH recall and SimHash precision). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Exact all-pairs shingle-Jaccard (test-only crossJoin — 500 docs). */
  private lazy val exactPairs: Map[(Long, Long), Double] = {
    val docs = Tables(spark, sf, "documents")
      .select($"doc_id", DedupQueries.shingles($"text").as("sh"))
    val a = docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val b = docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    a.crossJoin(b).where($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b"))).as("j"))
      .where($"j" >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  test("d01 MinHash-LSH finds exactly the Jaccard>=0.6 pairs (no misses, no extras)") {
    val expected = exactPairs.filter(_._2 >= 0.6).keySet
    val got = QueryRegistry.asMap("d01_minhash_lsh_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "calibration: fixture must contain near-dups")
    assert(got === expected)
  }

  test("d12 prefix-filtered join is EXACTLY the all-pairs result (lossless)") {
    // the property that distinguishes d12 from the banded family:
    // prefix filtering admits a superset of the τ-pairs, verification
    // trims it to exactly the all-pairs join — no misses, no extras
    val expected = exactPairs.filter(_._2 >= 0.9).keySet
    val got = QueryRegistry.asMap("d12_prefix_setsim_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "calibration: fixture must contain J>=0.9 pairs")
    assert(got === expected)
  }

  test("d13 reported spans are verbatim duplicates and maximal") {
    val spans = QueryRegistry.asMap("d13_substring_spans")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.nonEmpty, "fixture must contain duplicated spans")
    val toks = Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.split("\\s+") }.toMap
    spans.foreach { case (a, b, sa, sb, n) =>
      val (ta, tb) = (toks(a), toks(b))
      val (ia, ib) = (sa.toInt - 1, sb.toInt - 1) // spans are 1-based
      assert(ta.slice(ia, ia + n.toInt).sameElements(tb.slice(ib, ib + n.toInt)),
        s"span ($a,$b,$sa,$sb,$n) is not a verbatim duplicate")
      // maximality: the span cannot extend by one token on either side
      val leftExtends = ia > 0 && ib > 0 && ta(ia - 1) == tb(ib - 1)
      val rightExtends = ia + n < ta.length && ib + n < tb.length &&
        ta(ia + n.toInt) == tb(ib + n.toInt)
      assert(!leftExtends && !rightExtends,
        s"span ($a,$b,$sa,$sb,$n) is not maximal")
    }
  }

  test("d02 SimHash hamming<=15 pairs are all true near-duplicates") {
    val got = QueryRegistry.asMap("d02_simhash_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "SimHash found no pairs")
    // precision: every reported pair has high exact shingle Jaccard
    got.foreach { p =>
      assert(exactPairs.getOrElse(p, 0.0) >= 0.5,
        s"SimHash pair $p has exact Jaccard ${exactPairs.getOrElse(p, 0.0)}")
    }
    // recall against the near-identical population
    val strong = exactPairs.filter(_._2 >= 0.9).keySet
    val recall = (strong intersect got).size.toDouble / strong.size
    info(f"SimHash recall on J>=0.9 pairs: $recall%.2f")
    assert(recall >= 0.8, f"SimHash recall $recall%.2f < 0.8")
  }

  test("d02 multi-probe banding admits a bounded candidate rate") {
    import graft.functions.HashSketch
    // The quadratic term at corpus scale is the fraction of ALL pairs
    // that become banded candidates (share a band exactly or within
    // one flipped bit — what the probe join admits). Pin it well below
    // all-pairs: 16-bit bands × 17 probes ⇒ ~8·17/65536 ≈ 0.2% for
    // random pairs, plus the (rare) true near-dups.
    val sigs = Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (_, t) => HashSketch.simhash128(HashSketch.shingle3(t)) }
    def bandSubs(s: (Long, Long)): Array[Long] =
      (0 until 8).map { b =>
        if (b < 4) (s._1 >> (b * 16)) & 0xffffL else (s._2 >> ((b - 4) * 16)) & 0xffffL
      }.toArray
    val subs = sigs.map(bandSubs)
    var cand = 0L; var total = 0L
    for (i <- subs.indices; j <- (i + 1) until subs.length) {
      total += 1
      val admitted = (0 until 8).exists { b =>
        java.lang.Long.bitCount(subs(i)(b) ^ subs(j)(b)) <= 1
      }
      if (admitted) cand += 1
    }
    val rate = cand.toDouble / total
    info(f"multi-probe candidate rate: $rate%.4f ($cand of $total pairs)")
    assert(rate < 0.02,
      f"banding admits $rate%.4f of all pairs — quadratic blowup risk")
  }

  test("d02 candidate budget: hot buckets skipped, mass disclosed, small buckets intact") {
    // A corpus engineered to blow the band-bucket budget: 60 byte-identical
    // docs put 60 exact rows in ONE bucket per band (mass ≈ 60·60 = 3600
    // each, ~28.8k over 8 bands), while 200 distinct random docs live in
    // singleton buckets (mass ≈ 1 each). Budget = 64·260 = 16640 admits
    // every singleton bucket plus only the cheapest hot ones — pairs among
    // the identical docs must STILL all surface (any one admitted hot
    // bucket yields them all), and the skipped mass must be disclosed.
    val dir = tmpDir("d02budget")
    val hotText = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val rnd = new scala.util.Random(7)
    val docs =
      (0L until 60L).map(i => (i, "en", hotText)) ++
        (100L until 300L).map(i =>
          (i, "en", Seq.fill(40)("w" + rnd.nextInt(1000000)).mkString(" ")))
    docs.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = QueryRegistry.asMap("d02_simhash_dedup")(spark, dir).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val skipped = out.map(_.getAs[Long]("skipped_candidates")).distinct
    assert(skipped.length === 1, "skipped_candidates must be one run-level scalar")
    assert(skipped.head > 0L,
      s"the hot-bucket mass must exceed the budget and be disclosed, got ${skipped.head}")
    // every identical-doc pair survives: one admitted hot bucket suffices
    val expected = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L
    } yield (a, b)).toSet
    assert(expected.subsetOf(pairs),
      s"budget dropped true duplicate pairs: missing ${(expected -- pairs).take(5)}")
    // and the admitted candidate mass is within the budget by construction:
    // recompute bucket masses and check the kept prefix the query admits
    import graft.functions.HashSketch
    val subs = docs.map { case (id, _, t) =>
      val (lo, hi) = HashSketch.simhash128(HashSketch.shingle3(t))
      id -> (0 until 8).map { b =>
        if (b < 4) (lo >> (b * 16)) & 0xffffL else (hi >> ((b - 4) * 16)) & 0xffffL
      }
    }
    val exactCnt = subs.flatMap { case (_, ss) => ss.zipWithIndex }
      .groupBy { case (sub, b) => (b, sub) }.view.mapValues(_.size.toLong).toMap
    val probeCnt = subs.flatMap { case (_, ss) =>
      ss.zipWithIndex.flatMap { case (sub, b) =>
        (0 to 16).map(p => (b, if (p == 16) sub else sub ^ (1L << p))) }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val masses = exactCnt.toSeq.collect {
      case (k, me) if probeCnt.contains(k) => (k, me * probeCnt(k))
    }.sortBy { case ((b, sub), m) => (m, b, sub) }
    val budget = 64L * docs.size
    val kept = masses.scanLeft(0L)(_ + _._2).tail.takeWhile(_ <= budget)
    assert(kept.nonEmpty && kept.last <= budget,
      "admitted bucket mass must stay within the 64·N budget")
    val totalMass = masses.map(_._2).sum
    assert(totalMass - kept.last === skipped.head,
      s"disclosed skip mass must equal total - admitted: " +
        s"$totalMass - ${kept.last} vs ${skipped.head}")
  }

  test("d01 candidate budget: hot MinHash buckets skipped, dup pairs intact, mass disclosed") {
    // d02's skew corpus, aimed at the MinHash band buckets: 60
    // byte-identical docs share ALL 13 band signatures (13 hot buckets
    // of mass 60·59/2 = 1770 ≈ 23k total), 200 random docs live in
    // singleton buckets (mass 0). Budget = 64·260 = 16640 admits every
    // cheap bucket plus only the cheapest hot ones — any ONE admitted
    // hot bucket yields every identical-doc pair, so recall of true
    // dups survives while the skipped mass is disclosed.
    val dir = tmpDir("d01budget")
    val hotText = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val rnd = new scala.util.Random(11)
    val docs =
      (0L until 60L).map(i => (i, "en", hotText)) ++
        (100L until 300L).map(i =>
          (i, "en", Seq.fill(40)("w" + rnd.nextInt(1000000)).mkString(" ")))
    docs.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = QueryRegistry.asMap("d01_minhash_lsh_dedup")(spark, dir).collect()
    val skipped = out.map(_.getAs[Long]("skipped_candidates")).distinct
    assert(skipped.length === 1, "skipped_candidates must be one run-level scalar")
    assert(skipped.head > 0L,
      s"hot-bucket mass must exceed the budget and be disclosed, got ${skipped.head}")
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L
    } yield (a, b)).toSet
    assert(expected.subsetOf(pairs),
      s"budget dropped true duplicate pairs: missing ${(expected -- pairs).take(5)}")
    // the admitted mass respects the budget: recompute band-bucket
    // masses independently and check the cheapest-first prefix
    import graft.functions.HashSketch
    val sigs = docs.map { case (id, _, t) =>
      val mins = HashSketch.minhashModP(HashSketch.shingle3(t), 13 * 5)
      id -> (0 until 13).map(b => (b, HashSketch.bandKeyModP(mins, b * 5, (b + 1) * 5)))
    }
    val bucketCnt = sigs.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val masses = bucketCnt.toSeq
      .map { case (k, c) => (k, c * (c - 1) / 2) }
      .sortBy { case ((b, sig), m) => (m, b, sig) }
    val budget = 64L * docs.size
    val keptPrefix = masses.scanLeft(0L)(_ + _._2).tail.takeWhile(_ <= budget)
    val totalMass = masses.map(_._2).sum
    assert(totalMass - keptPrefix.last === skipped.head,
      s"disclosed skip mass must equal total - admitted: " +
        s"$totalMass - ${keptPrefix.last} vs ${skipped.head}")
  }

  test("connected components chain transitively and keep clusters separate") {
    import graft.operators.ConnectedComponents
    // chain 1-2-3-4 (never all directly connected), separate pair 10-11,
    // and a triangle 20-21-22
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val got = ConnectedComponents.components(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(got) === Seq(1L, 1L, 1L, 1L),
      "a 4-chain must collapse to one component labeled by its min id")
    assert(Seq(10L, 11L).map(got) === Seq(10L, 10L))
    assert(Seq(20L, 21L, 22L).map(got) === Seq(20L, 20L, 20L))
  }

  test("connected components converge on a wide-diameter chain with reliable checkpoints") {
    import graft.operators.ConnectedComponents
    // a 16-node path (diameter 15) exercises many propagation rounds,
    // and the reliable-checkpoint path (eager parquet write-then-read
    // into a fault-tolerant dir — the cluster-mode option) instead of
    // localCheckpoint
    val dir = tmpDir("cc-ckpt")
    val path = (1L to 16L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a", "b")
    val got = ConnectedComponents
      .components(path, "a", "b", maxIter = 20, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 16L).map(got).toSet === Set(1L),
      "the whole chain must collapse to the min label across >3 rounds")
    // intermediate snapshots are cleaned up as rounds supersede them:
    // ~9 rounds ran, but only the FINAL labels snapshot (which the
    // returned DataFrame reads) may outlive the call
    val files = new java.io.File(dir).listFiles()
    assert(files != null && files.length === 1,
      s"exactly the final checkpoint must remain, got " +
        s"${Option(files).fold(0)(_.length)}")
    // and the session-global checkpoint dir was never touched
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "operator must not mutate the SparkContext checkpoint dir")
  }

  test("connected components fail loudly when the iteration cap is too low") {
    import graft.operators.ConnectedComponents
    // a long path needs ~length/2 rounds; maxIter=1 cannot converge —
    // stale labels must throw, never return silently-wrong components
    val path = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("a", "b")
    intercept[IllegalStateException] {
      ConnectedComponents.components(path, "a", "b", maxIter = 1).collect()
    }
  }

  test("d06 sharded index reports exactly d02's same-lang pairs") {
    val lang = Tables(spark, sf, "documents")
      .select($"doc_id", $"lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val global = QueryRegistry.asMap("d02_simhash_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sharded = QueryRegistry.asMap("d06_sharded_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = global.filter { case (a, b) => lang(a) == lang(b) }
    assert(sharded === expected,
      "sharding by lang must keep exactly the within-shard subset of the global index")
  }

  test("c06: cluster split never separates near-dup pairs (doc-level split would)") {
    import graft.operators.ConnectedComponents
    val edges = DedupQueries.jaccardEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "calibration: fixture must contain near-dup edges")
    val comp = ConnectedComponents
      .components(DedupQueries.jaccardEdges(spark, sf), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def h60(sd: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(sd.getBytes("UTF-8"))
      java.lang.Long.parseLong(dig.map("%02x".format(_)).mkString.take(15), 16)
    }
    def clusterTrain(id: Long): Boolean =
      h60(comp.getOrElse(id, id).toString + ":leak") % 10 < 9
    def docTrain(id: Long): Boolean = h60(id.toString + ":leak") % 10 < 9
    val straddleCluster =
      edges.count { case (a, b) => clusterTrain(a) != clusterTrain(b) }
    val straddleDoc = edges.count { case (a, b) => docTrain(a) != docTrain(b) }
    info(s"doc-level split would leak $straddleDoc of ${edges.length} near-dup edges")
    assert(straddleCluster === 0,
      "cluster-keyed split must never place a near-dup pair on opposite sides")
  }

  test("d03 embedding near-dup: cell-bounded candidates, sims bounded by brute force") {
    val got = QueryRegistry.asMap("d03_embedding_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("sim"))).toMap
    // two-level cells leave singleton-cell vectors without a candidate
    // — a dedup report, not a per-vector NN — but must still cover a
    // meaningful share of the corpus
    assert(got.nonEmpty && got.size <= 500)
    info(s"d03 reports candidates for ${got.size}/500 vectors")
    // every reported sim is bounded by that vector's TRUE best
    // neighbor (exact all-pairs at test scale)
    val e = Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val trueBest = e.crossJoin(e.select($"vec_id".as("o"), $"v".as("ov")))
      .where($"vec_id" =!= $"o")
      .groupBy($"vec_id")
      .agg(max(VectorQueries.cosine6($"v", $"ov")).as("best"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, sim) =>
      assert(sim <= trueBest(id) + 1e-9,
        s"vec $id reported sim $sim above true best ${trueBest(id)}")
    }
    // near-identical pairs (the dedup targets) survive sub-bucketing:
    // vectors whose true best is >= 0.99 must overwhelmingly report a
    // candidate
    val mustFind = trueBest.filter(_._2 >= 0.99).keySet
    val found = mustFind.count(got.contains)
    info(s"near-identical coverage: $found/${mustFind.size}")
    if (mustFind.nonEmpty)
      assert(found.toDouble / mustFind.size >= 0.8,
        "sub-bucketing lost too many near-identical duplicates")
  }

  test("d10 SemDeDup policy: every cell keeps >=1; keeper is the centroid-order minimum") {
    val dir = tmpDir("d10-root")
    sys.props("graft.index.dir") = dir
    try {
      val rows = graft.QueryRegistry.asMap("d10_semantic_dedup")(
        spark, "/root/testdata/sf0.01").collect()
      assert(rows.nonEmpty, "multi-member cells must exist")
      rows.foreach { r =>
        val (n, rm) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_removed"))
        assert(rm < n, s"cell ${r.get(0)}/${r.get(1)} removed all $n members")
      }
      assert(rows.map(_.getAs[Long]("n_removed")).sum > 0,
        "the τ=0.25 policy should remove something at sf0.01")
      // warm re-run (artifacts now persisted) is bit-identical
      val again = graft.QueryRegistry.asMap("d10_semantic_dedup")(
        spark, "/root/testdata/sf0.01").collect()
      assert(rows.map(_.toString).sorted.toSeq ===
        again.map(_.toString).sorted.toSeq)
    } finally sys.props.remove("graft.index.dir")
  }
}
