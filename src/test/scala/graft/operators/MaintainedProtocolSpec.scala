package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The commit-and-serve protocol every stamped artifact shares
  * ([[EnsureWatermark.commit]] / [[EnsureWatermark.maintain]] /
  * [[EnsureWatermark.veto]]), checked family by family. The eight
  * O(batch)-maintained families, over one table: (a) a current
  * artifact's probe launches no Spark job; (b) a stale covered
  * fingerprint and a torn part both read as absent; (c) a retry after
  * "data committed, stamp not" merges the batch once; (d) an artifact
  * in the stamp-less older layout (`meta/`, `data/stamp/`) reads as
  * absent and rebuilds in place. The fingerprint- and plan-keyed
  * families, over one events table: (a) and (b), an out-of-band file
  * in a committed version reads as absent, an artifact in an older
  * layout (the ensure manifest, or `_SUCCESS` data at the path and in
  * each part's directory) reads as absent and rebuilds in place, and
  * an in-place mutator vetoes serving before it writes. And (e): two
  * builders committing one fingerprint, or one result-cache entry,
  * converge on one whole version while a reader only ever reads whole
  * versions. */
class MaintainedProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val T = "pt"
  private val Ppm = 250000L

  /** One family: its artifact path, build, append-maintenance and
    * serving probe, plus the row mass its served state carries and
    * what that mass must equal over the live table — a batch merged
    * twice shows as a mismatch. */
  private case class Family(name: String, path: String => String,
      ensure: String => Unit, append: (String, DataFrame) => Unit,
      probe: String => Option[Any], mass: String => Long,
      truth: String => Long = d => graft.Tables(spark, d, T).count())

  private def sumOf(df: DataFrame, c: String): Long =
    df.agg(sum(col(c))).head().getLong(0)

  private val families = Seq(
    Family("column stats", StatsMaintain.statsPath(_, T),
      StatsMaintain.ensure(spark, _, T),
      StatsMaintain.appendMaintain(spark, _, T, _),
      StatsMaintain.statsIfCurrent(spark, _, T),
      d => StatsMaintain.statsIfCurrent(spark, d, T).get("key").n),
    Family("key profile", StatsMaintain.keyProfPath(_, T, "g"),
      StatsMaintain.ensureKeyProfileMaint(spark, _, T, "g", hotFreq = 1L),
      StatsMaintain.appendMaintainKeyProfile(spark, _, T, "g", _),
      StatsMaintain.keyProfileIfCurrent(spark, _, T, "g"),
      d => StatsMaintain.keyProfileIfCurrent(spark, d, T, "g").get._2,
      d => graft.Tables(spark, d, T).groupBy($"g").count()
        .agg(max($"count")).head().getLong(0)),
    Family("MCV list", StatsMaintain.mcvMaintPath(_, T, "g"),
      StatsMaintain.ensureMcvMaint(spark, _, T, "g", k = 4),
      StatsMaintain.appendMaintainMcv(spark, _, T, "g", _),
      StatsMaintain.mcvMaintIfCurrent(spark, _, T, "g"),
      d => StatsMaintain.mcvMaintIfCurrent(spark, d, T, "g").get.map(_._2).sum),
    Family("column group", StatsMaintain.grpPath(_, T, Seq("g", "key")),
      StatsMaintain.ensureColumnGroupMaint(spark, _, T, Seq("g", "key")),
      StatsMaintain.appendMaintainColumnGroup(spark, _, T, Seq("g", "key"), _),
      StatsMaintain.columnGroupApproxIfCurrent(spark, _, T, Seq("g", "key")),
      d => StatsMaintain.columnGroupApproxIfCurrent(spark, d, T,
        Seq("g", "key")).get.n),
    Family("uniform sample", SampledAgg.samplePath(_, T, "key", Ppm),
      SampledAgg.ensureSample(spark, _, T, "key", Ppm),
      SampledAgg.appendMaintainSample(spark, _, T, "key", Ppm, _),
      SampledAgg.sampleIfCurrent(spark, _, T, "key", Ppm),
      d => SampledAgg.sampleIfCurrent(spark, d, T, "key", Ppm).get.count(),
      d => graft.Tables(spark, d, T).where(SampledAgg.membership("key", Ppm))
        .count()),
    Family("stratified sample", SampledAgg.stratSamplePath(_, T, "key", "g", 50),
      SampledAgg.ensureStratifiedSample(spark, _, T, "key", "g", 50),
      SampledAgg.appendMaintainStratified(spark, _, T, "key", "g", 50, _),
      SampledAgg.stratifiedIfCurrent(spark, _, T, "key", "g", 50),
      d => sumOf(SampledAgg.stratifiedIfCurrent(spark, d, T, "key", "g", 50)
        .get._2, "n")),
    Family("group rollup", SampledAgg.groupRollupPath(_, T, "g", "value"),
      SampledAgg.ensureGroupRollup(spark, _, T, "g", "value"),
      SampledAgg.appendMaintainGroupRollup(spark, _, T, "g", "value", _),
      SampledAgg.groupRollupIfCurrent(spark, _, T, "g", "value"),
      d => sumOf(SampledAgg.groupRollupIfCurrent(spark, d, T, "g", "value")
        .get, "n")),
    Family("group histogram", SampledAgg.groupHistPath(_, T, "g", "value"),
      SampledAgg.ensureGroupHistogram(spark, _, T, "g", "value"),
      SampledAgg.appendMaintainGroupHistogram(spark, _, T, "g", "value", _),
      SampledAgg.groupHistIfCurrent(spark, _, T, "g", "value"),
      d => sumOf(SampledAgg.groupHistIfCurrent(spark, d, T, "g", "value")
        .get._1, "cnt")))

  private def rowsOf(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, i % 3, (i % 7).toDouble)).toDF("key", "g", "value")

  private def versions(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("v_"))

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
  }

  families.foreach { f =>
    test(s"${f.name}: job-free current probe, fail-closed stale and torn reads, crash-window retry, older-layout rebuild") {
      withIndexRoot("graft-protocol") {
        val dir = tmpDir("graft-protocol-data")
        rowsOf(1L, 3000L).write.mode("overwrite").parquet(s"$dir/$T.parquet")
        f.ensure(dir)
        val path = f.path(dir)

        // (a) the first probe may read the artifact; every later probe
        // of the same commit is FS metadata only
        assert(f.probe(dir).isDefined, "a fresh build must serve")
        assert(jobsDuring(assert(f.probe(dir).isDefined)) === 0,
          "a current artifact's probe must launch no Spark job")

        // (b) a stale covered fingerprint reads as absent...
        val built = EnsureWatermark.stampOf(path).getOrElse(fail("no stamp"))
        EnsureWatermark.rewriteStampForTest(path)(_.copy(covered = "stale"))
        assert(f.probe(dir).isEmpty, "a stale stamp must not serve")
        EnsureWatermark.rewriteStampForTest(path)(_ => built)
        assert(f.probe(dir).isDefined)
        // ...and so does a torn part; ensure repairs it
        val part = new java.io.File(s"$path/${built.version}").listFiles()
          .filter(_.isDirectory).head
        assert(new java.io.File(part, "_SUCCESS").delete())
        assert(f.probe(dir).isEmpty, s"a torn ${part.getName} must not serve")
        f.ensure(dir)
        assert(f.probe(dir).isDefined, "ensure must rebuild a torn artifact")

        // (c) "data committed, stamp not": maintain a batch, then put
        // back the old version and the old stamp naming it — the state
        // a crash between the new version's parts and its stamp
        // leaves, the new version an orphan
        val batch = rowsOf(5001L, 5300L)
        batch.write.mode("append").parquet(s"$dir/$T.parquet")
        assert(f.probe(dir).isEmpty, "appended-but-unmaintained must fail closed")
        val before = EnsureWatermark.stampOf(path).get
        val saved = java.nio.file.Paths.get(tmpDir("graft-protocol-saved"), "v")
        copyTree(java.nio.file.Paths.get(path, before.version), saved)
        f.append(dir, batch)
        assert(f.mass(dir) === f.truth(dir), "maintenance lands the batch")
        copyTree(saved, java.nio.file.Paths.get(path, before.version))
        EnsureWatermark.rewriteStampForTest(path)(_ => before)
        assert(versions(path).size === 2 && f.probe(dir).isEmpty,
          "the crash state holds the orphan and serves nothing")
        f.append(dir, batch)
        assert(f.mass(dir) === f.truth(dir),
          "the retry merges the batch once, never twice")
        assert(versions(path).size === 1, "the commit retires the orphan")

        // (d) the older layout: no stamp, meta/ and data/stamp/ parquets
        IndexStore.removeArtifact(path)
        Seq(("old", 1L)).toDF("covered", "rows").write.parquet(s"$path/meta")
        Seq(("old", 1L)).toDF("covered", "rows").write.parquet(s"$path/data/stamp")
        assert(f.probe(dir).isEmpty, "a stamp-less artifact reads as absent")
        f.ensure(dir)
        assert(f.probe(dir).isDefined && f.mass(dir) === f.truth(dir),
          "ensure rebuilds it in place")
        assert(Seq("meta", "data").forall(n => !new java.io.File(path, n).exists),
          "the rebuild retires the older layout's directories")
      }
    }
  }

  // ------------------------------------------------------------------
  // (e) concurrent builders
  // ------------------------------------------------------------------

  test("two builders of one fingerprint converge on one whole version while a reader reads") {
    withIndexRoot("graft-protocol-race") {
      val dir = tmpDir("graft-protocol-race-data")
      rowsOf(1L, 3000L).write.mode("overwrite").parquet(s"$dir/$T.parquet")
      val path = s"${IndexStore.root}/race"
      def current() = EnsureWatermark.current(path, Seq("data"), dir, T)
      def write(v: String): Unit =
        rowsOf(1L, 3000L).coalesce(1).write.parquet(s"$v/data")
      import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
      val bWritten = new CountDownLatch(1)
      val aCommitted = new CountDownLatch(1)
      val problems = new ConcurrentLinkedQueue[String]()
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      def thread(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => problems.add(e.toString); () })
        t.start()
        t
      }
      // the reader: once a version served, every later probe serves a
      // whole version too
      var served = false
      val reader = thread {
        while (!done.get()) current() match {
          case Some(st) =>
            served = true
            val n = spark.read.parquet(st.part(path, "data")).count()
            if (n != 3000L) problems.add(s"a reader saw $n rows")
          case None =>
            if (served) problems.add("a served artifact read as absent")
        }
      }
      // A's version is written and waits for B's; B's waits for A's
      // commit — the interleaving in which A's commit lands while B's
      // version is complete but not yet stamped
      val a = thread {
        EnsureWatermark.commit(path, dir, T, 3000L) { v =>
          write(v)
          assert(bWritten.await(120, TimeUnit.SECONDS))
        }
        aCommitted.countDown()
      }
      val b = thread {
        EnsureWatermark.commit(path, dir, T, 3000L) { v =>
          write(v)
          bWritten.countDown()
          assert(aCommitted.await(120, TimeUnit.SECONDS))
        }
      }
      a.join(); b.join()
      done.set(true); reader.join()
      assert(problems.isEmpty, problems.toArray.mkString("; "))
      val st = current().getOrElse(fail("the converged artifact must serve"))
      assert(spark.read.parquet(st.part(path, "data")).count() === 3000L)
      assert(versions(path).size === 1, "the losing version is retired")
    }
  }

  test("two concurrent misses of one result-cache entry converge on one whole version while a reader reads") {
    withIndexRoot("graft-protocol-race-rc") {
      val key = "race_entry"
      val path = ResultCache.cachePath(key)
      def write(part: String): Unit =
        rowsOf(1L, 3000L).coalesce(1).write.parquet(part)
      import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
      val bWritten = new CountDownLatch(1)
      val aCommitted = new CountDownLatch(1)
      val problems = new ConcurrentLinkedQueue[String]()
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      def thread(body: => Unit): Thread = {
        val t = new Thread(() =>
          try body catch { case e: Throwable => problems.add(e.toString); () })
        t.start()
        t
      }
      var served = false
      val reader = thread {
        while (!done.get()) ResultCache.entry(key) match {
          case Some(part) =>
            served = true
            val n = spark.read.parquet(part).count()
            if (n != 3000L) problems.add(s"a reader saw $n rows")
          case None =>
            if (served) problems.add("a served entry read as absent")
        }
      }
      // both misses saw no entry; A's stamp lands while B's version is
      // complete but not yet stamped
      val won = new ConcurrentLinkedQueue[Boolean]()
      val a = thread {
        won.add(EnsureWatermark.commit(path, key) { part =>
          write(part)
          assert(bWritten.await(120, TimeUnit.SECONDS))
        })
        aCommitted.countDown()
      }
      val b = thread {
        won.add(EnsureWatermark.commit(path, key) { part =>
          write(part)
          bWritten.countDown()
          assert(aCommitted.await(120, TimeUnit.SECONDS))
        })
      }
      a.join(); b.join()
      done.set(true); reader.join()
      assert(problems.isEmpty, problems.toArray.mkString("; "))
      assert(won.toArray.count(_ == true) === 1, "exactly one miss commits")
      val part = ResultCache.entry(key).getOrElse(fail("the converged entry must serve"))
      assert(spark.read.parquet(part).count() === 3000L)
      assert(versions(path).size === 1 && stamps(path) === Seq("_GRAFT_STAMP.1"),
        "the losing version is deleted and the winner's stamp stands alone")
      assert(!EnsureWatermark.commit(path, key)(write),
        "a later miss finds the entry and writes nothing")
    }
  }

  /** A commit of `rows` rows at a fresh artifact path, on stamp `on`
    * (None: the latest); `after` runs once its part is written. */
  private def casCommit(path: String, dir: String, rows: Long,
      on: Option[EnsureWatermark.Stamp] = None)(after: => Unit = ()): Boolean =
    EnsureWatermark.commit(path, dir, T, rows, on = on) { v =>
      rowsOf(1L, rows).coalesce(1).write.parquet(s"$v/data")
      after
    }

  private def stamps(path: String): Seq[String] =
    Option(new java.io.File(path).list()).toSeq.flatten
      .filter(_.startsWith("_GRAFT_STAMP.")).sorted

  test("a commit on a stamp two later commits superseded loses; the latest keeps serving") {
    withIndexRoot("graft-protocol-cas") {
      val dir = tmpDir("graft-protocol-cas-data")
      rowsOf(1L, 3000L).write.mode("overwrite").parquet(s"$dir/$T.parquet")
      val path = s"${IndexStore.root}/cas"
      assert(casCommit(path, dir, 1000L)())
      val base = EnsureWatermark.stampOf(path)
      // stamps 2 and 3 land; landing 3 retires stamp 2, so the name
      // the stale commit would take is free again
      assert(casCommit(path, dir, 2000L)() && casCommit(path, dir, 3000L)())
      assert(!casCommit(path, dir, 500L, base)(),
        "a commit on a superseded stamp must report its loss")
      val st = EnsureWatermark.current(path, Seq("data"), dir, T)
        .getOrElse(fail("the latest commit must keep serving"))
      assert(st.rows === 3000L)
      assert(stamps(path) === Seq("_GRAFT_STAMP.3") && versions(path).size === 1,
        "the loser withdraws its stamp and deletes its version")
    }
  }

  test("a commit whose version a later commit retires mid-write loses instead of failing") {
    withIndexRoot("graft-protocol-cas-write") {
      val dir = tmpDir("graft-protocol-cas-write-data")
      rowsOf(1L, 3000L).write.mode("overwrite").parquet(s"$dir/$T.parquet")
      val path = s"${IndexStore.root}/cas"
      assert(casCommit(path, dir, 1000L)())
      val base = EnsureWatermark.stampOf(path)
      // while the stale commit writes, stamps 2 and 3 land: landing 3
      // retires the stale commit's version (of sequence 2) under it
      assert(!casCommit(path, dir, 500L, base) {
        assert(casCommit(path, dir, 2000L)() && casCommit(path, dir, 3000L)())
      }, "a commit whose version was retired under it must report its loss")
      assert(EnsureWatermark.current(path, Seq("data"), dir, T).map(_.rows)
        === Some(3000L))
      assert(stamps(path) === Seq("_GRAFT_STAMP.3") && versions(path).size === 1)
    }
  }

  // ------------------------------------------------------------------
  // The fingerprint-keyed families
  // ------------------------------------------------------------------

  /** One keyed family: its artifact path, build, serving probe, the
    * parts of its commit and — for the families maintained in place —
    * its append mutator. The tables a family reads besides events are
    * its `sources`, copied from the sf0.001 fixture into the test's
    * data dir. */
  private case class Keyed(name: String, path: String => String,
      ensure: String => Unit, probe: String => Option[Any],
      mutate: Option[(String, DataFrame) => Unit] = None,
      sources: Seq[String] = Nil, parts: Seq[String] = EnsureWatermark.Data)

  /** A cacheable plan over the test's events, and its plan key — the
    * key the plan-keyed rows file under. */
  private def perType(d: String): DataFrame =
    graft.Tables(spark, d, Ev).groupBy($"event_type").agg(count(lit(1)).as("n"))
  private def planKey(d: String): String =
    ResultCache.keyOf(perType(d).queryExecution.analyzed).getOrElse(fail("uncacheable"))

  /** A fixture committed as the `parts` of one version keyed on the
    * events fingerprint. */
  private def fixtureRow(name: String, path: String => String,
      ensure: String => Unit, parts: String*): Keyed =
    Keyed(name, path, ensure,
      d => EnsureWatermark.current(path(d), parts, d, Ev), parts = parts)

  private def edgesOf(d: String): (String, String) =
    GraphRank.edgeArtifact(d, "region", "nation", "spec_edges")

  private val Ev = "events"
  private val Sf = "/root/testdata/sf0.001"

  private val keyedFamilies = Seq(
    Keyed("histogram rollup", HistogramRollup.histPath,
      HistogramRollup.ensure(spark, _),
      d => EnsureWatermark.current(HistogramRollup.histPath(d)),
      Some(HistogramRollup.appendBatch(spark, _, _))),
    Keyed("agg rollup", AggRollup.aggPath, AggRollup.ensure(spark, _),
      d => EnsureWatermark.current(AggRollup.aggPath(d)),
      Some(AggRollup.appendBatch(spark, _, _))),
    Keyed("top-k rollup", TopKRollup.topkPath, TopKRollup.ensure(spark, _),
      TopKRollup.routable, Some(TopKRollup.appendBatch(spark, _, _, 1L))),
    Keyed("hll rollup", SketchRollup.sketchPath, SketchRollup.ensure(spark, _),
      d => EnsureWatermark.current(SketchRollup.sketchPath(d)),
      Some(SketchRollup.appendBatch(spark, _, _))),
    Keyed("kmv rollup", KmvRollup.sketchPath, KmvRollup.ensure(spark, _),
      d => EnsureWatermark.current(KmvRollup.sketchPath(d)),
      Some(KmvRollup.appendBatch(spark, _, _))),
    Keyed("cms rollup", CmsRollup.cmsPath, CmsRollup.ensure(spark, _),
      d => EnsureWatermark.current(CmsRollup.cmsPath(d)),
      Some(CmsRollup.appendBatch(spark, _, _))),
    Keyed("decayed-feature rollup", DecayedFeatures.dailyPath,
      DecayedFeatures.ensure(spark, _),
      d => EnsureWatermark.current(DecayedFeatures.dailyPath(d)),
      Some(DecayedFeatures.appendBatch(spark, _, _))),
    Keyed("entity index", EntityIndex.indexPath, EntityIndex.ensure(spark, _),
      d => EnsureWatermark.current(EntityIndex.indexPath(d)),
      Some(EntityIndex.appendBatch(spark, _, _))),
    Keyed("dictionary", Dictionary.dictPath(_, Ev, "event_type"),
      Dictionary.ensure(spark, _, Ev, "event_type"),
      d => EnsureWatermark.current(Dictionary.dictPath(d, Ev, "event_type"))),
    Keyed("catalog stats", StatsCatalog.statsPath(_, Ev),
      StatsCatalog.ensure(spark, _, Ev), StatsCatalog.statsIfReady(spark, _, Ev)),
    Keyed("catalog key profile", StatsCatalog.keyProfilePath(_, Ev, "user_id"),
      StatsCatalog.ensureKeyProfile(spark, _, Ev, "user_id", hotFreq = 2L),
      StatsCatalog.keyProfile(spark, _, Ev, "user_id")),
    Keyed("catalog column group",
      StatsCatalog.groupStatsPath(_, Ev, Seq("event_type", "user_id")),
      StatsCatalog.ensureColumnGroup(spark, _, Ev, Seq("event_type", "user_id")),
      StatsCatalog.columnGroupIfReady(spark, _, Ev, Seq("event_type", "user_id"))),
    Keyed("catalog MCV list", StatsCatalog.mcvPath(_, Ev, "event_type"),
      StatsCatalog.ensureMcv(spark, _, Ev, "event_type"),
      StatsCatalog.mcvIfReady(spark, _, Ev, "event_type")),
    Keyed("ivf pivots", IndexStore.ivfPivotPath, IndexStore.ivfPivots(spark, _, 2),
      d => EnsureWatermark.current(IndexStore.ivfPivotPath(d)),
      sources = Seq("embeddings")),
    Keyed("ivf-flat index", IndexStore.ivfFlatPath(_, 2), IndexStore.ivfFlat(spark, _, 2),
      d => EnsureWatermark.current(IndexStore.ivfFlatPath(d, 2)),
      sources = Seq("embeddings")),
    Keyed("minhash bands", IndexStore.minhashBandsPath(_, 13, 5),
      IndexStore.minhashBands(spark, _, 13, 5),
      d => EnsureWatermark.current(IndexStore.minhashBandsPath(d, 13, 5)),
      sources = Seq("documents")),
    Keyed("bm25 postings", IndexStore.bm25PostingsPath, IndexStore.bm25Postings(spark, _),
      d => EnsureWatermark.current(IndexStore.bm25PostingsPath(d)),
      sources = Seq("documents")),
    Keyed("min/max manifest", MinMaxManifest.manifestPath(_),
      MinMaxManifest.ensure(spark, _),
      d => EnsureWatermark.current(MinMaxManifest.manifestPath(d))),
    Keyed("result-cache entry", d => ResultCache.cachePath(planKey(d)),
      d => ResultCache.through(spark, perType(d)),
      d => ResultCache.entry(planKey(d))),
    Keyed("feedback observation", d => CardFeedback.feedbackPath(planKey(d)),
      d => CardFeedback.record(spark, perType(d)),
      d => ResultCache.committed(CardFeedback.feedbackPath(planKey(d)), planKey(d))),
    fixtureRow("skew fixture", Steering.fixturePath(_, "steer_fixture"),
      Steering.ensureSkewFixture(spark, _), "skew_fact.parquet", "skew_dim.parquet"),
    fixtureRow("order-tier fixture", Steering.fixturePath(_, "steer_ord_fixture"),
      Steering.ensureOrderTierFixture(spark, _), "skew_fact.parquet",
      "ord_b.parquet", "ord_c.parquet").copy(sources = Seq("orders")),
    fixtureRow("catalog fixture", Steering.fixturePath(_, "steer_cat_fixture"),
      Steering.ensureCatalogFixture(spark, _), "fact_cat"),
    fixtureRow("mcv-steering fixture", Steering.fixturePath(_, "steer_mcv_fixture"),
      Steering.ensureMcvSteerFixture(spark, _), "mcv_fact.parquet", "mcv_dim.parquet"),
    fixtureRow("composite fixture", Steering.fixturePath(_, "steer_comp_fixture"),
      Steering.ensureCompositeFixture(spark, _), "comp_fact.parquet", "comp_dim.parquet"),
    fixtureRow("maintained-skew fixture", Steering.fixturePath(_, "steer_maint_fixture"),
      Steering.ensureMaintainedSkewFixture(spark, _), "dim_m.parquet"),
    fixtureRow("maintained-mcv fixture", Steering.fixturePath(_, "steer_mcv_maint_fixture"),
      Steering.ensureMaintainedMcvFixture(spark, _), "mcvm_dim.parquet"),
    fixtureRow("tolerance fixture", SampledAgg.tolerancePath(_, "tol_t"),
      SampledAgg.ensureToleranceFixture(spark, _), "tol_t.parquet"),
    fixtureRow("tolerance avg fixture", SampledAgg.tolerancePath(_, "tol_a"),
      SampledAgg.ensureToleranceAvgFixture(spark, _), "tol_a.parquet"),
    fixtureRow("partition evolution", PartitionEvolution.rootPath,
      PartitionEvolution.ensure(spark, _), "spec0", "spec1"),
    fixtureRow("schema evolution", SchemaEvolution.layoutPath,
      SchemaEvolution.ensure(spark, _), "gen=0", "gen=1", "gen=2"),
    Keyed("shard export", ShardExport.path, ShardExport.ensure(spark, _),
      d => EnsureWatermark.current(ShardExport.path(d)),
      sources = Seq("documents")),
    Keyed("bucketed edges", edgesOf(_)._1,
      d => GraphRank.ensureBucketedEdges(spark, edgesOf(d)._2, edgesOf(d)._1,
        graft.Tables(spark, d, "nation")
          .select($"n_nationkey".as("src"), $"n_regionkey".as("dst"))),
      d => EnsureWatermark.current(edgesOf(d)._1),
      sources = Seq("region", "nation")))

  private def events: DataFrame =
    (0L until 600L).map { i =>
      (i, java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 3} ${10 + i % 12}:00:00"),
        i % 17, Seq("view", "click", "buy")((i % 3).toInt), (i % 23).toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  keyedFamilies.foreach { f =>
    test(s"${f.name}: job-free current probe, fail-closed stale, torn and out-of-band reads, manifest-layout rebuild, veto before an in-place write") {
      withIndexRoot("graft-protocol-keyed") {
        val dir = tmpDir("graft-protocol-keyed-data")
        events.write.mode("overwrite").parquet(s"$dir/$Ev.parquet")
        f.sources.foreach(t => copyTree(java.nio.file.Paths.get(s"$Sf/$t.parquet"),
          java.nio.file.Paths.get(s"$dir/$t.parquet")))
        f.ensure(dir)
        val path = f.path(dir)

        // (a) every probe after the first is FS metadata only
        assert(f.probe(dir).isDefined, "a fresh build must serve")
        assert(jobsDuring(assert(f.probe(dir).isDefined)) === 0,
          "a current artifact's probe must launch no Spark job")

        // (b) a stale stamp and a torn part read as absent
        val built = EnsureWatermark.stampOf(path).getOrElse(fail("no stamp"))
        EnsureWatermark.rewriteStampForTest(path)(_.copy(covered = "stale"))
        assert(f.probe(dir).isEmpty, "a stale stamp must not serve")
        EnsureWatermark.rewriteStampForTest(path)(_ => built)
        assert(f.probe(dir).isDefined)
        val data = new java.io.File(built.part(path, f.parts.head))
        assert(new java.io.File(data, "_SUCCESS").delete())
        assert(f.probe(dir).isEmpty, "a torn part must not serve")
        f.ensure(dir)
        assert(f.probe(dir).isDefined, "ensure must rebuild a torn artifact")

        // an out-of-band file dropped into the committed version
        val committed = EnsureWatermark.stampOf(path).get
        val victim = f.parts
          .flatMap(p => parquetFiles(new java.io.File(committed.part(path, p)))).head
        java.nio.file.Files.copy(victim.toPath,
          victim.toPath.resolveSibling(s"oob-${victim.getName}"))
        assert(f.probe(dir).isEmpty, "an out-of-band file must veto serving")
        f.ensure(dir)
        assert(f.probe(dir).isDefined, "ensure must rebuild it")

        // the older layouts: data files, _SUCCESS and a manifest
        // directly under the artifact path, and a `_SUCCESS`-marked
        // directory per part
        IndexStore.removeArtifact(path)
        events.coalesce(1).write.parquet(path)
        f.parts.foreach(p => events.coalesce(1).write.parquet(s"$path/$p"))
        val listing = parquetFiles(new java.io.File(path))
          .map(p => s"${p.getName}:${p.length}").mkString("\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(path, "_GRAFT_ENSURE_MANIFEST"), listing)
        assert(f.probe(dir).isEmpty, "an older-layout artifact reads as absent")
        f.ensure(dir)
        assert(f.probe(dir).isDefined, "ensure rebuilds it in place")
        val left = new java.io.File(path).list().toSeq
        assert(left.forall(n => n.startsWith("v_") || n.startsWith("_GRAFT_STAMP.") ||
            n.startsWith(".")), s"the older layout's files are retired: $left")

        // an in-place mutator vetoes serving before it writes: the
        // batch's own rows check, as the write evaluates them, that
        // the veto is already on disk
        f.mutate match {
          case Some(mutate) =>
            val p = path
            val onValue = udf { (v: Double) =>
              require(MaintainedProtocolSpec.vetoedOnDisk(p), "written before the veto"); v }
            val onUser = udf { (u: Long) =>
              require(MaintainedProtocolSpec.vetoedOnDisk(p), "written before the veto"); u }
            mutate(dir, graft.Tables(spark, dir, Ev)
              .withColumn("value", onValue(col("value")))
              .withColumn("user_id", onUser(col("user_id"))))
            assert(f.probe(dir).isEmpty, "an appended artifact must not serve")
            assert(EnsureWatermark.intact(path, EnsureWatermark.Data).isDefined,
              "an appended artifact stays intact for its maintained readers")
          case None if f.parts == EnsureWatermark.Data =>
            EnsureWatermark.veto(path)
            assert(f.probe(dir).isEmpty, "a vetoed artifact must not serve")
          case None => ()
        }
      }
    }
  }
}

object MaintainedProtocolSpec {

  /** Whether the latest stamp of the local artifact at `path`, read
    * straight off the disk, is a veto — checkable from inside a task. */
  def vetoedOnDisk(path: String): Boolean =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.getName.matches("""_GRAFT_STAMP\.\d+"""))
      .maxByOption(_.getName.stripPrefix("_GRAFT_STAMP.").toLong)
      .exists(f => java.nio.file.Files.readString(f.toPath).contains("covered=vetoed"))
}
