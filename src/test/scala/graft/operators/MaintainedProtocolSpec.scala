package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The commit-and-serve protocol the eight O(batch)-maintained
  * families share ([[EnsureWatermark.commit]] /
  * [[EnsureWatermark.maintain]]), checked family by family over one
  * table: (a) a current artifact's probe launches no Spark job; (b) a
  * stale covered fingerprint and a torn part both read as absent;
  * (c) a retry after "data committed, stamp not" merges the batch
  * once; (d) an artifact in the stamp-less older layout (`meta/`,
  * `data/stamp/`) reads as absent and rebuilds in place. */
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
}
