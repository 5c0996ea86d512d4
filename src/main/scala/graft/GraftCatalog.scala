package graft

import org.apache.spark.sql.SparkSession

/** SQL-surface entry point (reference requirement 4,
  * `/root/reference/README.md:12`: everything queryable from a
  * dashboard tool). Registers every testdata table as a temp view and
  * the engine's native SQL functions, so a JDBC/Thrift dashboard — or
  * plain `spark.sql` — can query the full surface without touching the
  * DataFrame API:
  *
  * {{{
  * GraftCatalog.registerAll(spark, "/root/testdata/sf0.01")
  * spark.sql("SELECT array_cosine(a.embedding, b.embedding) ...")
  * }}}
  *
  * Views are lazy logical plans over the parquet scans — registering
  * costs nothing until queried, and Catalyst prunes/pushes down
  * through them exactly as through the DataFrame reads.
  */
object GraftCatalog {

  /** Register all testdata tables as temp views + native functions. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach { name =>
      Tables(spark, sfDir, name).createOrReplaceTempView(name)
    }
    plans.GraftExtensions.register(spark)
  }

  /** Every registrable rollup layer: view name → (ensure, artifact
    * path). A Map so [[registerRollups]]'s layer list fails loud on
    * a typo instead of silently registering nothing. Each daily
    * rollup's view is its leaf, bound to its committed data part. */
  private val RollupEnsures: Map[String, (SparkSession, String) => String] =
    Seq(operators.SketchRollup.rollup, operators.HistogramRollup.rollup,
        operators.AggRollup.rollup, operators.KmvRollup.rollup,
        operators.DecayedFeatures.rollup, operators.CmsRollup.rollup)
      .map(r => r.leaf -> ((s: SparkSession, d: String) => r.stored(s, d)))
      .toMap +
      ("file_stats" -> ((s, d) => {
        operators.MinMaxManifest.ensure(s, d)
        val mp = operators.MinMaxManifest.manifestPath(d)
        operators.EnsureWatermark.current(mp).get.part(mp, "data") }))

  /** The full layer list, in registration order. */
  val RollupLayers: Seq[String] = Seq("hll_daily", "hist_daily",
    "file_stats", "agg_daily", "kmv_daily", "feat_daily", "cms_daily")

  /** (session identity, view name) → the artifact path AND file
    * listing its view was registered over — the warm-registration
    * zero-jobs guard. The LISTING matters (r16 review #2): the
    * appendBatch faces add files to the SAME committed data part, so
    * a path-only guard would pin a permanently stale view over an
    * appended rollup. */
  private val registeredViews =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), String]()

  /** FS-metadata listing stamp of one artifact directory — no jobs. */
  private def artifactStamp(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Register persisted ROLLUP layers as views — the dashboard-facing
    * face of the scan-free operators, so a SQL client can merge
    * sketches or plan a pruned read without the DataFrame API.
    * `layers` (r16, the r15 verdict's #9): a dashboard session that
    * wants only `hll_daily` no longer pays all seven builds —
    * registration ensures and registers EXACTLY the layers named
    * (unknown names fail loud). Each chosen layer's ensure is
    * fingerprint-idempotent, so a WARM registration — every chosen
    * artifact current — runs ZERO Spark jobs (spec-pinned): the
    * ensure guards are FS-metadata checks and the view is a lazy
    * logical plan over the artifact parquet. A cold host still pays
    * one build scan per chosen layer at registration (eager by
    * design — the r7 advice stands: dashboards that must come up
    * instantly warm the artifacts out of band). */
  def registerRollups(spark: SparkSession, sfDir: String,
      layers: Seq[String] = RollupLayers): Unit = {
    val unknown = layers.filterNot(RollupEnsures.contains)
    require(unknown.isEmpty,
      s"unknown rollup layers: ${unknown.mkString(", ")} " +
        s"(available: ${RollupLayers.mkString(", ")})")
    layers.foreach { name =>
      val path = RollupEnsures(name)(spark, sfDir)
      // re-reading the artifact would pay a schema-inference job per
      // registration; a view already bound to this exact artifact
      // path AND file listing is current by construction (a changed
      // corpus changes the path; an appendBatch at the same path
      // changes the listing — either way re-register), so the warm
      // path stays at zero jobs
      val key = (System.identityHashCode(spark), name)
      val bound = path + "::" + artifactStamp(spark, path)
      if (registeredViews.get(key) != bound ||
          !spark.catalog.tableExists(name)) {
        spark.read.parquet(path).createOrReplaceTempView(name)
        registeredViews.put(key, bound)
      }
    }
    // the optimizer rewrite on top: a dashboard writing the PLAIN
    // raw aggregate over `events` (count / sum(floor(value)) /
    // day-grain timeseries over a day-aligned window) is served
    // scan-free by hist_daily/agg_daily — exactness-preserving, so
    // leaving it enabled is safe for every other SQL statement (the
    // routing rules fail closed when their layer was not chosen)
    plans.RuleSwitch.install(spark, new plans.RollupRoutingRule(spark))
  }
}
