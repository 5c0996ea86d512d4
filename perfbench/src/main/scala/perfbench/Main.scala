package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its tracer, the seed, the
  * timed-pass length, the benchmark's own directory (`home`, for the
  * committed tables and expected values) and a private run directory
  * that everything it writes goes under. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int,
    home: File, runDir: File, plant: Boolean) {
  /** In self-test mode, `df` minus one row: the planted wrong result
    * every output check must reject. */
  def observed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (plant) df.limit(math.max(0L, df.count() - 1).toInt) else df
}

/** Runs one named workload and writes its result as one JSON object.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --home <benchmark dir> --run-dir <dir> --result <file>
  *   [--trace-file <file>] [--plant 1]
  * }}}
  *
  * `--plant 1` is the checks' self-test: every output check reads its
  * output with one row dropped and must fail.
  *
  * With `--trace 0` the result's metrics are the end-to-end metrics;
  * with `--trace 1` they are the per-layer metrics, and the spans and
  * counters go to `--trace-file`. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "registry_serve" -> RegistryServe.run,
    "taxi_pipeline" -> TaxiPipeline.run)

  /** The end-to-end metrics of the result line. `peak_rss_mb` is only
    * printed: it follows the collector's heap sizing and spreads too
    * widely between runs to bound. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "wall_s", "op_ms_p50", "op_ms_p90", "rows_per_s", "stored_mb")

  /** Per-layer metric → unit, in report order. A workload that does
    * not cross a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "traced_wall_s" -> "s",
    "queries.build_ms" -> "ms", "sink.noop_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms") ++
    Tracer.GraftRules.flatMap(r => Seq(s"plans.$r.ms" -> "ms", s"plans.$r.effective" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
      "operators.artifact_builds" -> "count",
      "spark.executor_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.core_util" -> "ratio",
      "taxi.ingest_ms" -> "ms", "taxi.transform_ms" -> "ms") ++
    TaxiPipeline.Views.map(v => s"taxi.sink.${v}_ms" -> "ms") ++
    TaxiPipeline.Legs.flatMap(l => Seq("queryPlanning", "walCommit", "commitOffsets",
      "getBatch", "addBatch").map(k => s"stream.$l.${k}_ms" -> "ms")) ++
    Seq("stream.rollup.state_rows" -> "count", "stream.rollup.state_mem_mb" -> "MB",
      "stream.rollup.state_commit_ms" -> "ms",
      "stream.rollup.rows_dropped_by_watermark" -> "count",
      "self.registry.pass_ms" -> "ms", "self.registry.query_ms" -> "ms",
      "self.taxi.cycle_ms" -> "ms", "self.taxi.transform_ms" -> "ms") ++
    TaxiPipeline.Legs.map(l => s"self.stream.${l}_ms" -> "ms")

  /** The session `graft.Bench` builds, at its default settings, with
    * its scratch space moved under the run directory. */
  def session(runDir: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      // keep every micro-batch's progress report, not the last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val trace = a.getOrElse("trace", "0") == "1"
    val runDir = new File(a("run-dir")).getAbsoluteFile
    runDir.mkdirs()
    val spark = session(runDir)
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, a("seed").toLong, a("seconds").toInt,
      new File(a("home")).getAbsoluteFile, runDir, a.getOrElse("plant", "0") == "1")
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val out = run(ctx)
    out.put("peak_rss_mb", Stats.peakRssMb(), "MB")

    val reported =
      if (!trace) EndToEnd.map(n => n -> out.metrics(n))
      else {
        out.layer("traced_wall_s", out.metrics("wall_s").value, "s")
        PerLayer.map { case (n, u) => n -> out.layers.getOrElse(n, Metric(0.0, u, 1)) }
      }
    val frac = if (out.attempted == 0) 1.0 else out.failedOps.toDouble / out.attempted
    out.checks.foreach { case (n, ok, d) =>
      println(s"[perfbench] check ${if (ok) "ok  " else "FAIL"} $n: $d")
    }
    out.samples.foreach { case (n, xs) =>
      println(s"[perfbench] samples $n = " + xs.map(x => f"$x%.1f").mkString(" "))
    }
    println(f"[perfbench] phases_s jvm_session=$sessionS%.1f " + out.phases.map { case (n, x) => f"$n=$x%.1f" }.mkString(" "))
    println(f"[perfbench] ops_failed_frac = $frac%.6f (failed ${out.failedOps} of ${out.attempted} attempted)")
    (out.metrics.toSeq ++ (if (trace) reported else Nil)).foreach { case (n, m) =>
      println(s"[perfbench] $n = ${m.value} ${m.unit} (n=${m.samples})")
    }
    if (trace) a.get("trace-file").foreach { f =>
      tracer.write(new File(f), Map("workload" -> workload, "seed" -> a("seed"),
        "cores" -> Runtime.getRuntime.availableProcessors.toString,
        "tracing_overhead" -> "traced_wall_s minus wall_s of an untraced run, same seed"),
        tracer.counted, reported)
    }

    val json = "{" + Seq(
      s"${q("correct")}: ${out.correct && out.attempted > 0}",
      s"${q("attempted")}: ${out.attempted}",
      s"${q("failed")}: ${out.failedOps}",
      s"${q("metrics")}: {" + reported.map { case (n, m) =>
        s"${q(n)}: {${q("value")}: ${m.value}, ${q("unit")}: ${q(m.unit)}}"
      }.mkString(", ") + "}").mkString(", ") + "}"
    val w = new PrintWriter(new File(a("result")))
    try w.println(json) finally w.close()
    spark.stop()
  }
}
