package perfbench

import java.io.File
import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.streaming.{RealtimeRollup, StreamingJob}
import graft.taxi.{IngestHistoricJob, ParquetSink, TransformJob, ViewSink}

/** A `ViewSink` that times each view write, around the real sink. */
final class TimedSink(inner: ViewSink, tracer: Tracer, year: Int,
    onWrite: Double => Unit) extends ViewSink {
  def write(df: DataFrame, table: String): Unit = {
    val t0 = System.nanoTime()
    tracer.span(s"taxi.sink.${table.stripSuffix(s"_$year")}", table)(inner.write(df, table))
    onWrite(Stats.ms(t0, System.nanoTime()))
  }
}

/** `taxi_pipeline`: the paper's lambda pipeline on seeded trips. One
  * unit of work is one cycle of both paths into fresh directories:
  *  - the daily batch: `IngestHistoricJob.run` (CSV scan, clean,
  *    year/month-partitioned write), then `TransformJob.run` (distinct,
  *    broadcast enrich, four views through a timing `ViewSink` around
  *    `ParquetSink`);
  *  - the stream: the same generator's trips as JSON lines, drained one
  *    file of [[BacklogTrips]] trips per micro-batch
  *    (`Trigger.AvailableNow`, `maxFilesPerTrigger` 1) through two legs run one after the other, each with its own
  *    checkpoint — `StreamingJob` parse → clean → narrow → inner enrich
  *    → Parquet, then `RealtimeRollup.rollup15min` → Parquet append.
  * An operation is one stage call (the ingest, or one view write) or
  * one micro-batch; latency percentiles are over the micro-batches
  * that read a backlog, after each leg's first. */
object TaxiPipeline {
  val BatchRows = 30000
  /** Trips in one micro-batch: the reference's archive query drains a
    * 15-minute backlog per trigger (`trigger(processingTime='15
    * minutes')`) from a producer capped at 20 messages a second
    * (`time.sleep(0.05)` per message), so 20 × 900 trips. */
  val BacklogTrips: Int = 20 * 15 * 60
  val FeedFiles = 3
  val StreamRows: Int = BacklogTrips * FeedFiles
  val Year = 2023
  val WarmUnits = 1
  val Views: Seq[String] = Seq("companies_pickup_area_view", "pickup_area_view",
    "companies_dropoff_area_view", "dropoff_area_view")
  val Legs: Seq[String] = Seq("enrich", "rollup")
  private val YearStart = LocalDate.of(Year, 1, 1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  private val YearSpan = 364L * 86400
  private val StreamStart = LocalDate.of(Year, 6, 1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  private val StreamSpan = 2L * 86400

  /** Starts one stream leg over `feed`, writing Parquet under `out`. */
  def start(spark: SparkSession, leg: String, feed: String, areas: String,
      out: File): StreamingQuery = {
    val cleaned = StreamingJob.clean(StreamingJob.parse(
      spark.readStream.option("maxFilesPerTrigger", 1).text(feed)))
    val rows =
      if (leg == "enrich") StreamingJob.enrich(StreamingJob.narrow(cleaned),
        TransformJob.readAreas(spark, areas))
      else RealtimeRollup.rollup15min(cleaned)
    rows.writeStream
      .format("parquet")
      .option("path", new File(out, "data").getPath)
      .option("checkpointLocation", new File(out, "checkpoint").getPath)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    val out = new Outcome

    // Set-up: generate the inputs into a fresh directory, then run one
    // cycle into a directory that is removed again. A fresh JVM's first
    // cycle runs more than twice as long as a warm one: it is the
    // pipeline's cold start, so it counts toward set-up, as the
    // registry's cold serve does. One round: it takes longer than the
    // timed pass.
    val t0Setup = System.nanoTime()
    val inDir = new File(ctx.runDir, "input")
    // the CSV and the feed files are written side by side, one core each
    val csvDone = Future(TripGen.write(new File(inDir, "trips"), ctx.seed, BatchRows,
      YearStart, YearSpan, json = false))(ExecutionContext.global)
    val json = TripGen.write(new File(inDir, "feed"), ctx.seed, StreamRows, StreamStart,
      StreamSpan, json = true, files = FeedFiles)
    val csv = Await.result(csvDone, Duration.Inf)
    TripGen.writeAreas(new File(inDir, "areas/areas.csv"))
    val generatedMs = Stats.ms(t0Setup, System.nanoTime())
    val trips = new File(inDir, "trips").getPath
    val feed = new File(inDir, "feed").getPath
    val areas = new File(inDir, "areas").getPath

    val batchMs = mutable.ArrayBuffer.empty[Double]
    val layerMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // progress of every timed micro-batch, and of the last cycle's
    val progressAll = mutable.Map.empty[String, Seq[StreamingQueryProgress]].withDefaultValue(Nil)
    val progress = mutable.Map.empty[String, Seq[StreamingQueryProgress]]

    /** One lambda cycle into `dir`; `timed` records its operations. */
    def cycle(dir: File, timed: Boolean): Unit = {
      def stage(name: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        try tracer.span(name)(body)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          if (timed) out.failed += 1
        }
        if (timed) layerMs(name) += Stats.ms(t0, System.nanoTime())
      }
      val sink = new TimedSink(new ParquetSink(new File(dir, "views").getPath), tracer, Year,
        _ => if (timed) out.attempted += 1)
      stage("taxi.ingest")(IngestHistoricJob.run(spark, trips, new File(dir, "trips").getPath))
      if (timed) out.attempted += 1
      stage("taxi.transform")(TransformJob.run(spark, new File(dir, "trips").getPath, areas,
        Year, sink))
      Legs.foreach { leg =>
        tracer.span(s"stream.$leg", leg) {
          val q = start(spark, leg, feed, areas, new File(dir, leg))
          try q.awaitTermination()
          catch { case e: Exception => System.err.println(s"[perfbench] $leg failed: $e") }
          val ps = q.recentProgress.toSeq
          if (timed) {
            progress(leg) = ps
            progressAll(leg) ++= ps
            ps.zipWithIndex.foreach { case (p, i) =>
              val ms = p.durationMs.get("triggerExecution").toDouble
              // a leg's first micro-batch also starts the query; a running
              // query, as in the reference, pays that once, not per batch.
              // The rollup's closing no-data batch reads no backlog.
              if (i > 0 && p.numInputRows > 0) batchMs += ms
              val startNs = tracer.nanoOf(Instant.parse(p.timestamp).toEpochMilli)
              tracer.record(s"stream.$leg.batch", p.batchId.toString, startNs,
                startNs + (ms * 1e6).toLong)
            }
            out.attempted += ps.size
            if (q.exception.isDefined) out.failed += ps.size.max(1)
          }
        }
      }
    }

    def warmCycle(name: String): Double = {
      val warm = new File(ctx.runDir, name)
      val w0 = System.nanoTime()
      cycle(warm, timed = false)
      val ms = Stats.ms(w0, System.nanoTime())
      Stats.deleteTree(warm)
      ms
    }
    val coldMs = warmCycle("cold")
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    out.samples("setup_ms") = Seq(generatedMs, coldMs)

    // JIT warm-up, untimed: the second cycle still runs about a tenth
    // longer than the ones after it.
    out.samples("warmup_unit_ms") = (1 to WarmUnits).map(k => warmCycle(s"warmup-$k"))

    val unitS = mutable.ArrayBuffer.empty[Double]
    var last: File = null
    out.phase("setup_warmup")
    tracer.startCounting()
    val t0 = System.nanoTime()
    while (Stats.roomForAnother(unitS.toSeq, t0, ctx.seconds)) {
      Option(last).foreach(Stats.deleteTree)
      last = new File(ctx.runDir, s"cycle-${unitS.size}")
      val u0 = System.nanoTime()
      tracer.span("taxi.cycle", s"cycle-${unitS.size}")(cycle(last, timed = true))
      unitS += (System.nanoTime() - u0) / 1e9
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    out.phase("timed")
    val counters = tracer.stopCounting()
    val units = unitS.size.toDouble

    // Output checks on the last cycle, untimed. A failing batch check
    // fails every stage of the timed pass, a failing stream check every
    // micro-batch of its leg in the last cycle.
    def verify(name: String, group: String, ops: Long)(body: => (Boolean, String)): Unit = {
      val (ok, detail) =
        try body catch { case e: Exception => (false, e.toString) }
      out.check(name, ok, detail, group, ops)
    }
    val stages = unitS.size * (1L + Views.size)
    verify("taxi.batch.rows_in", "batch", stages) {
      val ingested = ctx.observed(spark.read.parquet(new File(last, "trips").getPath)).count()
      (csv.lines == ingested + csv.malformed,
        s"lines=${csv.lines} ingested=$ingested malformed=${csv.malformed}")
    }
    Views.foreach { v => verify(s"taxi.batch.$v", "batch", stages) {
      val view = ctx.observed(spark.read.parquet(new File(last, s"views/${v}_$Year").getPath))
      val total = view.agg(sum("trips")).head().getLong(0)
      // each view keeps its own side's area 99 (LEFT join)
      val side = if (v.contains("pickup")) "pickup" else "dropoff"
      val expected99 = if (side == "pickup") csv.pickupUnknown else csv.dropoffUnknown
      val area99 = Option(view.where(col(s"${side}_community_area") === TripGen.UnknownArea)
        .agg(sum("trips")).head().get(0)).map(_.toString.toLong).getOrElse(0L)
      (total == csv.distinct && area99 == expected99,
        s"sum(trips)=$total distinct=${csv.distinct} ${side}_area99=$area99 expected=$expected99")
    } }
    verify("taxi.stream.enrich_inner_join", "enrich", progress("enrich").size) {
      val n = ctx.observed(spark.read.parquet(new File(last, "enrich/data").getPath)).count()
      (n == json.enrichable, s"rows=$n expected=${json.enrichable}")
    }
    verify("taxi.stream.rollup_equals_batch", "rollup", progress("rollup").size) {
      val watermark = progress("rollup").lastOption
        .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("1970-01-01T00:00:00.000Z")
      val streamed = ctx.observed(spark.read.parquet(new File(last, "rollup/data").getPath))
      val batch = RealtimeRollup.rollup15min(StreamingJob.clean(StreamingJob.parse(
        spark.read.text(feed)))).where(col("window_end") <= lit(Instant.parse(watermark)))
      val (sRows, sFp) = Stats.fingerprint(streamed.collect().toSeq)
      val (bRows, bFp) =
        Stats.fingerprint(batch.select(streamed.columns.toSeq.map(col): _*).collect().toSeq)
      (sRows == bRows && sFp == bFp && sRows > 0,
        s"closed windows up to $watermark: stream rows=$sRows fp=$sFp, batch rows=$bRows fp=$bFp")
    }
    out.phase("checks")

    out.samples("unit_ms") = unitS.map(_ * 1000).toSeq
    out.samples("op_ms") = batchMs.toSeq
    val wallS = Stats.median(unitS.toSeq)
    out.put("setup_s", setupS, "s")
    out.put("wall_s", wallS, "s", unitS.size)
    out.put("op_ms_p50", Stats.median(batchMs.toSeq), "ms", batchMs.size)
    out.put("op_ms_p90", Stats.percentile(batchMs.toSeq, 0.9), "ms", batchMs.size)
    out.put("rows_per_s", (csv.lines + json.lines) / wallS, "1/s", unitS.size)
    out.put("stored_mb", Stats.dirBytes(last) / 1e6, "MB")

    if (tracer.on) {
      val self = tracer.selfMs
      out.layer(counters, units, timedS)
      out.layer("taxi.ingest_ms", layerMs("taxi.ingest") / units, "ms")
      out.layer("taxi.transform_ms", layerMs("taxi.transform") / units, "ms")
      Views.foreach(v => out.layer(s"taxi.sink.${v}_ms",
        self.getOrElse(s"taxi.sink.$v", 0.0) / units, "ms"))
      out.layer("self.taxi.cycle_ms", self.getOrElse("taxi.cycle", 0.0) / units, "ms")
      out.layer("self.taxi.transform_ms", self.getOrElse("taxi.transform", 0.0) / units, "ms")
      for (leg <- Legs) {
        val ps = progressAll(leg)
        def mean(k: String) =
          ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / ps.size.max(1)
        Seq("queryPlanning", "walCommit", "commitOffsets", "getBatch", "addBatch")
          .foreach(k => out.layer(s"stream.$leg.${k}_ms", mean(k), "ms"))
        out.layer(s"self.stream.${leg}_ms", self.getOrElse(s"stream.$leg", 0.0) / units, "ms")
      }
      val state = progressAll("rollup").flatMap(_.stateOperators.headOption)
      out.layer("stream.rollup.state_rows",
        state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
      out.layer("stream.rollup.state_mem_mb",
        state.map(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0), "MB")
      out.layer("stream.rollup.state_commit_ms",
        state.map(_.commitTimeMs.toDouble).sum / state.size.max(1), "ms")
      out.layer("stream.rollup.rows_dropped_by_watermark",
        state.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
    }
    out
  }
}
