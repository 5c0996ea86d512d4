package graft.streaming

import graft.SparkSpec
import graft.taxi.{Fixture, TransformJob}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-streaming specs (SURVEY.md §5.3, §2.7 T1–T6): the same
  * JSON the replay producer emits, driven through MemoryStream, plus
  * checkpoint-restart exactly-once behavior on the file sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = tmpDir("stream")
  private lazy val areasCsv = Fixture.write(s"$dir/areas.csv", Fixture.areasCsv)

  test("parse → clean → inner enrich (F5/P10/P2/J1): unknown area dropped") {
    val areas = TransformJob.readAreas(spark, areasCsv)
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(Fixture.kafkaJsonLines: _*)
    val enriched = StreamingJob.enrich(
      StreamingJob.narrow(StreamingJob.clean(StreamingJob.parse(mem.toDF()))),
      areas)
    val q = enriched.writeStream.format("memory").queryName("enriched_t")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("enriched_t")
    // t1 (areas 10→20) survives; t4 (pickup 99 unknown) dropped by INNER
    assert(out.count() === 1)
    val r = out.head()
    assert(r.getAs[String]("trip_id") === "t1")
    assert(r.getAs[String]("pickup_community_area_name") === "NORTHSIDE")
    assert(r.getAs[String]("dropoff_community_area_name") === "LAKEVIEW")
    assert(r.getAs[Double]("fare") === 12.5)
  }

  test("kafka payload shape (S7/F6): key=taxi_id, value=to_json(struct(*))") {
    val areas = TransformJob.readAreas(spark, areasCsv)
    val enriched = StreamingJob.enrich(
      StreamingJob.narrow(StreamingJob.clean(
        StreamingJob.parse(Fixture.kafkaJsonLines.toDF("value")))), areas)
    val payload = StreamingJob.toKafkaPayload(enriched).head()
    assert(payload.getAs[String]("key") === "taxiA")
    val value = payload.getAs[String]("value")
    assert(value.contains(""""trip_id":"t1""""))
    assert(value.contains(""""pickup_community_area_name":"NORTHSIDE""""))
  }

  test("parquet file sink + checkpoint restart is exactly-once (S8/T4)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val cleaned = StreamingJob.clean(StreamingJob.parse(mem.toDF()))
    val sinkPath = s"$dir/trips_sink"
    val ckpt = s"$dir/ckpt_files"

    mem.addData(Fixture.kafkaJsonLines.head)
    val q1 = StreamingJob.parquetSinkWriter(cleaned, sinkPath, ckpt,
      Trigger.AvailableNow()).start()
    q1.awaitTermination()
    assert(spark.read.parquet(sinkPath).count() === 1)

    // restart from the same checkpoint with one more row: only the new
    // row is appended (offsets committed, no reprocessing)
    mem.addData(Fixture.kafkaJsonLines(1))
    val q2 = StreamingJob.parquetSinkWriter(cleaned, sinkPath, ckpt,
      Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val back = spark.read.parquet(sinkPath)
    assert(back.count() === 2)
    assert(back.select("trip_id").as[String].collect().toSet === Set("t1", "t4"))
    // event-time partitioning survived the stream path
    assert(new java.io.File(s"$sinkPath/year=2021/month=3").exists)
  }

  test("T1 fan-out: one lineage drives two independent queries") {
    implicit val sql = spark.sqlContext
    val areas = TransformJob.readAreas(spark, areasCsv)
    val mem = MemoryStream[String]
    mem.addData(Fixture.kafkaJsonLines: _*)
    val cleaned = StreamingJob.clean(StreamingJob.parse(mem.toDF()))
    // query 1: enriched feed (kafka-shaped payload) to memory
    val q1 = StreamingJob.toKafkaPayload(
      StreamingJob.enrich(StreamingJob.narrow(cleaned), areas))
      .writeStream.format("memory").queryName("fan_kafka")
      .outputMode("append").start()
    // query 2: raw cleaned archive to parquet with its own checkpoint
    val dir2 = tmpDir("fanout")
    val q2 = StreamingJob.parquetSinkWriter(cleaned, s"$dir2/sink",
      s"$dir2/ckpt", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      q1.processAllAvailable()
      q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    // independent consumption: q1 sees only the enrichable row (inner
    // join drops t4), q2 archives BOTH rows
    assert(spark.table("fan_kafka").count() === 1)
    assert(spark.read.parquet(s"$dir2/sink").count() === 2)
  }

  test("15-min rollup (D1/A8): watermarked tumbling window aggregates") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(Fixture.kafkaJsonLines: _*)
    val rolled = RealtimeRollup.rollup15min(
      StreamingJob.clean(StreamingJob.parse(mem.toDF())))
    val q = rolled.writeStream.format("memory").queryName("rollup_t")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    // Append mode emits only watermark-closed windows; with a live
    // stream nothing closes yet — assert the aggregation is running
    // and state is keyed as expected via the complete-mode variant:
    val batch = RealtimeRollup.rollup15min(
      StreamingJob.clean(StreamingJob.parse(Fixture.kafkaJsonLines.toDF("value"))))
    val rows = batch.orderBy($"window_start", $"taxi_id").collect()
    assert(rows.length === 2)
    val first = rows.head
    // t1: 09:15 AM → window [09:15, 09:30)
    assert(first.getAs[java.sql.Timestamp]("window_start").toString
      .startsWith("2021-03-05 09:15:00"))
    assert(first.getAs[Long]("trips") === 1L)
    assert(first.getAs[Double]("triptotal_sum") === 15.5)
  }

  test("watermark advance closes windows and append-mode emits them") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val rolled = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
      .select($"window.start".as("ws"), $"event_type", $"n", $"v")
    val q = rolled.writeStream.format("memory").queryName("wm_t")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1: two events in the 10:00 window → nothing emitted yet
      mem.addData((ts("2024-05-01 10:02:00"), "a", 1.0),
        (ts("2024-05-01 10:07:00"), "a", 2.0))
      q.processAllAvailable()
      assert(spark.table("wm_t").count() === 0)
      // batch 2: an event 2 hours later pushes the watermark past the
      // first window's end → the closed window is appended
      mem.addData((ts("2024-05-01 12:00:00"), "b", 5.0))
      q.processAllAvailable()
      val out = spark.table("wm_t").collect()
      assert(out.length === 1)
      assert(out.head.getAs[Long]("n") === 2L)
      assert(out.head.getAs[Double]("v") === 3.0)
      // late row behind the watermark is DROPPED from the aggregate
      mem.addData((ts("2024-05-01 10:01:00"), "a", 100.0))
      q.processAllAvailable()
      assert(spark.table("wm_t").count() === 1, "late data must not reopen windows")
    } finally q.stop()
  }

  test("stateful aggregation state survives checkpoint restart (T4+T5)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    def rolled = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
      .select($"window.start".as("ws"), $"event_type", $"n", $"v")
    val d = tmpDir("stateful_restart")
    def start() = rolled.writeStream.format("parquet")
      .option("path", s"$d/sink").option("checkpointLocation", s"$d/ckpt")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // phase 1: two rows land in the 10:00 window; the window is still
    // open when the query stops — its partial aggregate exists ONLY in
    // the checkpointed state store
    val q1 = start()
    try {
      mem.addData((ts("2024-05-01 10:02:00"), "a", 1.0),
        (ts("2024-05-01 10:07:00"), "a", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!new java.io.File(s"$d/sink").exists ||
      spark.read.parquet(s"$d/sink").count() === 0)
    // phase 2: restart from the checkpoint; a third row joins the SAME
    // window (recovered state), then a late-clock row closes it
    val q2 = start()
    try {
      mem.addData((ts("2024-05-01 10:10:00"), "a", 4.0))
      q2.processAllAvailable()
      mem.addData((ts("2024-05-01 12:00:00"), "b", 9.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(s"$d/sink").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n") === 3L,
      "pre-restart rows must be recovered from checkpointed state")
    assert(out.head.getAs[Double]("v") === 7.0)
  }

  test("stream-stream interval join: clicks matched to recent errors, state bounded by watermarks") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val errors = MemoryStream[(String, java.sql.Timestamp, Double)]
    // both sides watermarked — REQUIRED for Spark to bound join state:
    // an error row is dropped from state once no future click can
    // reach back to it through the interval condition
    val c = clicks.toDS().toDF("user", "cts").withWatermark("cts", "10 minutes")
    val e = errors.toDS().toDF("euser", "ets", "sev")
      .withWatermark("ets", "10 minutes")
    val joined = c.join(e,
      $"user" === $"euser" &&
        $"ets" >= $"cts" - expr("INTERVAL 10 MINUTES") && $"ets" <= $"cts")
      .select($"user", $"cts", $"ets", $"sev")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $m")
    try {
      errors.addData(("u1", ts("10:00:00"), 3.0), ("u2", ts("10:01:00"), 1.0))
      clicks.addData(
        ("u1", ts("10:05:00")), // within 10 min of u1's error → match
        ("u1", ts("10:20:00")), // error too old → no match
        ("u3", ts("10:06:00"))) // no error for u3 → no match
      q.processAllAvailable()
      val out = spark.table("ss_join").collect()
      assert(out.length === 1)
      assert(out.head.getAs[String]("user") === "u1")
      assert(out.head.getAs[java.sql.Timestamp]("ets") === ts("10:00:00"))
      assert(out.head.getAs[Double]("sev") === 3.0)
      // a second batch can still match fresh pairs
      errors.addData(("u2", ts("10:25:00"), 7.0))
      clicks.addData(("u2", ts("10:30:00")))
      q.processAllAvailable()
      val out2 = spark.table("ss_join").collect()
      assert(out2.length === 2)
      assert(out2.exists(r => r.getAs[String]("user") == "u2"
        && r.getAs[Double]("sev") == 7.0))
    } finally q.stop()
  }

  test("curation gates are batch/stream identical (the P1==P2 theme on the new surface)") {
    implicit val sql = spark.sqlContext
    // shared gate expression: min length + type-token ratio (c01's)
    def gate(df: org.apache.spark.sql.DataFrame) = {
      val toks = split(trim($"text"), "\\s+")
      df.select($"doc_id", $"text",
          size(toks).as("n_tok"),
          size(array_distinct(toks)).as("n_uniq"))
        .where($"n_tok" >= 5 && ($"n_uniq".cast("double") / $"n_tok") >= 0.3)
        .select($"doc_id")
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // passes
      (2L, "a a a a a a a a a a"),                         // TTR gate fails
      (3L, "too short"),                                   // length gate fails
      (4L, "data systems scale when partitions stay balanced")) // passes
    val batchIds = gate(docs.toDF("doc_id", "text"))
      .as[Long].collect().toSet
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = gate(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gate_t")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamIds = spark.table("gate_t").as[Long].collect().toSet
    assert(batchIds === Set(1L, 4L))
    assert(streamIds === batchIds,
      "the same gate expression must admit identical docs in batch and stream")
  }

  test("PII scrub is batch/stream identical (ingest-time redaction gate)") {
    implicit val sql = spark.sqlContext
    import graft.functions.PiiOps
    def scrub(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", PiiOps.redact($"text").as("clean"),
        (PiiOps.piiCount($"text", PiiOps.EmailRe) +
          PiiOps.piiCount($"text", PiiOps.SsnRe) +
          PiiOps.piiCount($"text", PiiOps.PhoneRe) +
          PiiOps.piiCount($"text", PiiOps.Ipv4Re)).as("hits"))
    val docs = Seq(
      (1L, "reach me at ops@example.com or 555-867-5309"),
      (2L, "clean text with no identifiers"),
      (3L, "ssn 123-45-6789 from host 10.0.0.7"))
    val batch = scrub(docs.toDF("doc_id", "text"))
      .as[(Long, String, Int)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = scrub(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_t")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("pii_t").as[(Long, String, Int)].collect().toSet
    assert(batch === stream,
      "the same scrub expression must redact identically in batch and stream")
    assert(batch.collect { case (1L, c, h) => (c, h) }.head ===
      ("reach me at [PII] or [PII]", 2))
    assert(batch.collect { case (3L, c, h) => (c, h) }.head ===
      ("ssn [PII] from host [PII]", 2))
  }

  test("native session_window: gap-merged sessions emit when the watermark closes them") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sessions = mem.toDF().toDF("ts", "user", "amount")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user")
      .agg(count(lit(1)).as("events"), sum($"amount").as("total"))
      .select($"session_window.start".as("ss"), $"user", $"events", $"total")
    val q = sessions.writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // three events within 30-min gaps merge into ONE session even
      // though they span 40 minutes of wall clock
      mem.addData((ts("2024-06-01 09:00:00"), "u1", 1.0),
        (ts("2024-06-01 09:20:00"), "u1", 2.0),
        (ts("2024-06-01 09:40:00"), "u1", 4.0))
      q.processAllAvailable()
      assert(spark.table("sess_win").count() === 0, "session still open")
      // an event far ahead closes u1's session via the watermark
      mem.addData((ts("2024-06-01 13:00:00"), "u2", 9.0))
      q.processAllAvailable()
      val out = spark.table("sess_win").collect()
      assert(out.length === 1)
      assert(out.head.getAs[String]("user") === "u1")
      assert(out.head.getAs[Long]("events") === 3L)
      assert(out.head.getAs[Double]("total") === 7.0)
      assert(out.head.getAs[java.sql.Timestamp]("ss") === ts("2024-06-01 09:00:00"))
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark collapses replays") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[String]
    val cleaned = StreamingJob.clean(StreamingJob.parse(mem.toDF()))
      .withWatermark("trip_start_timestamp", "1 hour")
      .dropDuplicatesWithinWatermark("trip_id")
    val q = cleaned.select("trip_id").writeStream.format("memory")
      .queryName("dedup_t").outputMode("append").start()
    try {
      // same trip delivered twice in one batch and again in a second
      // batch (at-least-once source semantics) → exactly one output
      mem.addData(Fixture.kafkaJsonLines.head, Fixture.kafkaJsonLines.head)
      q.processAllAvailable()
      mem.addData(Fixture.kafkaJsonLines.head, Fixture.kafkaJsonLines(1))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_t").as[String].collect().sorted
    assert(out.toSeq === Seq("t1", "t4"))
  }

  test("active taxis sliding window (D2)") {
    val batch = RealtimeRollup.activeTaxis(
      StreamingJob.clean(StreamingJob.parse(Fixture.kafkaJsonLines.toDF("value"))))
    // t1 09:15 and t4 20:00 on different days-hours → no shared window;
    // each 1-hour window sliding by 15 min covers each event 4 times
    val rows = batch.collect()
    assert(rows.map(_.getAs[Long]("active_taxis")).forall(_ === 1L))
    assert(rows.length === 8)
  }

  test("temporal as-of enrich: events join the dim version valid at EVENT time, stream ≡ batch") {
    implicit val sql = spark.sqlContext
    def t(x: String) = java.sql.Timestamp.valueOf(x)
    val noEnd = null.asInstanceOf[java.sql.Timestamp]
    val dim = Seq(
      (7L, t("2024-01-01 00:00:00"), t("2024-01-10 00:00:00"), "v1"),
      (7L, t("2024-01-10 00:00:00"), noEnd, "v2"),
      (8L, t("2024-01-05 00:00:00"), noEnd, "w1"))
      .toDF("area_id", "valid_from", "valid_to", "area_name")
    val events = Seq(
      (1L, 7L, t("2024-01-05 12:00:00")), // inside v1
      (2L, 7L, t("2024-01-10 00:00:00")), // boundary -> v2 (half-open)
      (3L, 7L, t("2024-02-01 00:00:00")), // open-ended v2
      (4L, 8L, t("2024-01-04 00:00:00")), // before the key existed
      (5L, 9L, t("2024-01-05 00:00:00"))) // unknown key
      .toDF("event_id", "area_id", "ts")
    val batchOut = TemporalEnrich.enrich(events, "ts", dim, "area_id")
    assert(batchOut.count() === 5,
      "each event must match at most one version (SCD2 invariant)")
    val byId = batchOut.collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(byId === Map(1L -> Some("v1"), 2L -> Some("v2"),
      3L -> Some("v2"), 4L -> None, 5L -> None),
      s"event-time versioning diverged: $byId")
    // scale pin, BOTH regimes (r10 verdict: no forced broadcast hint —
    // the kernel serves SCD2 histories too big to broadcast):
    // small dim → auto-broadcast off its own size stats…
    val p = batchOut.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"a small dim must still auto-broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the equi key must prevent a nested-loop plan:\n$p")
    // …and a dim the planner may NOT broadcast degrades to a shuffled
    // hash/sort-merge join, never a nested loop and never a forced
    // broadcast that would OOM the driver at SCD2 scale
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigRegime = TemporalEnrich.enrich(events, "ts", dim, "area_id")
      val pb = bigRegime.queryExecution.executedPlan.toString
      assert(!pb.contains("BroadcastHashJoin") &&
        !pb.contains("BroadcastNestedLoopJoin"),
        s"an unbroadcastable dim must not be forced onto the driver:\n$pb")
      assert(pb.contains("SortMergeJoin") || pb.contains("ShuffledHashJoin"),
        s"the equi key must keep the large-dim plan a hash/merge join:\n$pb")
      assert(bigRegime.collect().map(_.toString).sorted.toSeq ===
        batchOut.collect().map(_.toString).sorted.toSeq,
        "join strategy must never change the rows")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // the STREAMING face: the same kernel over a MemoryStream — the
    // stream-static join re-plans per micro-batch, rows identical to
    // the batch kernel (the P1 ≡ P2 parity rule on enrichment)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = TemporalEnrich.enrich(
      mem.toDF().toDF("event_id", "area_id", "ts"), "ts", dim, "area_id")
      .writeStream.format("memory").queryName("temporal_t")
      .outputMode("append").start()
    try {
      mem.addData((1L, 7L, t("2024-01-05 12:00:00")),
        (2L, 7L, t("2024-01-10 00:00:00")))
      q.processAllAvailable()
      mem.addData((3L, 7L, t("2024-02-01 00:00:00")),
        (4L, 8L, t("2024-01-04 00:00:00")),
        (5L, 9L, t("2024-01-05 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("temporal_t")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batchOut.collect().map(_.toString).sorted.toSeq,
      "stream enrichment must equal the batch kernel row-for-row")
  }

  test("streaming rollup maintenance: replayed batches never double-count bins") {
    // the r7 verdict's ask: the histogram/sketch append legs existed
    // but the foreachBatch exactly-once contract was asserted
    // nowhere. The histogram sink scopes each micro-batch to its own
    // batch=b<id> partition (overwrite → replay-idempotent); the
    // sketch sink is max-merge (replay-harmless by algebra). A
    // checkpoint restart mid-stream must leave the q36 surface
    // unchanged across the replayed batch.
    withIndexRoot("graft-stream-rollup") {
      import graft.operators.{CmsRollup => CM, DecayedFeatures => DF, EntityIndex => EI, HistogramRollup => HR, SketchRollup => SR, TopKRollup => TK}
      val sf = "/root/testdata/sf0.001"
      val (lo, hi) = ("2024-02-01 00:00:00", "2024-03-01 00:00:00")
      implicit val sql = spark.sqlContext
      def rows(n: Int, base: Long)
          : Seq[(Long, java.sql.Timestamp, Long, String, Double, String)] =
        (0 until n).map { i =>
        (base + i, java.sql.Timestamp.valueOf(f"2024-02-06 01:00:${i % 60}%02d"),
          base + i, "stream", 12.5, "{}")
      }
      SR.ensure(spark, sf)
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      val ckpt = tmpDir("rollup-ckpt")
      def sink(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        val batch = b.toDF("event_id", "ts", "user_id", "event_type",
          "value", "props")
        HR.processStreamBatch(spark, sf, batch, id)
        DF.processStreamBatch(spark, sf, batch, id)
        CM.processStreamBatch(spark, sf, batch, id)
        TK.processStreamBatch(spark, sf, batch, id)
        EI.processStreamBatch(spark, sf, batch, id)
        SR.appendBatch(spark, sf, batch)
      }
      def run(): Unit = {
        val q = mem.toDF().writeStream.foreachBatch(sink _)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def streamCnt(): Long = HR.mergedBinsWithStream(spark, sf, lo, hi)
        .where(col("event_type") === "stream")
        .agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)

      mem.addData(rows(30, 910000L): _*)
      run()
      assert(streamCnt() === 30L, "batch 0 must land once")
      // the crash-replay: foreachBatch re-invokes with the SAME batch
      // id and data (restart between the sink write and the offset
      // commit) — the batch-scoped overwrite absorbs it
      sink(rows(30, 910000L).toDF(), 0L)
      assert(streamCnt() === 30L,
        "a replayed batch must overwrite itself, never double-count")
      // sketch side: max-merge absorbed the replay too
      val regs = SR.mergedRegisters(spark, sf, lo, hi)
        .where(col("event_type") === "stream").count()
      sink(rows(30, 910000L).toDF(), 0L)
      assert(SR.mergedRegisters(spark, sf, lo, hi)
        .where(col("event_type") === "stream").count() === regs)
      // a REAL restart from the checkpoint: committed offsets mean
      // only the new batch runs; totals are each-batch-exactly-once
      mem.addData(rows(20, 920000L): _*)
      run()
      assert(streamCnt() === 50L,
        "restart must process only the new batch — 30 + 20, nothing twice")
      // the entity store rode the same sink with the same batch-id
      // discipline: a streamed user's profile sees its event exactly
      // once through the replay AND the restart (base corpus has no
      // 910005, so the count is purely the maintained surface)
      assert(EI.serveWithStream(spark, sf, Seq(910005L, 920003L))
        .agg(sum(col("n"))).head().getLong(0) === 2L,
        "entity stream maintenance must land each batch exactly once")
      // and the q36 surface over the maintained bins stays coherent:
      // p50 of 50 identical 12.5 values lands in bin 2 ([10,15))
      val est = HR.percentiles(
        HR.mergedBinsWithStream(spark, sf, lo, hi)
          .where(col("event_type") === "stream"), Seq(50)).head()
      assert(est.getLong(1) >= 100000L && est.getLong(1) <= 150000L,
        s"maintained p50 must land in the 12.5 bin, got ${est.getLong(1)}")
      // the decayed-feature rollup rode the same sink with the same
      // batch-id discipline: the q44 maintained surface sees each
      // batch exactly once — 50 events of floor(12.5)=12, all on
      // 2024-02-06 (age 2 as of 2024-02-08 → weight 2^18)
      val feats = DF.featuresMaintained(spark, sf, "2024-02-08 00:00:00", 20)
        .where(col("event_type") === "stream")
        .agg(coalesce(sum("n_recent"), lit(0L)),
          coalesce(sum("score_e"), lit(0L))).head()
      assert(feats.getLong(0) === 50L,
        "decayed-feature stream maintenance must land each batch exactly once")
      assert(feats.getLong(1) === 50L * 12L * (1L << 18),
        s"decayed score must be the exact weighted mass, got ${feats.getLong(1)}")
      // the count-min grid rode the same sink: each of the 50 stream
      // events landed in exactly Depth counters, exactly once — so a
      // stream user's point estimate reads its true count (plus any
      // collision mass, which is ≥ 0 by the one-sided guarantee)
      val cmsEst = CM.pointEstimates(
        CM.mergedCountersMaintained(spark, sf, lo, hi),
        Seq(910005L).toDF("user_id")).head().getLong(1)
      assert(cmsEst >= 1L,
        "a streamed key must be visible in the maintained CMS grid")
      val gridMass = CM.mergedCountersMaintained(spark, sf, lo, hi)
        .agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
      val baseMass = CM.mergedCounters(spark, sf, lo, hi)
        .agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
      assert(gridMass === baseMass + 50L * CM.Depth,
        s"stream batches must add exactly once: $gridMass vs base $baseMass")
      // the top-k rollup rode the same sink: each stream batch is one
      // additive segment, replays absorbed by the batch=b<id>
      // overwrite — the hot streamed users' lower bounds read their
      // exact once-only counts (every user here has 1 event, kept by
      // its cell since cells hold ≤ 50 users < B)
      val hh = TK.heavyHitters(spark, sf, lo, hi, topN = 64)
        .where(col("event_type") === "stream")
      assert(hh.agg(coalesce(sum("lb"), lit(0L))).head().getLong(0) === 50L,
        "top-k stream maintenance must land each batch exactly once")
    }
  }

  test("the enrich leg parses each feed line once; parsed rows equal a plain from_json") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    val areas = TransformJob.readAreas(spark, areasCsv)
    // the leg's transforms over a file of feed lines, as a batch frame
    // (the optimizer rewrites the stream's micro-batches the same way)
    val feed = Fixture.write(s"$dir/feed_once.json", Fixture.kafkaJsonLines.mkString("\n"))
    val enriched = StreamingJob.enrich(StreamingJob.narrow(StreamingJob.clean(
      StreamingJob.parse(spark.read.text(feed)))), areas)
    assert(enriched.count() === 1L)
    val parses = enriched.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum
    // the joins' inferred isnotnull(area) filters must stay above the
    // parse, not copy from_json into a Filter below it
    assert(parses === 1, s"from_json evaluated $parses times:\n" +
      enriched.queryExecution.optimizedPlan)
    // malformed, truncated and null lines parse exactly as the
    // flattened from_json struct does
    val lines = (Fixture.kafkaJsonLines ++ Seq("not json", """{"trip_id":"t9",""", null))
      .toDF("value")
    val plain = lines.select(from_json($"value", graft.taxi.Schemas.kafkaJsonTrips,
      Map("timestampFormat" -> graft.taxi.Schemas.TripTimestampFormat)).as("p"))
      .select($"p.*")
    val parsed = StreamingJob.parse(lines)
    assert(parsed.schema === plain.schema)
    assert(parsed.collect().map(_.toString).toSeq.sorted ===
      plain.collect().map(_.toString).toSeq.sorted)
    assert(parsed.count() === 5L)
  }
}
