package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming rolling z-score (q27's streaming twin): windowed daily
  * aggregate → per-batch scoring against the standing history. */
class StreamingAnomalySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = tmpDir(p)
  private def d(s: String) = java.sql.Date.valueOf(s)

  test("scoreBatch: spike flagged, steady day not, thin history abstains") {
    val history = (1 to 7).map(i => ("k", d(f"2024-03-0$i"), 100.0))
      .toDF("key", "day", "dv")
    val batch = Seq(
      ("k", d("2024-03-08"), 100.0),  // steady → no flag
      ("nohist", d("2024-03-08"), 9999.0)) // no history → abstain
      .toDF("key", "day", "dv")
    val out = StreamingAnomaly.scoreBatch(batch, history)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("flag")).toMap
    assert(out("k") === false)
    assert(out("nohist") === false, "no-history keys must not alert")

    val spike = Seq(("k", d("2024-03-08"), 175.0)).toDF("key", "day", "dv")
    val jitteredHistory = (1 to 7).map(i =>
      ("k", d(f"2024-03-0$i"), 100.0 + (i % 3))).toDF("key", "day", "dv")
    val flagged = StreamingAnomaly.scoreBatch(spike, jitteredHistory)
      .where($"flag").count()
    assert(flagged === 1, "a 75% spike over jittered history must alert")
  }

  test("scoreBatch frame excludes the current day and older-than-7 days") {
    // history has an extreme value 8 days back — outside the frame —
    // and the arriving day itself is never part of its own baseline
    val history = ((1 to 7).map(i => ("k", d(f"2024-03-1$i"), 100.0 + i)) :+
      ("k", d("2024-03-10"), 1e9)).toDF("key", "day", "dv")
    val batch = Seq(("k", d("2024-03-18"), 104.0)).toDF("key", "day", "dv")
    val row = StreamingAnomaly.scoreBatch(batch, history).head()
    assert(row.getAs[Long]("n") === 7, "exactly the 7 in-frame days count")
    assert(!row.getAs[Boolean]("flag"), "a mid-range day is not anomalous")
  }

  test("a key whose history is entirely out of frame still emits an abstain row") {
    // 'k' went quiet for weeks: its history exists but none of it is
    // inside [day-7, day-1] — the day must still be scored (n=0,
    // no flag), not silently dropped from the output
    val history = (1 to 5).map(i => ("k", d(f"2024-01-0$i"), 100.0))
      .toDF("key", "day", "dv")
    val batch = Seq(("k", d("2024-03-15"), 777.0)).toDF("key", "day", "dv")
    val rows = StreamingAnomaly.scoreBatch(batch, history).collect()
    assert(rows.length === 1, "every batch row must appear in the output")
    assert(rows.head.getAs[Long]("n") === 0)
    assert(!rows.head.getAs[Boolean]("flag"))
  }

  test("catch-up batch: same-batch days score against each other") {
    // an outage backlog closes days 10..18 in ONE batch with empty
    // standing history; day 17's spike must still alert because its
    // frame is drawn from the batch's own earlier days
    val days = (10 to 18).map { i =>
      ("k", d(f"2024-03-$i"), if (i == 17) 400.0 else 100.0 + (i % 3))
    }.toDF("key", "day", "dv")
    val empty = StreamingAnomaly.readHistory(spark, tmp("anom-empty"))
    val out = StreamingAnomaly.scoreBatch(days, empty)
    assert(out.count() === 9, "every closed day is scored")
    val alerts = out.where($"flag")
      .select($"day").as[java.sql.Date].collect().toSeq
    assert(alerts === Seq(d("2024-03-17")),
      s"the in-batch spike must alert, got $alerts")
  }

  test("processBatch replay is idempotent (decisions and history)") {
    val hDir = tmp("anom-h"); val oDir = tmp("anom-o")
    val b0 = (1 to 7).map(i => ("k", d(f"2024-03-0$i"), 100.0 + (i % 3)))
      .toDF("key", "day", "dv")
    StreamingAnomaly.processBatch(b0, 0L, hDir, oDir)
    val b1 = Seq(("k", d("2024-03-08"), 180.0)).toDF("key", "day", "dv")
    StreamingAnomaly.processBatch(b1, 1L, hDir, oDir)
    val once = spark.read.parquet(oDir).collect().toSeq
      .sortBy(r => (r.getAs[java.sql.Date]("day").toString, r.getString(0)))
    StreamingAnomaly.processBatch(b1, 1L, hDir, oDir) // crash-replay
    val twice = spark.read.parquet(oDir).collect().toSeq
      .sortBy(r => (r.getAs[java.sql.Date]("day").toString, r.getString(0)))
    assert(twice === once, "replay must not change or duplicate alerts")
    val hist = StreamingAnomaly.readHistory(spark, hDir).count()
    assert(hist === 8, "history holds each day exactly once")
    // and the spike batch actually alerted
    assert(spark.read.parquet(oDir).where($"flag").count() === 1)
  }

  test("dense-series parity: calendar frame equals q27's 7-row frame") {
    // on a gapless daily series the RANGE [d-7, d-1] frame and the
    // 7-preceding-ROWS frame see identical rows — pin it
    val series = (1 to 20).map(i =>
      ("k", d(f"2024-03-$i%02d"), 100.0 + 7 * (i % 5))).toDF("key", "day", "dv")
    val history = series.where($"day" < d("2024-03-20"))
    val batch = series.where($"day" === d("2024-03-20"))
    val streamed = StreamingAnomaly.scoreBatch(batch, history)
      .select($"z").as[java.lang.Double].head()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"day").rowsBetween(-7, -1)
    val batchStyle = series
      .select($"day", round(($"dv" - avg($"dv").over(w))
        / stddev_samp($"dv").over(w), 3).as("z"))
      .where($"day" === d("2024-03-20"))
      .select($"z").as[java.lang.Double].head()
    assert(streamed === batchStyle)
  }

  test("end to end: stream → daily windows → scored against history") {
    implicit val sql = spark.sqlContext
    val hDir = tmp("anom-e2e-h"); val oDir = tmp("anom-e2e-o")
    val ck = tmp("anom-e2e-ck")
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val src = mem.toDS().toDF("ts", "key", "value")
    // phase 1: 8 steady days — the watermark closes days 1..6, which
    // seed the history (scored against nothing, so no alerts)
    mem.addData((1 to 8).flatMap { i =>
      Seq((ts(f"2024-03-0$i 06:00:00"), "k", 50.0 + (i % 2)),
        (ts(f"2024-03-0$i 18:00:00"), "k", 50.0))
    }: _*)
    val q1 = StreamingAnomaly.run(src, hDir, oDir, ck)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(oDir).where($"flag").count() === 0,
      "history-seeding days must not alert")
    // phase 2: a spike day + a far-future closer; the RESTARTED query
    // (same checkpoint) closes days 7..9 and scores them against the
    // standing history — only the spike alerts
    mem.addData((ts("2024-03-09 12:00:00"), "k", 500.0),
      (ts("2024-04-01 00:00:00"), "k", 1.0))
    val q2 = StreamingAnomaly.run(src, hDir, oDir, ck)
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(oDir)
    assert(out.count() === 9, "all closed daily windows are scored")
    val alerts = out.where($"flag")
      .select($"day").as[java.sql.Date].collect().toSeq
    assert(alerts === Seq(d("2024-03-09")),
      s"exactly the spike day alerts, got $alerts")
  }
}
