package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The side legs of the daily rollups ([[DailyRollup.stream]],
  * [[DailyRollup.retract]]), checked family by family over one events
  * table: a replayed stream batch id overwrites itself and a new id
  * adds; sequential CDC tags accumulate and a replayed tag overwrites
  * itself; and a side batch torn mid-write (its `batch=` dir without
  * `_SUCCESS`) adds nothing to the maintained read. Each family's
  * maintained read is reduced to one row mass, which must equal
  * `perRow` times the rows it covers. */
class DailyRollupSpec extends SparkSpec {
  import spark.implicits._

  private val (lo, hi) = ("2024-03-01 00:00:00", "2024-03-04 00:00:00")
  private val (asOf, horizon) = ("2024-03-10 00:00:00", 20)

  private def massOf(df: DataFrame, c: String): Long =
    df.agg(coalesce(sum(col(c)), lit(0L))).head().getLong(0)

  /** One family's side legs: its rollup, its stream face and the row
    * mass of its stream-maintained read, its CDC face and the row mass
    * of its delete-maintained read (None where its algebra has no CDC
    * leg), and how much mass one event carries. */
  private case class Family(name: String, rollup: DailyRollup,
      stream: ((String, DataFrame, Long) => Unit, String => Long),
      cdc: Option[((String, DataFrame, String) => Unit, String => Long)],
      perRow: Long = 1L)

  private val families = Seq(
    Family("histogram rollup", HistogramRollup.rollup,
      (HistogramRollup.processStreamBatch(spark, _, _, _),
        d => massOf(HistogramRollup.mergedBinsWithStream(spark, d, lo, hi), "cnt")),
      Some((HistogramRollup.applyDeletes(spark, _, _, _),
        d => massOf(HistogramRollup.mergedBinsWithDeltas(spark, d, lo, hi), "cnt")))),
    Family("cms rollup", CmsRollup.rollup,
      (CmsRollup.processStreamBatch(spark, _, _, _),
        d => massOf(CmsRollup.mergedCountersMaintained(spark, d, lo, hi), "c")),
      Some((CmsRollup.applyDeletes(spark, _, _, _),
        d => massOf(CmsRollup.mergedCountersWithDeltas(spark, d, lo, hi), "c"))),
      perRow = CmsRollup.Depth.toLong),
    Family("decayed-feature rollup", DecayedFeatures.rollup,
      (DecayedFeatures.processStreamBatch(spark, _, _, _), featureMass),
      Some((DecayedFeatures.applyDeletes(spark, _, _, _), featureMass))),
    Family("top-k rollup", TopKRollup.rollup,
      (TopKRollup.processStreamBatch(spark, _, _, _),
        d => massOf(TopKRollup.heavyHitters(spark, d, lo, hi, topN = 1000), "lb")),
      None))

  private def featureMass(dir: String): Long =
    massOf(DecayedFeatures.featuresMaintained(spark, dir, asOf, horizon), "n_recent")

  /** 600 events over three days, 17 users, three types — every cell
    * small enough that the top-k summary keeps every user. */
  private def events: DataFrame =
    (0L until 600L).map { i =>
      (i, java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 3} ${10 + i % 12}:00:00"),
        i % 17, Seq("view", "click", "buy")((i % 3).toInt), (i % 23).toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  /** `n` new events of fresh users on a day inside every window. */
  private def batch(n: Int, base: Long): DataFrame =
    (0 until n).map { i =>
      (base + i, java.sql.Timestamp.valueOf("2024-03-02 08:00:00"),
        base + i, "view", 7.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  /** Remove a side batch's `_SUCCESS`: the state a crash mid-write
    * leaves. */
  private def tear(f: Family, dir: String, side: DailyRollup.Side,
      tag: String): Unit =
    assert(new java.io.File(s"${f.rollup.sidePath(dir, side)}/batch=$tag/_SUCCESS")
      .delete(), s"no committed batch=$tag to tear")

  private def withEvents(body: String => Unit): Unit =
    withIndexRoot("graft-side-batches") {
      val dir = tmpDir("graft-side-batches-data")
      events.write.mode("overwrite").parquet(s"$dir/events.parquet")
      body(dir)
    }

  families.foreach { f =>
    val (stream, streamed) = f.stream
    test(s"${f.name}: a replayed stream batch overwrites itself, a new id adds, a torn batch adds nothing") {
      withEvents { dir =>
        val base = streamed(dir)
        assert(base === f.perRow * 600L)
        stream(dir, batch(30, 10000L), 1L)
        assert(streamed(dir) === base + f.perRow * 30L, "batch 1 lands once")
        stream(dir, batch(30, 10000L), 1L)
        assert(streamed(dir) === base + f.perRow * 30L,
          "a replayed batch id must overwrite itself, never double-count")
        stream(dir, batch(20, 20000L), 2L)
        assert(streamed(dir) === base + f.perRow * 50L, "a new batch id adds")
        stream(dir, batch(40, 30000L), 3L)
        tear(f, dir, DailyRollup.Stream, "b3")
        assert(streamed(dir) === base + f.perRow * 50L,
          "a torn stream batch must add nothing")
      }
    }
    f.cdc.foreach { case (retract, retracted) =>
      test(s"${f.name}: sequential CDC tags accumulate, a replayed tag overwrites itself, a torn tag adds nothing") {
        withEvents { dir =>
          val ev = graft.Tables(spark, dir, "events")
          def rows(m: Long) = ev.where(col("event_id") % 10 === m)
          assert(retracted(dir) === f.perRow * 600L)
          retract(dir, rows(0L), "t1")
          assert(retracted(dir) === f.perRow * 540L, "tag t1 retracts its rows")
          retract(dir, rows(0L), "t1")
          assert(retracted(dir) === f.perRow * 540L,
            "a replayed tag must overwrite itself")
          retract(dir, rows(1L), "t2")
          assert(retracted(dir) === f.perRow * 480L,
            "sequential tags must both stay retracted")
          retract(dir, rows(2L), "t3")
          tear(f, dir, DailyRollup.Cdc, "t3")
          assert(retracted(dir) === f.perRow * 480L,
            "a torn delete batch must retract nothing")
        }
      }
    }
  }
}
