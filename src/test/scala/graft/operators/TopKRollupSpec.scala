package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The heavy-hitter rollup contract: range-merged bounds SANDWICH the
  * exact per-user truth (lb ≤ true ≤ ub, exact when a cell keeps
  * everyone), stay sound when appends split a day across segments
  * (only widening), the build rank is WindowGroupLimit-bounded, and
  * range serves never scan the raw table. */
class TopKRollupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(d: String, i: Int) =
    java.sql.Timestamp.valueOf(f"$d ${i % 24}%02d:${i % 60}%02d:00")

  /** 3 days × 100 users: user 1 is the hot key (60/day), users
    * 2..100 carry (u % 5 + 1) events/day — cells hold 100 users,
    * well past B = 64, so tails are positive and truncation real. */
  private def fixture: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)] =
    for {
      (day, d) <- Seq("2024-03-01", "2024-03-02", "2024-03-03").zipWithIndex
      u <- 1L to 100L
      n = if (u == 1L) 60 else (u % 5 + 1).toInt
      i <- 0 until n
    } yield ((d * 100000 + u * 100 + i).toLong, ts(day, i), u, "click", 1.0, "{}")

  private def writeEvents(dir: String,
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private val (lo, hi) = ("2024-03-01 00:00:00", "2024-03-04 00:00:00")

  private def truth(dir: String): Map[(String, Long), Long] =
    graft.Tables(spark, dir, "events")
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("range bounds sandwich the exact truth; the hot user is exact and first") {
    withIndexRoot("graft-topk") {
      val dir = tmpDir("graft-topk-data")
      writeEvents(dir, fixture)
      val exact = truth(dir)
      val hh = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(hh.nonEmpty)
      hh.foreach { case (t, u, lb, ub) =>
        val tru = exact((t, u))
        assert(lb <= tru && tru <= ub,
          s"bounds must sandwich truth for user $u: lb=$lb true=$tru ub=$ub")
      }
      // the hot user is kept by every cell -> lb is exact, and ranks first
      val first = hh.minBy { case (_, _, lb, _) => -lb }
      assert(first._2 === 1L && first._3 === exact(("click", 1L)),
        s"the hot user must rank first with an exact lower bound: $first")
    }
  }

  test("segmented appends keep bounds sound (they only widen)") {
    withIndexRoot("graft-topk-seg") {
      // the SAME corpus built two ways: whole (one segment) vs split
      // mid-day across ensure + appendBatch (two segments)
      val all = fixture
      val dirWhole = tmpDir("graft-topk-whole")
      writeEvents(dirWhole, all)
      val exact = truth(dirWhole)
      val whole = TopKRollup.heavyHitters(spark, dirWhole, lo, hi, topN = 10)
        .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap

      val dirSplit = tmpDir("graft-topk-split")
      // split EVERY user's events ~in half so per-day counts are torn
      val (p1, p2) = all.partition(_._1 % 2 == 0)
      writeEvents(dirSplit, p1)
      TopKRollup.ensure(spark, dirSplit)
      TopKRollup.appendBatch(spark, dirSplit,
        p2.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        batchId = 1L)
      val split = TopKRollup.heavyHitters(spark, dirSplit, lo, hi, topN = 10)
        .collect().map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
      split.foreach { case (k, (lb, ub)) =>
        val tru = exact(k)
        assert(lb <= tru && tru <= ub,
          s"split-segment bounds must stay sound for $k: lb=$lb true=$tru ub=$ub")
        whole.get(k).foreach { case (wlb, wub) =>
          assert(lb <= wlb && ub >= wub,
            s"segmenting may only WIDEN bounds for $k: split [$lb,$ub] whole [$wlb,$wub]")
        }
      }
    }
  }

  test("streaming leg: replayed batches never double-count; bounds stay sound with streamed segments") {
    withIndexRoot("graft-topk-stream") {
      val dir = tmpDir("graft-topk-sdata")
      val (p1, p2) = fixture.partition(_._1 % 2 == 0)
      writeEvents(dir, p1)
      TopKRollup.ensure(spark, dir)
      val batch = p2.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      TopKRollup.processStreamBatch(spark, dir, batch, batchId = 7L)
      val once = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10)
        .collect().map(_.toString).sorted.toSeq
      // exactly-once: the replayed batch overwrites its own segment
      TopKRollup.processStreamBatch(spark, dir, batch, batchId = 7L)
      val replayed = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10)
        .collect().map(_.toString).sorted.toSeq
      assert(replayed === once, "a replayed stream batch must not widen or shift bounds")
      // and the combined bounds still sandwich the full truth
      val dirWhole = tmpDir("graft-topk-struth")
      writeEvents(dirWhole, fixture)
      val exact = truth(dirWhole)
      TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10).collect()
        .foreach { r =>
          val tru = exact((r.getString(0), r.getLong(1)))
          assert(r.getLong(2) <= tru && tru <= r.getLong(3),
            s"streamed bounds must stay sound: $r true=$tru")
        }
    }
  }

  test("reEnsure collapses widened segments to the single-build bounds bit-for-bit and restores routing") {
    withIndexRoot("graft-topk-reens") {
      // the summary's own table holds the WHOLE corpus; an
      // out-of-band appendBatch then WIDENS bounds with rows the
      // table doesn't have (and kills the routing watermark)
      val dir = tmpDir("graft-topk-rdata")
      writeEvents(dir, fixture)
      TopKRollup.ensure(spark, dir)
      val single = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10)
        .collect().map(_.toString).sorted.toSeq
      assert(TopKRollup.routable(dir).isDefined, "a fresh ensure must be routable")
      val extra = fixture.take(200)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      TopKRollup.appendBatch(spark, dir, extra, batchId = 3L)
      TopKRollup.processStreamBatch(spark, dir, extra, batchId = 1L)
      assert(TopKRollup.routable(dir).isEmpty,
        "appends and stream segments must veto routing fail-closed")
      val widened = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10)
        .collect().map(_.toString).sorted.toSeq
      assert(widened !== single, "the widening fixture must actually widen")
      // the repair: one segment again, bit-for-bit the single build
      TopKRollup.reEnsure(spark, dir)
      val repaired = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10)
        .collect().map(_.toString).sorted.toSeq
      assert(repaired === single,
        "reEnsure must re-tighten to the single-build bounds bit-for-bit")
      assert(TopKRollup.routable(dir).isDefined, "reEnsure must restore routing")
    }
  }

  test("CDC deletes repair by rebuild: post-delete reEnsure serves the recomputed truth") {
    withIndexRoot("graft-topk-del") {
      val dir = tmpDir("graft-topk-ddata")
      writeEvents(dir, fixture)
      TopKRollup.ensure(spark, dir)
      // GDPR-style delete: user 1 (the hot key) leaves the corpus;
      // the raw table is rewritten, reEnsure rebuilds the summary
      writeEvents(dir, fixture.filterNot(_._3 == 1L))
      TopKRollup.reEnsure(spark, dir)
      val exact = truth(dir)
      val hh = TopKRollup.heavyHitters(spark, dir, lo, hi, topN = 10).collect()
      assert(!hh.exists(_.getLong(1) == 1L),
        "a truncated top is not subtractable — the rebuild must serve the post-delete truth")
      hh.foreach { r =>
        val tru = exact((r.getString(0), r.getLong(1)))
        assert(r.getLong(2) <= tru && tru <= r.getLong(3),
          s"post-delete bounds must sandwich the recomputed truth: $r true=$tru")
      }
    }
  }

  test("appendBatch segment ids are positive by construction (stream ids are negative)") {
    withIndexRoot("graft-topk-ids") {
      val dir = tmpDir("graft-topk-idata")
      writeEvents(dir, fixture)
      TopKRollup.ensure(spark, dir)
      val batch = fixture.take(10)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      intercept[IllegalArgumentException] {
        TopKRollup.appendBatch(spark, dir, batch, batchId = 0L)
      }
      // a negative id would land in the streaming leg's segment space
      // and could silently dedupe a colliding tail ceiling
      intercept[IllegalArgumentException] {
        TopKRollup.appendBatch(spark, dir, batch, batchId = -3L)
      }
    }
  }

  test("exactTopK serves only what the bounds prove: the separated head, never a tied cut") {
    withIndexRoot("graft-topk-exact") {
      val dir = tmpDir("graft-topk-edata")
      writeEvents(dir, fixture)
      TopKRollup.ensure(spark, dir)
      val loM = MinMaxManifest.utc(lo).getTime * 1000L
      val hiM = MinMaxManifest.utc(hi).getTime * 1000L
      // k=1: the hot user is kept by every cell (exact) and its count
      // dwarfs every other ub and the total tail -> provable
      val one = TopKRollup.exactTopK(spark, dir, loM, hiM, 1)
      assert(one === Some(Seq((1L, 180L))),
        s"the separated hot user must serve exactly: $one")
      // k=10 cuts inside a tie plateau (the ~20 users at count 15):
      // an excluded candidate's ub equals the kth count -> veto
      assert(TopKRollup.exactTopK(spark, dir, loM, hiM, 10).isEmpty,
        "a tied cut is unprovable and must veto")
      // a widened summary vetoes everything
      TopKRollup.appendBatch(spark, dir, fixture.take(10)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        batchId = 2L)
      assert(TopKRollup.exactTopK(spark, dir, loM, hiM, 1).isEmpty,
        "a widened summary must veto exact serving")
    }
  }

  test("exactTopK degenerate-exact: cells that keep everyone serve any k, matching the raw aggregate") {
    withIndexRoot("graft-topk-deg") {
      val dir = tmpDir("graft-topk-gdata")
      // 10 users -> every cell keeps everyone, total tail 0
      writeEvents(dir, fixture.filter(_._3 <= 10L))
      TopKRollup.ensure(spark, dir)
      val loM = MinMaxManifest.utc(lo).getTime * 1000L
      val hiM = MinMaxManifest.utc(hi).getTime * 1000L
      val raw = graft.Tables(spark, dir, "events")
        .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"user_id").limit(7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(TopKRollup.exactTopK(spark, dir, loM, hiM, 7) === Some(raw),
        "tail-0 ranges are exact for any k")
      // k beyond the user count serves the complete exact list
      assert(TopKRollup.exactTopK(spark, dir, loM, hiM, 99).map(_.size) === Some(10))
    }
  }

  test("build rank is WindowGroupLimit-bounded; range serves scan only the summary") {
    withIndexRoot("graft-topk-plan") {
      val dir = tmpDir("graft-topk-pdata")
      writeEvents(dir, fixture)
      TopKRollup.ensure(spark, dir)
      val hh = TopKRollup.heavyHitters(spark, dir, lo, hi)
      val paths = hh.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
      assert(paths.nonEmpty && paths.forall(_.contains("topk_daily")),
        s"range serves must read only the summary table: $paths")
      // the build's rank is group-limited (rn <= B+1 filter pushes a
      // per-group heap into the window), never a full-cell sort spill
      val sm = TopKRollup.summarize(graft.Tables(spark, dir, "events"), 0L)
      sm.collect()
      val p = sm.queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"the build rank must be WindowGroupLimit-bounded:\n$p")
    }
  }
}
