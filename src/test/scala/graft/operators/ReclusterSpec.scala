package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The overlap-recluster contract: late-data overlap components are
  * rewritten range-DISJOINT (post-condition: all live files pairwise
  * disjoint) with untouched files kept by name, content is preserved
  * row-for-row, an already-disjoint layout is a zero-cost no-op, and
  * a concurrent writer aborts the rewrite losslessly. */
class ReclusterSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val T = "events_rcspec"

  private def lateDataLayout(): Unit = {
    val ev = graft.Tables(spark, sf, "events")
    val slice = $"ts" >= lit(MinMaxManifest.utc("2024-01-10 00:00:00")) &&
      $"ts" < lit(MinMaxManifest.utc("2024-01-12 00:00:00"))
    MinMaxManifest.ensureFrom(spark, sf, ev.where(!slice), T)
    MinMaxManifest.appendBatch(spark, sf, ev.where(slice),
      batchFiles = 1, table = T)
  }

  private def manifestRanges(): Seq[(java.sql.Timestamp, java.sql.Timestamp)] =
    MinMaxManifest.entries(spark, sf, T).map(e => (e.minTs, e.maxTs))
      .sortBy(_._1.getTime)

  /** The committed files (scheme-independent paths). */
  private def listNames(): Set[String] =
    MinMaxManifest.entries(spark, sf, T)
      .map(e => MinMaxManifest.pathKey(e.path)).toSet

  private def layoutRows(): Long = MinMaxManifest.scan(spark, sf, T).count()

  private def assertDisjoint(): Unit = {
    val rs = manifestRanges()
    rs.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(bMin.after(aMax),
          s"files must be pairwise range-disjoint after recluster: " +
            s"$aMax overlaps $bMin")
      case _ => ()
    }
  }

  test("late-data overlap is rewritten disjoint; content and names behave") {
    withIndexRoot("graft-recluster") {
      lateDataLayout()
      val before = listNames()
      val rowsBefore = layoutRows()
      val (_, keptBefore, _) = MinMaxManifest.prunedEvents(spark, sf,
        "2024-01-10 00:00:00", "2024-01-11 00:00:00", T)
      assert(keptBefore >= 2,
        "the late slice must overlap a base file before recluster")
      val groups = MinMaxManifest.reclusterOverlap(spark, sf, T)
      assert(groups >= 1, "at least one overlap component rewritten")
      assertDisjoint()
      // content preserved row-for-row (count + checksum)
      val layout = MinMaxManifest.scan(spark, sf, T)
      assert(layout.count() === rowsBefore)
      val ck = graft.Tables(spark, sf, "events")
        .agg(sum($"event_id")).head().getLong(0)
      assert(layout.agg(sum($"event_id")).head().getLong(0) === ck,
        "base-minus-slice plus late slice must equal the raw table")
      // untouched files stay in place: same names survive
      val after = listNames()
      assert((before & after).nonEmpty, "isolated files keep their names")
      assert(before !== after, "overlapping files were rewritten")
      // the pruned read now touches fewer files over the late window
      val (prunedAfter, keptAfter, _) = MinMaxManifest.prunedEvents(spark, sf,
        "2024-01-10 00:00:00", "2024-01-11 00:00:00", T)
      assert(keptAfter < keptBefore, s"$keptAfter !< $keptBefore")
      val truth = graft.Tables(spark, sf, "events")
        .where($"ts" >= lit(MinMaxManifest.utc("2024-01-10 00:00:00")) &&
          $"ts" < lit(MinMaxManifest.utc("2024-01-11 00:00:00"))).count()
      assert(prunedAfter.count() === truth)
      // idempotent: a second pass finds nothing and touches nothing
      assert(MinMaxManifest.reclusterOverlap(spark, sf, T) === 0)
      assert(listNames() === after)
    }
  }

  test("staging is one job however many components overlap") {
    // r12 advice #2 receipt: the rewrite is a single tagged-union
    // write — job count must NOT grow with the component count (at
    // nightly-100-TB scale, hundreds of late-data components would
    // otherwise pay per-component job-scheduling overhead)
    val ev = graft.Tables(spark, sf, "events")
    def slice(lo: String, hi: String) =
      $"ts" >= lit(MinMaxManifest.utc(lo)) && $"ts" < lit(MinMaxManifest.utc(hi))
    val jobs3 = {
      withIndexRoot("graft-recluster-3c") {
        val ss = Seq(
          slice("2024-01-06 00:00:00", "2024-01-07 00:00:00"),
          slice("2024-01-14 00:00:00", "2024-01-15 00:00:00"),
          slice("2024-01-22 00:00:00", "2024-01-23 00:00:00"))
        MinMaxManifest.ensureFrom(spark, sf,
          ev.where(!ss(0) && !ss(1) && !ss(2)), T)
        ss.foreach(c => MinMaxManifest.appendBatch(spark, sf,
          ev.where(c), batchFiles = 1, table = T))
        var comps = 0
        val j = jobsDuring { comps = MinMaxManifest.reclusterOverlap(spark, sf, T) }
        assert(comps === 3, s"expected 3 overlap components, got $comps")
        assertDisjoint()
        j
      }
    }
    val jobs1 = {
      withIndexRoot("graft-recluster-1c") {
        val s1 = slice("2024-01-14 00:00:00", "2024-01-15 00:00:00")
        MinMaxManifest.ensureFrom(spark, sf, ev.where(!s1), T)
        MinMaxManifest.appendBatch(spark, sf, ev.where(s1),
          batchFiles = 1, table = T)
        var comps = 0
        val j = jobsDuring { comps = MinMaxManifest.reclusterOverlap(spark, sf, T) }
        assert(comps === 1)
        j
      }
    }
    assert(jobs3 === jobs1,
      s"staging must be one job, not one per component: $jobs3 vs $jobs1")
  }

  test("an already-disjoint layout is a no-op") {
    withIndexRoot("graft-recluster-noop") {
      MinMaxManifest.ensureFrom(spark, sf,
        graft.Tables(spark, sf, "events"), T)
      val names = listNames()
      assert(MinMaxManifest.reclusterOverlap(spark, sf, T) === 0)
      assert(listNames() === names)
    }
  }

  test("a concurrent append aborts the recluster losslessly") {
    withIndexRoot("graft-recluster-race") {
      lateDataLayout()
      val rowsBefore = layoutRows()
      val racing = () => MinMaxManifest.appendBatch(spark, sf,
        Seq((900001L, java.sql.Timestamp.valueOf("2024-02-20 09:00:00"),
          3L, "late", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        batchFiles = 1, table = T)
      val e = intercept[IllegalStateException] {
        MinMaxManifest.reclusterOverlap(spark, sf, T, onStagedForTest = racing)
      }
      assert(e.getMessage.contains("concurrent write detected"))
      // nothing lost: old layout plus the racing batch row
      assert(layoutRows() === rowsBefore + 1)
    }
  }
}
