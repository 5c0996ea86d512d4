package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The deletion-vector contract: merge-on-read equals the raw-table
  * filter, tombstone recording is result-idempotent, a rebuilt layout
  * never un-deletes rows, and vacuum rewrites ONLY touched files in
  * one commit whose journal survives a crash at (and before) the
  * commit point — with snapshot history expired so purged rows are
  * unreachable via time travel. */
class DeletionVectorsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val DV = DeletionVectors

  private def events = graft.Tables(spark, sf, "events")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** The committed files' names. */
  private def layoutFiles(): Set[String] =
    MinMaxManifest.entries(spark, sf, DV.Table)
      .map(e => new org.apache.hadoop.fs.Path(e.path).getName).toSet

  /** The committed layout's rows. */
  private def layout = MinMaxManifest.scan(spark, sf, DV.Table)

  test("merge-on-read equals the raw-table filter for both delete kinds") {
    withIndexRoot("graft-dv-spec") {
      DV.ensure(spark, sf)
      DV.deleteKeys(spark, sf,
        events.select(col("user_id")).where(col("user_id") % 97 === 0))
      val n = DV.deleteWhere(spark, sf,
        col("event_type") === "click" && col("value") < 5.0)
      assert(n > 0, "the position-delete predicate must match something")
      val expected = events.where(
        !(col("user_id") % 97 === 0) &&
          !(col("event_type") === "click" && col("value") < 5.0))
      assert(ids(DV.readMerged(spark, sf)) === ids(expected))
    }
  }

  test("position-delete recording is result-idempotent") {
    withIndexRoot("graft-dv-spec") {
      DV.ensure(spark, sf)
      val first = DV.deleteWhere(spark, sf, col("event_type") === "error")
      val second = DV.deleteWhere(spark, sf, col("event_type") === "error")
      assert(first > 0)
      assert(second === 0L,
        "a second pass must find the rows already invisible")
      assert(ids(DV.readMerged(spark, sf)) ===
        ids(events.where(col("event_type") =!= "error")))
    }
  }

  test("vacuum rewrites only the touched files and clears tombstones") {
    withIndexRoot("graft-dv-spec") {
      DV.ensure(spark, sf)
      val before = layoutFiles()
      // a time-localized delete touches 1-2 of the 16 time-clustered
      // files — the bounded-rewrite claim needs a bounded predicate
      val n = DV.deleteWhere(spark, sf,
        col("ts") >= lit(MinMaxManifest.utc("2024-01-05 00:00:00")) &&
          col("ts") < lit(MinMaxManifest.utc("2024-01-06 00:00:00")))
      assert(n > 0)
      val stats = DV.vacuum(spark, sf)
      assert(stats.rowsRemoved === n)
      assert(stats.touchedFiles <= 2,
        s"a one-day delete over a 16-file month must touch ≤2 files, " +
          s"got ${stats.touchedFiles}")
      val after = layoutFiles()
      val untouchedSurvivors = before.intersect(after)
      assert(untouchedSurvivors.size >= before.size - stats.touchedFiles,
        "vacuum must not rewrite untouched files")
      // tombstones consumed
      assert(!IndexStore.artifactReady(DV.posDeletesPath(sf)))
      assert(!IndexStore.artifactReady(DV.eqDeletesPath(sf)))
      // and the physical table now IS the merged view
      val expected = events.where(
        !(col("ts") >= lit(MinMaxManifest.utc("2024-01-05 00:00:00")) &&
          col("ts") < lit(MinMaxManifest.utc("2024-01-06 00:00:00"))))
      assert(ids(layout) === ids(expected))
      assert(ids(DV.readMerged(spark, sf)) === ids(expected))
    }
  }

  test("a crash at the commit point is redone to completion on recover") {
    withIndexRoot("graft-dv-spec") {
      DV.ensure(spark, sf)
      DV.deleteKeys(spark, sf,
        events.select(col("user_id")).where(col("user_id") === 3))
      val boom = intercept[RuntimeException] {
        DV.vacuum(spark, sf,
          onJournaledForTest = () => throw new RuntimeException("crash"))
      }
      assert(boom.getMessage === "crash")
      // the rewrite's stamp is the commit point: recovery (run by any
      // entry point) must complete the same vacuum — the landed commit
      // already replaced the olds; tombstones cleared, journal gone
      val expected = events.where(col("user_id") =!= 3)
      assert(ids(DV.readMerged(spark, sf)) === ids(expected))
      assert(ids(layout) === ids(expected),
        "redo must have materialized the delete into the layout")
      assert(!IndexStore.artifactReady(DV.posDeletesPath(sf)))
      assert(!IndexStore.artifactReady(DV.eqDeletesPath(sf)))
    }
  }

  test("a crash before the commit point drops the journal; tombstones stay authoritative") {
    withIndexRoot("graft-dv-spec") {
      import spark.implicits._
      DV.ensure(spark, sf)
      DV.deleteKeys(spark, sf,
        events.select(col("user_id")).where(col("user_id") === 5))
      // the state a vacuum that died before its stamp leaves: the
      // journal names files the layout still commits
      val journal = s"${IndexStore.root}/${IndexStore.fingerprint(sf, "events")}/" +
        s"${DV.Table}_vacuum_journal"
      MinMaxManifest.entries(spark, sf, DV.Table).take(2).map(_.path)
        .toDF("old_path").coalesce(1).write.parquet(journal)
      DV.recover(spark, sf)
      assert(!IndexStore.artifactReady(journal), "recover must drop the journal")
      assert(DV.eqDeletesRecorded(sf), "the tombstones of an unlanded vacuum stay")
      assert(ids(DV.readMerged(spark, sf)) ===
        ids(events.where(col("user_id") =!= 5)))
    }
  }

  test("a rebuilt layout never un-deletes rows: q32 re-records its tombstones") {
    withIndexRoot("graft-dv-rebuild") {
      val q32 = graft.QueryRegistry.asMap("q32_deletion_vectors")
      def run() = q32(spark, sf).collect().map(_.toString).toSeq
      val first = run()
      // lose the layout (its position tombstones keep naming its files)
      Seq(MinMaxManifest.manifestPath(sf, DV.Table), DV.layoutPath(sf))
        .foreach(IndexStore.removeArtifact)
      assert(run() === first,
        "a rebuilt layout must not resurrect position-deleted rows")
      assert(ids(DV.readMerged(spark, sf)) === ids(events.where(
        !(col("user_id") % 97 === 0) &&
          !(col("event_type") === "click" && col("value") < 5.0))))
    }
  }

  test("vacuum expires snapshot history — purged rows unreachable via time travel") {
    withIndexRoot("graft-dv-spec") {
      DV.ensure(spark, sf)
      DV.deleteKeys(spark, sf,
        events.select(col("user_id")).where(col("user_id") === 7))
      DV.vacuum(spark, sf)
      val (asOf0, _, _) = MinMaxManifest.asOfEvents(spark, sf, 0L,
        "1970-01-01 00:00:00", "2200-01-01 00:00:00", DV.Table)
      assert(asOf0.where(col("user_id") === 7).count() === 0L,
        "snapshot 0 after vacuum must be the purged state")
      val maxSnap = MinMaxManifest.entries(spark, sf, DV.Table).map(_.snap).max
      assert(maxSnap === 0L, "history must restart at the purged snapshot")
    }
  }

  test("stats-pruned reads over the vacuumed layout stay exact") {
    withIndexRoot("graft-dv-spec") {
      DV.ensure(spark, sf)
      DV.deleteWhere(spark, sf, col("event_type") === "view")
      DV.vacuum(spark, sf)
      val (lo, hi) = ("2024-01-10 00:00:00", "2024-01-13 00:00:00")
      // the vacuum's commit names the replacement files with their
      // own stats
      val (pruned, kept, total) =
        MinMaxManifest.prunedEvents(spark, sf, lo, hi, DV.Table)
      assert(kept < total, "pruning must still skip files after vacuum")
      val expected = events.where(col("event_type") =!= "view" &&
        col("ts") >= lit(MinMaxManifest.utc(lo)) &&
        col("ts") < lit(MinMaxManifest.utc(hi)))
      assert(ids(pruned) === ids(expected))
    }
  }
}
