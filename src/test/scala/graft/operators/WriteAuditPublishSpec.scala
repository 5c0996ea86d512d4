package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The WAP gate contract: passing batches publish as the next
  * snapshot, failing batches never become visible anywhere (latest
  * read, time travel, manifest), the audit log records both
  * verdicts, and an orphan staging dir is discarded on recover. */
class WriteAuditPublishSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val W = WriteAuditPublish
  private val M = MinMaxManifest
  private val CC = ConstraintCheck

  private val suite = Seq(
    CC.Constraint("complete", "user_id", CC.completeness("user_id"), _ >= 1.0))

  private def ev = graft.Tables(spark, sf, "events")
  private def b1 = M.utc("2024-01-11 00:00:00")
  private def b2 = M.utc("2024-01-21 00:00:00")

  private def setupBase(): Unit =
    M.ensureFrom(spark, sf, ev.where(col("ts") < lit(b1)), W.Table)

  /** The published table's committed row count. */
  private def published(): Long = M.scan(spark, sf, W.Table).count()

  test("a clean batch publishes; a dirty batch is rejected and invisible") {
    withIndexRoot("graft-wap-spec") {
      setupBase()
      val baseCount = published()
      val good = ev.where(col("ts") >= lit(b1) && col("ts") < lit(b2))
      val r1 = W.stageAndPublish(spark, sf, good, suite, "good").head()
      assert(r1.getAs[Long]("published") === 1L, "clean batch must publish")
      val afterGood = published()
      assert(afterGood === baseCount + good.count())
      val bad = ev.where(col("ts") >= lit(b2))
        .withColumn("user_id",
          when(col("event_id") % 2 === 0, lit(null)).otherwise(col("user_id")))
      val r2 = W.stageAndPublish(spark, sf, bad, suite, "bad").head()
      assert(r2.getAs[Long]("published") === 0L, "dirty batch must be rejected")
      // invisible to the latest read...
      assert(published() === afterGood)
      // ...to the manifest...
      assert(M.entries(spark, sf, W.Table).map(_.rows).sum === afterGood)
      // ...and to time travel at EVERY snapshot
      val maxSnap = M.entries(spark, sf, W.Table).map(_.snap).max
      assert(maxSnap === 1L, "rejection must not mint a snapshot")
      val (asOf1, _, _) = M.asOfEvents(spark, sf, 1L,
        "1970-01-01 00:00:00", "2200-01-01 00:00:00", W.Table)
      assert(asOf1.where(col("user_id").isNull).count() === 0L)
      // staging cleaned either way
      assert(!IndexStore.artifactReady(W.stagingPath(sf)))
      // the audit log carries both verdicts
      val log = spark.read.parquet(W.auditLogPath(sf))
        .select("batch", "published").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(log === Map("good" -> 1L, "bad" -> 0L))
    }
  }

  test("an orphan staging dir (crash before the decision) is discarded by recover") {
    withIndexRoot("graft-wap-spec") {
      setupBase()
      ev.limit(5).write.mode("overwrite").parquet(W.stagingPath(sf))
      W.recover(spark, sf)
      val (fs, p) = IndexStore.fsOf(W.stagingPath(sf))
      assert(!fs.exists(p))
      // and the table is untouched
      assert(published() === ev.where(col("ts") < lit(b1)).count())
    }
  }

  test("crash after the intent, before the data append: recovery publishes ONCE") {
    withIndexRoot("graft-wap-spec") {
      setupBase()
      val good = ev.where(col("ts") >= lit(b1) && col("ts") < lit(b2))
      val boom = intercept[RuntimeException] {
        W.stageAndPublish(spark, sf, good, suite, "g1",
          onIntentForTest = () => throw new RuntimeException("crash"))
      }
      assert(boom.getMessage === "crash")
      W.recover(spark, sf)
      val base = ev.where(col("ts") < lit(b1)).count()
      assert(published() === base + good.count(),
        "recovery must complete the publish exactly once")
      // and a SECOND recovery (or the next flow's entry recover) is a no-op
      W.recover(spark, sf)
      assert(published() === base + good.count(), "recovery must be idempotent")
    }
  }

  test("crash after the data landed, before cleanup: recovery does NOT re-publish") {
    withIndexRoot("graft-wap-spec") {
      setupBase()
      val good = ev.where(col("ts") >= lit(b1) && col("ts") < lit(b2))
      W.stageAndPublish(spark, sf, good, suite, "g2")
      val landed = published()
      // reconstruct the crash state: intent (with the PRE-publish
      // committed max snapshot id) and staging both still present
      Seq(("g2", 0L)).toDF("batch", "max_snap")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${IndexStore.root}/${graft.operators.IndexStore.fingerprint(sf, "events")}/${W.Table}_publish_intent")
      good.write.mode("overwrite").parquet(W.stagingPath(sf))
      W.recover(spark, sf)
      assert(published() === landed,
        "recovery must detect the landed publish and not duplicate it")
    }
  }

  test("q38 entered over a crashed publish recovers first — no duplicate batch") {
    // the r7 advice's medium finding: the registered query read
    // maxSnap BEFORE any recovery, so a crash between the publish
    // intent and the data append left maxSnap = 0 — the guard then
    // re-drove the batches, whose entry recover() completed the
    // pending publish AND published the same batch again. q38 now
    // recovers explicitly before reading the snapshot id; the clean
    // and crashed-then-recovered flows must agree row for row.
    val q38 = graft.QueryRegistry.asMap("q38_write_audit_publish")
    val clean = withIndexRoot("graft-wap-q38-clean") {
      q38(spark, sf).collect().map(_.toString).toSeq
    }
    val crashed = withIndexRoot("graft-wap-q38-crash") {
      setupBase()
      val good = ev.where(col("ts") >= lit(b1) && col("ts") < lit(b2))
      intercept[RuntimeException] {
        W.stageAndPublish(spark, sf, good, suite, "good",
          onIntentForTest = () => throw new RuntimeException("crash"))
      }
      q38(spark, sf).collect().map(_.toString).toSeq
    }
    assert(crashed === clean,
      "q38 over a crashed publish must equal the clean flow — no duplicates")
  }
}
