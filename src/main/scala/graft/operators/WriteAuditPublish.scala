package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WRITE-AUDIT-PUBLISH — the ingestion gate every table format
  * recommends (Iceberg's WAP / Delta's staged-commit pattern, the
  * public idea): a batch lands in a STAGING area outside the table,
  * the data-quality suite ([[ConstraintCheck]]) audits it there, and
  * only a passing batch is PUBLISHED into the versioned layout
  * (a [[MinMaxManifest]] table commit). A failing batch
  * never becomes visible to any reader — including time travel —
  * and leaves a rejection record instead of rows.
  *
  * Why the gate holds: a batch becomes visible only by landing in a
  * commit of the layout, and an unaudited batch is never part of a
  * commit — it is staged outside the layout and only a passing audit
  * hands it to the append. Quarantine is physical separation, not a
  * flag.
  *
  * Publish here re-drives [[MinMaxManifest.appendBatch]] over the
  * audited staged rows — one O(batch) copy that buys the append
  * path's commit discipline (the batch lands in one commit or not at
  * all). A production format publishes the staged FILES by metadata
  * swap instead; the flow and its guarantees are the same.
  *
  * Crash story: staging is overwrite-mode and recorded nowhere, so a
  * crash before the publish decision leaves only an orphan staging
  * dir — [[recover]] discards it (the [[DeletionVectors]] rule: the
  * live table never stopped being authoritative). A crash during
  * publish is decided by the publish intent (see [[intentPath]]). */
object WriteAuditPublish {

  val Table = "events_wap"

  private def artifact(dir: String, leaf: String): String =
    s"${IndexStore.root}/${IndexStore.fingerprint(dir, "events")}/$leaf"
  def stagingPath(dir: String): String = artifact(dir, s"${Table}_staging")
  def auditLogPath(dir: String): String = artifact(dir, s"${Table}_audit_log")

  /** The publish INTENT journal — written after a PASSING audit and
    * before the data append, carrying the table's pre-publish committed
    * max snapshot id. A crash inside the publish window is then
    * decidable on recovery: a larger committed max ⇒ the append's
    * commit landed (finish the bookkeeping); no larger max ⇒ it didn't
    * (redo the append from the retained staging). Without this journal
    * a crash between the data append and the cleanup made the rerun
    * re-publish the batch — permanent duplicate rows (review catch). */
  private def intentPath(dir: String): String =
    artifact(dir, s"${Table}_publish_intent")

  private def ready(p: String): Boolean = IndexStore.artifactReady(p)

  private def maxSnap(s: SparkSession, dir: String): Long =
    MinMaxManifest.entries(s, dir, Table).map(_.snap).maxOption.getOrElse(0L)

  private def logVerdict(s: SparkSession, dir: String,
      rows: Seq[(String, String, Double, Long)], batchTag: String,
      published: Boolean): DataFrame = {
    import s.implicits._
    val verdict = s.createDataset(rows.toIndexedSeq.map(r =>
        (r._1, r._2, r._3, r._4, batchTag, if (published) 1L else 0L)))
      .toDF("check", "col", "metric", "passed", "batch", "published")
    verdict.coalesce(1).write.mode("append").parquet(auditLogPath(dir))
    verdict
  }

  /** Complete or discard an interrupted flow. No intent ⇒ any
    * staging is a pre-decision orphan, discarded (the live table
    * never stopped being authoritative). Intent present ⇒ finish the
    * publish it records, one way or the other (see [[intentPath]]). */
  def recover(s: SparkSession, dir: String): Unit = {
    val intent = intentPath(dir)
    if (!ready(intent)) {
      IndexStore.removeArtifact(stagingPath(dir))
      return
    }
    val rec = s.read.parquet(intent).head()
    val tag = rec.getString(0)
    val landed = maxSnap(s, dir) > rec.getLong(1)
    if (!landed && ready(stagingPath(dir)))
      MinMaxManifest.appendBatch(s, dir,
        s.read.parquet(stagingPath(dir)), table = Table)
    logVerdict(s, dir,
      Seq(("recovered_publish", "-", 1.0, 1L)), tag, published = true)
    IndexStore.removeArtifact(intent)
    IndexStore.removeArtifact(stagingPath(dir))
  }

  /** Whether the WAP table's base layout exists (the registered
    * query's build guard — readiness rules are package-private). */
  def tableReady(dir: String): Boolean = MinMaxManifest.built(dir, Table)

  /** Stage → audit → publish-or-reject. Returns the audit report
    * with a `published` verdict column; the report is also appended
    * to the audit log (one tiny file per batch — the ops trail).
    * `onIntentForTest` is the spec's crash-injection seam. */
  def stageAndPublish(s: SparkSession, dir: String, batch: DataFrame,
      suite: Seq[ConstraintCheck.Constraint], batchTag: String,
      onIntentForTest: () => Unit = () => ()): DataFrame = {
    recover(s, dir)
    val stage = stagingPath(dir)
    batch.write.mode("overwrite").parquet(stage)
    val staged = s.read.parquet(stage)
    // the report is MATERIALIZED before staging is dropped — the
    // lazy report plan reads the staged files, and re-executing it
    // after the cleanup below would read deleted paths
    val rows = ConstraintCheck.run(staged, suite).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toIndexedSeq
    val pass = rows.forall(_._4 == 1L)
    if (pass) {
      import s.implicits._
      Seq((batchTag, maxSnap(s, dir))).toDF("batch", "max_snap")
        .coalesce(1).write.mode("overwrite").parquet(intentPath(dir))
      onIntentForTest()
      MinMaxManifest.appendBatch(s, dir, staged, table = Table)
    }
    val verdict = logVerdict(s, dir, rows, batchTag, pass)
    IndexStore.removeArtifact(intentPath(dir))
    IndexStore.removeArtifact(stage)
    verdict
  }
}
