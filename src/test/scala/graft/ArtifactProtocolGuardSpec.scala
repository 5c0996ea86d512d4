package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one artifact protocol, guarded at the source: every rebuildable
  * artifact commits and reads through [[graft.operators.EnsureWatermark]]'s
  * stamp, so no file under `src/main/scala` may decide readiness by a
  * `_SUCCESS` marker or publish by an in-place `mode("overwrite")`
  * write, except where listed below with the reason. A new publisher
  * that bypasses the stamp fails here instead of quietly serving a
  * half-written or deleted artifact to a concurrent reader. */
class ArtifactProtocolGuardSpec extends AnyFunSuite {

  /** The crash-recovery journals of table mutations — records of an
    * in-flight mutation, not rebuildable artifacts. */
  private val Journals = Set(
    "graft/operators/WriteAuditPublish.scala",
    "graft/operators/DeletionVectors.scala")

  /** Files whose `mode("overwrite")` writes are not artifact
    * publishes, with the reason. */
  private val OverwriteAllowed: Map[String, String] = Map(
    "graft/Bench.scala" -> "main: the noop sink",
    "graft/Verify.scala" -> "main: the per-query result dumps",
    "graft/tools/StageProfile.scala" -> "tool: the noop sink",
    "graft/tools/ScaleUp.scala" -> "tool: the scaled replica's tables",
    "graft/taxi/Sinks.scala" -> "sink: the paper's view sinks",
    "graft/taxi/AreasMasterJob.scala" -> "main: the paper's areas master table",
    "graft/operators/WriteAuditPublish.scala" -> "journal: a mutation's staging",
    "graft/operators/DeletionVectors.scala" -> "journal: a mutation's delete files",
    "graft/operators/AnnDeletes.scala" -> "batch partial: one tombstone batch per tag",
    "graft/operators/DailyRollup.scala" -> "batch partial: one stream or CDC batch per id",
    "graft/operators/EntityIndex.scala" -> "batch partials: stream batches and purge tombstones",
    "graft/streaming/BatchTables.scala" -> "batch partial: one micro-batch partition per id",
    "graft/streaming/MaintainedIngest.scala" -> "live table: a micro-batch partition",
    "graft/operators/StatsMaintain.scala" -> "live table: the q80 fixture's base before its append",
    "graft/operators/Bucketing.scala" -> "live table: a bucketed catalog table",
    "graft/operators/ConnectedComponents.scala" -> "scratch: the caller's per-iteration checkpoints")

  /** Every main source file: (path relative to `src/main/scala`, text). */
  private lazy val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala").toAbsolutePath
    assert(java.nio.file.Files.isDirectory(root), s"no main sources at $root")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => root.relativize(p).toString.replace('\\', '/') ->
          java.nio.file.Files.readString(p))
    } finally walk.close()
  }

  test("IndexStore.artifactReady is called only by the two mutation journals") {
    val callers = sources.collect {
      case (f, text) if text.replace("def artifactReady(", "").contains("artifactReady(") => f
    }
    assert(callers.toSet.subsetOf(Journals),
      s"a `_SUCCESS` readiness read outside the journals: ${callers.filterNot(Journals)}")
  }

  test("mode(\"overwrite\") appears only in sinks, mains, tools, journals, live tables and batch partials") {
    val writers = sources.collect {
      case (f, text) if text.contains("mode(\"overwrite\")") => f
    }
    val bypass = writers.filterNot(OverwriteAllowed.contains)
    assert(bypass.isEmpty,
      s"an in-place overwrite outside the allowlist — commit it through EnsureWatermark: $bypass")
  }
}
