package graft.tools

import graft.QueryRegistry

/** Prints the formatted physical plan of every registered query —
  * the audit loop for SURVEY.md §4's "the plans we claim are the
  * plans we get": check PushedFilters/ReadSchema on scans, broadcast
  * vs shuffle joins, WholeStageCodegen spans.
  *
  *   runMain graft.tools.ExplainAudit [sfDir] [queryName...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else Set.empty[String]
    // the bench's session at the bench's core count, so the dumped
    // plans are the plans the bench measures — scale-adaptive
    // operators (Par.widen) are core-count-sensitive
    val spark = graft.GraftSession(graft.GraftSession.envCores(32))
    spark.sparkContext.setLogLevel("ERROR")
    QueryRegistry.all
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} — ${q.doc} ==========")
        try q.fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
