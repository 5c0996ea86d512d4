package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver's correctness /
  * bench harness (SparkEntry.queries).
  *
  * @param name   stable key; prefixed qNN_, referenced in SURVEY.md §2
  * @param fn     Spark implementation over a testdata sf directory
  * @param oracle equivalent ANSI SQL for DuckDB over the same parquet
  *               tables; None ⇒ not SQL-expressible (approximate /
  *               hash-seeded ops) → driver records rows-only check,
  *               correctness is pinned by a ScalaTest spec instead
  * @param doc    which reference operator(s) this realizes (SURVEY §2 ids)
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String)

object QueryRegistry {
  def all: Seq[GraftQuery] =
    queries.RelationalQueries.all ++
      queries.TextQueries.all ++
      queries.VectorQueries.all ++
      queries.DedupQueries.all ++
      queries.MultimodalQueries.all ++
      queries.CurationQueries.all

  /** The serve path: each query's frame with its root ORDER BY marked
    * for the one-partition sort of kilobyte results
    * ([[graft.plans.SmallSort]]). */
  def asMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> ((s: SparkSession, dir: String) =>
        graft.plans.SmallSort.served(s, q.fn(s, dir)))
    }.toMap

  def oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
