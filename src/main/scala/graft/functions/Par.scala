package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Scale-adaptive parallelism for CPU-dense passes over byte-small
  * inputs (optimization guide §2: partitioning must avoid stragglers
  * AND idle capacity).
  *
  * Spark sizes scan splits by BYTES (`maxPartitionBytes`, with a 4 MB
  * per-file open cost), which is right for byte-bound scans and wrong
  * for sketching passes whose cost per byte is huge: a sub-4-MB
  * single-file corpus plans as ONE split, so a winnow/shingle/simhash
  * flatMap — and every downstream stage its lineage fuses into — runs
  * serially while the other cores idle. Measured on t07 at sf0.1:
  * every stage of the query ran with `tasks=1`.
  *
  * [[widen]] repartitions such an input round-robin to the session's
  * default parallelism, but ONLY when the planned scan has fewer
  * splits than that — at cluster scale (the 100-TB case) any real
  * corpus plans thousands of splits and the guard makes this a no-op,
  * so no corpus-sized exchange is ever added where the scan already
  * parallelizes. The shuffle it does add at small scale moves only
  * the projected columns (call it AFTER the narrow select).
  *
  * Meant for exchange-free plans (scan + projection/filter). The
  * partition-count probe builds the plan's RDD, which for a plan with
  * exchanges under AQE would materialize upstream stages — so widen
  * first inspects the logical plan and becomes a NO-OP when any
  * shuffle-inducing operator is present (so callers can hand it
  * arbitrary frames safely).
  */
object Par {
  /** True when the plan contains an operator that plans an exchange
    * (join/agg/window/sort/repartition/dedup/limit) — widening such a
    * frame would both add a useless second exchange and force the
    * df.rdd probe to materialize the upstream stages eagerly. */
  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
           _: Deduplicate | _: GlobalLimit | _: RepartitionOperation => true
      case _ => false
    }

  def widen(df: DataFrame): DataFrame = {
    if (hasExchange(df)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // fire only when the scan is FAR below the core count: a plan
    // already at ≥ target/4 splits gains little from more slicing and
    // the exchange itself costs a full pass over the rows (measured:
    // q31/q41's ~20-split as-of scans regressed 1.5× under an
    // unconditional widen, while the 1-split corpus scans this exists
    // for won 1.3–1.7×)
    if (df.rdd.getNumPartitions * 4 <= target) df.repartition(target) else df
  }
}
