package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}

/** ONE-PARTITION SORT for served results, as a physical planning
  * strategy. Spark plans every global `Sort` as a range exchange plus
  * a per-partition sort: one job samples the input to pick the range
  * bounds, one map stage shuffles it, and both are pure overhead when
  * the input is a kilobyte-sized query result. This plans a MARKED
  * global sort whose input is sized at or under
  * `spark.sql.autoBroadcastJoinThreshold` — Spark's own line for
  * "small enough for one task" — as `SortExec(global) ←
  * CoalesceExec(1)`: no sample, no exchange, no extra stage. Any
  * other sort returns `Nil` and plans as Spark's range sort.
  *
  * The size test reads `child.stats` when the planner runs, and AQE
  * re-plans the final stage through the session planner (which
  * includes `experimental.extraStrategies`) once its input stages
  * finish. A sort over a join or aggregate therefore decides on the
  * finished stages' runtime sizes, not on the static estimate — a
  * product of input sizes for joins — that sees it at first planning
  * (Shark's partial DAG execution: pick the operator at a stage
  * boundary from the statistics of the finished stages). A join-free
  * plan decides on its static upper-bound estimate.
  *
  * Exactness: one partition sorted by the same ordering is the same
  * total order a range sort produces; only ties between equal keys
  * may come out in another order, which a global sort never fixes.
  *
  * Scope: only sorts the serve path ([[served]]) marks plan this
  * way. Artifact builds that sort to lay out files (bucket
  * writes, snapshot merges) keep Spark's range sort and their file
  * layout. */
object SmallSort extends SparkStrategy {

  private val Marker = TreeNodeTag[Unit]("graft.smallSort")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s @ Sort(order, true, child, _) if s.getTagValue(Marker).isDefined &&
        child.stats.sizeInBytes <= s.conf.autoBroadcastJoinThreshold =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** The serve path's wrapper: install the strategy on the session
    * (idempotent) and mark `df`'s analyzed plan when its root is a
    * global sort, so every query built from it (a write, a collect, a
    * derived frame) may sort it in one partition. The tag rides
    * Catalyst's rewrites of the node. */
  def served(s: SparkSession, df: DataFrame): DataFrame = {
    RuleSwitch.install(s, this)
    df.queryExecution.analyzed match {
      case sort: Sort if sort.global => sort.setTagValue(Marker, ())
      case _ =>
    }
    df
  }
}
