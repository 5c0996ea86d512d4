package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one way to turn a graft rule on: every rule rides the
  * session's `experimental.extraOptimizations`, the one planning
  * strategy ([[SmallSort]]) its `experimental.extraStrategies`, and
  * this is the only code that assigns either.
  *
  * Every graft rule is exactness-preserving by construction (each
  * rule's scaladoc carries its proof; a registered query hash-gates
  * it), so leaving one installed is safe for every later query.
  * Gates still install theirs [[scoped]], so a shared session keeps
  * optimizing exactly as its caller configured it (r14 wrong #4:
  * gate-enabled rules leaked into later bench legs). */
object RuleSwitch {
  /** Install `rule` on `s`:
    *  - [[TransparentJoinSteeringRule]]: LAST CALL WINS — an existing
    *    instance is replaced, so a session reconfiguring its budget
    *    gets deterministic behaviour;
    *  - every other rule is idempotent — an instance of its class
    *    already installed stays, and `rule` is dropped;
    *  - [[TransparentJoinOrderingRule]] goes BEFORE any installed
    *    steering rule (order first, steer second — see its scaladoc);
    *    the rest append. */
  def install(s: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val cur = s.experimental.extraOptimizations
    def steering(r: Rule[LogicalPlan]) = r.isInstanceOf[TransparentJoinSteeringRule]
    s.experimental.extraOptimizations = rule match {
      case _ if steering(rule) => cur.filterNot(steering) :+ rule
      case _ if cur.exists(_.getClass == rule.getClass) => cur
      case _: TransparentJoinOrderingRule =>
        val (steer, rest) = cur.partition(steering)
        rest ++ (rule +: steer)
      case _ => cur :+ rule
    }
  }

  /** Install `strategy` on `s`'s planner, idempotent per strategy
    * class and atomic: of any number of concurrent installs exactly one
    * instance lands. Strategies stay for the session's lifetime —
    * [[scoped]] restores rules, not strategies — so each one must
    * leave every plan it was not written for untouched. */
  def install(s: SparkSession, strategy: SparkStrategy): Unit = {
    val ex = s.experimental
    ex.synchronized {
      if (!ex.extraStrategies.exists(_.getClass == strategy.getClass))
        ex.extraStrategies = ex.extraStrategies :+ strategy
    }
  }

  /** Run `body` with `rules` installed (in order, by [[install]]) and
    * each conf in `confs` set (`Some`) or unset (`None`); afterwards —
    * also when `body` throws — restore the caller's exact prior rule
    * list and the prior value of every conf named here, including any
    * change `body` made to them. */
  def scoped[A](s: SparkSession, rules: Seq[Rule[LogicalPlan]],
      confs: (String, Option[String])*)(body: => A): A = {
    def put(k: String, v: Option[String]): Unit =
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    val priorRules = s.experimental.extraOptimizations
    val priorConfs = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      rules.foreach(install(s, _))
      confs.foreach { case (k, v) => put(k, v) }
      body
    } finally {
      s.experimental.extraOptimizations = priorRules
      priorConfs.foreach { case (k, v) => put(k, v) }
    }
  }

  /** Build `df` with `rules` installed and optimize it there, so the
    * rules run on this frame's plan (`optimizedPlan` memoizes the
    * rewrite for the gate's checks); then restore. This pins the
    * rewrite in the frame's own QueryExecution only: a `write` builds
    * a new QueryExecution from the analyzed plan under the caller's
    * rules, so the bench and Verify execute the raw plan — the one
    * the DuckDB oracle replays. */
  def pinned(s: SparkSession, rules: Rule[LogicalPlan]*)(df: => DataFrame): DataFrame =
    scoped(s, rules) { val d = df; d.queryExecution.optimizedPlan; d }
}
