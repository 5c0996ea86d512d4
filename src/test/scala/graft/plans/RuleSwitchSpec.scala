package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpec
import graft.queries.RelationalQueries
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The rule-switch contract: how each rule installs, that a scope
  * hands the caller back its exact rules and confs, and what a rule
  * gate's action executes. */
class RuleSwitchSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val tiers = "spark.graft.steering.tiers"

  private def rules = spark.experimental.extraOptimizations

  private def scanPaths(p: LogicalPlan): Seq[String] = p.collect {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    }
  }.flatten

  test("install: idempotent per rule class, steering last call wins, ordering before steering") {
    assert(rules.isEmpty, s"no suite may leave a rule on the shared session: $rules")
    RuleSwitch.scoped(spark, Nil) {
      val routing = new RollupRoutingRule(spark)
      RuleSwitch.install(spark, routing)
      RuleSwitch.install(spark, new RollupRoutingRule(spark))
      assert(rules === Seq(routing))
      val steer = new TransparentJoinSteeringRule(spark, broadcastBytes = 1L)
      RuleSwitch.install(spark, new TransparentJoinSteeringRule(spark))
      RuleSwitch.install(spark, steer)
      assert(rules === Seq(routing, steer))
      val ordering = new TransparentJoinOrderingRule(spark)
      RuleSwitch.install(spark, ordering)
      RuleSwitch.install(spark, new TransparentJoinOrderingRule(spark))
      assert(rules === Seq(routing, ordering, steer))
    }
    assert(rules.isEmpty)
  }

  test("a rule gate hands back the caller's own rules and confs") {
    withIndexRoot("graft-ruleswitch-gate") {
      val mine = Seq(new RollupRoutingRule(spark),
        new TransparentJoinSteeringRule(spark, broadcastBytes = 7L))
      RuleSwitch.scoped(spark, mine, threshold -> Some("1234"),
          tiers -> Some("feedback")) {
        val before = rules
        // q42 installs routing, q92 steering plus a broadcast threshold
        RelationalQueries.q42RoutedCount.fn(spark, sf)
        RelationalQueries.q92CompositeSteering.fn(spark, sf)
        assert(rules === before, "the caller's rule instances must all survive the gates")
        assert(spark.conf.get(threshold) === "1234")
        assert(spark.conf.get(tiers) === "feedback")
      }
    }
  }

  test("a throwing body still restores the prior rules and confs") {
    val mine = new FdAggregationRule(spark)
    val (rulesBefore, tiersBefore) = (rules, spark.conf.getOption(tiers))
    RuleSwitch.scoped(spark, Seq(mine), tiers -> Some("feedback")) {
      val e = intercept[IllegalStateException] {
        RuleSwitch.scoped(spark, Seq(new JoinEliminationRule(spark)),
            tiers -> Some("mcv"), threshold -> None) {
          assert(rules.size === rulesBefore.size + 2 && spark.conf.get(tiers) === "mcv")
          spark.conf.set(tiers, "mcv,feedback")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(rules === rulesBefore :+ mine)
      assert(spark.conf.get(tiers) === "feedback")
    }
    assert(rules === rulesBefore)
    assert(spark.conf.getOption(tiers) === tiersBefore)
  }

  test("a gate pins the rewrite in its frame; the noop write plans the raw table") {
    withIndexRoot("graft-ruleswitch-write") {
      val q42 = RelationalQueries.q42RoutedCount.fn(spark, sf)
      val pinned = scanPaths(q42.queryExecution.optimizedPlan)
      assert(pinned.exists(_.contains("hist_daily")),
        s"the gate's own plan must carry the routed rewrite: $pinned")
      val written = new ConcurrentLinkedQueue[LogicalPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
          written.add(qe.optimizedPlan); ()
        }
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        q42.write.format("noop").mode("overwrite").save()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (written.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      } finally spark.listenerManager.unregister(listener)
      assert(!written.isEmpty, "the listener must see the write")
      val paths = written.toArray(Array.empty[LogicalPlan]).toSeq.flatMap(scanPaths)
      assert(paths.exists(_.contains("events.parquet")) &&
        !paths.exists(_.contains("hist_daily")),
        s"the write re-plans rule-free, over events: $paths")
    }
  }
}
