package graft.plans

import graft.SparkSpec
import graft.operators.StatsCatalog
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** The transparent-ordering contract (D97): a chain of plain inner
  * equi-joins DECLARED in the worst order is re-shaped by the
  * optimizer to the DP's choice — filtered dim first, corpus-sized
  * fact last — with the result bit-identical; every veto (hints,
  * missing stats, non-simple leaves, self-joins) passes through; a
  * re-optimization of the already-ordered plan holds still (the
  * fixed-point guard); and the steering rule composes on top of the
  * ordered chain in the same batch. */
class JoinOrderingSpec extends SparkSpec {
  import spark.implicits._

  private def writeTables(dir: String): Unit = {
    (1L to 4000L).map(i => (i % 50 + 1, i % 40 + 1, i))
      .toDF("ka", "kb", "payload")
      .write.mode("overwrite").parquet(s"$dir/fact.parquet")
    (1L to 50L).map(i => (i, s"a$i")).toDF("dak", "aname")
      .write.mode("overwrite").parquet(s"$dir/dima.parquet")
    (1L to 40L).map(i => (i, s"b$i")).toDF("dbk", "bname")
      .write.mode("overwrite").parquet(s"$dir/dimb.parquet")
  }

  /** The deepest join's leaf tables, from its relations' root paths. */
  private def innermostTables(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    joins.last.collectLeaves().collect {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.head.getName.stripSuffix(".parquet")
      }
    }.toSet
  }

  test("the worst declared order is re-shaped to the DP's choice; vetoes and the fixed point hold") {
    withIndexRoot("graft-tjo") {
      val dir = tmpDir("graft-tjo-data")
      writeTables(dir)
      val fact = graft.Tables(spark, dir, "fact")
      val dima = graft.Tables(spark, dir, "dima").where($"dak" <= 5L)
      val dimb = graft.Tables(spark, dir, "dimb")
      def worst = fact
        .join(dimb, $"kb" === $"dbk")
        .join(dima, $"ka" === $"dak")
      val ordering = Seq(new TransparentJoinOrderingRule(spark))

      val (ordered, got) = RuleSwitch.scoped(spark, ordering) {
        // no stats -> untouched even when enabled
        assert(innermostTables(worst) === Set("fact", "dimb"),
          "without ANALYZE evidence the declared order must stand")

        Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
        // with stats: the filtered dima attaches FIRST
        val ordered = worst
        assert(innermostTables(ordered) === Set("fact", "dima"),
          s"the DP must re-shape the chain:\n${ordered.queryExecution.optimizedPlan}")
        (ordered, ordered.select($"payload", $"aname", $"bname")
          .collect().map(_.toString).sorted)
      }
      // result-invisible
      val want = worst.select($"payload", $"aname", $"bname")
        .collect().map(_.toString).sorted
      assert(got.sameElements(want), "reordering must be result-invisible")

      RuleSwitch.scoped(spark, ordering) {
        // fixed point: the ordered plan re-optimizes to ITSELF
        val once = ordered.queryExecution.optimizedPlan
        val rule = new TransparentJoinOrderingRule(spark)
        assert(rule.apply(once).fastEquals(once),
          "re-applying the rule to its own output must hold still")

        // veto: a user hint anywhere in the chain
        val hinted = fact.join(broadcast(dimb), $"kb" === $"dbk")
          .join(dima, $"ka" === $"dak")
        assert(innermostTables(hinted) === Set("fact", "dimb"),
          "a hinted chain must pass through")

        // veto: a non-simple leaf (aggregate under the join)
        val pre = dimb.groupBy($"dbk").agg(first($"bname").as("bname"))
        val agged = fact.join(pre, $"kb" === $"dbk")
          .join(dima, $"ka" === $"dak")
        assert(innermostTables(agged) === Set("fact", "dimb"),
          "an aggregate-shaped leaf must pass through")

        // composition: steering broadcasts the ordered chain's dims
        // in the same batch (order first, steer second)
        RuleSwitch.scoped(spark, Seq(new TransparentJoinSteeringRule(spark,
            broadcastBytes = 32L * 1024 * 1024, skewAvgFreq = 1e9)),
            "spark.sql.autoBroadcastJoinThreshold" -> Some("-1")) {
          val composed = worst
          assert(innermostTables(composed) === Set("fact", "dima"))
          assert(composed.queryExecution.executedPlan.toString
            .contains("BroadcastHashJoin"),
            "the steering rule must hint the ordered chain's dims")
        }
      }
    }
  }

  test("interior Filters and SubqueryAliases are transparent; residual predicates survive the reorder (r16)") {
    withIndexRoot("graft-tjo-interior") {
      val dir = tmpDir("graft-tjo-interior-data")
      writeTables(dir)
      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      val fact = graft.Tables(spark, dir, "fact")
      val dima = graft.Tables(spark, dir, "dima").where($"dak" <= 5L)
      val dimb = graft.Tables(spark, dir, "dimb")
      val ordering = Seq(new TransparentJoinOrderingRule(spark))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"payload", $"aname", $"bname").collect().map(_.toString).sorted
      // a NON-PUSHABLE interior filter: it references BOTH sides of
      // the first join, so Catalyst cannot push it below — before
      // r16 it truncated every flatten at two leaves
      def interior = fact
        .join(dimb, $"kb" === $"dbk")
        .where($"payload" + $"dbk" > 2L)
        .join(dima, $"ka" === $"dak")
      val got = RuleSwitch.scoped(spark, ordering) {
        assert(innermostTables(interior) === Set("fact", "dima"),
          s"an interior filter must not truncate the flatten:\n${interior.queryExecution.optimizedPlan}")
        rows(interior)
      }
      // the residual predicate SURVIVES the rewrite: result equals
      // the unruled plan's
      assert(got.sameElements(rows(interior)),
        "the interior-filter rewrite must be result-invisible")

      // a SubqueryAlias-wrapped interior (the generated-BI CTE
      // shape) flattens too
      def aliased = fact
        .join(dimb, $"kb" === $"dbk").alias("mid")
        .join(dima, $"ka" === $"dak")
      // DEEPEST-LEGAL residual placement (r16 close): a residual
      // over the INNERMOST chosen pair (fact, dima) must sit below
      // the top join, not above the whole chain — the declared
      // plan's early filtering survives the reorder
      def deepResid = fact
        .join(dimb, $"kb" === $"dbk")
        .join(dima, $"ka" === $"dak")
        .where($"payload" + $"dak" > 2L)
      val gotD = RuleSwitch.scoped(spark, ordering) {
        assert(innermostTables(aliased) === Set("fact", "dima"),
          s"an interior alias must not truncate the flatten:\n${aliased.queryExecution.optimizedPlan}")
        val drPlan = deepResid.queryExecution.optimizedPlan
        assert(innermostTables(deepResid) === Set("fact", "dima"))
        val innerJoin = drPlan.collect {
          case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn
        }.last
        val filtersAboveInner = drPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.find(_ eq innerJoin).isDefined &&
                f.condition.references.exists(_.name == "dak") => f
        }
        assert(filtersAboveInner.nonEmpty &&
          !filtersAboveInner.exists(_.find {
            case jn: org.apache.spark.sql.catalyst.plans.logical.Join =>
              !(jn eq innerJoin)
            case _ => false
          }.isDefined),
          s"the residual must sit directly over the innermost join:\n$drPlan")
        rows(deepResid)
      }
      assert(gotD.sameElements(rows(deepResid)),
        "deep placement must be result-invisible")

      RuleSwitch.scoped(spark, ordering) {
        // fixed point: the filtered rewrite re-optimizes to itself
        val rule = new TransparentJoinOrderingRule(spark)
        val once = interior.queryExecution.optimizedPlan
        assert(rule.apply(once).fastEquals(once),
          "the interior-filter rewrite must be a fixed point")
        val onceA = aliased.queryExecution.optimizedPlan
        assert(rule.apply(onceA).fastEquals(onceA),
          "the alias rewrite must be a fixed point")

        // the q87 pin is untouched: a plain chain (no interior
        // wrappers) reorders exactly as before
        def worst = fact
          .join(dimb, $"kb" === $"dbk")
          .join(dima, $"ka" === $"dak")
        assert(innermostTables(worst) === Set("fact", "dima"))
      }
    }
  }

  test("a maintained-stats-only leaf participates in transparent ordering (r16)") {
    withIndexRoot("graft-tjo-maint") {
      val dir = tmpDir("graft-tjo-maint-data")
      writeTables(dir)
      // fact gets NO exact ANALYZE — only the O(batch)-maintained
      // tier (the streamed-table state); the dims are exact
      Seq("dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      graft.operators.StatsMaintain.ensure(spark, dir, "fact")
      RuleSwitch.scoped(spark, Seq(new TransparentJoinOrderingRule(spark))) {
        val fact = graft.Tables(spark, dir, "fact")
        val dima = graft.Tables(spark, dir, "dima").where($"dak" <= 5L)
        val dimb = graft.Tables(spark, dir, "dimb")
        def worst = fact
          .join(dimb, $"kb" === $"dbk")
          .join(dima, $"ka" === $"dak")
        assert(innermostTables(worst) === Set("fact", "dima"),
          s"maintained evidence must license the reorder:\n${worst.queryExecution.optimizedPlan}")
        // a stale maintained artifact (append, no maintenance) fails
        // closed: the chain passes through untouched
        (1L to 10L).map(i => (99L, 99L, 900000L + i))
          .toDF("ka", "kb", "payload")
          .write.mode("append").parquet(s"$dir/fact.parquet")
        assert(innermostTables(worst) === Set("fact", "dimb"),
          "appended-but-unmaintained evidence must veto the reorder")
      }
    }
  }

  test("learned-tier enumeration memoizes under store watermarks; one observation re-keys it (r16)") {
    withIndexRoot("graft-tjo-memo") {
      val dir = tmpDir("graft-tjo-memo-data")
      writeTables(dir)
      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      RuleSwitch.scoped(spark, Seq(new TransparentJoinOrderingRule(spark)),
          "spark.graft.ordering.tiers" -> Some("mcv,feedback")) {
        val fact = graft.Tables(spark, dir, "fact")
        val dima = graft.Tables(spark, dir, "dima").where($"dak" <= 5L)
        val dimb = graft.Tables(spark, dir, "dimb")
        def worst = fact
          .join(dimb, $"kb" === $"dbk")
          .join(dima, $"ka" === $"dak")
        val once = worst.queryExecution.optimizedPlan
        assert(innermostTables(worst) === Set("fact", "dima"))
        val rule = new TransparentJoinOrderingRule(spark)
        val c1 = JoinOrderer.enumerations.get
        assert(rule.apply(once).fastEquals(once))
        assert(JoinOrderer.enumerations.get === c1,
          "tiers ON + stores unchanged: the hold-still answer must come from the memo, not a re-enumeration")
        // ONE recorded observation moves the feedback-store watermark
        // — the next pass re-keys and re-enumerates exactly once
        graft.operators.CardFeedback.record(spark,
          dimb.where($"bname" === "b1"))
        assert(rule.apply(once).fastEquals(once),
          "an observation for an unrelated shape must not flip the choice")
        assert(JoinOrderer.enumerations.get === c1 + 1,
          "a store change must re-key the memo and re-enumerate once")
        // the re-enumerated choice re-memoizes under the new stamp
        val c2 = JoinOrderer.enumerations.get
        assert(rule.apply(once).fastEquals(once))
        assert(JoinOrderer.enumerations.get === c2,
          "the new stamp serves from the memo again")
      }
    }
  }

  test("session-config tiers thread feedback into the transparent rule; unset keeps the uniform pin") {
    withIndexRoot("graft-tjo-tiers") {
      val dir = tmpDir("graft-tjo-tiers-data")
      writeTables(dir)
      Seq("fact", "dima", "dimb").foreach(StatsCatalog.ensure(spark, dir, _))
      RuleSwitch.scoped(spark, Seq(new TransparentJoinOrderingRule(spark))) {
        val fact = graft.Tables(spark, dir, "fact")
        // dima's second conjunct is outside the algebra (arithmetic on
        // the attribute — pmod survives constant folding, unlike the
        // +0 trick the opt-in spec uses on UNoptimized plans) ->
        // Selinger default 1/3 underestimates its 30 true rows; dimb
        // estimates near its true 12
        val dima = graft.Tables(spark, dir, "dima")
          .where($"dak" <= 30L && pmod($"dak", lit(1000L)) <= 30L)
        val dimb = graft.Tables(spark, dir, "dimb").where($"dbk" <= 12L)
        def worst = fact
          .join(dima, $"ka" === $"dak")
          .join(dimb, $"kb" === $"dbk")
        // uniform algebra: the misestimated dima joins first
        assert(innermostTables(worst) === Set("fact", "dima"),
          "with tiers unset the blind underestimate seeds dima")
        // record ONE execution of the leaf EXACTLY as the rule sees it
        // (the optimizer-stage subtree, fished from the plan itself)
        val probe = worst.queryExecution.optimizedPlan
        val leaf = probe.collect { case j: Join => j.children }.flatten
          .find(ch => SimpleSides.of(ch).exists(_._3 == "dima"))
          .getOrElse(fail("the dima leaf must be a simple side"))
        val observed = graft.operators.CardFeedback.record(spark,
          org.apache.spark.sql.graftbridge.planToDf(spark, leaf))
        assert(observed.contains(30L))
        val learned = RuleSwitch.scoped(spark, Nil,
            "spark.graft.ordering.tiers" -> Some("feedback")) {
          assert(innermostTables(worst) === Set("fact", "dimb"),
            "one recorded observation must flip the TRANSPARENT order")
          worst.select($"payload", $"aname", $"bname")
            .collect().map(_.toString).sorted
        }
        // result-invisible either way
        val uniform = worst.select($"payload", $"aname", $"bname")
          .collect().map(_.toString).sorted
        assert(learned.sameElements(uniform))
        // the uniform pin stands after the config clears
        assert(innermostTables(worst) === Set("fact", "dima"),
          "clearing the config restores the declared uniform algebra")
      }
    }
  }
}
