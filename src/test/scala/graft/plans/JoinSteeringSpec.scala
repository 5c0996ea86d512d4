package graft.plans

import graft.SparkSpec
import graft.operators.StatsCatalog
import org.apache.spark.sql.functions._

/** The transparent steering contract (r13 verdict next-round #1): a
  * PLAIN `fact.join(dim, key)` — no Steering API call anywhere — is
  * dispatched by the optimizer rule on the persisted statistics, the
  * plan differing by fixture shape exactly as SteeringSpec pins for
  * the opt-in API: zipfian fact + over-budget dim → hot-key salted
  * rewrite; within-budget dim → BROADCAST hint; uniform fact → plan
  * untouched. Every veto leg fails closed to the unrewritten plan,
  * and every steered plan is result-identical to the plain join. */
class JoinSteeringSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(dir: String): Unit = {
    // zipfian fact: hot key 7 owns 3000 rows; uniform tail over 30 keys
    val zrows = (1L to 3000L).map(i => (i % 30 + 100L, i, (i % 11).toDouble)) ++
      (1L to 3000L).map(i => (7L, 100000L + i, 1.0))
    zrows.toDF("k", "sid", "v")
      .write.mode("overwrite").parquet(s"$dir/zfact.parquet")
    (1L to 6000L).map(i => (i % 130 + 1L, i, (i % 11).toDouble))
      .toDF("k", "sid", "v")
      .write.mode("overwrite").parquet(s"$dir/ufact.parquet")
    (1L to 150L).map(i => (i, s"d$i")).toDF("dk", "dname")
      .write.mode("overwrite").parquet(s"$dir/dim.parquet")
  }

  private def plainJoin(dir: String) = {
    val f = graft.Tables(spark, dir, "zfact")
    val d = graft.Tables(spark, dir, "dim")
    f.join(d, f("k") === d("dk"))
  }

  /** Run `body` with the steering rule at these thresholds installed. */
  private def withSteering[A](broadcastBytes: Long = 0L,
      skewAvgFreq: Double = 64.0, factor: Int = 4,
      hashBytes: Long = 64L * 1024 * 1024)(body: => A): A =
    RuleSwitch.scoped(spark, Seq(new TransparentJoinSteeringRule(spark,
      broadcastBytes, skewAvgFreq, factor, hashBytes)))(body)

  private val noAutoBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> Some("-1")

  test("plain joins are steered by fixture shape; vetoes pass through") {
    withIndexRoot("graft-tjs") {
      val dir = tmpDir("graft-tjs-data")
      writeFixture(dir)
      // --- veto: no stats at all → untouched even when enabled
      withSteering() {
        val cold = plainJoin(dir).queryExecution.optimizedPlan.toString
        assert(!cold.contains("__salt_f") && !cold.contains("broadcast"),
          s"no ANALYZE evidence must mean no steering:\n$cold")
      }

      Seq("zfact", "ufact", "dim").foreach(StatsCatalog.ensure(spark, dir, _))
      StatsCatalog.ensureKeyProfile(spark, dir, "zfact", "k", hotFreq = 1000L)
      StatsCatalog.ensureKeyProfile(spark, dir, "ufact", "k", hotFreq = 1000L)

      // --- salted arm: zipfian fact, dim over the (zero) budget
      val agg = withSteering() {
        val steered = plainJoin(dir)
        val sp = steered.queryExecution.optimizedPlan.toString
        assert(sp.contains("__salt_f") && sp.contains("__salt_d"),
          s"the zipfian fixture must take the salted rewrite:\n$sp")
        steered.groupBy($"dname").agg(sum($"v").as("sv"))
          .collect().map(_.toString).toSet
      }
      // result-invisible vs the rule disabled
      val truth = plainJoin(dir).groupBy($"dname").agg(sum($"v").as("sv"))
        .collect().map(_.toString).toSet
      assert(agg === truth, "salting must be result-invisible")

      // --- uniform fact: PlainShuffle → untouched
      val u = graft.Tables(spark, dir, "ufact")
      val d = graft.Tables(spark, dir, "dim")
      withSteering() {
        val up = u.join(d, u("k") === d("dk"))
          .queryExecution.optimizedPlan.toString
        assert(!up.contains("__salt_f"),
          s"a uniform fact must not pay the salt:\n$up")
      }

      // --- broadcast arm: dim within budget → BROADCAST hint fires
      // even with the planner's own file-size threshold disabled
      RuleSwitch.scoped(spark, Nil, noAutoBroadcast) {
        withSteering(broadcastBytes = 32L * 1024 * 1024) {
          val bp = plainJoin(dir).queryExecution.executedPlan.toString
          assert(bp.contains("BroadcastHashJoin"),
            s"a within-budget dim must broadcast via the rule's hint:\n$bp")
        }
        val np = plainJoin(dir).queryExecution.executedPlan.toString
        assert(!np.contains("BroadcastHashJoin"),
          "the hint must come from the rule, not the planner's threshold")
      }

      withSteering() {
        // --- veto: a user-supplied hint outranks the advisor
        val f = graft.Tables(spark, dir, "zfact")
        val hinted = f.hint("merge").join(d, f("k") === d("dk"))
          .queryExecution.optimizedPlan.toString
        assert(!hinted.contains("__salt_f"),
          s"an existing join hint must veto the rewrite:\n$hinted")

        // --- veto: a non-simple side (aggregate below the join)
        val pre = u.groupBy($"k").agg(sum($"v").as("v"))
        val ap = pre.join(d, pre("k") === d("dk"))
          .queryExecution.optimizedPlan.toString
        assert(!ap.contains("__salt_f") && !ap.contains("__salt_d"),
          s"an aggregate-shaped side must pass through:\n$ap")
      }
    }
  }

  test("LEFT OUTER steering pins the roles: left-side skew salts, right-side-only skew and outer-side broadcasts pass through") {
    withIndexRoot("graft-tjs-outer") {
      val dir = tmpDir("graft-tjs-outer-data")
      writeFixture(dir)
      Seq("zfact", "ufact", "dim").foreach(StatsCatalog.ensure(spark, dir, _))
      StatsCatalog.ensureKeyProfile(spark, dir, "zfact", "k", hotFreq = 1000L)
      val f = graft.Tables(spark, dir, "zfact")
      val d = graft.Tables(spark, dir, "dim")
      // unmatched rows in play, the hard way: dim filtered to
      // dk >= 50, so the HOT key 7 itself is unmatched — its 3000
      // null-extended rows must each survive exactly once across
      // the salt range (fact tail keys 100..129 stay matched)
      val df = d.where($"dk" >= 50L)
      def byGroup(j: org.apache.spark.sql.DataFrame) =
        j.groupBy(coalesce($"dname", lit("none")).as("g"))
          .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
          .collect().map(_.toString).toSet
      val agg = withSteering() {
        val steered = f.join(df, f("k") === df("dk"), "left")
        val sp = steered.queryExecution.optimizedPlan.toString
        assert(sp.contains("__salt_f"),
          s"left-side skew must salt the LEFT OUTER join:\n$sp")
        byGroup(steered)
      }
      val truth = byGroup(f.join(df, f("k") === df("dk"), "left"))
      assert(agg === truth,
        "outer salting must null-extend unmatched rows exactly once")

      // right-side-only skew: dim LEFT JOIN zfact — the hot profile
      // sits on the RIGHT side, which must never replicate
      withSteering() {
        val rp = d.join(f, d("dk") === f("k"), "left")
          .queryExecution.optimizedPlan.toString
        assert(!rp.contains("__salt_f"),
          s"right-side-only skew must pass an outer join through:\n$rp")
      }

      // outer-side broadcast roles: with a budget admitting only
      // the LEFT (outer) dim, the hint is refused — the outer side
      // cannot build and the fact is over budget (pass-through);
      // with a generous budget the RIGHT side (the legal build)
      // takes the hint even though the advice's min-side was the
      // left dim (the r14 review's fallback)
      val dimBytes = graft.operators.StatsCatalog.tableBytes(dir, "dim")
      RuleSwitch.scoped(spark, Nil, noAutoBroadcast) {
        withSteering(broadcastBytes = dimBytes + 1, skewAvgFreq = 1e9) {
          val bp = d.join(f, d("dk") === f("k"), "left")
            .queryExecution.executedPlan.toString
          assert(!bp.contains("BroadcastHashJoin"),
            s"the outer side must never take the build hint:\n$bp")
        }
        withSteering(broadcastBytes = 32L * 1024 * 1024, skewAvgFreq = 1e9) {
          val fb = d.join(f, d("dk") === f("k"), "left")
            .queryExecution.executedPlan.toString
          assert(fb.contains("BroadcastHashJoin"),
            s"a within-budget RIGHT side must build even when the advice's min-side is the outer one:\n$fb")
          // ...and the dim on the RIGHT broadcasts as usual
          val ok = f.join(d, f("k") === d("dk"), "left")
            .queryExecution.executedPlan.toString
          assert(ok.contains("BroadcastHashJoin"),
            s"a right-side dim under budget must broadcast:\n$ok")
        }
      }
    }
  }

  test("q83's registered fixture takes the salted arm through the rule") {
    withIndexRoot("graft-tjs-q83") {
      val q83 = graft.queries.RelationalQueries.q83TransparentSteering
        .fn(spark, "/root/testdata/sf0.001")
      val p = q83.queryExecution.optimizedPlan.toString
      assert(p.contains("__salt_f"),
        s"q83's plain join must be steered into the salted shape:\n$p")
      assert(q83.count() >= 1)
    }
  }

  test("semi/anti steering pins the roles: right side broadcasts or replicates, left-only signals pass through") {
    withIndexRoot("graft-tjs-semi") {
      val dir = tmpDir("graft-tjs-semi-data")
      writeFixture(dir)
      Seq("zfact", "ufact", "dim").foreach(StatsCatalog.ensure(spark, dir, _))
      StatsCatalog.ensureKeyProfile(spark, dir, "zfact", "k", hotFreq = 1000L)
      val zf = graft.Tables(spark, dir, "zfact")
      val uf = graft.Tables(spark, dir, "ufact")
      val dm = graft.Tables(spark, dir, "dim")

      // salted arm: zipfian LEFT + over-budget dim, semi AND anti
      Seq("left_semi", "left_anti").foreach { kind =>
        def joined = zf.join(dm, zf("k") === dm("dk"), kind)
        val got = withSteering() {
          val p = joined.queryExecution.optimizedPlan.toString
          assert(p.contains("__salt_f"), s"$kind must salt:\n$p")
          joined.collect().map(_.toString).sorted
        }
        // result-invisibility: steered equals plain
        val want = joined.collect().map(_.toString).sorted
        assert(got.sameElements(want), s"salted $kind is row-identical")
      }
      // right-side-only skew never salts a semi/anti (replicating
      // the LEFT would duplicate emitted rows) — pass-through
      withSteering() {
        val rSkew = uf.join(zf, uf("k") === zf("k"), "left_semi")
          .queryExecution.optimizedPlan.toString
        assert(!rSkew.contains("__salt_f"),
          s"a right-side-only skew signal must pass through:\n$rSkew")
      }

      // broadcast arm: within-budget RIGHT side gets the hint; a
      // within-budget LEFT side alone never builds (pass-through)
      // budget sized so ONLY the 150-row dim fits (the fact's
      // parquet is tens of KB — a budget both sides fit would make
      // the right-side hint legal in the left-small leg too)
      withSteering(broadcastBytes = 8L * 1024, skewAvgFreq = 1e9, factor = 8) {
        val rightSmall = zf.join(dm, zf("k") === dm("dk"), "left_anti")
          .queryExecution.optimizedPlan.toString
        assert(rightSmall.contains("right=true") ||
          rightSmall.contains("rightHint"),
          s"the within-budget right side must carry the build hint:\n$rightSmall")
        val leftSmall = dm.join(zf, dm("dk") === zf("k"), "left_semi")
          .queryExecution.optimizedPlan.toString
        assert(!leftSmall.contains("Hint") && !leftSmall.contains("__salt_f"),
          s"a small LEFT side of a semi join must pass through:\n$leftSmall")
      }

      // shuffled-hash arm (r16): a PLAIN-advice semi/anti whose
      // right side fits the hash budget takes SHUFFLE_HASH
      // build-right — the only legal hash build for semi/anti on
      // this Spark (BuildLeft verified unsupported upstream)
      RuleSwitch.scoped(spark, Nil, noAutoBroadcast) {
        def shjShape = uf.join(dm, uf("k") === dm("dk"), "left_semi")
        val got = withSteering(skewAvgFreq = 1e9, hashBytes = 1L << 30) {
          val shj = shjShape.queryExecution.executedPlan.toString
          assert(shj.contains("ShuffledHashJoin") && shj.contains("BuildRight"),
            s"plain-advice semi must take the shuffled-hash arm:\n$shj")
          shjShape.collect().map(_.toString).sorted
        }
        val unruled = shjShape
        assert(!unruled.queryExecution.executedPlan.toString
          .contains("ShuffledHashJoin"),
          "the SHJ must come from the rule's hint, not the planner")
        val want = unruled.collect().map(_.toString).sorted
        assert(got.sameElements(want), "the hash arm is result-invisible")
        // a zero budget refuses — fail-closed like every arm
        withSteering(skewAvgFreq = 1e9, hashBytes = 0L) {
          assert(!shjShape.queryExecution.executedPlan.toString
            .contains("ShuffledHashJoin"),
            "an over-budget right side must pass through")
        }
      }
    }
  }

  test("the MCV tier (session config) salts a profiled-nowhere hot key; unset keeps the declared algebra") {
    withIndexRoot("graft-tjs-mcv") {
      val dir = tmpDir("graft-tjs-mcv-data")
      writeFixture(dir)
      withSteering() {
        // ANALYZE stats only — NO key profile, exact or maintained,
        // anywhere: the declared dispatch sees just the MEAN frequency
        // (6000/2031 ≈ 3 < 64) and passes through
        Seq("zfact", "dim").foreach(StatsCatalog.ensure(spark, dir, _))
        StatsCatalog.ensureMcv(spark, dir, "zfact", "k")
        val plainP = plainJoin(dir).queryExecution.optimizedPlan.toString
        assert(!plainP.contains("__salt_f"),
          s"without the tier the mean-frequency algebra must pass through:\n$plainP")
        val want = plainJoin(dir).collect().map(_.toString).sorted
        RuleSwitch.scoped(spark, Nil, "spark.graft.steering.tiers" -> Some("mcv")) {
          // the MCV top frequency (3000) is an exact max-freq lower
          // bound -> skew diagnosed; the >=skewAvgFreq MCV values are
          // the salt set
          val steered = plainJoin(dir)
          val sp = steered.queryExecution.optimizedPlan.toString
          assert(sp.contains("__salt_f"),
            s"the MCV tier must diagnose and salt the hot key:\n$sp")
          assert(steered.collect().map(_.toString).sorted.sameElements(want),
            "the MCV-salted join is row-identical to the plain one")
        }
      }
    }
  }
}
