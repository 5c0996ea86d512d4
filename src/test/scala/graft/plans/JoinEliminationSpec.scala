package graft.plans

import graft.SparkSpec
import graft.operators.{EnsureWatermark, StatsCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** The join-elimination contract: an unused LEFT JOIN on a
  * stats-PROVEN-unique key vanishes from the optimized plan with the
  * result bit-identical to the joined plan; every unprovable or
  * cardinality-relevant variant keeps its join (fail-closed). */
class JoinEliminationSpec extends SparkSpec {
  import spark.implicits._

  private def writeTables(dir: String): Unit = {
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "c", 50.0), (6L, "z", 60.0))
      .toDF("fk", "seg", "v")
      .write.mode("overwrite").parquet(s"$dir/fact.parquet")
    // unique key 1..5 (fact.fk=6 dangles -> left-outer null-pads it)
    Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"), (5L, "five"))
      .toDF("dk", "dname")
      .write.mode("overwrite").parquet(s"$dir/dim.parquet")
    // NON-unique key
    Seq((1L, "x"), (1L, "y"), (2L, "z"))
      .toDF("mk", "mname")
      .write.mode("overwrite").parquet(s"$dir/multi.parquet")
  }

  private def joins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }

  private def leftJoined(dir: String): DataFrame = {
    val f = graft.Tables(spark, dir, "fact")
    val d = graft.Tables(spark, dir, "dim")
    f.join(d, f("fk") === d("dk"), "left")
  }

  test("unused unique-key LEFT JOIN is eliminated, result identical") {
    withIndexRoot("graft-jelim") {
      val dir = tmpDir("graft-jelim-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "dim")
      RuleSwitch.install(spark, new JoinEliminationRule(spark))
      // Project shape
      val p = leftJoined(dir).select($"seg", $"v")
      assert(joins(p).isEmpty, s"join must be eliminated:\n${p.queryExecution.optimizedPlan}")
      // Aggregate shape
      val a = leftJoined(dir).groupBy($"seg")
        .agg(count(lit(1)).as("n"), round(sum($"v"), 2).as("sv"))
        .orderBy($"seg")
      assert(joins(a).isEmpty, s"join under aggregate must be eliminated:\n${a.queryExecution.optimizedPlan}")
      // semantics: identical to the physically-joined plan (left-outer
      // on a unique key preserves left cardinality even for danglers)
      val f = graft.Tables(spark, dir, "fact")
      val truth = f.groupBy($"seg")
        .agg(count(lit(1)).as("n"), round(sum($"v"), 2).as("sv"))
        .orderBy($"seg").collect()
      assert(a.collect().toSeq === truth.toSeq)
      assert(truth.map(_.getLong(1)).sum === 6L,
        "all six fact rows (incl. the dangling fk) survive")
    }
  }

  test("fail-closed: referenced dim column, inner join, non-unique key, stale stats") {
    withIndexRoot("graft-jelim-neg") {
      val dir = tmpDir("graft-jelim-neg-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "dim")
      StatsCatalog.ensure(spark, dir, "multi")
      RuleSwitch.install(spark, new JoinEliminationRule(spark))
      // (a) right column referenced -> join stays
      assert(joins(leftJoined(dir).select($"seg", $"dname")).nonEmpty)
      // (b) inner join -> stays (needs left-side referential integrity
      // no right-side statistic can prove; fk=6 would vanish)
      val f = graft.Tables(spark, dir, "fact")
      val d = graft.Tables(spark, dir, "dim")
      val inner = f.join(d, f("fk") === d("dk"), "inner").select($"seg", $"v")
      assert(joins(inner).nonEmpty)
      assert(inner.count() === 5L, "inner join genuinely drops the dangler")
      // (c) non-unique right key -> stays (fan-out is real)
      val m = graft.Tables(spark, dir, "multi")
      val fanout = f.join(m, f("fk") === m("mk"), "left").select($"seg", $"v")
      assert(joins(fanout).nonEmpty)
      assert(fanout.count() === 7L, "duplicate mk=1 genuinely fans out")
      // (d) stale stats watermark -> stays, fail-closed
      EnsureWatermark.veto(StatsCatalog.statsPath(dir, "dim"))
      assert(joins(leftJoined(dir).select($"seg", $"v")).nonEmpty)
      StatsCatalog.reEnsure(spark, dir, "dim")
      assert(joins(leftJoined(dir).select($"seg", $"v")).isEmpty)
    }
  }

  test("a registered alias path inherits the original table's uniqueness proof") {
    withIndexRoot("graft-jelim-alias") {
      val dir = tmpDir("graft-jelim-alias-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "dim")
      RuleSwitch.install(spark, new JoinEliminationRule(spark))
      // a catalog-managed copy of dim at a path the convention cannot
      // name — registration asserts identity, stats stay the original's
      graft.Tables(spark, dir, "dim")
        .write.mode("overwrite").parquet(s"$dir/warehouse_dim")
      // NOTE: a DataFrame memoizes its QueryExecution, so the plan is
      // rebuilt from scratch around the registration
      def joined() = {
        val f = graft.Tables(spark, dir, "fact")
        val alias = spark.read.parquet(s"$dir/warehouse_dim")
        f.join(alias, f("fk") === alias("dk"), "left").select($"seg", $"v")
      }
      assert(joins(joined()).nonEmpty,
        "an unregistered non-convention path must keep its join")
      JoinElimination.registerTablePath(s"$dir/warehouse_dim", dir, "dim")
      assert(joins(joined()).isEmpty,
        "a registered alias must route to the original's proof")
    }
  }

  test("extra join conjuncts cannot block elimination (they only reduce matches)") {
    withIndexRoot("graft-jelim-conj") {
      val dir = tmpDir("graft-jelim-conj-data")
      writeTables(dir)
      StatsCatalog.ensure(spark, dir, "dim")
      RuleSwitch.install(spark, new JoinEliminationRule(spark))
      val f = graft.Tables(spark, dir, "fact")
      val d = graft.Tables(spark, dir, "dim")
      val extra = f.join(d, f("fk") === d("dk") && f("v") > 25.0, "left")
        .select($"seg", $"v")
      assert(joins(extra).isEmpty,
        "a reducing conjunct keeps left-outer cardinality at exactly 1")
      assert(extra.count() === 6L)
    }
  }

  test("the path registry is authority-idempotent: every URI rendering of one location resolves (r15 canon fix)") {
    withIndexRoot("graft-canon") {
      val dir = tmpDir("graft-canon-data")
      writeTables(dir)
      // register with the BARE path; look up in every rendering a
      // relation's rootPaths can carry — Hadoop's makeQualified
      // renders the authority differently for bare vs pre-qualified
      // inputs (file:///x vs file:/x), the bug q91 caught: a
      // registration missing its own lookup
      JoinElimination.registerTablePath(s"$dir/somewhere_else", dir, "dim")
      Seq(s"$dir/somewhere_else",        // bare
          s"file:$dir/somewhere_else",   // null-authority qualified
          s"file://$dir/somewhere_else") // empty-authority (file:///)
        .foreach { rendering =>
          val p = new org.apache.hadoop.fs.Path(rendering)
          assert(JoinElimination.registeredFor(p).contains((dir, "dim")),
            s"rendering must resolve: $rendering")
        }
      // TableIdentity consumes the registry for non-.parquet roots;
      // the engine layout resolves directly without registration
      val enginePath = new org.apache.hadoop.fs.Path(s"$dir/fact.parquet")
      assert(JoinElimination.registeredFor(enginePath).isEmpty,
        "unregistered paths resolve nowhere through the registry")
    }
  }
}
