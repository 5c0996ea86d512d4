package graft.tools

import org.apache.spark.sql.functions._

/** ACCURACY receipt for [[graft.plans.CardinalityEstimator]] (D82):
  * the q67 oracle proves the estimator implements its declared
  * FORMULAS; this tool measures how close those formulas land to
  * ACTUAL row counts on the testdata shapes — the q-error
  * (max(est/actual, actual/est), the standard estimator metric;
  * public) per shape, printed as one JSON line for BENCH_SCALE.
  * An estimator is allowed to be wrong about the data; this records
  * exactly HOW wrong, so a regression in the formulas (or a data
  * distribution the independence assumptions break on) is a diff in
  * a committed artifact, not a surprise in a plan.
  *
  * Usage: runMain graft.tools.EstimatorAudit <sfDir> */
object EstimatorAudit {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession(graft.GraftSession.envCores(32))
    import spark.implicits._
    sys.props.getOrElseUpdate("graft.index.dir",
      java.nio.file.Files.createTempDirectory("est-audit").toString)
    val SC = graft.operators.StatsCatalog
    Seq("lineitem", "orders", "customer", "nation", "events")
      .foreach(SC.ensure(spark, dir, _))
    SC.ensureColumnGroup(spark, dir, "lineitem",
      Seq("l_returnflag", "l_linestatus"))
    val li = graft.Tables(spark, dir, "lineitem")
    val or = graft.Tables(spark, dir, "orders")
    val cu = graft.Tables(spark, dir, "customer")
    val ev = graft.Tables(spark, dir, "events")
    val cut = graft.operators.MinMaxManifest.utc("2024-01-15 00:00:00")
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame, Boolean)] = Seq(
      ("filter_eq", li.where($"l_returnflag" === "R"), false),
      ("filter_conj", li.where($"l_returnflag" === "R" && $"l_quantity" <= 25L), false),
      ("filter_disj", li.where($"l_returnflag" === "R" || $"l_quantity" <= 25L), false),
      ("filter_ts", ev.where($"ts" < lit(cut)), false),
      ("join_fk", cu.join(or, $"c_custkey" === $"o_custkey"), false),
      ("join_chain", cu.where($"c_custkey" <= 150L)
        .join(or, $"c_custkey" === $"o_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey"), false),
      ("semi", cu.join(or, $"c_custkey" === $"o_custkey", "left_semi"), false),
      ("anti", cu.join(or, $"c_custkey" === $"o_custkey", "left_anti"), false),
      ("group_indep", li.groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1))), false),
      ("group_colgrp", li.groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1))), true),
      ("rollup", li.rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1))), false),
      ("distinct", li.select($"l_returnflag", $"l_linestatus").distinct(), false),
      ("union", or.select($"o_custkey").union(cu.select($"c_custkey")), false))
    val rows = shapes.map { case (name, df, grp) =>
      val est = graft.plans.CardinalityEstimator
        .estimateRows(spark, df, useColumnGroups = grp)
        .getOrElse(sys.error(s"$name must estimate")).toDouble
      val actual = df.count().toDouble
      val qerr = if (est == 0 || actual == 0) Double.PositiveInfinity
        else math.max(est / actual, actual / est)
      f""""$name":{"est":${est.toLong},"actual":${actual.toLong},"qerr":$qerr%.3f}"""
    }
    println(s"""{"metric":"estimator_qerror","sf":"$dir",${rows.mkString(",")}}""")
    spark.stop()
  }
}
