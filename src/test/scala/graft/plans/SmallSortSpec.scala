package graft.plans

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The one-partition sort's contract: a marked sort over a small
  * input plans with no range exchange and runs in one task, decided
  * on runtime sizes where AQE re-plans; a large input or an unmarked
  * sort keeps Spark's range sort; the output equals a plain
  * `orderBy`; installing is idempotent and atomic. */
class SmallSortSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def strategies = spark.experimental.extraStrategies

  /** The executed plan after an action: AQE's final plan, out of
    * its result stage. */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case q: QueryStageExec => q.plan
        case p => p
      }
      case p => p
    }

  private def ranged(p: SparkPlan): Boolean =
    p.toString.contains("rangepartitioning")

  private def oneTaskSort(p: SparkPlan): Boolean = p.exists {
    case SortExec(_, true, InputAdapter(CoalesceExec(1, _)), _) => true
    case SortExec(_, true, CoalesceExec(1, _), _) => true
    case _ => false
  }

  /** Eight files of `rows` keyed rows each, nulls and ties included. */
  private def table(rows: Int): String = {
    val dir = tmpDir("graft-smallsort")
    (0 until rows).map { i =>
      (if (i % 11 == 0) None else Some((i * 7) % 13), s"r$i", i.toLong)
    }.toDF("k", "tag", "v").repartition(8).write.parquet(s"$dir/t")
    s"$dir/t"
  }

  private def served(df: DataFrame): DataFrame = SmallSort.served(spark, df)

  test("a marked sort of a small input plans no range exchange and runs in one task") {
    val path = table(200)
    val df = served(spark.read.parquet(path).orderBy($"k", $"v"))
    var rows = Array.empty[Row]
    val tasks = tasksDuring { rows = df.collect() }
    assert(rows.length === 200)
    val p = finalPlan(df)
    assert(!ranged(p) && oneTaskSort(p), s"expected a one-partition sort:\n$p")
    assert(tasks === 1, s"a scan-and-sort in one partition is one task, saw $tasks")
  }

  test("a marked sort whose input exceeds the threshold keeps its range exchange") {
    val path = table(2000)
    RuleSwitch.scoped(spark, Nil, threshold -> Some("1024")) {
      val df = served(spark.read.parquet(path).groupBy($"tag")
        .agg(sum($"v").as("s")).orderBy($"tag"))
      assert(df.collect().length === 2000)
      val p = finalPlan(df)
      assert(ranged(p) && !oneTaskSort(p), s"expected Spark's range sort:\n$p")
    }
  }

  test("a join-then-aggregate sized large statically sorts in one partition after AQE re-plans") {
    def shape = graft.Tables(spark, sf, "lineitem")
      .join(graft.Tables(spark, sf, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
    val df = served(shape)
    val static = df.queryExecution.optimizedPlan.children.head.stats.sizeInBytes
    assert(static > spark.sessionState.conf.autoBroadcastJoinThreshold,
      s"the static estimate ($static B) must exceed the threshold for this pin")
    assert(df.collect().toSeq === shape.collect().toSeq)
    val p = finalPlan(df)
    assert(!ranged(p) && oneTaskSort(p), s"expected a one-partition sort:\n$p")
  }

  test("an unmarked sort is untouched") {
    val path = table(200)
    SmallSort.served(spark, spark.range(1).toDF())
    assert(strategies.contains(SmallSort))
    val df = spark.read.parquet(path).orderBy($"k", $"v")
    df.collect()
    val p = finalPlan(df)
    assert(ranged(p) && !oneTaskSort(p), s"an unmarked sort must range-sort:\n$p")
  }

  test("rows and order equal a plain orderBy, nulls included, ties as sets") {
    val path = table(500)
    Seq(Seq($"k".asc_nulls_first), Seq($"k".desc_nulls_last),
        Seq($"k".asc_nulls_last, $"tag".desc)).foreach { order =>
      def shape = spark.read.parquet(path).orderBy(order: _*)
      val plain = shape.collect().toSeq
      val marked = served(shape)
      val small = marked.collect().toSeq
      assert(oneTaskSort(finalPlan(marked)), s"order $order must sort in one partition")
      val keys = order.size match {
        case 1 => (r: Row) => Seq(r.get(0))
        case _ => (r: Row) => Seq(r.get(0), r.get(1))
      }
      def runs(rs: Seq[Row]): Seq[(Seq[Any], Set[Row])] =
        rs.foldLeft(List.empty[(Seq[Any], List[Row])]) {
          case ((k, g) :: rest, r) if keys(r) == k => (k, r :: g) :: rest
          case (acc, r) => (keys(r), List(r)) :: acc
        }.reverse.map { case (k, g) => (k, g.toSet) }
      assert(small.size === plain.size)
      assert(runs(small) === runs(plain), s"order $order differs")
    }
  }

  test("installing is idempotent, and concurrent installs leave one instance") {
    val prior = strategies
    try {
      spark.experimental.extraStrategies = prior.filterNot(_ == SmallSort)
      val pool = Executors.newFixedThreadPool(2)
      val go = new CountDownLatch(1)
      (1 to 2).foreach(_ => pool.submit(new Runnable {
        def run(): Unit = { go.await(); RuleSwitch.install(spark, SmallSort) }
      }))
      go.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
      RuleSwitch.install(spark, SmallSort)
      assert(strategies.count(_ == SmallSort) === 1)
      assert(strategies.size === prior.filterNot(_ == SmallSort).size + 1)
    } finally spark.experimental.extraStrategies = prior
  }
}
