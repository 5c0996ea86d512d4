package graft.operators

import graft.{SparkSpec, Tables}
import graft.streaming.TaxiSessionTracker
import graft.streaming.TaxiSessionTracker.{TaxiSession, TripEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

class SkewAndStateSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join (inner + left) on real tables") {
    val sf = "/root/testdata/sf0.001"
    val orders = Tables(spark, sf, "orders")
    val cust = Tables(spark, sf, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    val plain = orders.join(cust, Seq("o_custkey"))
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("rev"))
    val salted = SkewJoin.saltedJoin(orders, cust, "o_custkey",
      saltOn = $"o_orderkey", factor = 8)
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("rev"))
    assert(plain.orderBy($"c_mktsegment").collect().toSeq ===
      salted.orderBy($"c_mktsegment").collect().toSeq)
    // left join keeps unmatched fact rows exactly once
    val factExtra = orders.select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .union(Seq((-1L, -1L, 5.0)).toDF("o_custkey", "o_orderkey", "o_totalprice"))
    val leftPlain = factExtra.join(cust, Seq("o_custkey"), "left").count()
    val leftSalted = SkewJoin.saltedJoin(factExtra, cust, "o_custkey",
      $"o_orderkey", 8, "left").count()
    assert(leftPlain === leftSalted)
  }

  test("salted join spreads a hot key across salt partitions") {
    // 10k rows all with the SAME key — the pathological skew case
    val fact = spark.range(10000)
      .select(lit(1L).as("k"), $"id", (rand(7) * 10).as("v"))
    val dim = Seq((1L, "hot")).toDF("k", "name")
    val out = SkewJoin.saltedJoin(fact, dim, "k", $"id", factor = 16)
    assert(out.count() === 10000)
    // the fact side's shuffle key space is (k, salt): verify all 16
    // salts are actually populated
    val salts = fact.withColumn("__salt", pmod(xxhash64($"id"), lit(16)))
      .select(countDistinct($"__salt")).head().getLong(0)
    assert(salts === 16L)
  }

  test("salted join fails fast on join types the salting breaks") {
    val fact = Seq((1L, 1L)).toDF("k", "id")
    val dim = Seq((1L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(fact, dim, "k", $"id", 4, "right")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(fact, dim, "k", $"id", 4, "full_outer")
    }
    // accepted spellings still work
    assert(SkewJoin.saltedJoin(fact, dim, "k", $"id", 4, "left_outer")
      .count() === 1L)
  }

  test("TopK ranks NaN scores like the window desc formulation") {
    val df = Seq(
      (1, 10L, 1.0), (1, 11L, Double.NaN), (1, 12L, 2.0), (1, 13L, Double.NaN))
      .toDF("g", "tag", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"score".desc, $"tag")
    val viaWindow = df.withColumn("rnk", row_number().over(w))
      .where($"rnk" <= 3).orderBy($"rnk")
      .select($"tag").as[Long].collect().toSeq
    val viaAgg = TopK.topKPerGroup(df, "g", "score", "tag", 3)
      .orderBy($"rnk").select($"tag").as[Long].collect().toSeq
    assert(viaAgg === viaWindow) // NaN first: 11, 13, then 2.0 → 12
    assert(viaAgg === Seq(11L, 13L, 12L))
  }

  test("bounded-heap TopK aggregator equals the window formulation") {
    val sf = "/root/testdata/sf0.001"
    val rev = Tables(spark, sf, "orders")
      .groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"))
    val cust = Tables(spark, sf, "customer")
      .join(rev, $"c_custkey" === $"o_custkey", "left")
      .withColumn("revenue", coalesce($"revenue", lit(0.0)))
      .select($"c_nationkey", $"c_custkey", $"revenue")
    // window reference
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_nationkey").orderBy($"revenue".desc, $"c_custkey")
    val viaWindow = cust.withColumn("rnk", row_number().over(w))
      .where($"rnk" <= 3)
      .select($"c_nationkey", $"rnk", $"c_custkey", $"revenue")
      .orderBy($"c_nationkey", $"rnk").collect().toSeq
    // bounded-heap aggregator
    val viaAgg = TopK.topKPerGroup(cust, "c_nationkey", "revenue", "c_custkey", 3)
      .select($"c_nationkey", $"rnk",
        $"c_custkey".cast("long").as("c_custkey"), $"revenue")
      .orderBy($"c_nationkey", $"rnk").collect().toSeq
    assert(viaAgg.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      === viaWindow.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
  }

  test("VectorAgg.vectorMean equals the posexplode centroid formulation at round-8") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"label", $"embedding".cast("array<double>").as("v"))
    val viaAgg = e.groupBy($"label")
      .agg(VectorAgg.vectorMean($"v").as("mv"))
      .select($"label", transform($"mv", x => round(x, 8)).as("cv"))
      .orderBy($"label")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val viaExplode = e
      .select($"label", posexplode($"v").as(Seq("pos", "val")))
      .groupBy($"label", $"pos")
      .agg(round(avg($"val"), 8).as("cval"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos", $"cval"))).as("pairs"))
      .select($"label", transform($"pairs", p => p("cval")).as("cv"))
      .orderBy($"label")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(viaAgg.toSeq === viaExplode.toSeq)
  }

  test("VectorAgg.vectorMean fails loudly on ragged vector lengths") {
    val ragged = Seq((1, Seq(1.0, 2.0)), (1, Seq(1.0, 2.0, 3.0)))
      .toDF("label", "v").coalesce(1) // same partition → reduce path hits it
    val e = intercept[Exception] {
      ragged.groupBy($"label").agg(VectorAgg.vectorMean($"v")).collect()
    }
    def chainHasDims(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(m =>
        m.contains("dim 2") && m.contains("dim 3")) || chainHasDims(t.getCause))
    assert(chainHasDims(e),
      s"mismatch error must name both dims, got: ${e.getMessage}")
  }

  test("flatMapGroupsWithState maintains per-taxi session state across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[TripEvent]
    val sessions = TaxiSessionTracker.sessionState(mem.toDS(),
      GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.format("memory").queryName("sessions_t")
      .outputMode("update").start()
    try {
      mem.addData(TripEvent("taxiA", Some(10.0), Some(600)),
        TripEvent("taxiA", Some(5.5), Some(300)),
        TripEvent("taxiB", Some(20.0), None))
      q.processAllAvailable()
      val s1 = spark.table("sessions_t").as[TaxiSession].collect()
        .groupBy(_.taxi_id).view.mapValues(_.last).toMap
      assert(s1("taxiA") === TaxiSession("taxiA", 2, 15.5, 900))
      assert(s1("taxiB") === TaxiSession("taxiB", 1, 20.0, 0))
      // second micro-batch accumulates onto existing state
      mem.addData(TripEvent("taxiA", Some(4.5), Some(100)))
      q.processAllAvailable()
      val s2 = spark.table("sessions_t").as[TaxiSession].collect()
        .filter(_.taxi_id == "taxiA").last
      assert(s2 === TaxiSession("taxiA", 3, 20.0, 1000))
    } finally q.stop()
  }
}
