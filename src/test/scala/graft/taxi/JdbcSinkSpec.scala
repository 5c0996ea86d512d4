package graft.taxi

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S9 — the JDBC view sink against embedded Derby (the same
  * DataFrameWriter.jdbc path the reference points at PostgreSQL;
  * `TransformTaxiTrips.py:115-119`). Overwrite semantics = drop +
  * recreate, one connection per partition. */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("JdbcSink writes and overwrites a view table") {
    // Derby defaults string columns to CLOB, which breaks pushed-down
    // string filters on read-back — the columnTypes override is the
    // documented escape hatch
    val sink = new JdbcSink(url, new java.util.Properties,
      Map("trip_start_date" -> "VARCHAR(32)", "company" -> "VARCHAR(64)"))
    val v1 = Seq(("2021-03-05", "Acme", 10, 1212.5, 2L),
      ("2021-03-06", "Beta", 99, 31.5, 1L))
      .toDF("trip_start_date", "company", "area", "fares", "trips")
      .coalesce(1)
    sink.write(v1, "companies_view_test")

    val back = spark.read.jdbc(url, "companies_view_test",
      new java.util.Properties)
    assert(back.count() === 2)
    assert(back.where($"company" === "Acme").head().getAs[Double]("fares")
      === 1212.5)

    // overwrite drops and recreates
    val v2 = Seq(("2021-03-07", "Gamma", 5, 7.0, 1L))
      .toDF("trip_start_date", "company", "area", "fares", "trips")
      .coalesce(1)
    sink.write(v2, "companies_view_test")
    val back2 = spark.read.jdbc(url, "companies_view_test",
      new java.util.Properties)
    assert(back2.count() === 1)
    assert(back2.head().getAs[String]("company") === "Gamma")
  }

  test("OrcSink round-trips a view with working predicate pushdown") {
    val dir = tmpDir("orc-sink")
    val sink = new OrcSink(dir)
    val v = Seq(("2021-03-05", "Acme", 1212.5), ("2021-03-06", "Beta", 31.5))
      .toDF("trip_start_date", "company", "fares")
    sink.write(v, "companies_view")
    val back = spark.read.orc(s"$dir/companies_view")
      .where($"company" === "Acme")
    assert(back.collect().map(_.getAs[Double]("fares")).toSeq === Seq(1212.5))
    // the filter must reach the ORC scan (stripe min/max skipping)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("company"),
      s"company filter not pushed into the ORC scan:\n$plan")
    // overwrite semantics match the parquet/jdbc sinks
    sink.write(v.limit(1), "companies_view")
    assert(spark.read.orc(s"$dir/companies_view").count() === 1)
  }

  test("streaming foreachBatch appends micro-batches into JDBC") {
    implicit val sql = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val cleaned = graft.streaming.StreamingJob.clean(
      graft.streaming.StreamingJob.parse(mem.toDF()))
      .select($"trip_id", $"taxi_id", $"fare")
    val dir = tmpDir("jdbc_stream")
    val q = graft.streaming.StreamingJob.jdbcArchiveWriter(
      cleaned, url, "stream_archive", new java.util.Properties, s"$dir/ckpt")
      .start()
    try {
      mem.addData(Fixture.kafkaJsonLines: _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.jdbc(url, "stream_archive", new java.util.Properties)
    assert(back.count() === 2)
    assert(back.select("trip_id").collect().map(_.getString(0)).toSet
      === Set("t1", "t4"))
  }

  test("TransformJob end-to-end into JDBC (the reference's real topology)") {
    val dir = tmpDir("jdbc_e2e")
    val tripsCsv = Fixture.write(s"$dir/trips.csv", Fixture.rawTripsCsv)
    val areasCsv = Fixture.write(s"$dir/areas.csv", Fixture.areasCsv)
    IngestHistoricJob.run(spark, tripsCsv, s"$dir/trips_parquet")
    TransformJob.run(spark, s"$dir/trips_parquet", areasCsv, 2021,
      new JdbcSink(url, new java.util.Properties))
    val view = spark.read.jdbc(url, "pickup_area_view_2021",
      new java.util.Properties)
    assert(view.count() > 0)
    val d10 = view.where($"pickup_community_area" === 10
      && to_date($"trip_start_date") === lit("2021-03-05")).head()
    assert(d10.getAs[Double]("fares") === 1212.5)
  }
}
