package graft.taxi

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden end-to-end tests for the batch pipeline over the synthetic
  * fixture (SURVEY.md §5.2): values below are hand-computed from
  * Fixture.rawTripsRows. */
class TaxiPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = tmpDir("taxi")
  private lazy val tripsCsv = Fixture.write(s"$dir/in/trips.csv", Fixture.rawTripsCsv)
  private lazy val areasCsv = Fixture.write(s"$dir/in/areas.csv", Fixture.areasCsv)

  test("ingest: CSV → clean → partitioned parquet (S1→P1→S6)") {
    IngestHistoricJob.run(spark, tripsCsv, s"$dir/trips_parquet")
    // partition layout year=/month=
    val p = new java.io.File(s"$dir/trips_parquet/year=2021")
    assert(p.exists, "year partition dir missing")
    assert(new java.io.File(s"$dir/trips_parquet/year=2021/month=3").exists)
    assert(new java.io.File(s"$dir/trips_parquet/year=2021/month=4").exists)

    val back = spark.read.parquet(s"$dir/trips_parquet")
    assert(back.count() === 8) // ingest does NOT dedup (distinct is transform's job)

    val t2 = back.where($"trip_id" === "t2").head()
    assert(t2.getAs[Int]("trip_miles") === 0, "lossy 0.6→0 cast")
    assert(t2.getAs[Double]("fare") === 1200.0, "thousands-separator currency")
    val t3 = back.where($"trip_id" === "t3").head()
    assert(t3.isNullAt(t3.fieldIndex("trip_seconds")), "empty int stays null")
    assert(t3.isNullAt(t3.fieldIndex("company")), "empty company stays null")
    // 12-hour PM parse: t4 starts 08:00 PM = 20:00 UTC
    val t4 = back.where($"trip_id" === "t4").head()
    assert(t4.getAs[java.sql.Timestamp]("trip_start_timestamp").toString
      .startsWith("2021-03-06 20:00:00"))
  }

  test("transform: distinct → day-trunc → left enrich → 4 views (A1/A7/J2/A3-A6)") {
    val sink = new MemorySink
    TransformJob.run(spark, s"$dir/trips_parquet", areasCsv, 2021, sink)
    assert(sink.tables.keySet === Set(
      "companies_pickup_area_view_2021", "pickup_area_view_2021",
      "companies_dropoff_area_view_2021", "dropoff_area_view_2021"))

    val cp = sink.tables("companies_pickup_area_view_2021")
    // t1 dup collapsed by distinct → Acme/area10/Mar5 groups t1+t2:
    // fares 12.50+1200.00, trips 2, taxis 1 (both taxiA)
    val acme10 = cp.where($"company" === "Acme Cab"
      && $"pickup_community_area" === 10
      && $"trip_start_date" === to_timestamp(lit("2021-03-05 00:00:00")))
    assert(acme10.count() === 1)
    val r = acme10.head()
    assert(r.getAs[Double]("fares") === 1212.5)
    assert(r.getAs[Long]("trips") === 2L)
    assert(r.getAs[Long]("taxis") === 1L)
    // left join keeps unknown area 99 (name null) and null-area t6
    assert(cp.where($"pickup_community_area" === 99
      && $"pickup_community_area_name".isNull).count() === 1)
    assert(cp.where($"pickup_community_area".isNull).count() === 1)

    // day-level re-agg: 2021-03-05 area 10 has only Acme → taxis quirk:
    // countDistinct of the per-company taxi-count column (=1)
    val p = sink.tables("pickup_area_view_2021")
    val d10 = p.where($"pickup_community_area" === 10
      && $"trip_start_date" === to_timestamp(lit("2021-03-05 00:00:00"))).head()
    assert(d10.getAs[Double]("fares") === 1212.5)
    assert(d10.getAs[Long]("trips") === 2L)
    assert(d10.getAs[Long]("taxis") === 1L)
  }

  test("transform strictParity=false computes TRUE distinct taxis") {
    val sink = new MemorySink
    TransformJob.run(spark, s"$dir/trips_parquet", areasCsv, 2021, sink,
      strictParity = false)
    // 2021-03-06 area 20 pickup: t3 (taxiB, company null) — true taxis=1
    val p = sink.tables("pickup_area_view_2021")
    val r = p.where($"pickup_community_area" === 20
      && $"trip_start_date" === to_timestamp(lit("2021-03-06 00:00:00"))).head()
    assert(r.getAs[Long]("taxis") === 1L)

    // Null-keyed groups must SURVIVE the corrected variant (a
    // key-equality re-join would drop them: null != null):
    // t4 pickup area 99 is unknown to the master → null name/centroids
    val a99 = p.where($"pickup_community_area" === 99
      && $"trip_start_date" === to_timestamp(lit("2021-03-06 00:00:00"))).head()
    assert(a99.getAs[String]("pickup_community_area_name") === null)
    assert(a99.getAs[Double]("fares") === 25.0)
    assert(a99.getAs[Long]("taxis") === 1L)
    // t6 has NO community area at all → fully-null area key
    val an = p.where($"pickup_community_area".isNull
      && $"trip_start_date" === to_timestamp(lit("2021-04-02 00:00:00"))).head()
    assert(an.getAs[Double]("fares") === 9.75)
    assert(an.getAs[Long]("trips") === 1L)
    assert(an.getAs[Long]("taxis") === 1L)
  }

  test("reference schema quirks: case-insensitive resolution + space-in-name column") {
    // the reference resolves areas["area_Number"] against a field
    // declared area_number (`StreamingTaxiTrips.py:20,34`) and names a
    // column literally "Payment Type" (`AreasLoc.py:38`) — both only
    // work under spark.sql.caseSensitive=false, which is Spark's
    // default and this engine's assumed contract
    assert(spark.conf.get("spark.sql.caseSensitive") === "false")
    val df = Seq((10, "Cash")).toDF("area_number", "Payment Type")
    assert(df.select(col("area_Number")).head().getInt(0) === 10)
    assert(df.select(col("PAYMENT TYPE")).head().getString(0) === "Cash")
    assert(df.selectExpr("`Payment Type`").head().getString(0) === "Cash")
  }

  test("rollupViews: one-pass grouping-sets equals the chained two-level views") {
    val areas = TransformJob.readAreas(spark, areasCsv)
    val enriched = TransformJob.enrich(
      TransformJob.prepare(spark.read.parquet(s"$dir/trips_parquet")), areas)
    val (companyV, dayV) = TransformJob.rollupViews(enriched, "pickup")
    // company level == the classic A3 view
    val classic = TransformJob.companyAreaView(enriched, "pickup")
    val keyCols = Seq("trip_start_date", "company", "pickup_community_area")
    val a = companyV.orderBy(keyCols.map(col): _*).collect().toSeq
    val b = classic.select(companyV.columns.map(col): _*)
      .orderBy(keyCols.map(col): _*).collect().toSeq
    assert(a === b)
    // day level carries the TRUE distinct-taxis (corrected semantics)
    val d10 = dayV.where($"pickup_community_area" === 10
      && $"trip_start_date" === to_timestamp(lit("2021-03-05 00:00:00"))).head()
    assert(d10.getAs[Double]("fares") === 1212.5)
    assert(d10.getAs[Long]("taxis") === 1L)
    // day level sums equal re-aggregated company level for additive cols
    val reagg = companyV.groupBy($"trip_start_date", $"pickup_community_area")
      .agg(sum($"fares").as("fares2"), sum($"trips").as("trips2"))
    val cmp = dayV.join(reagg, Seq("trip_start_date", "pickup_community_area"))
    assert(cmp.where($"fares" =!= $"fares2" || $"trips" =!= $"trips2").count() === 0)
  }

  test("areas master: filter → dropDuplicates → join → single CSV (P9/A2/J3/S10)") {
    val commCsv = Fixture.write(s"$dir/in/comm.csv", Fixture.commAreasCsv)
    AreasMasterJob.run(spark, tripsCsv, commCsv, s"$dir/areas_out")
    val out = spark.read
      .option("header", true).schema(Schemas.areas).csv(s"$dir/areas_out")
    // fixture: census tract is null for areas 10,20,99 rows w/ company;
    // t6 has null area (filtered); t5 has census tract (filtered);
    // commAreas has 10,20,30 → inner join leaves 10,20
    val rows = out.orderBy($"area_number").collect()
    assert(rows.map(_.getAs[Int]("area_number")).toSeq === Seq(10, 20))
    assert(rows.head.getAs[String]("community") === "NORTHSIDE")
    // single file
    val files = new java.io.File(s"$dir/areas_out").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length === 1, "coalesce(1) single-file write")
  }

  test("typed Dataset[TaxiTrip] view of the cleaned schema") {
    val trips = TaxiTrip.cleanTyped(IngestHistoricJob.readRawTrips(spark, tripsCsv))
    val t2 = trips.filter(_.trip_id == "t2").head()
    assert(t2.trip_miles === Some(0))
    assert(t2.fare === Some(1200.0))
    assert(t2.year === Some(2021) && t2.month === Some(3))
    val t3 = trips.filter(_.trip_id == "t3").head()
    assert(t3.trip_seconds === None && t3.company === None)
  }

  test("DROPMALFORMED drops rows that violate the schema") {
    val bad = Fixture.write(s"$dir/in/bad.csv",
      Fixture.rawTripsHeader + "\n" +
        Fixture.rawTripsRows.head + "\n" +
        "tbad,taxiX,not-a-date,also-not,abc,xyz,,,10,20,$1.00,$0.00,$0.00,$0.00,$1.00,Cash,C,1,2,loc,3,4,loc")
    val df = IngestHistoricJob.readRawTrips(spark, bad)
    // collect() (not count()) so CSV column pruning doesn't skip the
    // full-row parse that DROPMALFORMED needs to detect the bad row
    assert(df.collect().length === 1, "malformed row dropped at scan")
  }

  test("batch and stream cleaning parity (P1 == P2 on same logical rows)") {
    val batchCleaned = Cleaning.clean(IngestHistoricJob.readRawTrips(spark, tripsCsv))
      .where($"trip_id".isin("t1", "t4")).distinct()
    val streamShaped = graft.streaming.StreamingJob.parse(
      Fixture.kafkaJsonLines.toDF("value"))
    val streamCleaned = Cleaning.clean(streamShaped)
    assert(streamCleaned.columns.toSeq === batchCleaned.columns.toSeq)
    // Inherent reference divergence (documented, SURVEY §1.2): batch
    // declares trip_miles DOUBLE → int cast truncates (3.2 → 3);
    // stream receives it as STRING → "3.2" does not parse as int →
    // null. Same shared projection, different input types.
    val bMiles = batchCleaned.orderBy($"trip_id")
      .select($"trip_miles").collect().map(r => Option(r.get(0)))
    val sMiles = streamCleaned.orderBy($"trip_id")
      .select($"trip_miles").collect().map(r => Option(r.get(0)))
    assert(bMiles.toSeq === Seq(Some(3), Some(12)))
    assert(sMiles.toSeq === Seq(None, None))
    // every other column is identical
    val cols = batchCleaned.columns.filterNot(_ == "trip_miles").toSeq
    val b = batchCleaned.orderBy($"trip_id")
      .select(cols.map(col): _*).collect().map(_.toSeq)
    val st = streamCleaned.orderBy($"trip_id")
      .select(cols.map(col): _*).collect().map(_.toSeq)
    assert(b.toSeq === st.toSeq)
  }
}
