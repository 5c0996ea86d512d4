package graft.taxi

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Daily batch transform: partitioned trips Parquet → 4 aggregate
  * views (S4 → A1 → A7 → J2 → A3..A6 → sink; reference
  * `TransformTaxiTrips.py:39-192`).
  *
  * Deliberate deltas from the reference (SURVEY.md §3.3, §4):
  *  - reads the TABLE ROOT and filters on the partition column, so
  *    Catalyst's `PruneFileSourcePartitions` does the pruning the
  *    reference hand-wired via path strings (`:39`);
  *  - `persist(MEMORY_AND_DISK)` on the enriched frame — the
  *    reference recomputes scan+distinct+joins for each of its 4 JDBC
  *    writes;
  *  - areas dim is explicitly `broadcast()` (77 rows);
  *  - `strictParity=true` (default) replicates the reference's A4/A6
  *    quirk: the day-level `taxis` measure is
  *    `countDistinct(per-company taxi COUNT)` — NOT the number of
  *    distinct taxis (`TransformTaxiTrips.py:134`). `false` computes
  *    the true `countDistinct(taxi_id)` from the base table.
  */
object TransformJob {

  /** S4 — partition-pruned scan: root read + partition filter. */
  def readTripsYear(spark: SparkSession, tripsRoot: String, year: Int): DataFrame =
    spark.read.parquet(tripsRoot).where(col("year") === year)

  /** S2 — areas master CSV scan. */
  def readAreas(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", true)
      .option("mode", "DROPMALFORMED")
      .schema(Schemas.areas)
      .csv(path)

  /** A1 + A7 + narrowing — dedup, day-truncate, project the 14
    * analysis columns (`TransformTaxiTrips.py:42-58`). */
  def prepare(trips: DataFrame): DataFrame =
    trips.distinct().select(
      col("trip_id"), col("taxi_id"), col("company"),
      graft.functions.CleaningOps.dayTrunc(col("trip_start_timestamp"))
        .as("trip_start_date"),
      col("trip_seconds"), col("trip_miles"),
      col("pickup_community_area"), col("dropoff_community_area"),
      col("fare"), col("tips"), col("tolls"), col("extras"),
      col("trip_total"), col("payment_type"))

  /** J2 — left-outer enrichment with both area projections (batch path
    * keeps unmatched trips; the streaming path's inner join is the
    * documented semantic split, SURVEY.md §2.3). */
  def enrich(prepared: DataFrame, areas: DataFrame): DataFrame =
    prepared
      .join(broadcast(Cleaning.pickupAreas(areas)), Seq("pickup_community_area"), "left")
      .join(broadcast(Cleaning.dropoffAreas(areas)), Seq("dropoff_community_area"), "left")

  private val measuresL1: Seq[Column] = Seq(
    sum("fare").as("fares"),
    sum("tips").as("tips"),
    sum("tolls").as("tolls"),
    sum("extras").as("extras"),
    sum("trip_total").as("trip_totals"),
    count("trip_id").as("trips"))

  private def l1Keys(side: String): Seq[Column] = Seq(
    col("trip_start_date"), col("company"),
    col(s"${side}_community_area"), col(s"${side}_community_area_name"),
    col(s"${side}_centroid_latitude"), col(s"${side}_centroid_longitude"))

  private def l2Keys(side: String): Seq[Column] = Seq(
    col("trip_start_date"),
    col(s"${side}_community_area"), col(s"${side}_community_area_name"),
    col(s"${side}_centroid_latitude"), col(s"${side}_centroid_longitude"))

  /** A3/A5 — company × day × area aggregate. */
  def companyAreaView(enriched: DataFrame, side: String): DataFrame = {
    val measures = measuresL1 :+ countDistinct("taxi_id").as("taxis")
    enriched.groupBy(l1Keys(side): _*).agg(measures.head, measures.tail: _*)
  }

  /** A4/A6 — day × area re-aggregation over the company-level view.
    * `strictParity` keeps the reference's `countDistinct("taxis")`
    * quirk; the corrected variant aggregates straight from the
    * enriched base table in ONE pass (sums-of-sums equal sums over
    * base rows, so only the distinct measure needs the base). No
    * re-join: groups whose l2 keys are null (null community area from
    * the LEFT enrich, unknown areas with null name/centroids) must
    * survive, and a key-equality re-join silently drops them
    * (null != null). */
  def areaView(
      companyView: DataFrame,
      enriched: DataFrame,
      side: String,
      strictParity: Boolean = true): DataFrame =
    if (strictParity)
      companyView.groupBy(l2Keys(side): _*).agg(
        sum("fares").as("fares"),
        sum("tips").as("tips"),
        sum("tolls").as("tolls"),
        sum("extras").as("extras"),
        sum("trip_totals").as("trip_totals"),
        sum("trips").as("trips"),
        countDistinct("taxis").as("taxis"))
    else
      enriched.groupBy(l2Keys(side): _*).agg(
        sum("fare").as("fares"),
        sum("tips").as("tips"),
        sum("tolls").as("tolls"),
        sum("extras").as("extras"),
        sum("trip_total").as("trip_totals"),
        count("trip_id").as("trips"),
        countDistinct("taxi_id").as("taxis"))

  /** ONE-PASS alternative to the chained A3→A4 pair: ROLLUP over the
    * company dimension produces the company-level rows (grouping=0)
    * and the day-level subtotals (grouping=1) from a single shuffle
    * (Catalyst Expand) — at 100 TB this halves the aggregation work
    * of the view build. The day-level `taxis` here is the TRUE
    * distinct (computed from base rows, not re-aggregated), i.e. the
    * corrected semantics, which chained re-aggregation cannot get
    * without a second scan or a sketch. Returns (companyView,
    * dayView). */
  def rollupViews(enriched: DataFrame, side: String): (DataFrame, DataFrame) = {
    val rolled = enriched
      .groupingSets(Seq(l1Keys(side), l2Keys(side)), l1Keys(side): _*)
      .agg(
        grouping(col("company")).as("g_company"),
        sum("fare").as("fares"),
        sum("tips").as("tips"),
        sum("tolls").as("tolls"),
        sum("extras").as("extras"),
        sum("trip_total").as("trip_totals"),
        count("trip_id").as("trips"),
        countDistinct("taxi_id").as("taxis"))
    (rolled.where(col("g_company") === 0).drop("g_company"),
      rolled.where(col("g_company") === 1).drop("g_company", "company"))
  }

  /** Full job: 4 views written through the pluggable sink. */
  def run(
      spark: SparkSession,
      tripsRoot: String,
      areasPath: String,
      year: Int,
      sink: ViewSink,
      strictParity: Boolean = true): Unit = {
    val areas = readAreas(spark, areasPath)
    val enriched = enrich(prepare(readTripsYear(spark, tripsRoot, year)), areas)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pickupCompany = companyAreaView(enriched, "pickup")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dropoffCompany = companyAreaView(enriched, "dropoff")
        .persist(StorageLevel.MEMORY_AND_DISK)
      sink.write(pickupCompany, s"companies_pickup_area_view_$year")
      sink.write(areaView(pickupCompany, enriched, "pickup", strictParity),
        s"pickup_area_view_$year")
      sink.write(dropoffCompany, s"companies_dropoff_area_view_$year")
      sink.write(areaView(dropoffCompany, enriched, "dropoff", strictParity),
        s"dropoff_area_view_$year")
      pickupCompany.unpersist()
      dropoffCompany.unpersist()
    } finally enriched.unpersist()
  }
}
