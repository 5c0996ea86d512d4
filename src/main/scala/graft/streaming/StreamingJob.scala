package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.taxi.{Cleaning, Schemas}

/** Real-time trips pipeline: Kafka JSON → parse → clean → enrich →
  * dual sinks (reference `StreamingTaxiTrips.py:79-166`; SURVEY.md
  * §2.7 T1–T4, §2.1 S5/S7/S8, §2.3 J1, §2.2 P2/P7/P10).
  *
  * Architecture notes:
  *  - ONE input lineage fanned out to TWO independent StreamingQuery
  *    instances (Kafka enriched feed on the default ASAP trigger;
  *    Parquet archive on a 15-min processing-time trigger), each with
  *    its own checkpoint — exactly the reference's T1 topology. In
  *    Kafka deployments this means the topic is consumed twice (one
  *    consumer group per query), which is the price of independent
  *    checkpoints and triggers.
  *  - The pipeline is STATELESS (parse → clean → stream-static join →
  *    write): no watermark needed; late rows land in whichever
  *    micro-batch reads them while their `year/month` partition still
  *    derives from event time (T3).
  *  - Stream–static joins against the ≤77-row areas dim broadcast the
  *    static side per micro-batch; INNER on the streaming path (drops
  *    unknown areas) vs LEFT on the batch path — the reference's
  *    deliberate semantic split, preserved and documented (J1 vs J2).
  *  - Source/sink are pluggable so tests drive MemoryStream/file
  *    sources and memory/parquet sinks; production wires Kafka via
  *    the same transforms.
  */
object StreamingJob {

  /** S5 — Kafka streaming source: value bytes → string. */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("failOnDataLoss", false)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** F5 + P10 — parse the JSON payload with the explicit schema and
    * the 12-hour timestamp format into one row of its fields per line.
    * The parse is a `Generate` (`inline` of a one-element array), which
    * filters cannot cross: flattening `from_json(...).*` in a
    * projection let the enrich joins' inferred `isnotnull(area)`
    * filters push through it, and each row then evaluated `from_json`
    * three times. A null or malformed line still yields one row of
    * nulls, as the flattened struct did. */
  def parse(jsonLines: DataFrame): DataFrame =
    jsonLines.select(inline(array(from_json(col("value"), Schemas.kafkaJsonTrips,
      Map("timestampFormat" -> Schemas.TripTimestampFormat)))))

  /** P2 — the SHARED cleaning projection (same code as batch P1). */
  def clean(parsed: DataFrame): DataFrame = Cleaning.clean(parsed)

  /** P7 — narrowing projection for the enriched (Druid-feed) branch. */
  def narrow(cleaned: DataFrame): DataFrame = cleaned.select(
    "trip_id", "taxi_id", "company", "trip_start_timestamp",
    "trip_end_timestamp", "trip_seconds", "trip_miles",
    "pickup_community_area", "dropoff_community_area",
    "fare", "tips", "tolls", "extras", "trip_total")

  /** J1 — stream–static INNER enrichment ×2 (drops unknown areas). */
  def enrich(narrowed: DataFrame, areas: DataFrame): DataFrame =
    narrowed
      .join(broadcast(Cleaning.pickupAreas(areas)), Seq("pickup_community_area"))
      .join(broadcast(Cleaning.dropoffAreas(areas)), Seq("dropoff_community_area"))

  /** S7 payload shape — key = taxi_id, value = to_json(struct(*)). */
  def toKafkaPayload(enriched: DataFrame): DataFrame =
    enriched.select(
      col("taxi_id").cast("string").as("key"),
      to_json(struct(col("*"))).as("value"))

  /** S7 — enriched feed → Kafka, Append, own checkpoint, ASAP trigger. */
  def kafkaSinkQuery(enriched: DataFrame, brokers: String, topic: String,
      checkpoint: String): StreamingQuery =
    toKafkaPayload(enriched).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** S8 — cleaned archive → partitioned Parquet on a 15-min
    * processing-time trigger (exactly-once via _spark_metadata). */
  def parquetSinkWriter(cleaned: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("15 minutes")): DataStreamWriter[Row] =
    cleaned.writeStream
      .format("parquet")
      .trigger(trigger)
      .partitionBy("year", "month")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Streaming → JDBC bridge via foreachBatch: Structured Streaming
    * has no built-in JDBC sink, so each micro-batch is appended
    * transactionally-per-batch through the batch writer (exactly-once
    * only if the table has a batch-id dedup key; at-least-once
    * otherwise — same contract as the reference's Kafka sink). */
  def jdbcArchiveWriter(cleaned: DataFrame, url: String, table: String,
      props: java.util.Properties, checkpoint: String): DataStreamWriter[Row] =
    cleaned.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").jdbc(url, table, props)
      }

  /** Full production topology: one lineage, two queries (T1). */
  def run(spark: SparkSession, brokers: String, inTopic: String,
      outTopic: String, areasPath: String, tripsPath: String,
      checkpointKafka: String, checkpointFiles: String): Seq[StreamingQuery] = {
    val areas = graft.taxi.TransformJob.readAreas(spark, areasPath)
    val cleaned = clean(parse(kafkaSource(spark, brokers, inTopic)))
    val q1 = kafkaSinkQuery(enrich(narrow(cleaned), areas), brokers, outTopic,
      checkpointKafka)
    val q2 = parquetSinkWriter(cleaned, tripsPath, checkpointFiles).start()
    Seq(q1, q2)
  }
}
