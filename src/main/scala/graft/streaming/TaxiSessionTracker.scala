package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state (SURVEY.md §2.7 T5 extension): per-taxi
  * running session stats maintained with `flatMapGroupsWithState` —
  * the Structured Streaming primitive for state Spark's windowed
  * aggregates can't express (monotone per-key accumulators that emit
  * an update row per input batch).
  *
  * State per taxi: trips seen, revenue total, last trip end. Emits one
  * updated snapshot per taxi per micro-batch that touched it (Update
  * mode). State is bounded: one small case class per active taxi;
  * idle taxis are dropped via processing-time timeout.
  */
object TaxiSessionTracker {

  case class TripEvent(taxi_id: String, trip_total: Option[Double],
      trip_seconds: Option[Int])
  case class TaxiSession(taxi_id: String, trips: Long, revenue: Double,
      seconds: Long)

  def sessionState(trips: Dataset[TripEvent],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[TaxiSession] = {
    import trips.sparkSession.implicits._
    trips
      .groupByKey(_.taxi_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout) {
        (taxiId: String, events: Iterator[TripEvent],
            state: GroupState[TaxiSession]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(TaxiSession(taxiId, 0L, 0.0, 0L))
            events.foreach { e =>
              s = s.copy(
                trips = s.trips + 1,
                revenue = s.revenue + e.trip_total.getOrElse(0.0),
                seconds = s.seconds + e.trip_seconds.getOrElse(0).toLong)
            }
            state.update(s)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration("1 hour")
            Iterator.single(s)
          }
      }
  }

  /** DataFrame adapter from the cleaned trips stream. */
  def fromCleaned(cleaned: DataFrame): Dataset[TaxiSession] = {
    import cleaned.sparkSession.implicits._
    sessionState(cleaned
      .select("taxi_id", "trip_total", "trip_seconds").as[TripEvent])
  }
}
