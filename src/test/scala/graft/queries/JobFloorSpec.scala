package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The job floor of served queries: Spark jobs one warm noop write
  * of a registered query launches at sf0.001, through the serve path
  * (`SparkEntry.queries`). On a driver-bound serve path each job costs
  * about as much as the query's own work, so a change that adds one
  * fails here, not only in a traced benchmark run. The counts are
  * exact; a change that lowers one updates its pin. */
class JobFloorSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Jobs of one noop write, after a first write built the query's
    * artifacts. */
  private def jobs(name: String): Int = {
    val fn = SparkEntry.queries(name)
    def serve(): Unit = {
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    serve()
    jobsDuring(serve())
  }

  private val floors = Seq(
    "q42_routed_rollup_count" -> 2,
    "q62_stats_profile" -> 2,
    "q87_transparent_ordering" -> 4)

  floors.foreach { case (name, floor) =>
    test(s"$name launches $floor jobs a warm noop write") {
      withIndexRoot("graft-jobfloor") {
        assert(jobs(name) === floor)
      }
    }
  }
}
