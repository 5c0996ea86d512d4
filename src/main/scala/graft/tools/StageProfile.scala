package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Stage-level profile of ONE registered query at a given SF — the
  * guide-§1 empirical loop without the Spark UI (headless sandbox):
  * run the query to the noop sink (after a warm-up rep so codegen/JIT
  * and artifact ensure() costs stay out of the reading) and print
  * the rep's job count (its job floor: on a driver-bound query each
  * job costs about as much as the work) and every stage's wall
  * duration, summed executor run time, task count, and shuffle/input
  * volumes, slowest first. The "which exchange is the money" question
  * PlanMetrics answers in bytes, this answers in seconds.
  *
  *   runMain graft.tools.StageProfile <sfDir> <queryName> [reps]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession(graft.GraftSession.envCores(32))
    val fn = graft.SparkEntry.queries(name)

    case class Row(id: Int, wallMs: Long, execMs: Long, tasks: Int,
      inMB: Double, srMB: Double, swMB: Double, site: String)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // @volatile: read from the async listener-bus thread, written here
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording) { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        if (!recording) return
        val i = e.stageInfo
        val wall = (for {
          s <- i.submissionTime; c <- i.completionTime
        } yield c - s).getOrElse(-1L)
        val m = i.taskMetrics
        rows.add(Row(i.stageId, wall, m.executorRunTime, i.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6
            + m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          i.details.linesIterator.take(1).mkString))
      }
    })

    // warm-up: artifacts ensure(), codegen, JIT — not what we profile
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    (1 to reps).foreach { r =>
      // drain straggler events from the previous run before arming the
      // flag, so they cannot bleed into this rep's profile
      Thread.sleep(500)
      rows.clear()
      jobs.set(0)
      recording = true
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // stage-completed events are delivered asynchronously; drain the
      // listener bus before flipping the flag / reading rows so the
      // rep's final (often slowest) stages are not silently dropped.
      // listenerBus.waitUntilEmpty is private[spark]; a bounded sleep
      // suffices for a dev tool.
      Thread.sleep(500)
      recording = false
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala.toSeq.sortBy(-_.wallMs)
      println(f"== $name rep $r: $sec%.2f s, ${jobs.get} jobs, ${rs.size} stages ==")
      println(f"${"stage"}%5s ${"wall_ms"}%8s ${"exec_ms"}%8s ${"tasks"}%5s " +
        f"${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s  site")
      rs.take(25).foreach { x =>
        println(f"${x.id}%5d ${x.wallMs}%8d ${x.execMs}%8d ${x.tasks}%5d " +
          f"${x.inMB}%8.1f ${x.srMB}%8.1f ${x.swMB}%8.1f  ${x.site.take(90)}")
      }
    }
    spark.stop()
  }
}
