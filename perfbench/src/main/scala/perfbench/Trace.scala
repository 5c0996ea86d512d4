package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the span that
  * was open when this one started (0 for none); `op` names the
  * operation it served, such as a query name or a micro-batch id. */
final case class Span(id: Int, name: String, op: String, parent: Int, startNs: Long, endNs: Long)

/** The benchmark's traced mode. Off, [[span]] just runs its body and
  * no listener is attached. On, between [[startCounting]] and
  * [[stopCounting]] it records a span around every layer call the
  * workloads make and counts what Spark's public listener, the
  * `QueryPlanningTracker` of every executed query, Catalyst's rule
  * metering and Hadoop's filesystem statistics report. Everything is kept in memory and
  * written once, at exit. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  @volatile private var counting = false

  /** Runs `body`, inside the counting window as a span. */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!counting) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, op, parent, t0, System.nanoTime())
      }
    }

  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** The `System.nanoTime` reading at wall-clock instant `epochMs`. */
  def nanoOf(epochMs: Long): Long = nano0 + (epochMs - wall0) * 1000000L

  /** Adds a span measured elsewhere (a micro-batch, from its progress
    * report) under the innermost open span. */
  def record(name: String, op: String, startNs: Long, endNs: Long): Unit =
    if (counting) {
      spans += Span(nextId, name, op, open.headOption.getOrElse(0), startNs, endNs)
      nextId += 1
    }

  private val longs = mutable.LinkedHashMap.empty[String, AtomicLong]
  private val doubles = mutable.LinkedHashMap.empty[String, DoubleAdder]
  private def L(n: String) = longs.getOrElseUpdate(n, new AtomicLong)
  private def D(n: String) = doubles.getOrElseUpdate(n, new DoubleAdder)
  Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_ns",
    "spark.executor_cpu_ns", "spark.gc_ms", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes").foreach(L)
  Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms").foreach(D)
  Tracer.GraftRules.foreach { r => D(s"plans.$r.ms"); L(s"plans.$r.effective") }

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counting) L("spark.jobs").incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (counting) L("spark.stages").incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (counting) {
          L("spark.tasks").incrementAndGet()
          Option(e.taskMetrics).foreach { m =>
            L("spark.executor_ns").addAndGet(m.executorRunTime * 1000000L)
            L("spark.executor_cpu_ns").addAndGet(m.executorCpuTime)
            L("spark.gc_ms").addAndGet(m.jvmGCTime)
            L("spark.shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
            L("spark.shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
            L("spark.spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planning(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planning(qe)
    })
  }

  private def planning(qe: QueryExecution): Unit = if (counting) {
    for (phase <- Seq("analysis", "optimization", "planning"); p <- qe.tracker.phases.get(phase))
      D(s"catalyst.${phase}_ms").add(p.durationMs.toDouble)
  }

  /** Time and effective runs of the graft rules since the last reset,
    * from Catalyst's process-wide rule metering: it also sees the
    * plans a query body optimizes without executing them. */
  private def graftRules(): Unit = {
    val line = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r
    RuleExecutor.dumpTimeSpent().linesIterator.foreach {
      case line(rule, _, totalNs, effective, _) => Tracer.graftRule(rule).foreach { r =>
        D(s"plans.$r.ms").add(totalNs.toLong / 1e6)
        L(s"plans.$r.effective").addAndGet(effective.toLong)
      }
      case _ =>
    }
  }

  private def fsStats: (Long, Long) = {
    val st = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def v(k: String) = st.flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    (v("bytesRead"), v("bytesWritten"))
  }
  private var fs0 = (0L, 0L)
  private var window0 = 0L

  /** Opens the counting window: earlier events are drained and the
    * counters zeroed. */
  def startCounting(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    longs.values.foreach(_.set(0))
    doubles.values.foreach(_.reset())
    fs0 = fsStats
    RuleExecutor.resetMetrics()
    window0 = System.nanoTime()
    counting = true
  }

  /** The counters of the last closed window. */
  var counted: Map[String, Double] = Map.empty

  /** Closes the counting window and returns every counter. */
  def stopCounting(): Map[String, Double] = if (!on) Map.empty else {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counting = false
    graftRules()
    val (read, written) = fsStats
    val c = mutable.LinkedHashMap.empty[String, Double]
    longs.foreach { case (k, v) => c(k) = v.get.toDouble }
    doubles.foreach { case (k, v) => c(k) = v.sum }
    c("fs.bytes_read") = (read - fs0._1).toDouble
    c("fs.bytes_written") = (written - fs0._2).toDouble
    c("window_s") = (System.nanoTime() - window0) / 1e9
    counted = c.toMap
    counted
  }

  /** Self time per span name: each span's duration minus the part of
    * its interval that its children cover. */
  def selfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sorted
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            val from = math.max(a, end)
            (if (b > from) sum + (b - from) else sum, math.max(end, b))
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Writes every span, the counters and the per-layer metrics as one
    * JSON document. */
  def write(file: File, header: Map[String, String], counters: Map[String, Double],
      metrics: Iterable[(String, Metric)]): Unit = {
    file.getParentFile.mkdirs()
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val w = new PrintWriter(file)
    try {
      w.println("{")
      header.foreach { case (k, v) => w.println(s"  ${q(k)}: ${q(v)},") }
      w.println("  \"counters\": {" + counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: $v" }.mkString(", ") + "},")
      w.println("  \"self_ms\": {" + selfMs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: $v" }.mkString(", ") + "},")
      w.println("  \"metrics\": {" + metrics.map { case (k, m) =>
        s"${q(k)}: {\"value\": ${m.value}, \"unit\": ${q(m.unit)}, \"samples\": ${m.samples}}"
      }.mkString(", ") + "},")
      w.println("  \"spans\": [")
      w.println(spans.sortBy(_.id).map { s =>
        s"""    {"id": ${s.id}, "name": ${q(s.name)}, "op": ${q(s.op)}, "parent": ${s.parent}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
      }.mkString(",\n"))
      w.println("  ]")
      w.println("}")
    } finally w.close()
  }
}

object Tracer {
  /** The engine's seven Catalyst rules, by class name minus `Rule`. */
  val GraftRules: Seq[String] = Seq("RollupRouting", "JoinElimination",
    "DictionaryRouting", "FdAggregation", "TransparentResultCache",
    "TransparentJoinSteering", "TransparentJoinOrdering")

  def graftRule(ruleName: String): Option[String] =
    GraftRules.find(r => ruleName == s"graft.plans.${r}Rule")
}
