package perfbench

import java.io.File
import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.security.MessageDigest
import scala.collection.mutable

/** One reported metric: its value, unit and how many samples it
  * summarises. */
final case class Metric(value: Double, unit: String, samples: Int)

/** What a workload hands back to [[Main]]: its metrics, the operations
  * it attempted and how many failed (threw, or produced a wrong
  * output), and the verdict of each output check. */
final class Outcome {
  val metrics: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer.empty
  var attempted = 0L
  /** Operations that threw. */
  var failed = 0L
  /** Raw samples behind the timing metrics, printed for inspection. */
  val samples: mutable.LinkedHashMap[String, Seq[Double]] = mutable.LinkedHashMap.empty
  /** Wall-clock seconds spent in each phase of the run. */
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private var phaseStart = System.nanoTime()
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases(name) = (now - phaseStart) / 1e9
    phaseStart = now
  }

  /** Per-layer metrics of a traced run, each per unit of work. */
  val layers: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = Metric(value, unit, 1)

  /** The counters every workload shares, per unit of work, from a
    * counting window of `wallS` seconds that held `units` units. */
  def layer(c: Map[String, Double], units: Double, wallS: Double): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    def per(k: String, scale: Double = 1.0) = c.getOrElse(k, 0.0) * scale / units
    Seq("spark.jobs", "spark.stages", "spark.tasks").foreach(k => layer(k, per(k), "count"))
    Seq("fs.bytes_read", "fs.bytes_written").foreach(k => layer(k, per(k), "bytes"))
    layer("spark.executor_ms", per("spark.executor_ns", 1e-6), "ms")
    layer("spark.executor_cpu_ms", per("spark.executor_cpu_ns", 1e-6), "ms")
    layer("spark.gc_ms", per("spark.gc_ms"), "ms")
    layer("spark.shuffle_write_mb", per("spark.shuffle_write_bytes", 1e-6), "MB")
    layer("spark.shuffle_read_mb", per("spark.shuffle_read_bytes", 1e-6), "MB")
    layer("spark.spill_mb", per("spark.spill_bytes", 1e-6), "MB")
    // executor time over the wall-clock capacity of every core
    layer("spark.core_util", c.getOrElse("spark.executor_ns", 0.0) / 1e9 / (wallS * cores), "ratio")
    Seq("analysis", "optimization", "planning")
      .foreach(p => layer(s"catalyst.${p}_ms", per(s"catalyst.${p}_ms"), "ms"))
    Tracer.GraftRules.foreach { r =>
      layer(s"plans.$r.ms", per(s"plans.$r.ms"), "ms")
      layer(s"plans.$r.effective", per(s"plans.$r.effective"), "count")
    }
  }

  private val failedGroups = mutable.Map.empty[String, Long]

  /** Records a check over the `ops` operations of `group`. The group's
    * operations count as failed once, however many of its checks fail. */
  def check(name: String, ok: Boolean, detail: String, group: String, ops: Long): Unit = {
    checks += ((name, ok, detail))
    if (!ok) failedGroups(group) = ops
  }

  /** Operations that threw or produced a wrong output. */
  def failedOps: Long = math.min(attempted, failed + failedGroups.values.sum)

  def correct: Boolean = checks.forall(_._2) && failedOps == 0
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Whether a timed pass that started at `t0` and has run `units`
    * (seconds each) has room for one more unit of their mean length
    * within `seconds`. It always runs at least one. */
  def roomForAnother(units: Seq[Double], t0: Long, seconds: Int): Boolean =
    units.isEmpty || (System.nanoTime() - t0) / 1e9 + units.sum / units.size <= seconds

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Peak resident set size of this JVM, from the kernel's high-water
    * mark. */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally status.close()
  }

  private val Digits = new MathContext(9)

  /** Canonical text of one value: floating point rounded to 9
    * significant digits (sums may be added up in any order), maps
    * sorted by key, nested rows and arrays kept in order. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(Digits).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => b.round(Digits).stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count and an order-insensitive content fingerprint. */
  def fingerprint(rows: Seq[org.apache.spark.sql.Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.size.toLong, md.digest().take(8).map(x => f"$x%02x").mkString)
  }
}
