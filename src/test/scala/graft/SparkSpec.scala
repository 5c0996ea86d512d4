package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (Spark sessions
  * are expensive; ScalaTest suites run sequentially in the forked
  * JVM) — the engine's own session, so plan and partition pins hold
  * under the settings the bench measures. */
object TestSession {
  lazy val spark: SparkSession = GraftSession(4)

  /** Every directory [[SparkSpec.tmpDir]] made; deleted, with its
    * contents, when the test JVM exits. */
  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val cleanup = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))))

  def tmpDir(prefix: String): String = {
    cleanup
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Each test gets the shared session's rule list back as it found
    * it, so a rule a test installs (directly, or through a library
    * call such as GraftCatalog.registerAll) never reaches a later
    * test's plans. */
  override def withFixture(test: NoArgTest): Outcome =
    graft.plans.RuleSwitch.scoped(spark, Nil)(super.withFixture(test))
  /** Spark jobs launched while `body` runs. */
  def jobsDuring(body: => Unit): Int =
    eventsDuring(_.isInstanceOf[org.apache.spark.scheduler.SparkListenerJobStart])(body)

  /** Spark tasks launched while `body` runs. */
  def tasksDuring(body: => Unit): Int =
    eventsDuring(_.isInstanceOf[org.apache.spark.scheduler.SparkListenerTaskStart])(body)

  /** Listener events `counted` accepts while `body` runs — the
    * listener bus is asynchronous, so poll until the count is stable. */
  private def eventsDuring(
      counted: org.apache.spark.scheduler.SparkListenerEvent => Boolean)(
      body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.SparkFirehoseListener {
      override def onEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        if (counted(e)) { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1
      var cur = n.get()
      while (cur != prev) { Thread.sleep(300); prev = cur; cur = n.get() }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** A fresh directory under the temp root, deleted when the test JVM
    * exits. */
  def tmpDir(prefix: String): String = TestSession.tmpDir(prefix)

  /** Run `body` against a fresh, isolated artifact root (the
    * graft.index.dir system property every IndexStore-derived layout
    * keys on). One shared helper — suites each re-defining it is
    * global-mutable-state drift waiting to happen. */
  def withIndexRoot[A](prefix: String)(body: => A): A = {
    sys.props("graft.index.dir") = tmpDir(prefix)
    try body
    finally { sys.props.remove("graft.index.dir"); () }
  }
}
