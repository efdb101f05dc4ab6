package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Shared local SparkSession for specs that need one (small core count —
  * correctness tests, not benchmarks).
  */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")
  protected val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs launched while `body` runs: those of this thread, or with
    * `anyThread` every job of the context (e.g. an HTTP server's handler
    * threads; the suites of one JVM run one at a time).
    */
  protected def jobsDuring[T](body: => T, anyThread: Boolean = false): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (anyThread || Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = {
    // keep the session for sibling suites in the same JVM (Test/fork=true
    // runs all suites in one forked JVM) — do not stop it here.
    super.afterAll()
  }
}
