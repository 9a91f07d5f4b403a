package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — sbt runs
  * suites sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts: jobs are tagged with a one-off job group
    * and counted by a listener, polling until the events go quiet. */
  def jobsDuring(body: => Unit): Int = {
    val group = s"spec-jobs-${System.nanoTime()}"
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) { // quiet for 3×100ms, cap 10s
        Thread.sleep(100)
        waited += 1
        val cur = started.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    } finally sc.removeSparkListener(listener)
    started.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // local[4,2]: 4 threads, spark.task.maxFailures=2 — task retries
    // are ON so RetrySpec can inject first-attempt failures and prove
    // recomputation determinism. Passing tests are unaffected; the
    // existing crash/resume tests inject DRIVER-side failures (thrown
    // on every invocation), so they still fail their jobs as before.
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // SpillSpec forces few-row spill thresholds; Spark's spill READER
      // allocates read-ahead buffers + a thread per reader, and
      // unbounded-following window frames re-create a reader per output
      // row — an allocation storm that OOMed even an 8g test JVM.
      // Core-level (context-init) conf, so set here. (The reader buffer
      // itself is clamped to ≥1 MB and stays default.)
      .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
