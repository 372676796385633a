package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, reused across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_test_wh_").toString)
      .getOrCreate()
    // the full session-level extension surface (SQL fns + default-on
    // window-top-k rewrite), exactly what Verify/Bench/CLI sessions run —
    // the suites must test the plans users actually get
    GraftSession.init(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Number of Spark jobs scheduled while `body` runs, on a cold data
    * cache (listener bus is async — wait for the counter to go quiescent
    * before reading it).
    */
  protected def countJobs(body: => Unit): Int = {
    spark.catalog.clearCache()
    val acc = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = acc.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val v = acc.get()
        if (v == prev) stable += 1 else { stable = 0; prev = v }
      }
      acc.get()
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.catalog.clearCache()
    }
  }

  override def afterAll(): Unit = {
    // keep the session alive for sibling suites; stopped by the JVM exit
    super.afterAll()
  }
}
