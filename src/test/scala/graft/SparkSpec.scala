package graft

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
    * cache ([[JobCounter]]).
    */
  protected def countJobs(body: => Unit): Int = {
    spark.catalog.clearCache()
    try JobCounter.count(spark.sparkContext)(body)._2
    finally spark.catalog.clearCache()
  }

  override def afterAll(): Unit = {
    // keep the session alive for sibling suites; stopped by the JVM exit
    super.afterAll()
  }
}
