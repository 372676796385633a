package graft.plans

import graft.{SparkSpec, Tables}
import graft.sources.Sources
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FooterCount answers a whole-dataset `COUNT(*)` over parquet from the
  * footers. Parity: both count spellings equal the scan's own count
  * (`df.rdd.count()`, a plan the rule never matches) on every layout the
  * scan lists differently, and schedule no job. Every shape the rule
  * must leave alone still runs the scan and returns the scan's value.
  */
class FooterCountSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `query`'s value and the jobs it scheduled on a cold cache. */
  private def counted(query: => Long): (Long, Int) = {
    var v = -1L
    val jobs = countJobs { v = query }
    (v, jobs)
  }

  private def sqlCount(q: String): Long = spark.sql(q).collect().head.getLong(0)

  /** Both count spellings equal the scan's count with no job scheduled. */
  private def assertFooterCount(df: DataFrame, what: String): Long = {
    val want = df.rdd.count()
    df.createOrReplaceTempView("footer_count_t")
    val (viaApi, apiJobs) = counted(df.count())
    val (viaSql, sqlJobs) = counted(sqlCount("SELECT COUNT(*) FROM footer_count_t"))
    assert(viaApi == want && viaSql == want, s"$what: count() $viaApi, SQL $viaSql, scan $want")
    assert(apiJobs == 0 && sqlJobs == 0, s"$what: count() ran $apiJobs jobs, SQL $sqlJobs")
    want
  }

  /** `query` runs at least one job and returns the scan path's value. */
  private def assertScanned(query: => Long, want: Long, what: String): Unit = {
    val (got, jobs) = counted(query)
    assert(got == want, s"$what: $got, scan path $want")
    assert(jobs >= 1, s"$what was answered without a scan")
  }

  private lazy val multiFile: String = {
    val path = s"${tmpDir("fc_wh_")}/t"
    Tables(spark, sfDir).orders.repartition(3).write.parquet(path)
    path
  }

  test("count equals the scan's count on every testdata source, with no job") {
    val tables = Tables(spark, sfDir)
    tables.registerAll()
    Tables.SourceNames.foreach { n =>
      assert(assertFooterCount(spark.table(n), n) > 0, n)
    }
  }

  test("count equals the scan's count on written layouts, with no job") {
    val names = new java.io.File(multiFile).list().toSeq
    assert(names.contains("_SUCCESS") && names.count(_.startsWith("part-")) >= 2)
    assertFooterCount(Sources.parquet(spark, multiFile), "multi-file table with _SUCCESS")

    val parted = s"${tmpDir("fc_part_")}/by_status"
    Sources.writePartitioned(Tables(spark, sfDir).orders, parted, Seq("o_orderstatus"))
    assertFooterCount(Sources.parquet(spark, parted), "k=v partitioned dir")

    // the _metadata summary repeats every row group of the data files:
    // counting it as data would double the count
    val summary = s"${tmpDir("fc_summary_")}/t"
    Tables(spark, sfDir).orders.repartition(2).write
      .option("parquet.summary.metadata.level", "ALL").parquet(summary)
    val summaryNames = new java.io.File(summary).list().toSeq
    assert(summaryNames.contains("_common_metadata") && summaryNames.contains("_metadata"))
    assertFooterCount(Sources.parquet(spark, summary), "dir with _common_metadata")

    val empty = s"${tmpDir("fc_empty_")}/t"
    Tables(spark, sfDir).orders.where("false").write.parquet(empty)
    assert(assertFooterCount(Sources.parquet(spark, empty), "0-row table") == 0)
  }

  test("count sums every row group of a multi-row-group file, with no job") {
    val path = s"${tmpDir("fc_groups_")}/t"
    spark.range(0, 40000, 1, 1).selectExpr("id", "cast(rand(7) * 1e9 AS long) AS r")
      .write.option("parquet.block.size", "4096").parquet(path)
    val file = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.toString), new Configuration()))
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups > 1, s"expected several row groups, wrote $groups")
    assert(assertFooterCount(Sources.parquet(spark, path), "multi-row-group file") == 40000)
  }

  test("filtered, grouped, column, distinct, limited and cached counts still scan") {
    val df = Sources.parquet(spark, multiFile)
    df.createOrReplaceTempView("footer_count_o")
    assertScanned(sqlCount("SELECT COUNT(*) FROM footer_count_o WHERE o_totalprice > 100000"),
      df.where("o_totalprice > 100000").rdd.count(), "WHERE")
    assertScanned(
      spark.sql("SELECT o_orderstatus, COUNT(*) AS n FROM footer_count_o GROUP BY o_orderstatus")
        .collect().map(_.getLong(1)).sum,
      df.rdd.count(), "GROUP BY")
    val nulls = s"${tmpDir("fc_nulls_")}/t"
    df.withColumn("c", when(col("o_orderkey") % 3 =!= 0, col("o_orderkey"))).write.parquet(nulls)
    val withNulls = Sources.parquet(spark, nulls)
    withNulls.createOrReplaceTempView("footer_count_nulls")
    assertScanned(sqlCount("SELECT COUNT(c) FROM footer_count_nulls"),
      withNulls.where("c IS NOT NULL").rdd.count(), "count(col)")
    assertScanned(sqlCount("SELECT COUNT(DISTINCT o_orderstatus) FROM footer_count_o"),
      df.select("o_orderstatus").distinct().rdd.count(), "count(DISTINCT)")
    assertScanned(sqlCount("SELECT COUNT(*) FROM (SELECT * FROM footer_count_o LIMIT 7)"),
      7L, "LIMIT")
    // persisted inside the counted block: countJobs starts on a cold cache
    val cached = Sources.parquet(spark, multiFile)
    try assertScanned({ cached.persist(); cached.count() }, df.rdd.count(), "persisted frame")
    finally cached.unpersist()
  }

  test("scalar COUNT(*) subqueries fold into literals and their one-row SELECT runs no job") {
    val df = Sources.parquet(spark, multiFile)
    df.createOrReplaceTempView("footer_count_s")
    val n = df.rdd.count()
    val q = s"SELECT (SELECT COUNT(*) FROM footer_count_s) = $n AS t0, " +
      "(SELECT COUNT(*) FROM footer_count_s) AS t1"
    val plan = spark.sql(q).queryExecution.optimizedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], plan)
    var row: org.apache.spark.sql.Row = null
    val jobs = countJobs { row = spark.sql(q).collect().head }
    assert(row.getBoolean(0) && row.getLong(1) == n, row)
    assert(jobs == 0, s"the one-row SELECT ran $jobs jobs")
    // a subquery that still scans keeps its value
    assertScanned(
      spark.sql("SELECT (SELECT COUNT(*) FROM footer_count_s WHERE o_totalprice > 100000) AS c")
        .collect().head.getLong(0),
      df.where("o_totalprice > 100000").rdd.count(), "filtered scalar subquery")
  }

  test("CSV and JSON sources and listings above the threshold still scan") {
    val orders = Tables(spark, sfDir).orders
    val root = tmpDir("fc_text_")
    orders.write.option("header", "true").csv(s"$root/csv")
    orders.write.json(s"$root/json")
    val want = orders.rdd.count()
    assertScanned(Sources.csv(spark, s"$root/csv", orders.schema).count(), want, "CSV")
    assertScanned(Sources.jsonLines(spark, s"$root/json", orders.schema).count(), want, "JSON")
    val df = Sources.parquet(spark, multiFile)
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold", "1") {
      assertScanned(df.count(), df.rdd.count(), "3 files above a threshold of 1")
    }
  }

  test("a corrupt footer keeps the scan's error, or its count under ignoreCorruptFiles") {
    val path = s"${tmpDir("fc_corrupt_")}/t"
    Tables(spark, sfDir).orders.repartition(2).write.parquet(path)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val goodRows = spark.read.parquet(parts.head.toString).rdd.count()
    // keep the size, break the footer length and magic at the tail; drop
    // the local checksum so the footer read, not the checksum, fails
    val bad = java.nio.file.Files.readAllBytes(parts.last.toPath)
    java.util.Arrays.fill(bad, bad.length - 8, bad.length, 'x'.toByte)
    java.nio.file.Files.write(parts.last.toPath, bad)
    assert(new java.io.File(path, s".${parts.last.getName}.crc").delete())
    val schema = Tables(spark, sfDir).orders.schema
    def read = spark.read.schema(schema).parquet(path)
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getClass.getName).toSeq
    withConf("spark.sql.files.ignoreCorruptFiles", "false") {
      val scan = intercept[Exception](read.rdd.count())
      val count = intercept[Exception](read.count())
      assert(causes(count) == causes(scan),
        s"count failed with ${causes(count)}, scan with ${causes(scan)}")
    }
    withConf("spark.sql.files.ignoreCorruptFiles", "true") {
      assert(read.rdd.count() == goodRows)
      assertScanned(read.count(), goodRows, "count with a corrupt file ignored")
    }
  }
}
