package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The one reader must see exactly the schema Spark's own schema-less
    * read infers — it only moves the footer read from a job to the driver.
    */
  private def assertParity(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    assert(Sources.parquet(spark, path).schema == want, s"schema differs at $path")
  }

  test("Sources.parquet infers Spark's schema for every testdata source") {
    Tables.SourceNames.filter(_ != "events").foreach(n => assertParity(s"$sfDir/$n.parquet"))
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertParity(s"$sfDir/events.parquet")
    }
  }

  test("Sources.parquet infers Spark's schema for NTZ-written timestamps, with and without NTZ inference") {
    val dir = tmpDir("parity_ntz_")
    Tables(spark, sfDir).events
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
      .write.parquet(s"$dir/events.parquet")
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    withConf(key, "false")(assertParity(s"$dir/events.parquet"))
    withConf(key, "true")(assertParity(s"$dir/events.parquet"))
  }

  test("Sources.parquet infers Spark's schema for warehouse, partitioned and summary-file layouts") {
    // a Spark-written warehouse table: several part files plus _SUCCESS
    val wh = s"${tmpDir("parity_wh_")}/t"
    Tables(spark, sfDir).orders.repartition(3).write.parquet(wh)
    val names = new java.io.File(wh).list().toSeq
    assert(names.contains("_SUCCESS") && names.count(_.startsWith("part-")) >= 2)
    assertParity(wh)

    // a k=v partitioned directory
    val parted = s"${tmpDir("parity_part_")}/by_status"
    Sources.writePartitioned(Tables(spark, sfDir).orders, parted, Seq("o_orderstatus"))
    assertParity(parted)

    // a directory whose _common_metadata disagrees with its data files:
    // Spark takes the summary file's schema, so parity proves the same pick
    import spark.implicits._
    val root = tmpDir("parity_summary_")
    Seq((1L, "x")).toDF("id", "s").write
      .option("parquet.summary.metadata.level", "ALL").parquet(s"$root/summary")
    Seq((2L, "y", 3.5)).toDF("id", "s", "score").write.parquet(s"$root/t")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$root/summary/_common_metadata"),
      java.nio.file.Paths.get(s"$root/t/_common_metadata"))
    assert(spark.read.parquet(s"$root/t").columns.toSeq == Seq("id", "s"))
    assertParity(s"$root/t")
  }

  test("Sources.parquet fails on a missing or empty path with Spark's own error") {
    def condition(read: String => Any, path: String): String =
      intercept[org.apache.spark.sql.AnalysisException](read(path)).getCondition
    val missing = s"${tmpDir("parity_missing_")}/nope"
    val empty = tmpDir("parity_empty_")
    for (path <- Seq(missing, empty)) {
      val want = condition(spark.read.parquet(_), path)
      assert(want != null && condition(Sources.parquet(spark, _), path) == want)
    }
  }

  test("registering 4 sources schedules no Spark job") {
    // the counter does see a schema-less read's inference job
    assert(countJobs(spark.read.parquet(s"$sfDir/orders.parquet")) >= 1)
    val n = countJobs(Tables(spark, sfDir).register(
      Seq("customer", "part", "orders", "lineitem")))
    assert(n == 0, s"Tables.register scheduled $n jobs")
  }

  test("csv and jsonl round-trip with explicit schemas") {
    val orders = Tables(spark, sfDir).orders.limit(100)
    val tmp = java.nio.file.Files.createTempDirectory("sources_").toString
    orders.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    orders.write.mode("overwrite").json(s"$tmp/json")
    val backCsv = Sources.csv(spark, s"$tmp/csv", orders.schema)
    val backJson = Sources.jsonLines(spark, s"$tmp/json", orders.schema)
    assert(backCsv.count() == 100 && backJson.count() == 100)
    assert(backCsv.schema == orders.schema)
  }

  test("csv and jsonl round-trips are VALUE-exact (keys, doubles, timestamps)") {
    // q70's premise: serialize→parse must be lossless, not just
    // count/schema-preserving. Doubles round-trip via shortest-repr
    // formatting; timestamps via the default writer/parser pair.
    val li = Tables(spark, sfDir).lineitem
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    val tmp = java.nio.file.Files.createTempDirectory("sources_exact_").toString
    li.write.option("header", "true").csv(s"$tmp/csv")
    li.write.json(s"$tmp/json")
    val want = li.collect().map(_.toSeq).toSet
    val gotCsv = Sources.csv(spark, s"$tmp/csv", li.schema).collect().map(_.toSeq).toSet
    val gotJson = Sources.jsonLines(spark, s"$tmp/json", li.schema).collect().map(_.toSeq).toSet
    assert(gotCsv == want, "CSV round-trip changed at least one value")
    assert(gotJson == want, "JSONL round-trip changed at least one value")
  }

  test("partitioned parquet layout enables partition pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("part_").toString
    val orders = Tables(spark, sfDir).orders
    Sources.writePartitioned(orders, s"$tmp/by_status", Seq("o_orderstatus"))
    val pruned = Sources.parquet(spark, s"$tmp/by_status").filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"))
    assert(pruned.count() == orders.filter(col("o_orderstatus") === "F").count())
  }

  test("dynamic partition overwrite replaces only the partitions being written") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dynpart_").toString
    val v1 = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("id", "part", "v")
    Sources.overwritePartitions(v1, s"$tmp/t", Seq("part"))
    // refresh ONLY partition b; partition a must survive
    val v2 = Seq((9L, "b", 99L)).toDF("id", "part", "v")
    Sources.overwritePartitions(v2, s"$tmp/t", Seq("part"))
    val back = Sources.parquet(spark, s"$tmp/t")
      .select("id", "part", "v").orderBy("id").collect().map(_.toSeq)
    assert(back.toSeq == Seq(Seq(1L, "a", 10L), Seq(2L, "a", 20L), Seq(9L, "b", 99L)))
  }

  test("mergeSchema read unions evolved schemas; old files yield nulls for new columns") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("evolve_").toString
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$tmp/t/gen=1")
    Seq((2L, "y", 3.5)).toDF("id", "s", "score").write.parquet(s"$tmp/t/gen=2")
    val evolved = Sources.parquetEvolved(spark, s"$tmp/t")
    assert(evolved.columns.toSet == Set("id", "s", "score", "gen"))
    val byId = evolved.collect().map(r => r.getAs[Long]("id") -> r.getAs[Any]("score")).toMap
    assert(byId(1L) == null && byId(2L) == 3.5)
  }

  test("PERMISSIVE jsonl audit splits parseable rows from quarantined corrupt lines") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("audit_").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "data.jsonl"),
      java.util.Arrays.asList(
        """{"id": 1, "name": "ok"}""",
        """{"id": broken!!""",
        """{"id": 2, "name": "fine"}"""))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val (good, corrupt) = Sources.jsonLinesAudited(spark, tmp, schema)
    assert(good.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "ok"), Seq(2L, "fine")))
    val quarantined = corrupt.collect().map(_.getString(0))
    assert(quarantined.length == 1 && quarantined.head.contains("broken"))
  }

  test("upsert replaces matched keys and appends new ones") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("k", "v")
    val out = Sources.upsert(base, updates, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "new")))
  }

  test("orc round-trips and pushes predicates into the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("orc_").toString
    val orders = Tables(spark, sfDir).orders
    Sources.writeOrc(orders, s"$tmp/orders_orc")
    val back = Sources.orc(spark, s"$tmp/orders_orc")
    assert(back.count() == orders.count())
    val filtered = back.filter(col("o_totalprice") > 200000).select("o_orderkey")
    val plan = filtered.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      "orc scan must receive the pushed predicate")
    assert(filtered.count() == orders.filter(col("o_totalprice") > 200000).count())
  }

  test("table models materialize into a JDBC warehouse (embedded Derby) and read back") {
    import graft.model.{ModelParser, ModelEngine, TableSink}
    Tables(spark, sfDir).registerAll()
    val models = ModelParser.parseModelFile(
      """CREATE VIEW jdbc_big AS
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_totalprice > 150000;
        |CREATE TABLE jdbc_summary AS
        |  SELECT o_orderpriority, COUNT(*) AS n_orders,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue
        |  FROM jdbc_big GROUP BY o_orderpriority
        |""".stripMargin)
    val url = "jdbc:derby:memory:graft_sink_test;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    new ModelEngine(spark).run(models, TableSink.jdbc(url, props))
    // the registered view now reads THROUGH the database, not the plan
    val viaSink = spark.table("jdbc_summary")
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("n_orders"), r.getAs[Double]("revenue")))
    val direct = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue
        |FROM orders WHERE o_totalprice > 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin).collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("n_orders"), r.getAs[Double]("revenue")))
    assert(viaSink.nonEmpty && viaSink.sameElements(direct))
    // independent read via the raw JDBC source proves the rows landed in Derby
    val raw = spark.read.jdbc(url, "jdbc_summary", props)
    assert(raw.count() == direct.length)
  }

  test("observed write: pipeline metrics ride the materializing job, no second scan") {
    val tmp = java.nio.file.Files.createTempDirectory("observe_").toString
    val orders = Tables(spark, sfDir).orders
    val (instrumented, obs) = graft.ops.Observed.withMetrics(
      orders.filter(col("o_totalprice") > 100000), "order_metrics",
      Seq(
        "n_rows" -> count(lit(1)),
        "null_keys" -> sum(when(col("o_custkey").isNull, 1L).otherwise(0L)),
        "total" -> sum(col("o_totalprice"))))
    instrumented.write.mode("overwrite").parquet(s"$tmp/out")
    val m = obs.get
    // metrics must equal an independent recomputation over what was written
    val written = spark.read.parquet(s"$tmp/out")
    assert(m("n_rows") == written.count())
    assert(m("null_keys") == 0L)
    assert(math.abs(m("total").asInstanceOf[Double] -
      written.agg(sum("o_totalprice")).collect()(0).getDouble(0)) < 1e-6)
  }

  test("partitioned JDBC read splits into parallel range scans with pushdown") {
    val url = "jdbc:derby:memory:graft_read_test;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val orders = Tables(spark, sfDir).orders
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.write.mode("overwrite").jdbc(url, "orders_jdbc", props)
    val back = Sources.jdbcPartitioned(
      spark, url, "orders_jdbc", "o_orderkey",
      lowerBound = 0L, upperBound = 15000L, numPartitions = 4, props)
    assert(back.rdd.getNumPartitions == 4, "4 concurrent range readers")
    assert(back.count() == orders.count())
    // a filter composes with the range split (appended per-connection)
    val filtered = back.filter(back.col("o_totalprice") > 200000)
    assert(filtered.count() ==
      orders.filter(orders.col("o_totalprice") > 200000).count())
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val t = Tables(spark, sfDir)
    Sources.writeBucketed(t.lineitem, "li_bucketed", "l_orderkey", 8)
    Sources.writeBucketed(t.orders, "ord_bucketed", "o_orderkey", 8)
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val joinSection = plan.linesIterator
      .count(l => l.trim.matches("\\(\\d+\\) Exchange( .*)?"))
    // one Exchange allowed for the tiny groupBy result; the JOIN itself
    // must read co-located buckets — with a shuffle join there would be
    // two more Exchanges (one per side) before the join
    assert(joinSection <= 1, s"bucketed join must not shuffle its inputs:\n$plan")
    assert(joined.count() > 0)
  }
}
