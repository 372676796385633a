package graft.model

import graft.{SparkSpec, Tables}

class IncrementalRunSpec extends SparkSpec {

  private val v1Sql =
    """CREATE VIEW inc_base AS SELECT o_custkey, o_totalprice FROM orders;
      |CREATE TABLE inc_mid AS SELECT o_custkey, COUNT(*) AS n FROM inc_base GROUP BY o_custkey;
      |CREATE TABLE inc_top AS SELECT COUNT(*) AS n_customers FROM inc_mid""".stripMargin

  test("runIncremental skips unchanged tables, rebuilds edited branches") {
    Tables(spark, sfDir).registerAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_inc_").toString
    val engine = new ModelEngine(spark)
    val v1 = ModelParser.parseModelFile(v1Sql)

    val first = engine.runIncremental(v1, wh)
    assert(first == Map("inc_base" -> "view", "inc_mid" -> "built", "inc_top" -> "built"))

    val second = engine.runIncremental(v1, wh)
    assert(second == Map("inc_base" -> "view", "inc_mid" -> "skipped", "inc_top" -> "skipped"))
    assert(spark.table("inc_top").collect().head.getLong(0) > 0)

    // editing the mid model must rebuild mid AND its downstream
    val v2 = ModelParser.parseModelFile(
      """CREATE VIEW inc_base AS SELECT o_custkey, o_totalprice FROM orders;
        |CREATE TABLE inc_mid AS SELECT o_custkey, COUNT(*) AS n FROM inc_base WHERE o_totalprice > 0 GROUP BY o_custkey;
        |CREATE TABLE inc_top AS SELECT COUNT(*) AS n_customers FROM inc_mid""".stripMargin)
    val third = engine.runIncremental(v2, wh)
    assert(third == Map("inc_base" -> "view", "inc_mid" -> "built", "inc_top" -> "built"))
  }

  test("runIncremental rebuilds a table whose output is missing, not its unchanged downstream") {
    Tables(spark, sfDir).registerAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_inc_missing_").toString
    val engine = new ModelEngine(spark)
    val v1 = ModelParser.parseModelFile(v1Sql)
    engine.runIncremental(v1, wh)
    val expected = spark.table("inc_top").collect().head.getLong(0)

    // the hash matches but the output is gone: rebuild it; inc_top's
    // chain is unchanged, so it re-attaches from its own parquet
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh, "inc_mid"))
    val again = engine.runIncremental(v1, wh)
    assert(again == Map("inc_base" -> "view", "inc_mid" -> "built", "inc_top" -> "skipped"))
    assert(new java.io.File(wh, "inc_mid").exists())
    assert(spark.table("inc_top").collect().head.getLong(0) == expected)
  }
}
