package graft.model

import graft.{GraftCli, SparkSpec, Tables}
import org.apache.spark.sql.types.{LongType, StructType}

class ModelParserSpec extends SparkSpec {

  test("splitStatements respects quotes and comments") {
    val sql =
      """CREATE VIEW a AS SELECT 'x;y' AS s; -- trailing; comment
        |/* block; comment */
        |CREATE TABLE b AS SELECT 1 AS one""".stripMargin
    val stmts = ModelParser.splitStatements(sql)
    assert(stmts.length == 2)
    assert(stmts.head.contains("'x;y'"))
  }

  test("parseModel classifies view / materialized view / table") {
    assert(ModelParser.parseModel("CREATE VIEW v AS SELECT 1") == ViewModel("v", "SELECT 1"))
    assert(ModelParser.parseModel("CREATE MATERIALIZED VIEW m AS SELECT 1") == TableModel("m", "SELECT 1"))
    assert(ModelParser.parseModel("CREATE TABLE t AS SELECT 1") == TableModel("t", "SELECT 1"))
    intercept[IllegalArgumentException](ModelParser.parseModel("DROP TABLE t"))
  }

  test("parseAssert extracts condition and message") {
    val t = ModelParser.parseAssert("ASSERT 1 = 1 AS 'one equals one'")
    assert(t == AssertTest("1 = 1", "one equals one"))
    intercept[IllegalArgumentException](ModelParser.parseAssert("SELECT 1"))
  }

  test("Project.fromToml reads the reference config shape") {
    val p = Project.fromToml(
      """[project]
        |name = "my_project"
        |models = ["models", "more_models"]
        |tests = ["tests"]
        |""".stripMargin)
    assert(p == Project("my_project", Seq("models", "more_models"), Seq("tests")))
  }
}

class ModelEngineSpec extends SparkSpec {
  private lazy val engine = new ModelEngine(spark)

  test("references finds tables through CTEs, joins, subqueries; CTE names shadowed") {
    val refs = engine.references(
      """WITH t AS (SELECT * FROM src1)
        |SELECT * FROM t JOIN src2 ON t.a = src2.a
        |WHERE EXISTS (SELECT 1 FROM src3 WHERE src3.b = t.b)""".stripMargin)
    assert(refs == Set("src1", "src2", "src3"))
  }

  test("dependencies keeps only in-set models (reference src/main.rs:213-227)") {
    val models = Seq(
      ViewModel("x", "SELECT a FROM t JOIN x2 ON 1=1"),
      ViewModel("x2", "SELECT 1 AS a")
    )
    assert(engine.dependencies(models) == Map("x" -> Seq("x2"), "x2" -> Seq()))
  }

  test("topoLevels orders by dependency and groups independent models") {
    val levels = engine.topoLevels(Map(
      "a" -> Seq("b"), "b" -> Seq("c"), "c" -> Seq(), "d" -> Seq("c")))
    assert(levels == Seq(Seq("c"), Seq("b", "d"), Seq("a")))
  }

  test("topoLevels detects cycles (reference src/main.rs:229-254)") {
    intercept[IllegalStateException](
      engine.topoLevels(Map("a" -> Seq("b"), "b" -> Seq("a"))))
  }

  test("check infers exact schemas through the DAG (vs reference 5-type lattice)") {
    Tables(spark, sfDir).registerAll()
    val models = Seq(
      ViewModel("ord_small", "SELECT o_orderkey, o_custkey FROM orders"),
      ViewModel("ord_counts", "SELECT o_custkey, COUNT(*) AS n FROM ord_small GROUP BY o_custkey")
    )
    val schemas: Map[String, StructType] = engine.check(models)
    assert(schemas("ord_counts").fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("o_custkey", LongType), ("n", LongType)))
  }

  test("checkTests rejects non-boolean asserts (reference src/main.rs:375-385)") {
    intercept[IllegalStateException](
      engine.checkTests(Seq(AssertTest("1 + 1", "not a boolean"))))
    engine.checkTests(Seq(AssertTest("1 = 1", "fine")))
  }

  test("run executes DAG: views lazy, tables materialized to warehouse") {
    Tables(spark, sfDir).registerAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_spec_wh_").toString
    val models = ModelParser.parseModelFile(
      """CREATE VIEW v1 AS SELECT o_custkey, o_totalprice FROM orders;
        |CREATE TABLE t1 AS SELECT o_custkey, COUNT(*) AS n FROM v1 GROUP BY o_custkey;
        |CREATE VIEW v2 AS SELECT COUNT(*) AS n_customers FROM t1""".stripMargin)
    engine.run(models, wh)
    val n = spark.table("v2").collect().head.getLong(0)
    assert(n > 0)
    assert(new java.io.File(s"$wh/t1").exists(), "table model must be materialized")
  }

  test("registerWarehouse re-attaches a built DAG without scheduling a job") {
    Tables(spark, sfDir).registerAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_spec_reattach_").toString
    val models = ModelParser.parseModelFile(
      """CREATE TABLE ra_orders AS SELECT o_custkey, o_totalprice FROM orders;
        |CREATE VIEW ra_big AS SELECT o_custkey FROM ra_orders WHERE o_totalprice > 100000;
        |CREATE TABLE ra_counts AS SELECT o_custkey, COUNT(*) AS n FROM ra_big GROUP BY o_custkey""".stripMargin)
    engine.run(models, wh)
    val built = models.map(m => m.name -> spark.table(m.name).schema).toMap
    models.foreach(m => spark.catalog.dropTempView(m.name))
    val n = countJobs(new ModelEngine(spark).registerWarehouse(models, wh))
    assert(n == 0, s"registerWarehouse scheduled $n jobs")
    models.foreach(m => assert(spark.table(m.name).schema == built(m.name), m.name))
  }

  test("test runs asserts and reports pass/fail; failFast stops early") {
    val results = engine.test(Seq(
      AssertTest("1 = 1", "ok test"),
      AssertTest("1 = 2", "failing test"),
      AssertTest("2 = 2", "after failure")))
    assert(results == Seq("ok test" -> true, "failing test" -> false, "after failure" -> true))
    val ff = engine.test(Seq(
      AssertTest("1 = 2", "fail"), AssertTest("1 = 1", "never run")), failFast = true)
    assert(ff == Seq("fail" -> false))
  }

  test("row-count ASSERTs over table models run no Spark job of their own") {
    Tables(spark, sfDir).registerAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_spec_counts_").toString
    val models = ModelParser.parseModelFile(
      """CREATE TABLE rc_orders AS SELECT o_orderkey, o_custkey FROM orders;
        |CREATE TABLE rc_custs AS SELECT o_custkey, COUNT(*) AS n FROM rc_orders GROUP BY o_custkey""".stripMargin)
    engine.run(models, wh)
    val asserts = models.map { m =>
      val rows = spark.table(m.name).rdd.count()
      AssertTest(s"(SELECT COUNT(*) FROM ${m.name}) = $rows", s"${m.name} has $rows rows")
    }
    // two jobs per ASSERT before FooterCount answered the counts from the
    // footers; the folded one-row SELECT is then collected on the driver
    var results = Seq.empty[(String, Boolean)]
    val jobs = countJobs { results = engine.test(asserts) }
    assert(results.map(_._2) == Seq(true, true), results)
    assert(jobs == 0, s"engine.test scheduled $jobs jobs")
  }

  test("docs emits mermaid DAG + schema tables") {
    Tables(spark, sfDir).registerAll()
    val models = Seq(
      ViewModel("d1", "SELECT o_orderkey FROM orders"),
      ViewModel("d2", "SELECT COUNT(*) AS n FROM d1"))
    val md = engine.docs(models)
    assert(md.contains("d1 --> d2"))
    assert(md.contains("## d2 (view)"))
    assert(md.contains("| n | bigint |"))
  }

  test("GraftCli run + test wires config, models, tests end-to-end") {
    Tables(spark, sfDir).registerAll()
    val root = java.nio.file.Files.createTempDirectory("graft_proj_").toString
    val mdir = new java.io.File(s"$root/models"); mdir.mkdirs()
    val tdir = new java.io.File(s"$root/tests"); tdir.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      "[project]\nname = \"spec\"\nmodels = [\"models\"]\ntests = [\"tests\"]\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/models/m.sql"),
      "CREATE VIEW proj_v AS SELECT o_orderkey FROM orders")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/tests/t.sql"),
      "ASSERT (SELECT COUNT(*) FROM proj_v) > 0 AS 'view is non-empty'")
    assert(GraftCli.execute(spark, "run", root, s"$root/wh", failFast = false) == 0)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(
      GraftCli.execute(spark, "test", root, s"$root/wh", failFast = false))
    // one assertion, named by its message, that passed
    assert(out.toString.linesIterator.toSeq == Seq("view is non-empty...OK"))
    assert(code == 0)
  }

  test("columnLineage traces through CTEs, unions and window specs") {
    Tables(spark, sfDir).registerAll()
    val models = ModelParser.parseModelFile(
      """CREATE VIEW lin_cte AS
        |  WITH x AS (SELECT o_custkey AS k, o_totalprice AS p FROM orders)
        |  SELECT k, SUM(p) AS tot FROM x GROUP BY k;
        |CREATE VIEW lin_union AS
        |  SELECT o_custkey AS id FROM orders
        |  UNION ALL SELECT c_custkey AS id FROM customer;
        |CREATE VIEW lin_win AS
        |  SELECT o_custkey,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn FROM orders
        |""".stripMargin)
    val lin = new ModelEngine(spark).columnLineage(models)
      .groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.map(r => (r._3, r._4)).toSet }
    assert(lin(("lin_cte", "k")) == Set(("orders", "o_custkey")),
      "lineage must pierce the CTE")
    assert(lin(("lin_cte", "tot")) == Set(("orders", "o_totalprice")))
    assert(lin(("lin_union", "id")) ==
      Set(("orders", "o_custkey"), ("customer", "c_custkey")),
      "union branches both contribute")
    assert(lin(("lin_win", "rn")) == Set(("orders", "o_totalprice")),
      "a window function's value depends on its ordering column")
    assert(lin(("lin_win", "o_custkey")) == Set(("orders", "o_custkey")))
  }

  test("columnLineage is read-only: pre-existing view bindings restored, scratch views dropped") {
    Tables(spark, sfDir).registerAll()
    import spark.implicits._
    // simulate a warehouse-backed binding: the model name already points
    // at materialized data, NOT at its live query
    Seq(42L).toDF("n").createOrReplaceTempView("lin_keep")
    val models = ModelParser.parseModelFile(
      """CREATE TABLE lin_keep AS SELECT MAX(o_custkey) AS n FROM orders;
        |CREATE TABLE lin_scratch AS SELECT n + 1 AS n FROM lin_keep
        |""".stripMargin)
    val lin = new ModelEngine(spark).columnLineage(models)
    assert(lin.contains(("lin_scratch", "n", "orders", "o_custkey")),
      s"lineage must pierce the chain even with the pre-existing binding, got $lin")
    // the materialized binding survives (not silently rebound to the
    // live COUNT(*) recomputation) and the never-bound name is gone
    assert(spark.table("lin_keep").collect().head.getLong(0) == 42L,
      "lineage must not rebind a materialized view to its raw query")
    assert(!spark.catalog.tableExists("lin_scratch"),
      "lineage must drop the scratch bindings it created")
    spark.catalog.dropTempView("lin_keep")
  }

  test("unitDiff single-job bag algebra matches exceptAll semantics") {
    // r14 optimization pin: unitDiff fused its four actions (2 counts +
    // 2 exceptAll counts) into one union+groupBy aggregate. The pin
    // compares it against the exceptAll reference on duplicates, NULLs,
    // disjoint bags, identical bags, and an empty side.
    import spark.implicits._
    def ref(actual: org.apache.spark.sql.DataFrame,
            expected: org.apache.spark.sql.DataFrame) = {
      val exp = expected.select(actual.columns.map(
        org.apache.spark.sql.functions.col(_)): _*)
      (exp.count(), actual.count(),
        exp.exceptAll(actual).count(), actual.exceptAll(exp).count())
    }
    val cases: Seq[(Seq[(java.lang.Long, String)], Seq[(java.lang.Long, String)])] = Seq(
      // duplicates with different multiplicities
      (Seq((1L: java.lang.Long, "a"), (1L, "a"), (2L, "b")),
        Seq((1L: java.lang.Long, "a"), (2L, "b"), (2L, "b"))),
      // NULLs must compare equal (exceptAll's bag semantics)
      (Seq((null: java.lang.Long, "x"), (1L, null)),
        Seq((null: java.lang.Long, "x"), (1L, null))),
      // disjoint
      (Seq((1L: java.lang.Long, "a")), Seq((2L: java.lang.Long, "b"))),
      // identical
      (Seq((1L: java.lang.Long, "a"), (2L, "b")),
        Seq((1L: java.lang.Long, "a"), (2L, "b"))),
      // empty expected
      (Seq.empty, Seq((1L: java.lang.Long, "a")))
    )
    for ((e, a) <- cases) {
      val expDf = e.toDF("k", "v")
      val actDf = a.toDF("k", "v")
      val d = ModelEngine.unitDiff(actDf, expDf)
      val (ne, na, miss, unexp) = ref(actDf, expDf)
      assert((d.nExpected, d.nActual, d.nMissing, d.nUnexpected) ==
        ((ne, na, miss, unexp)), s"diverged on exp=$e act=$a")
    }
  }
}
