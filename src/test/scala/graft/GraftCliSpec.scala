package graft

import graft.model.Selector

class GraftCliSpec extends SparkSpec {

  /** Full reference-shaped project on disk: powersql.toml + models/ +
    * tests/ (mirrors examples/postgres in the reference repo).
    */
  private lazy val projectDir: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_").toString
    new java.io.File(s"$root/models").mkdirs()
    new java.io.File(s"$root/tests").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      """[project]
        |name = "cli_spec"
        |models = ["models"]
        |tests = ["tests"]
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/models/revenue.sql"),
      """CREATE VIEW revenue AS
        |SELECT o_custkey AS customer_id, o_totalprice AS euro FROM orders;
        |CREATE TABLE rev_per_customer AS
        |SELECT SUM(euro) AS rev, COUNT(*) AS quantity, customer_id
        |FROM revenue GROUP BY customer_id;
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/tests/data_tests.sql"),
      """ASSERT NOT EXISTS (
        |  SELECT quantity FROM rev_per_customer WHERE quantity <= 0
        |) AS 'quantity should be positive';
        |ASSERT NOT EXISTS (
        |  SELECT customer_id FROM rev_per_customer WHERE customer_id IS NULL
        |) AS 'customer_id should be not null';
        |""".stripMargin)
    root
  }

  test("check / run / test / docs all succeed on a reference-shaped project") {
    Tables(spark, sfDir).registerAll()
    assert(GraftCli.execute(spark, "check", projectDir, s"$projectDir/wh", failFast = false) == 0)
    assert(GraftCli.execute(spark, "run", projectDir, s"$projectDir/wh", failFast = false) == 0)
    assert(new java.io.File(s"$projectDir/wh/rev_per_customer").exists())
    assert(GraftCli.execute(spark, "test", projectDir, s"$projectDir/wh", failFast = false) == 0)
    assert(GraftCli.execute(spark, "docs", projectDir, s"$projectDir/wh", failFast = false) == 0)
    val docs = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$projectDir/docs/docs.md"))
    assert(docs.contains("revenue --> rev_per_customer"))
    // column-level lineage rendered per column: rev traces through the
    // revenue view to the source orders table
    assert(docs.contains("| rev | ") && docs.contains("orders.o_totalprice"),
      s"docs must render column lineage, got:\n$docs")
  }

  test("run-incremental builds, then skips an unchanged table model") {
    Tables(spark, sfDir).registerAll()
    val wh = s"$projectDir/wh_inc"
    def runIncremental(): (Int, String) = {
      val out = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(out) {
        GraftCli.execute(spark, "run-incremental", projectDir, wh, failFast = false)
      }
      (code, out.toString)
    }
    val (code1, out1) = runIncremental()
    assert(code1 == 0)
    assert(out1.contains("rev_per_customer: built") && out1.contains("revenue: view"),
      s"first run must build the table and report the view, got:\n$out1")
    val (code2, out2) = runIncremental()
    assert(code2 == 0)
    assert(out2.contains("rev_per_customer: skipped"),
      s"second run must skip the unchanged table, got:\n$out2")
  }

  test("test command returns nonzero exit code on failing assertion") {
    Tables(spark, sfDir).registerAll()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$projectDir/tests/failing.sql"),
      "ASSERT 1 = 2 AS 'this always fails'")
    assert(GraftCli.execute(spark, "run", projectDir, s"$projectDir/wh", failFast = false) == 0)
    assert(GraftCli.execute(spark, "test", projectDir, s"$projectDir/wh", failFast = false) == 1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$projectDir/tests/failing.sql"))
  }

  test("a .sql model using WITH RECURSIVE runs through the CLI") {
    // the last frontend-parity hole vs the reference's warehouse
    // backends (they push model text through unparsed, so PG-origin
    // projects may contain recursive CTEs): the self-reference inside
    // the recursion is CTE-shadowed, so it must NOT register as a
    // dependency edge (no false cycle), and the model must materialize.
    Tables(spark, sfDir).registerAll()
    val root = java.nio.file.Files.createTempDirectory("graft_rec_").toString
    new java.io.File(s"$root/models").mkdirs()
    new java.io.File(s"$root/tests").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      "[project]\nname = \"rec\"\nmodels = [\"models\"]\ntests = [\"tests\"]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/models/reach.sql"),
      """CREATE TABLE nation_reach AS
        |WITH RECURSIVE hops AS (
        |  SELECT CAST(0 AS BIGINT) AS nation, CAST(0 AS BIGINT) AS hops
        |  UNION ALL
        |  SELECT CAST(n.n_nationkey AS BIGINT) AS nation, h.hops + 1 AS hops
        |  FROM hops h JOIN nation n ON n.n_regionkey = h.nation
        |  WHERE h.hops < 2
        |)
        |SELECT nation, MIN(hops) AS min_hops FROM hops GROUP BY nation;
        |CREATE TABLE reach_count AS
        |SELECT COUNT(*) AS n FROM nation_reach;
        |""".stripMargin)
    assert(GraftCli.execute(spark, "check", root, s"$root/wh", failFast = false) == 0)
    assert(GraftCli.execute(spark, "run", root, s"$root/wh", failFast = false) == 0)
    assert(new java.io.File(s"$root/wh/nation_reach").exists())
    val n = spark.read.parquet(s"$root/wh/nation_reach").count()
    assert(n > 1, s"recursive model should reach beyond the seed row, got $n")
  }

  test("seed command: CSV seeds materialize and models/tests reference them") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_seed_").toString
    Seq("models", "tests", "seeds").foreach(d => new java.io.File(s"$root/$d").mkdirs())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      """[project]
        |name = "seed_spec"
        |models = ["models"]
        |tests = ["tests"]
        |seeds = ["seeds"]
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/seeds/statuses.csv"),
      "code,label\nO,open\nF,filled\nP,pending\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/models/m.sql"),
      """CREATE VIEW order_labels AS
        |SELECT s.label, COUNT(*) AS n
        |FROM orders o JOIN statuses s ON o.o_orderstatus = s.code
        |GROUP BY s.label;
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/tests/t.sql"),
      "ASSERT NOT EXISTS (SELECT * FROM order_labels WHERE n <= 0) AS 'labels non-empty';\n")
    Tables(spark, sfDir).registerAll()
    val wh = s"$root/wh"
    assert(GraftCli.execute(spark, "seed", root, wh, failFast = false) == 0)
    assert(GraftCli.execute(spark, "check", root, wh, failFast = false) == 0)
    assert(GraftCli.execute(spark, "run", root, wh, failFast = false) == 0)
    assert(GraftCli.execute(spark, "test", root, wh, failFast = false) == 0)
    val labels = spark.table("order_labels").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set("open", "filled", "pending"))
    assert(labels.values.forall(_ > 0))
  }

  test("unknown command rejected") {
    assert(GraftCli.execute(spark, "explode", projectDir, "/tmp/x", failFast = false) == 2)
  }

  test("--select builds only the selected slice, re-attaching upstream from the warehouse") {
    Tables(spark, sfDir).registerAll()
    val root = java.nio.file.Files.createTempDirectory("graft_sel_").toString
    new java.io.File(s"$root/models").mkdirs()
    new java.io.File(s"$root/tests").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      "[project]\nname = \"sel\"\nmodels = [\"models\"]\ntests = [\"tests\"]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/models/chain.sql"),
      """CREATE TABLE base AS SELECT o_custkey, o_totalprice FROM orders;
        |CREATE TABLE mid AS SELECT o_custkey, SUM(o_totalprice) AS rev FROM base GROUP BY o_custkey;
        |CREATE TABLE leaf AS SELECT COUNT(*) AS n FROM mid;
        |CREATE TABLE unrelated AS SELECT COUNT(*) AS n FROM orders;
        |""".stripMargin)
    val wh = s"$root/wh"
    // full run materializes everything
    assert(GraftCli.execute(spark, "run", root, wh, failFast = false) == 0)
    val unrelatedBefore = new java.io.File(s"$wh/unrelated").lastModified()
    val baseBefore = new java.io.File(s"$wh/base").lastModified()
    Thread.sleep(1100) // parquet dir mtimes have ~second granularity
    // select mid+ = mid and its descendants (leaf), never base/unrelated
    assert(GraftCli.execute(spark, "run", root, wh, failFast = false, Some("mid+")) == 0)
    assert(new java.io.File(s"$wh/unrelated").lastModified() == unrelatedBefore,
      "unselected model must not rebuild")
    assert(new java.io.File(s"$wh/base").lastModified() == baseBefore,
      "upstream of the selection re-attaches, not rebuilds")
    assert(new java.io.File(s"$wh/mid").lastModified() > baseBefore)
    assert(new java.io.File(s"$wh/leaf").lastModified() > baseBefore)
    // selector validation: unknown names are an error, not a silent no-op
    intercept[IllegalArgumentException] {
      GraftCli.execute(spark, "run", root, wh, failFast = false, Some("nope+"))
    }
  }

  test("--select state:modified+ rebuilds exactly the edited branch (slim CI)") {
    Tables(spark, sfDir).registerAll()
    val root = java.nio.file.Files.createTempDirectory("graft_state_").toString
    new java.io.File(s"$root/models").mkdirs()
    new java.io.File(s"$root/tests").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      "[project]\nname = \"st\"\nmodels = [\"models\"]\ntests = [\"tests\"]\n")
    val modelFile = java.nio.file.Paths.get(s"$root/models/chain.sql")
    java.nio.file.Files.writeString(modelFile,
      """CREATE TABLE sbase AS SELECT o_custkey, o_totalprice FROM orders;
        |CREATE TABLE smid AS SELECT o_custkey, SUM(o_totalprice) AS rev FROM sbase GROUP BY o_custkey;
        |CREATE TABLE sleaf AS SELECT COUNT(*) AS n FROM smid;
        |CREATE TABLE sother AS SELECT COUNT(*) AS n FROM orders;
        |""".stripMargin)
    val wh = s"$root/wh"
    assert(GraftCli.execute(spark, "run", root, wh, failFast = false) == 0)
    val otherBefore = new java.io.File(s"$wh/sother").lastModified()
    val baseBefore = new java.io.File(s"$wh/sbase").lastModified()
    Thread.sleep(1100) // parquet dir mtimes have ~second granularity
    // edit smid's SQL; state:modified+ must rebuild smid+sleaf ONLY
    java.nio.file.Files.writeString(modelFile,
      """CREATE TABLE sbase AS SELECT o_custkey, o_totalprice FROM orders;
        |CREATE TABLE smid AS SELECT o_custkey, SUM(o_totalprice) AS rev, COUNT(*) AS n FROM sbase GROUP BY o_custkey;
        |CREATE TABLE sleaf AS SELECT COUNT(*) AS n FROM smid;
        |CREATE TABLE sother AS SELECT COUNT(*) AS n FROM orders;
        |""".stripMargin)
    assert(GraftCli.execute(spark, "run", root, wh, failFast = false,
      Some("state:modified+")) == 0)
    assert(new java.io.File(s"$wh/sother").lastModified() == otherBefore,
      "untouched model must not rebuild under state:modified+")
    assert(new java.io.File(s"$wh/sbase").lastModified() == baseBefore,
      "unedited upstream re-attaches, not rebuilds")
    assert(new java.io.File(s"$wh/smid").lastModified() > baseBefore)
    assert(new java.io.File(s"$wh/sleaf").lastModified() > baseBefore)
    // the run refreshed the state baseline: nothing is modified now, and
    // an empty state selection is a no-op run, not an error
    val engine = new graft.model.ModelEngine(spark)
    val models = graft.model.ModelParser.parseModelFile(
      java.nio.file.Files.readString(modelFile))
    assert(engine.modifiedSince(models, wh).isEmpty)
    assert(GraftCli.execute(spark, "run", root, wh, failFast = false,
      Some("state:modified+")) == 0)
  }

  test("--select against an unbuilt warehouse fails fast naming the missing upstream") {
    Tables(spark, sfDir).registerAll()
    val root = java.nio.file.Files.createTempDirectory("graft_selmiss_").toString
    new java.io.File(s"$root/models").mkdirs()
    new java.io.File(s"$root/tests").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/powersql.toml"),
      "[project]\nname = \"selmiss\"\nmodels = [\"models\"]\ntests = [\"tests\"]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/models/chain.sql"),
      """CREATE TABLE base2 AS SELECT o_custkey FROM orders;
        |CREATE TABLE leaf2 AS SELECT COUNT(*) AS n FROM base2;
        |""".stripMargin)
    // selecting the leaf without base2 ever materialized: exit 1 with a
    // clear message, never a raw TABLE_OR_VIEW_NOT_FOUND from analysis
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    val code =
      try {
        System.setErr(new java.io.PrintStream(err, true))
        GraftCli.execute(spark, "run", root, s"$root/wh", failFast = false, Some("leaf2"))
      } finally System.setErr(prev)
    assert(code == 1)
    assert(err.toString.contains("base2") && err.toString.contains("--select"),
      s"error must name the missing upstream model, got: ${err.toString}")
  }

  test("--data registers only the sources the DAG + tests reference") {
    // fresh view namespace so registration effects are observable
    Tables.SourceNames.foreach(n => spark.catalog.dropTempView(n))
    assert(GraftCli.execute(spark, "run", projectDir, s"$projectDir/wh2",
      failFast = false, dataDir = Some(sfDir)) == 0)
    // the project touches orders only
    assert(spark.catalog.tableExists("orders"))
    assert(!spark.catalog.tableExists("lineitem"),
      "unreferenced sources must not be registered (footer reads cost at scale)")
    assert(!spark.catalog.tableExists("events"))
  }

  test("Selector.expand handles +m, m+, +m+ and comma unions over the DAG") {
    val deps = Map(
      "base" -> Seq.empty[String], "mid" -> Seq("base"),
      "leaf" -> Seq("mid"), "other" -> Seq.empty[String])
    assert(Selector.expand(deps, "mid") == Set("mid"))
    assert(Selector.expand(deps, "+mid") == Set("base", "mid"))
    assert(Selector.expand(deps, "mid+") == Set("mid", "leaf"))
    assert(Selector.expand(deps, "+mid+") == Set("base", "mid", "leaf"))
    assert(Selector.expand(deps, "other, leaf") == Set("other", "leaf"))
    // state token: expands the modified set, closures apply per member,
    // empty modified set selects nothing (not an error)
    assert(Selector.expand(deps, "state:modified", Set("mid")) == Set("mid"))
    assert(Selector.expand(deps, "state:modified+", Set("mid")) == Set("mid", "leaf"))
    assert(Selector.expand(deps, "+state:modified", Set("mid", "other")) ==
      Set("base", "mid", "other"))
    assert(Selector.expand(deps, "state:modified+", Set.empty) == Set.empty)
    assert(Selector.expand(deps, "state:modified,other", Set("mid")) ==
      Set("mid", "other"))
  }
}
