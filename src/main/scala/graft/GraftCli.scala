package graft

import graft.model._
import org.apache.spark.sql.SparkSession

/** Drop-in CLI mirroring the reference's command surface
  * (reference: src/main.rs:29-38 — Check / Run / Test{fail_fast} / Docs):
  *
  *   runMain graft.GraftCli check|run|run-incremental|seed|test|docs
  *     [--project <dir>]      directory containing powersql.toml (default .)
  *     [--data <dir>]         parquet table dir; only sources the DAG +
  *                            tests actually reference are registered
  *     [--warehouse <dir>]    materialization target (default <project>/wh)
  *     [--fail-fast]          stop tests at first failure
  *     [--select <expr>]      dbt-style graph selector for run/run-incremental:
  *                            `m` | `+m` (with ancestors) | `m+` (with
  *                            descendants) | `+m+`, comma-separated; models
  *                            outside the selection are re-attached from the
  *                            warehouse instead of rebuilt. `state:modified`
  *                            selects models whose SQL changed since the
  *                            warehouse's last completed run (slim CI:
  *                            `--select state:modified+` rebuilds changed
  *                            models plus everything downstream)
  *
  * A PowerSQL user points this at their existing powersql.toml + model/
  * test .sql files unchanged; execution happens on Spark instead of
  * PostgreSQL/BigQuery.
  */
object GraftCli {

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse {
      System.err.println("usage: GraftCli check|run|run-incremental|seed|test|docs [--project d] [--data d] [--warehouse d] [--fail-fast] [--select expr]")
      sys.exit(2)
    }
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val projectDir = flag("--project").getOrElse(".")
    val spark = Entries.session("graft-cli")
    val code = execute(spark, cmd, projectDir,
      flag("--warehouse").getOrElse(s"$projectDir/wh"),
      args.contains("--fail-fast"), flag("--select"), flag("--data"))
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Testable core: returns the process exit code. */
  def execute(spark: SparkSession, cmd: String, projectDir: String,
              warehouse: String, failFast: Boolean,
              select: Option[String] = None,
              dataDir: Option[String] = None): Int = {
    val project = Project.load(s"$projectDir/powersql.toml")
    def resolve(dirs: Seq[String]) = dirs.map { d =>
      if (new java.io.File(d).isAbsolute) d else s"$projectDir/$d"
    }
    val allModels = resolve(project.models).flatMap(ModelParser.loadDir).flatMap(ModelParser.parseModelFile)
    val tests = resolve(project.tests).flatMap(ModelParser.loadDir).flatMap(ModelParser.parseTestFile)
    val engine = new ModelEngine(spark)

    // seeds are dependency-free roots: register their views up front so
    // check/run/test can reference them; the `seed` command (and any
    // build command) additionally materializes them into the warehouse
    val seeds = engine.loadSeeds(resolve(project.seeds))
    seeds.foreach { case (n, df) => df.createOrReplaceTempView(n) }

    // register only the source tables the project's DAG + tests actually
    // reference — registration schedules no job but still costs a file
    // listing + one driver-side footer read per table, pure waste for
    // sources a 2-model project never touches
    dataDir.foreach { d =>
      val referenced = (allModels.map(_.query) ++
          tests.map(t => s"SELECT (${t.condition})"))
        .flatMap(q => engine.references(q)).toSet
      val modelNames = allModels.map(_.name).toSet
      val needed = (referenced -- modelNames).intersect(Tables.SourceNames.toSet)
      Tables(spark, d).register(needed)
    }

    // graph selection: build only the selected slice; everything outside
    // it re-attaches from its already-materialized warehouse state (so
    // selected models can still reference unselected parents)
    val models = select match {
      case None => allModels
      case Some(expr) =>
        val deps = engine.dependencies(allModels)
        // state-aware selection: diff definitions against the warehouse's
        // saved state manifest only when the expression asks for it
        val modified =
          if (expr.contains("state:modified"))
            engine.modifiedSince(allModels, warehouse)
          else Set.empty[String]
        val keep = Selector.expand(deps, expr, modified)
        // only the selection's UPSTREAM closure needs re-attaching —
        // unselected descendants are not referenced by anything we build
        val needed = Selector.expand(deps, keep.map("+" + _).mkString(",")) -- keep
        // fail fast when an upstream TABLE model was never materialized:
        // silently skipping it would surface later as a raw
        // TABLE_OR_VIEW_NOT_FOUND from analysis with no hint at the cause.
        // Hadoop FS existence check so hdfs://s3a: warehouses work too
        val missing = allModels.collect {
          case TableModel(n, _) if needed(n) &&
            !ModelEngine.warehouseTableExists(spark, warehouse, n) => n
        }
        if (missing.nonEmpty) {
          System.err.println(
            s"--select needs upstream model(s) ${missing.mkString(", ")} " +
              s"materialized in $warehouse; run without --select first")
          return 1
        }
        engine.registerWarehouse(allModels.filter(m => needed(m.name)), warehouse)
        allModels.filter(m => keep(m.name))
    }

    cmd match {
      case "check" =>
        val schemas = engine.check(models)  // topo order: cycles throw here
        schemas.toSeq.sortBy(_._1).foreach { case (name, schema) =>
          println(s"Checking $name")
          println(s"$name ${schema.simpleString}")
        }
        engine.checkTests(tests)
        0
      case "run" =>
        engine.seed(seeds, warehouse)
        engine.run(models, warehouse)
        models.foreach(m => println(s"Ready ${m.name}"))
        0
      case "seed" =>
        engine.seed(seeds, warehouse)
        seeds.foreach { case (n, _) => println(s"Seeded $n") }
        0
      case "run-incremental" =>
        engine.seed(seeds, warehouse)
        val status = engine.runIncremental(models, warehouse)
        status.toSeq.sortBy(_._1).foreach { case (m, s) => println(s"$m: $s") }
        0
      case "test" =>
        // standalone `test` in a fresh session: re-attach the DAG's
        // materialized state before evaluating assertions
        engine.registerWarehouse(models, warehouse)
        val results = engine.test(tests, failFast)
        var code = 0
        results.foreach { case (msg, ok) =>
          println(s"$msg...${if (ok) "OK" else "ERROR"}")
          if (!ok) code = 1
        }
        code
      case "docs" =>
        val out = new java.io.File(s"$projectDir/docs")
        out.mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$projectDir/docs/docs.md"), engine.docs(models))
        println(s"Wrote $projectDir/docs/docs.md")
        0
      case other =>
        System.err.println(s"Unknown command: $other")
        2
    }
  }
}
