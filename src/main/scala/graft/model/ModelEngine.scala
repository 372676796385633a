package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
import org.apache.spark.sql.types.{BooleanType, StructType}
import graft.sources.Sources

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The PowerSQL-parity engine core, re-expressed on Catalyst.
  *
  * Where the reference hand-walks a fraction of the AST to find table
  * references (reference: src/main.rs:53-142 — CTEs, joins, a few expr
  * kinds), graft parses each model body with Spark's own SQL parser and
  * collects every `UnresolvedRelation` in the plan *including subquery
  * expressions* — lateral joins, EXISTS/IN, set-ops, windowed subqueries
  * all covered by construction. Type checking (reference: src/types.rs's
  * 5-type lattice) is Catalyst analysis: exact `StructType`s.
  *
  * Scale note: model DAGs at 100 TB are wide — independent models are
  * executed level-parallel (the reference runs strictly sequentially,
  * src/main.rs:400-414); each model is itself a distributed Spark job, so
  * the DAG's width multiplies cluster utilization, not driver load.
  */
final class ModelEngine(spark: SparkSession) {

  private def parse(sql: String) = spark.sessionState.sqlParser.parsePlan(sql)

  /** Tables referenced by a model body, CTE-shadowing-aware with SQL
    * scoping rules (not tree-global name subtraction): each CTE body sees
    * only the CTEs defined BEFORE it in the same WITH (non-recursive
    * semantics), the main query sees all of them, and inner scopes extend
    * outer ones. So `WITH x AS (SELECT * FROM x) SELECT * FROM x` reports
    * x as a real upstream dependency — the body's x resolves to the
    * catalog table (exactly how Spark and DuckDB resolve it); only the
    * downstream use is shadowed. A global `refs -- ctes` would silently
    * drop that edge and under-build the DAG.
    */
  def references(sql: String): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val refs = scala.collection.mutable.Set.empty[String]
    def gather(p: LogicalPlan, scope: Set[String]): Unit = p match {
      case w: UnresolvedWith =>
        var s = scope
        w.cteRelations.foreach { cr => gather(cr._2, s); s += cr._1.toLowerCase }
        gather(w.child, s)
      case r: UnresolvedRelation =>
        // CTE names can only shadow SINGLE-part references: a qualified
        // name like db.x always resolves to the catalog, never to a
        // `WITH x` in scope — so the scope check applies only when the
        // identifier is unqualified.
        val n = r.multipartIdentifier.last.toLowerCase
        if (r.multipartIdentifier.size > 1 || !scope.contains(n)) refs += n
      case other =>
        other.children.foreach(gather(_, scope))
        other.expressions.foreach(_.foreach {
          case sq: SubqueryExpression => gather(sq.plan, scope)
          case _ => ()
        })
    }
    gather(parse(sql), Set.empty)
    refs.toSet
  }

  /** model → models-it-depends-on (refs outside the model set are source
    * tables, ignored — reference: src/main.rs:213-227).
    */
  def dependencies(models: Seq[ModelStatement]): Map[String, Seq[String]] = {
    val names = models.map(_.name).toSet
    models.map(m => m.name -> references(m.query).filter(names.contains).toSeq.sorted).toMap
  }

  /** Kahn topological sort grouped into levels of mutually-independent
    * models; detects cycles (reference: src/main.rs:229-254).
    */
  def topoLevels(deps: Map[String, Seq[String]]): Seq[Seq[String]] = {
    var remaining = deps.map { case (k, v) => k -> v.toSet }
    val levels = Seq.newBuilder[Seq[String]]
    var done = Set.empty[String]
    while (remaining.nonEmpty) {
      val ready = remaining.collect { case (m, d) if d.subsetOf(done) => m }.toSeq.sorted
      if (ready.isEmpty)
        throw new IllegalStateException(
          s"Cycle detected among models: ${remaining.keys.toSeq.sorted.mkString(", ")}")
      levels += ready
      done ++= ready
      remaining = remaining -- ready
    }
    levels.result()
  }

  /** `check`: analyze every model in topo order against the session
    * catalog; returns exact schemas. No job runs — Catalyst analysis only.
    */
  def check(models: Seq[ModelStatement]): Map[String, StructType] = {
    val byName = models.map(m => m.name -> m).toMap
    val levels = topoLevels(dependencies(models))
    val out = Map.newBuilder[String, StructType]
    for (level <- levels; name <- level) {
      val df = spark.sql(byName(name).query)
      out += name -> df.schema
      df.createOrReplaceTempView(name)
    }
    out.result()
  }

  /** Verify every ASSERT condition analyzes to a boolean (reference:
    * src/main.rs:375-385 rejects non-boolean test types).
    */
  def checkTests(tests: Seq[AssertTest]): Unit = tests.foreach { t =>
    val ty = spark.sql(s"SELECT (${t.condition}) AS condition").schema.head.dataType
    if (ty != BooleanType)
      throw new IllegalStateException(s"Expected boolean in test '${t.message}', got $ty")
  }

  /** `run`: execute the DAG. Views become temp views (lazy, fused into
    * downstream plans by Catalyst); tables/materialized views are written
    * through `sink` and re-registered, cutting the lineage — the
    * materialization boundary a 100 TB pipeline needs for reuse.
    * Models inside one level run concurrently (Spark schedules their jobs
    * across the cluster simultaneously).
    */
  def run(models: Seq[ModelStatement], warehouse: String): Unit = {
    run(models, TableSink.parquet(warehouse))
    saveState(models, warehouse) // completed build = valid state:modified base
  }

  /** dbt-style model CONTRACTS (dbt parity beyond the reference): a
    * declared (column, type, not-null) list enforced against the BUILT
    * model — the type check reads the Catalyst-analyzed schema (no
    * data pass), the not-null checks batch into ONE aggregate over the
    * table (never a scan per constraint). Returns one verdict row per
    * contracted column: (column, expected_type, actual_type, type_ok,
    * null_violations, contract_ok).
    */
  def contractCheck(table: String,
      contract: Seq[(String, String, Boolean)]): Seq[(String, String, String, Boolean, Long, Boolean)] = {
    import org.apache.spark.sql.functions.{col, lit, sum, when}
    val df = spark.table(table)
    val types = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val nnCols = contract.collect { case (c, _, true) if types.contains(c) => c }
    val nulls: Map[String, Long] =
      if (nnCols.isEmpty) Map.empty
      else {
        val aggs = nnCols.map(c =>
          sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as(c))
        val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        nnCols.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(i)) 0L else r.getLong(i))
        }.toMap
      }
    contract.map { case (c, expected, notNull) =>
      val actual = types.getOrElse(c, "missing")
      val typeOk = actual == expected
      val nv = if (notNull) nulls.getOrElse(c, 0L) else 0L
      (c, expected, actual, typeOk, nv, typeOk && nv == 0L)
    }
  }

  /** dbt-style SEEDS (a dbt-parity feature beyond the reference, which
    * has no seed concept): version-controlled CSV files materialized as
    * dependency-free ROOT tables before any model runs. The file stem
    * is the table name, the header row names the columns, and types are
    * inferred by Spark's CSV reader (int64 → double → boolean → string
    * fallback — dbt's agate-typing shape). Files load in sorted-path
    * order so repeated runs see a deterministic seed set.
    */
  def loadSeeds(dirs: Seq[String]): Seq[(String, DataFrame)] = {
    import scala.jdk.CollectionConverters._
    dirs.flatMap { d =>
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p)) Seq.empty
      else {
        // Files.walk holds directory handles until closed — materialize
        // the listing under Using so repeated engine runs don't leak fds
        val files = scala.util.Using.resource(java.nio.file.Files.walk(p)) {
          _.iterator().asScala
            .filter(f => f.toString.endsWith(".csv") &&
              java.nio.file.Files.isRegularFile(f))
            .toSeq
        }
        files.sortBy(_.toString).map { f =>
          val stem = f.getFileName.toString.stripSuffix(".csv")
          (stem, spark.read.option("header", "true")
            .option("inferSchema", "true").csv(f.toString))
        }
      }
    }
  }

  /** Materialize seeds into the warehouse (dbt `seed` command): each
    * becomes a parquet table re-registered from its materialized form,
    * so downstream models read the warehouse copy — the same
    * lineage-cut discipline as TableModel materialization.
    */
  def seed(seeds: Seq[(String, DataFrame)], warehouse: String): Unit = {
    val sink = TableSink.parquet(warehouse)
    seeds.foreach { case (name, df) =>
      sink.materialize(spark, name, df).createOrReplaceTempView(name)
    }
  }

  /** dbt-style SNAPSHOT (check strategy): SCD2-merge the source's
    * current state into the warehouse snapshot table. First run opens
    * every row at `asOf`; later runs compare every non-key column
    * null-safely against the open version — changed keys get their open
    * row closed (`valid_to = asOf`) and a new version opened, unchanged
    * keys keep their row, and keys missing from the source stay open
    * (dbt's default: no hard-delete invalidation). `asOf` is
    * caller-supplied (dbt stamps wall-clock; an explicit version makes
    * runs reproducible and testable).
    *
    * Scale shape: one key-keyed shuffle join between the OPEN slice and
    * the source per run (history rows are unioned through untouched);
    * the merged state lands at `wh/name.next` and swaps in via the
    * Hadoop FileSystem (the sources/Snapshots.scala:20-25 discipline —
    * never an overwrite of a path Spark is still lazily reading), so
    * the same code runs on file:, hdfs:// and s3a:// warehouses.
    * Crash safety: the swap renames the live table ASIDE (`name.old`)
    * before renaming `name.next` into place, and entry-time recovery
    * rolls an interrupted swap back (or a legacy delete-then-rename
    * crash forward) — a crash can never leave the path absent and make
    * the next run silently re-open every row as a first run, which
    * would discard all SCD2 history. dbt-parity guard: a source with
    * duplicate keys would open multiple simultaneous versions per key
    * and corrupt the SCD2 invariant, so key uniqueness is asserted and
    * the snapshot FAILS (one countDistinct aggregate — the same check
    * dbt runs). Returns the re-read snapshot table.
    */
  def snapshot(name: String, current: DataFrame, key: String, asOf: Long,
               warehouse: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"$warehouse/$name"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val nextP = new org.apache.hadoop.fs.Path(s"$path.next")
    val oldP = new org.apache.hadoop.fs.Path(s"$path.old")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover an interrupted previous swap BEFORE reading any state
    if (fs.exists(hPath)) {
      // live table is authoritative; drop uncommitted leftovers
      if (fs.exists(nextP)) fs.delete(nextP, true)
      if (fs.exists(oldP)) fs.delete(oldP, true)
    } else if (fs.exists(oldP)) {
      // crashed between rename-aside and rename-in: roll back to old
      if (fs.exists(nextP)) fs.delete(nextP, true)
      require(fs.rename(oldP, hPath),
        s"snapshot '$name': recovery rename $oldP -> $hPath failed")
    } else if (fs.exists(nextP)) {
      // legacy delete-then-rename crash: .next holds the full merged
      // history — roll FORWARD (deleting it would discard SCD2 history).
      // Only if its parquet commit marker exists, though: a torn write
      // on a FIRST snapshot run (no live table, no .old to roll back
      // to) also lands here, and promoting a partial .next would
      // silently seed the SCD2 history from incomplete data.
      if (fs.exists(new org.apache.hadoop.fs.Path(nextP, "_SUCCESS")))
        require(fs.rename(nextP, hPath),
          s"snapshot '$name': recovery rename $nextP -> $hPath failed")
      else {
        // "no marker" only means "uncommitted" when the committer writes
        // markers at all. Object-store committers commonly disable
        // marksuccessfuljobs — there, a fully committed .next holding
        // the only copy of the merged history is indistinguishable from
        // a torn write, and deleting it would destroy data: refuse and
        // demand manual resolution instead of guessing.
        require(spark.sparkContext.hadoopConfiguration.getBoolean(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
          s"snapshot '$name': orphan $nextP has no _SUCCESS marker and " +
            "mapreduce.fileoutputcommitter.marksuccessfuljobs is disabled — " +
            "cannot tell a torn first-run write from a committed merge " +
            "holding the only copy of the SCD2 history; inspect it and " +
            "either rename it to the live path (complete) or delete it (torn)")
        fs.delete(nextP, true)
      }
    }
    val payload = current.columns.filterNot(_ == key).toSeq
    val Array(nRows, nKeys) = current
      .agg(count(lit(1)).cast("long"), countDistinct(col(key)).cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(nRows == nKeys,
      s"snapshot '$name': source has $nRows rows but only $nKeys distinct " +
        s"'$key' values — duplicate snapshot keys would open multiple " +
        "simultaneous SCD2 versions per key; deduplicate the source first")
    val outCols = (current.columns.toSeq ++ Seq("valid_from", "valid_to", "is_current"))
      .map(col)
    val merged =
      if (!fs.exists(hPath))
        current.withColumn("valid_from", lit(asOf))
          .withColumn("valid_to", lit(null).cast("bigint"))
          .withColumn("is_current", lit(true))
          .select(outCols: _*)
      else {
        val existing = Sources.parquet(spark, path)
        val open = existing.filter(col("is_current"))
        val closedHist = existing.filter(!col("is_current"))
        // keys whose payload differs from the open version, null-safely
        val changedKeys = open.as("c").join(current.as("n"),
            col(s"c.$key") === col(s"n.$key"))
          .filter(payload.map(p => !(col(s"c.$p") <=> col(s"n.$p"))).reduce(_ || _))
          .select(col(s"c.$key").as(key))
        val newKeys = current.select(key).except(open.select(key))
        val toOpen = changedKeys.union(newKeys)
        val opened = current.join(toOpen, Seq(key), "left_semi")
          .withColumn("valid_from", lit(asOf))
          .withColumn("valid_to", lit(null).cast("bigint"))
          .withColumn("is_current", lit(true))
          .select(outCols: _*)
        val closedNow = open.join(changedKeys, Seq(key), "left_semi")
          .withColumn("valid_to", lit(asOf))
          .withColumn("is_current", lit(false))
          .select(outCols: _*)
        val keptOpen = open.join(changedKeys, Seq(key), "left_anti")
          .select(outCols: _*)
        closedHist.select(outCols: _*)
          .union(keptOpen).union(closedNow).union(opened)
      }
    merged.write.mode("overwrite").parquet(nextP.toString)
    // crash-safe swap: aside → in → drop aside (recovery above handles
    // a crash at any point; the path is never left absent). Hadoop
    // rename reports failure by RETURNING false, not throwing — an
    // ignored false on the aside rename would leave the live path
    // absent and turn the next run into a history-discarding first run,
    // the exact failure this swap exists to prevent; so every rename
    // result is asserted.
    if (fs.exists(hPath)) require(fs.rename(hPath, oldP),
      s"snapshot '$name': swap rename $hPath -> $oldP failed")
    require(fs.rename(nextP, hPath),
      s"snapshot '$name': swap rename $nextP -> $hPath failed")
    if (fs.exists(oldP)) fs.delete(oldP, true)
    // re-read with merged's own schema: no footer-inference pass
    TableSink.readBack(spark, path, merged.schema)
  }

  /** Own-definition hash per model — NO upstream chaining. The chained
    * hash (runIncremental) answers "must this model REBUILD" (an
    * upstream edit propagates); the definition hash answers "did a
    * human EDIT this model's SQL" — the seed set `state:modified`
    * selection grows from. Conflating them would make
    * `state:modified` ≡ `state:modified+` and lose the distinction dbt
    * users rely on in slim CI.
    */
  def definitionHashes(models: Seq[ModelStatement]): Map[String, String] =
    models.map(m => m.name -> ModelEngine.sha256(m.query)).toMap

  private def stateFile(warehouse: String) =
    new java.io.File(warehouse, "_graft_state.properties")

  /** Persist the definition hashes as the warehouse's state manifest —
    * the baseline a later `--select state:modified` run diffs against.
    * run/runIncremental call this on completion, so any finished build
    * is a usable comparison base (dbt's --state artifact dir).
    *
    * MERGES into the existing manifest: a `--select`ed partial run
    * updates only the models it actually (re)built — the warehouse
    * still materializes the OLD definition of every unselected model,
    * so an edited-but-unselected model must stay `modified` for the
    * next CI run, and replacing the file wholesale would instead mark
    * every unselected model as baseline-unknown.
    */
  def saveState(models: Seq[ModelStatement], warehouse: String): Unit = {
    val f = stateFile(warehouse)
    ModelEngine.writeHashes(f, ModelEngine.readHashes(f) ++ definitionHashes(models),
      "graft state manifest (definition hashes)")
  }

  /** Models whose definition differs from the warehouse's saved state:
    * edited SQL or a model the baseline has never seen (dbt's
    * state:new folded in — both mean "CI must build it"). No state
    * file = no baseline = every model modified, the safe first-run
    * default. Deleted models exist only in the baseline and so never
    * surface here — there is nothing to build for them.
    */
  def modifiedSince(models: Seq[ModelStatement], warehouse: String): Set[String] = {
    val previous = ModelEngine.readHashes(stateFile(warehouse))
    definitionHashes(models).collect {
      case (name, h) if !previous.get(name).contains(h) => name
    }.toSet
  }

  /** `run` with a pluggable materialization target — parquet warehouse by
    * default, or a JDBC warehouse (PostgreSQL-parity with the reference's
    * `execute.rs:52-76`, which lands every table model in the user's warehouse
    * database) via `TableSink.jdbc`. This is the one loop that builds
    * models: `run`, `runIncremental` and the CLI's `--select` all end here.
    */
  def run(models: Seq[ModelStatement], sink: TableSink): Unit = {
    val byName = models.map(m => m.name -> m).toMap
    val levels = topoLevels(dependencies(models))
    implicit val ec: ExecutionContext = ExecutionContext.global
    // pool threads may predate (and outlive) any Caching.scoped block the
    // caller opened, so the scope is carried to them explicitly — frames a
    // model persists on a worker thread release with the caller's scope
    val scope = graft.Caching.captureScope
    for (level <- levels) {
      val futures = level.map { name =>
        Future {
          graft.Caching.runWithScope(scope) {
            byName(name) match {
              case ViewModel(n, q) =>
                spark.sql(q).createOrReplaceTempView(n)
              case TableModel(n, q) =>
                sink.materialize(spark, n, spark.sql(q)).createOrReplaceTempView(n)
            }
          }
        }
      }
      futures.foreach(f => Await.result(f, Duration.Inf))
    }
  }

  /** Re-attach a previously materialized DAG to a fresh session without
    * executing anything: table models re-register from their warehouse
    * parquet (skipped if never built — downstream analysis then names the
    * missing table), view models re-create as lazy temp views in topo
    * order. This is what makes `test` (and any read-only session) work
    * standalone after a `run` in an earlier process — the reference gets
    * this for free from its persistent backend (src/execute.rs:21-28);
    * on Spark the warehouse IS the persistence, so re-registration is an
    * explicit, zero-job step.
    */
  def registerWarehouse(models: Seq[ModelStatement], warehouse: String): Unit = {
    val byName = models.map(m => m.name -> m).toMap
    for (level <- topoLevels(dependencies(models)); name <- level)
      byName(name) match {
        case TableModel(n, _) =>
          if (ModelEngine.warehouseTableExists(spark, warehouse, n))
            Sources.parquet(spark, s"$warehouse/$n").createOrReplaceTempView(n)
        case ViewModel(n, q) =>
          spark.sql(q).createOrReplaceTempView(n)
      }
  }

  /** Incremental `run`: a table model is rebuilt only when its content
    * hash — its own SQL chained with the hashes of every transitive
    * upstream model — differs from the manifest of the previous run, or
    * its materialized output is missing. Unchanged tables re-attach from
    * the warehouse (`registerWarehouse`, no job); everything else builds
    * through `run`'s level loop. At 100 TB the difference between
    * "rebuild the whole DAG" and "rebuild the one branch that changed" is
    * the pipeline's entire cost; the hash chain guarantees an upstream
    * edit rebuilds everything downstream of it.
    *
    * Returns per-model status: built | skipped | view.
    */
  def runIncremental(models: Seq[ModelStatement], warehouse: String): Map[String, String] = {
    val byName = models.map(m => m.name -> m).toMap
    val deps = dependencies(models)
    val hashes = scala.collection.mutable.Map.empty[String, String]
    for (level <- topoLevels(deps); name <- level)
      hashes(name) = ModelEngine.sha256(
        byName(name).query + "|" + deps(name).sorted.map(hashes).mkString(","))

    val manifest = new java.io.File(warehouse, "_graft_manifest.properties")
    val previous = ModelEngine.readHashes(manifest)
    val reused = models.collect {
      case m: TableModel if previous.get(m.name).contains(hashes(m.name)) &&
        ModelEngine.warehouseTableExists(spark, warehouse, m.name) => m.name
    }.toSet
    registerWarehouse(models.filter(m => reused(m.name)), warehouse)
    run(models.filterNot(m => reused(m.name)), TableSink.parquet(warehouse))

    ModelEngine.writeHashes(manifest, hashes.toMap, "graft incremental-run manifest")
    saveState(models, warehouse) // completed build = valid state:modified base
    models.map {
      case ViewModel(n, _) => n -> "view"
      case TableModel(n, _) => n -> (if (reused(n)) "skipped" else "built")
    }.toMap
  }

  /** `test`: run the ASSERTs as `SELECT (cond) AS condition` (reference:
    * src/main.rs:436-452), returning (message, passed) pairs.
    *
    * Without `failFast`, all conditions are evaluated as ONE single-row
    * plan (`SELECT (c1) AS t0, (c2) AS t1, …`): one driver round-trip
    * and one job for the row, with the scalar subqueries run
    * concurrently. Each subquery that scans data still costs its own
    * jobs, two AQE jobs for an aggregate: 35 row-count ASSERTs measured
    * 74 jobs. A whole-table `(SELECT COUNT(*) FROM t)` over a parquet
    * table model or source now costs none, since graft.plans.FooterCount
    * answers it from the file footers and folds it into a literal; when
    * every condition folds, the row itself is a local relation and the
    * call runs no job at all. `failFast` keeps the reference's
    * sequential first-failure semantics; if the batched plan fails to
    * build (e.g. a missing table), fall back to sequential so the error
    * attributes to the specific test.
    */
  def test(tests: Seq[AssertTest], failFast: Boolean = false): Seq[(String, Boolean)] = {
    if (!failFast && tests.size > 1) {
      try {
        val cols = tests.zipWithIndex
          .map { case (t, i) => s"(${t.condition}) AS t$i" }
        val row = spark.sql(s"SELECT ${cols.mkString(", ")}").collect().head
        return tests.zipWithIndex.map { case (t, i) =>
          t.message -> (!row.isNullAt(i) && row.getBoolean(i))
        }
      } catch { case _: Exception => () } // sequential fallback attributes the error
    }
    val out = Seq.newBuilder[(String, Boolean)]
    var stop = false
    for (t <- tests if !stop) {
      val passed = spark.sql(s"SELECT (${t.condition}) AS condition")
        .collect().headOption.exists(r => !r.isNullAt(0) && r.getBoolean(0))
      out += t.message -> passed
      if (!passed && failFast) stop = true
    }
    out.result()
  }

  /** The documentation surface as data — one row per fact about the model
    * graph (reference: src/main.rs:416-429 renders the same facts straight
    * to markdown). Three kinds per model, `ord` keeping declared order:
    *   - ("model",  0, name,        view|table)   the model itself
    *   - ("dep",    i, parent,      "")           one row per DAG edge
    *   - ("column", i, column name, sql type)     the `check`-inferred schema
    * `docs` renders the markdown/mermaid view FROM these rows, so the
    * oracle-checked data is exactly what the renderer shows.
    */
  /** Column-level lineage: every output column of every model traced
    * TRANSITIVELY to the source-table columns that feed it, straight off
    * the ANALYZED Catalyst plans (models inline as temp views, so a
    * column flowing through three models still lands on its parquet
    * origin). The impact-analysis surface dbt exposes as `docs` metadata
    * and the reference cannot derive at all (it never analyzes the SQL
    * it forwards): "which models break if orders.o_totalprice changes
    * type" is one filter over this table.
    *
    * Lineage = projection lineage (the standard definition): a column's
    * sources are the attributes its defining expressions reference;
    * join/filter predicates select rows but do not feed column values.
    * Literal-only columns (e.g. COUNT(*)) have no source rows. Scalar
    * subqueries inside a projection are out of scope (documented).
    *
    * Returns (model, column, src_table, src_column) rows.
    */
  def columnLineage(models: Seq[ModelStatement]): Seq[(String, String, String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId}
    import org.apache.spark.sql.catalyst.plans.logical._
    val modelNames = models.map(_.name).toSet
    type Lin = Map[ExprId, Set[(String, String)]]

    def merge(ms: Seq[Lin]): Lin =
      ms.foldLeft(Map.empty: Lin)((a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, Set.empty) ++ b.getOrElse(k, Set.empty))).toMap)

    def walk(plan: LogicalPlan, cte: Map[Long, (Seq[Attribute], Lin)]): Lin = plan match {
      // a non-model temp view boundary IS a source: stop and name it
      // (sources may wrap projections, e.g. the events ns→us cast).
      // CTE references and recursive self-references are also
      // SubqueryAlias'd leaves — those resolve through the cte map /
      // loop-branch union below, never as sources
      case SubqueryAlias(id, child) if !modelNames.contains(id.name.toLowerCase) &&
          !child.isInstanceOf[CTERelationRef] && !child.isInstanceOf[UnionLoopRef] &&
          (child.isInstanceOf[View] || child.children.isEmpty) =>
        plan.output.map(a => a.exprId -> Set((id.name.toLowerCase, a.name))).toMap
      case w: WithCTE =>
        val defs = w.cteDefs.foldLeft(cte) { (acc, d) =>
          acc + (d.id -> ((d.child.output, walk(d.child, acc))))
        }
        walk(w.plan, defs)
      case r: CTERelationRef =>
        cte.get(r.cteId).map { case (defOut, defLin) =>
          r.output.zip(defOut).map { case (o, d) =>
            o.exprId -> defLin.getOrElse(d.exprId, Set.empty)
          }.toMap
        }.getOrElse(Map.empty)
      // UnionBase covers plain Union AND UnionLoop (recursive CTE body):
      // output column i draws from column i of every branch — for a
      // recursion that is anchor ∪ step, the fixpoint lineage, since the
      // step's self-reference (UnionLoopRef) contributes nothing new
      case u: UnionBase =>
        val childLins = u.children.map(c => walk(c, cte))
        u.output.zipWithIndex.map { case (o, i) =>
          o.exprId -> u.children.zip(childLins).flatMap { case (c, l) =>
            l.getOrElse(c.output(i).exprId, Set.empty)
          }.toSet
        }.toMap
      case _ =>
        val base = merge(plan.children.map(c => walk(c, cte)))
        // any node that DEFINES named expressions (Project, Aggregate,
        // Window, Generate, …) maps each alias to the union of its
        // references' lineages; everything else passes through by exprId
        val defined = plan.expressions.flatMap { e =>
          e.collect { case al: Alias =>
            al.exprId -> al.child.references.toSeq
              .flatMap(r => base.getOrElse(r.exprId, Set.empty)).toSet
          }
        }.toMap
        base ++ defined
    }

    // Lineage is a READ-ONLY analysis — but the topo walk must bind each
    // model name to its raw-query plan so downstream models inline.
    // Save any pre-existing bindings (e.g. warehouse-backed views after a
    // run) and restore them on exit, so calling lineage mid-session never
    // silently rebinds materialized tables to live recomputation.
    val catalog = spark.sessionState.catalog
    val saved = models.map(m => m.name -> catalog.getRawTempView(m.name))
    val byName = models.map(m => m.name -> m).toMap
    val rows = Seq.newBuilder[(String, String, String, String)]
    try {
      for (level <- topoLevels(dependencies(models)); name <- level) {
        val df = spark.sql(byName(name).query)
        val lin = walk(df.queryExecution.analyzed, Map.empty)
        df.queryExecution.analyzed.output.foreach { a =>
          lin.getOrElse(a.exprId, Set.empty).toSeq.sorted.foreach { case (st, sc) =>
            rows += ((name, a.name, st, sc))
          }
        }
        df.createOrReplaceTempView(name)
      }
    } finally saved.foreach {
      case (n, Some(prev)) => catalog.createTempView(n, prev, overrideIfExists = true)
      case (n, None)       => catalog.dropTempView(n)
    }
    rows.result()
  }

  def docsData(models: Seq[ModelStatement]): Seq[(String, String, Long, String, String)] = {
    val deps = dependencies(models)
    val schemas = check(models)
    models.sortBy(_.name).flatMap { m =>
      val kind = m match { case _: ViewModel => "view"; case _: TableModel => "table" }
      Seq((m.name, "model", 0L, m.name, kind)) ++
        deps(m.name).zipWithIndex.map { case (d, i) => (m.name, "dep", i.toLong, d, "") } ++
        schemas(m.name).fields.zipWithIndex.map { case (f, i) =>
          (m.name, "column", i.toLong, f.name, f.dataType.simpleString)
        }
    }
  }

  /** `docs`: model-graph markdown with a mermaid DAG (reference:
    * src/main.rs:416-429 writes docs/docs.md), rendered from `docsData`.
    */
  def docs(models: Seq[ModelStatement]): String = {
    val entries = docsData(models)
    val byModel = entries.groupBy(_._1)
    val names = byModel.keys.toSeq.sorted
    val sb = new StringBuilder("# Model documentation\n\n```mermaid\ngraph TD\n")
    names.foreach { m =>
      val ds = byModel(m).filter(_._2 == "dep").sortBy(_._3).map(_._4)
      if (ds.isEmpty) sb.append(s"  $m\n")
      ds.foreach(d => sb.append(s"  $d --> $m\n"))
    }
    sb.append("```\n\n")
    // column-level lineage per model (ModelEngine.columnLineage):
    // (model, column) → "src.col, src.col"
    val lineage = columnLineage(models)
      .groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(r => s"${r._3}.${r._4}").sorted.mkString(", "))
      .toMap
    names.foreach { m =>
      val kind = byModel(m).find(_._2 == "model").fold("view")(_._5)
      sb.append(s"## $m ($kind)\n\n")
      val cols = byModel(m).filter(_._2 == "column").sortBy(_._3)
      if (cols.nonEmpty) {
        sb.append("| column | type | sources |\n|---|---|---|\n")
        cols.foreach(c => sb.append(
          s"| ${c._4} | ${c._5} | ${lineage.getOrElse((m, c._4), "")} |\n"))
      }
      sb.append("\n")
    }
    sb.toString
  }
}

object ModelEngine {

  /** Lower-case hex SHA-256 of the UTF-8 bytes: the definition and the
    * chained model hashes.
    */
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A model → hash properties file (`_graft_state.properties`,
    * `_graft_manifest.properties`); a missing file reads as empty.
    */
  private def readHashes(f: java.io.File): Map[String, String] =
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val props = new java.util.Properties()
      scala.util.Using.resource(new java.io.FileInputStream(f))(props.load(_))
      props.asScala.toMap
    }

  private def writeHashes(f: java.io.File, hashes: Map[String, String], comment: String): Unit = {
    f.getParentFile.mkdirs()
    val props = new java.util.Properties()
    hashes.foreach { case (k, v) => props.setProperty(k, v) }
    scala.util.Using.resource(new java.io.FileOutputStream(f))(props.store(_, comment))
  }

  /** Does `warehouse/table` exist? Through the Hadoop FileSystem API so
    * hdfs:// and s3a:// warehouses answer correctly — a java.io.File
    * check is local-only and reports every remote table missing.
    */
  def warehouseTableExists(spark: SparkSession, warehouse: String, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(warehouse, table)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Unit-test diff report: bag-semantics comparison of a materialized
    * model against its expected rows (dbt-style unit tests). `nMissing`
    * counts expected rows the model did not produce, `nUnexpected` the
    * converse — exceptAll in both directions, so duplicate-row
    * multiplicity mismatches are caught too. Expected columns are
    * aligned to the model's column order by name.
    */
  final case class UnitDiff(
      nExpected: Long, nActual: Long, nMissing: Long, nUnexpected: Long) {
    def passed: Boolean = nMissing == 0 && nUnexpected == 0
  }

  def unitDiff(actual: org.apache.spark.sql.DataFrame,
               expected: org.apache.spark.sql.DataFrame): UnitDiff = {
    import org.apache.spark.sql.functions._
    val exp = expected.select(actual.columns.map(col(_)): _*)
    // ONE job instead of four (r14): the old shape ran count() twice and
    // exceptAll().count() twice — four actions, each re-executing its
    // input's plan. Bag-diff algebra gives all four numbers from one
    // per-distinct-row multiplicity table: tag each side, union, group
    // by the whole row (struct grouping treats NULLs as equal, exactly
    // exceptAll's bag semantics), then
    //   nMissing    = Σ max(exp_count − act_count, 0)
    //   nUnexpected = Σ max(act_count − exp_count, 0).
    val tagged = exp
      .select(struct(exp.columns.map(col(_)): _*).as("__r"),
        lit(1L).as("__e"), lit(0L).as("__a"))
      .unionAll(actual.select(struct(actual.columns.map(col(_)): _*).as("__r"),
        lit(0L).as("__e"), lit(1L).as("__a")))
    val r = tagged.groupBy("__r")
      .agg(sum("__e").as("e"), sum("__a").as("a"))
      .agg(
        sum(col("e")).as("ne"), sum(col("a")).as("na"),
        sum(greatest(col("e") - col("a"), lit(0L))).as("miss"),
        sum(greatest(col("a") - col("e"), lit(0L))).as("unexp"))
      .collect()(0)
    def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    UnitDiff(n(0), n(1), n(2), n(3))
  }
}
