package graftbench

import graft.{Caching, GraftCli, GraftSession, SparkEntry, Tables}
import graft.model._
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The measuring half of the benchmark: runs one workload on inputs that
  * perfbench/run.py generated from the seed, and writes the raw record
  * (timed operations, verification outputs, layer counters) as JSON. The
  * Python half checks the outputs and turns the record into metrics.
  *
  *   graftbench.Main --workload corpus_curation|model_project
  *     --inputs <dir> --out <dir> --seconds <s> --trace 0|1 --cpus <n>
  *
  * After the warm-up, untraced (`--trace 0`) runs whole rounds of
  * operations closed-loop, one at a time, until `--seconds` have passed.
  * Traced (`--trace 1`) runs one pass of the operations four times: once
  * more to warm up, untraced, with spans and listeners, and untraced again.
  * The work is fixed, so counts repeat exactly for a seed; the traced pass
  * against the mean of the two untraced ones is the tracing overhead.
  */
object Main {

  /** One timed operation; `detail` is the outcome the checks compare. */
  final case class Op(name: String, startNs: Long, endNs: Long, ok: Boolean,
                      rows: Long, detail: String, error: String) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    out.mkdirs()

    val canary = mutable.ArrayBuffer(Canary.run())
    val s0 = System.nanoTime()
    val spark = GraftSession.builder("graft-perfbench", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.init(spark)
    val sessionStart = (System.nanoTime() - s0) / 1e9

    val w: Workload = workload match {
      case "corpus_curation" => new CorpusCuration(spark, inputs, out)
      case "model_project" => new ModelProject(spark, inputs, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val untraced = new Spans(false)
    w.warmUp(untraced)

    val rec = mutable.LinkedHashMap[String, Any]("session_start_s" -> sessionStart)
    if (!traced) {
      val firstOpEpochMs = System.currentTimeMillis()
      val ops = w.timed(untraced, seconds)
      rec("first_op_epoch_ms") = firstOpEpochMs
      rec("timed_wall_s") = (ops.last.endNs - ops.head.startNs) / 1e9
      rec("heap_mb") = heapAfterGcMb()
      rec("ops") = ops.map(opJson)
    } else {
      // on a warm JVM, untraced, traced, untraced: what drift is left
      // falls on both sides of the traced pass
      val warm = w.onePass(untraced)
      val before = w.onePass(untraced)
      val spans = new Spans(true)
      val (sched, query) = Listeners.attach(spark)
      val gc0 = gcSeconds()
      val wall0 = System.currentTimeMillis()
      val tracedOps = w.onePass(spans, Some(sched))
      val wall1 = System.currentTimeMillis()
      BenchBus.drain(spark.sparkContext)
      Listeners.detach(spark, sched, query)
      val gc = gcSeconds() - gc0
      val after = w.onePass(untraced)
      canary += Canary.run()
      val sum = (ops: Seq[Op]) => ops.map(_.seconds).sum
      rec("traced_wall_s") = sum(tracedOps)
      rec("untraced_wall_s") = Seq(sum(before), sum(after))
      rec("ops") = (warm ++ before ++ tracedOps ++ after).map(opJson)
      val l = mutable.LinkedHashMap[String, Double]("session.start_s" -> sessionStart)
      w.layerMetrics(spans, l)
      l ++= Seq(
        "sources.scan_bytes" -> sched.scanBytes.toDouble,
        "sources.scan_records" -> sched.scanRecords.toDouble,
        "sources.write_bytes" -> sched.writeBytes.toDouble,
        "sources.write_records" -> sched.writeRecords.toDouble,
        "plans.topk_nodes" -> query.topkPlans.toDouble,
        "catalyst.analysis_s" -> query.analysisMs / 1e3,
        "catalyst.optimization_s" -> query.optimizationMs / 1e3,
        "catalyst.planning_s" -> query.planningMs / 1e3,
        "scheduler.jobs" -> sched.jobs.toDouble,
        "scheduler.stages" -> sched.stages.toDouble,
        "scheduler.tasks" -> sched.tasks.toDouble,
        "scheduler.task_s" -> sched.taskRunMs / 1e3,
        "scheduler.task_cpu_s" -> sched.taskCpuNs / 1e9,
        "scheduler.task_wait_s" -> sched.taskWaitMs / 1e3,
        "driver.no_job_s" -> sched.noJobSeconds(wall0, wall1),
        "driver.collects" -> query.collects.toDouble,
        "shuffle.exchanges" -> query.exchanges.toDouble,
        "shuffle.write_bytes" -> sched.shuffleWriteBytes.toDouble,
        "shuffle.read_bytes" -> sched.shuffleReadBytes.toDouble,
        "shuffle.records" -> sched.shuffleRecords.toDouble,
        "shuffle.fetch_wait_s" -> sched.fetchWaitMs / 1e3,
        "exec.spill_bytes" -> sched.spillBytes.toDouble,
        "exec.gc_s" -> gc)
      rec("layers") = l
      rec("self_s") = ListMap.from(spans.selfTimes.toSeq.sortBy(_._1))
      writeSpans(spans, new File(out, "spans.jsonl"))
    }
    rec("canary_s") = canary.toSeq
    rec("verify") = w.verified
    spark.stop()
    Files.writeString(new File(out, "record.json").toPath, Main.json(rec))
  }

  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  /** Heap in use after a full GC. The second GC also reclaims what the
    * first one's reference processing (Spark's ContextCleaner) released.
    */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def opJson(o: Op): ListMap[String, Any] = ListMap(
    "name" -> o.name, "s" -> o.seconds, "ok" -> o.ok, "rows" -> o.rows,
    "detail" -> o.detail, "error" -> o.error)

  private def writeSpans(spans: Spans, f: File): Unit = {
    val t0 = spans.all.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.all.map { s =>
      json(ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
    }
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }

  /** Run `body` as one benchmark operation inside a `Caching.scoped`
    * block; `body` returns (rows, detail). A thrown exception is a failed
    * operation, not a crash.
    */
  def operation(spans: Spans, name: String)(body: => (Long, String)): Op = {
    spans.op += 1
    val t0 = System.nanoTime()
    try {
      val (rows, detail) = spans.span(s"op.$name")(Caching.scoped(body))
      Op(name, t0, System.nanoTime(), ok = true, rows, detail, "")
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $name failed: $msg")
        Op(name, t0, System.nanoTime(), ok = false, -1L, "", msg)
    }
  }

  /** Materialise `df` completely through the `noop` sink; returns its rows. */
  def materialise(df: DataFrame): Long = {
    val obs = Observation("perfbench")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).toArray.map(_.toString).map(_.trim).filter(_.nonEmpty).toSeq
}

/** A workload: warm-up (which also writes the outputs that are checked),
  * then rounds of operations. Every round has the same operations, so a
  * run's mix does not depend on where the clock stops.
  */
trait Workload {
  /** Untimed operations that warm the JVM and write the checked outputs. */
  def warmUp(spans: Spans): Unit
  /** One pass over the workload's operations. */
  def pass: Seq[String]
  def op(spans: Spans, name: String, sched: Option[SchedulerCounters]): Main.Op
  def layerMetrics(spans: Spans, out: mutable.Map[String, Double]): Unit

  /** Whole rounds, closed loop, until `seconds` have passed. */
  def timed(spans: Spans, seconds: Double): Seq[Main.Op] = {
    val done = mutable.ArrayBuffer.empty[Main.Op]
    val t0 = System.nanoTime()
    while (done.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      done ++= round.map(n => op(spans, n, None))
    done.toSeq
  }

  /** A timed round is two passes: every operation has two samples, and
    * times still fall between an operation's second and third run.
    */
  def round: Seq[String] = pass ++ pass

  /** One pass: the traced run's fixed operation list. */
  def onePass(spans: Spans, sched: Option[SchedulerCounters] = None): Seq[Main.Op] =
    pass.map(n => op(spans, n, sched))

  /** Rows of the outputs written once per distinct operation, for the checks. */
  val verified = mutable.LinkedHashMap.empty[String, Long]

  /** Write `df` under out/verify/<name> and record its rows (-1 if it fails). */
  protected def dump(spark: SparkSession, out: File, name: String)(df: => DataFrame): Unit = {
    val path = new File(new File(out, "verify"), name).getAbsolutePath
    val t0 = System.nanoTime()
    verified(name) =
      try {
        Caching.scoped {
          val obs = Observation("verify")
          df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(path)
          obs.get("rows").asInstanceOf[Long]
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed in warm-up: ${e.getMessage}")
          -1L
      }
    System.err.println(f"[perfbench] warm-up $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  protected def writeOracles(out: File): Unit =
    Files.writeString(new File(out, "oracle_sql.json").toPath,
      Main.json(SparkEntry.oracleSql.filter { case (n, _) => verified.contains(n) }))

  protected val LayerNames: Seq[String] = Seq(
    "sources.register_s", "model.parse_s", "model.dag_s", "model.check_s",
    "model.run_s", "model.slot_util", "model.test_s", "model.test_jobs",
    "model.register_warehouse_s", "model.select_s", "model.rebuilt_ratio",
    "queries.build_s", "queries.exec_s", "ops.dedup_s", "ops.similarity_s",
    "ops.text_s", "functions.minhash_s", "functions.simhash_s",
    "functions.dot_s", "caching.persists", "caching.peak_bytes")

  /** Storage of the frames persisted so far in the current scope. */
  protected def sampleCache(spark: SparkSession, acc: CacheStats): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    acc.persists += spark.sparkContext.getPersistentRDDs.size
    acc.peakBytes = math.max(acc.peakBytes, infos.map(i => i.memSize + i.diskSize).sum)
  }
}

final class CacheStats { var persists = 0L; var peakBytes = 0L }

/** Curation operators over the seeded corpus. */
final class CorpusCuration(spark: SparkSession, inputs: String, out: File) extends Workload {
  private val corpus = s"$inputs/corpus"
  private val opNames = Main.lines(s"$inputs/ops.txt")
  private val cache = new CacheStats
  // the hash-function operation: one noop pass per registered function
  private val fnSql = Seq(
    "fn_minhash" -> "SELECT doc_id, minhash_sig(split(text, ' '), 64) AS sig FROM documents",
    "fn_simhash" -> "SELECT doc_id, simhash64(split(text, ' ')) AS sig FROM documents",
    "fn_dot" -> ("SELECT e.vec_id, dot_product(CAST(e.embedding AS ARRAY<DOUBLE>), q.v) AS score " +
      "FROM embeddings e CROSS JOIN " +
      "(SELECT CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings WHERE vec_id = 0) q"))
  private val layerOf = Map("d" -> "ops.dedup", "s" -> "ops.similarity", "t" -> "ops.text",
    "fn_minhash" -> "functions.minhash", "fn_simhash" -> "functions.simhash",
    "fn_dot" -> "functions.dot")
  private def layer(name: String) = layerOf.getOrElse(name, layerOf(name.take(1)))

  /** The frames one operation materialises, by layer name. */
  private def frames(name: String): Seq[(String, () => DataFrame)] =
    if (name == "fn_hashes") fnSql.map { case (n, q) => n -> (() => spark.sql(q)) }
    else Seq(name -> (() => SparkEntry.queries(name)(spark, corpus)))

  def pass: Seq[String] = opNames

  def op(spans: Spans, name: String, sched: Option[SchedulerCounters]): Main.Op =
    Main.operation(spans, name) {
      val rows = frames(name).map { case (n, frame) =>
        spans.span(layer(n)) {
          val df = spans.span("queries.build")(frame())
          Listeners.analysed(df)
          spans.span("queries.exec")(Main.materialise(df))
        }
      }.sum
      if (spans.enabled) sampleCache(spark, cache)
      (rows, "")
    }

  private def register(spans: Spans): Unit =
    spans.span("sources.register")(Tables(spark, corpus).register(Seq("documents", "embeddings")))

  /** One pass writing the checked outputs. */
  def warmUp(spans: Spans): Unit = {
    register(spans)
    opNames.flatMap(frames).foreach { case (n, frame) => dump(spark, out, n)(frame()) }
    writeOracles(out)
  }

  override def onePass(spans: Spans, sched: Option[SchedulerCounters]): Seq[Main.Op] = {
    register(spans)
    super.onePass(spans, sched)
  }

  def layerMetrics(spans: Spans, l: mutable.Map[String, Double]): Unit = {
    LayerNames.foreach(n => l(n) = 0.0)
    Seq("sources.register", "ops.dedup", "ops.similarity", "ops.text", "functions.minhash",
      "functions.simhash", "functions.dot", "queries.build", "queries.exec")
      .foreach(n => l(s"${n}_s") = spans.total(n))
    l("caching.persists") = cache.persists.toDouble
    l("caching.peak_bytes") = cache.peakBytes.toDouble
  }
}

/** check → run → test → edit one model → run --select state:modified+,
  * through GraftCli.execute on the seeded project.
  */
final class ModelProject(spark: SparkSession, inputs: String, out: File) extends Workload {
  private val project = s"$inputs/project"
  private val tables = s"$inputs/tables"
  private val warehouse = new File(out, "warehouse").getAbsolutePath
  private val edit = Main.lines(s"$inputs/edit.txt") // file, then its two variants
  private var cycle = 0
  private val cache = new CacheStats
  private var modelCount = 0
  private var rebuiltCount = 0
  private var slotUtil = 0.0
  private var testJobs = 0L

  /** GraftCli.execute with its stdout captured; returns (exit code, lines). */
  private def cli(cmd: String, select: Option[String]): (Int, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      GraftCli.execute(spark, cmd, project, warehouse, failFast = false, select, Some(tables))
    }
    (code, buf.toString("UTF-8").linesIterator.toSeq)
  }

  private def writeEdit(k: Int): Unit =
    Files.writeString(Paths.get(project, edit.head), edit(1 + k % 2))

  private val Commands = Seq("check", "build", "test", "slim_ci")

  // one edit cycle; the next cycle's edit restores the other variant
  def pass: Seq[String] = Commands

  /** One command as one operation; the detail of `test` is its ASSERT
    * outcomes, that of `slim_ci` the models it rebuilt.
    */
  def op(spans: Spans, name: String, sched: Option[SchedulerCounters]): Main.Op =
    Main.operation(spans, name) {
      val (code, out) = name match {
        case "check" => if (spans.enabled) traced(spans, "check", None, sched) else cli("check", None)
        case "build" => if (spans.enabled) traced(spans, "run", None, sched) else cli("run", None)
        case "test" => if (spans.enabled) traced(spans, "test", None, sched) else cli("test", None)
        case "slim_ci" =>
          cycle += 1
          writeEdit(cycle)
          val sel = Some("state:modified+")
          if (spans.enabled) traced(spans, "run", sel, sched) else cli("run", sel)
      }
      if (name != "test" && code != 0) throw new IllegalStateException(s"$name exited $code")
      if (spans.enabled) sampleCache(spark, cache)
      val detail = name match {
        case "test" => out.filter(_.contains("...")).sorted.mkString("|")
        case "slim_ci" => out.filter(_.startsWith("Ready ")).map(_.drop(6)).sorted.mkString(",")
        case _ => ""
      }
      (0L, detail)
    }

  def warmUp(spans: Spans): Unit = {
    Commands.foreach(c => op(spans, c, None))
    modelCount = ModelParser.loadDir(s"$project/models").flatMap(ModelParser.parseModelFile).size
  }

  /** GraftCli.execute's steps for check/run/test, each layer call in a span. */
  private def traced(spans: Spans, cmd: String, select: Option[String],
                     sched: Option[SchedulerCounters]): (Int, Seq[String]) = {
    val out = mutable.ArrayBuffer.empty[String]
    val project = Project.load(s"${this.project}/powersql.toml")
    val (models0, tests) = spans.span("model.parse") {
      val ms = project.models.map(d => s"${this.project}/$d").flatMap(ModelParser.loadDir).flatMap(ModelParser.parseModelFile)
      val ts = project.tests.map(d => s"${this.project}/$d").flatMap(ModelParser.loadDir).flatMap(ModelParser.parseTestFile)
      (ms, ts)
    }
    val engine = new ModelEngine(spark)
    val needed = spans.span("model.dag") {
      val referenced = (models0.map(_.query) ++ tests.map(t => s"SELECT (${t.condition})"))
        .flatMap(q => engine.references(q)).toSet
      (referenced -- models0.map(_.name).toSet).intersect(Tables.SourceNames.toSet)
    }
    spans.span("sources.register")(Tables(spark, tables).register(needed))
    val models = select match {
      case None => models0
      case Some(expr) =>
        val (keep, up) = spans.span("model.select") {
          val deps = spans.span("model.dag")(engine.dependencies(models0))
          val modified = engine.modifiedSince(models0, warehouse)
          val keep = Selector.expand(deps, expr, modified)
          (keep, Selector.expand(deps, keep.map("+" + _).mkString(",")) -- keep)
        }
        spans.span("model.register_warehouse")(
          engine.registerWarehouse(models0.filter(m => up(m.name)), warehouse))
        models0.filter(m => keep(m.name))
    }
    def drained[T](body: => T): (T, Long, Long, Double) = {
      sched.foreach(s => BenchBus.drain(spark.sparkContext))
      val (r0, j0) = sched.map(s => (s.taskRunMs, s.jobs)).getOrElse((0L, 0L))
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      sched.foreach(s => BenchBus.drain(spark.sparkContext))
      val (r1, j1) = sched.map(s => (s.taskRunMs, s.jobs)).getOrElse((0L, 0L))
      (r, r1 - r0, j1 - j0, wall)
    }
    cmd match {
      case "check" =>
        spans.span("model.check") {
          engine.check(models)
          engine.checkTests(tests)
        }
        (0, out.toSeq)
      case "run" =>
        val (_, taskMs, _, wall) = drained(spans.span("model.run")(engine.run(models, warehouse)))
        if (select.isEmpty)
          slotUtil = taskMs / 1e3 / (wall * spark.sparkContext.defaultParallelism)
        else rebuiltCount = models.size
        models.foreach(m => out += s"Ready ${m.name}")
        (0, out.toSeq)
      case "test" =>
        spans.span("model.register_warehouse")(engine.registerWarehouse(models, warehouse))
        val (results, _, jobs, _) = drained(spans.span("model.test")(engine.test(tests)))
        testJobs = jobs
        results.foreach { case (msg, ok) => out += s"$msg...${if (ok) "OK" else "ERROR"}" }
        (if (results.forall(_._2)) 0 else 1, out.toSeq)
    }
  }

  def layerMetrics(spans: Spans, l: mutable.Map[String, Double]): Unit = {
    LayerNames.foreach(n => l(n) = 0.0)
    Seq("sources.register", "model.parse", "model.dag", "model.check", "model.run",
      "model.test", "model.register_warehouse", "model.select")
      .foreach(n => l(s"${n}_s") = spans.total(n))
    l("model.slot_util") = slotUtil
    l("model.test_jobs") = testJobs.toDouble
    l("model.rebuilt_ratio") = rebuiltCount.toDouble / math.max(1, modelCount)
    l("caching.persists") = cache.persists.toDouble
    l("caching.peak_bytes") = cache.peakBytes.toDouble
  }
}

/** A fixed pure-JVM loop; its time shows how busy the host was. */
object Canary {
  @volatile private var sink = 0L
  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }
}
