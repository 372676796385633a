package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The one entry runner: one session, one selection grammar and one
  * sorted per-entry loop over [[SparkEntry.queries]]. [[Verify]],
  * [[Bench]] and [[PlanDump]] are its three outputs, each a per-entry
  * body plus a writer:
  *
  *   - Verify: the round's correctness run always passes exactly two
  *     args and gets the full dump; `sel` is for local iteration.
  *   - Bench: the round's bench run keeps only a bounded tail (~2 KB) of
  *     stdout. The round-3 full-name line (~2.9 KB for 105 entries) lost
  *     its head to that window, and by r13/r14 even the short-id
  *     3-decimal line (~2.1 KB for 175 entries) overflowed it, so its
  *     parse was null two rounds running. Bench therefore prints ONE
  *     compact line ([[Bench.stdoutLine]]): the metric/value/unit
  *     envelope the parser anchors on, short ids at 2 decimals without
  *     trailing zeros, at most [[Bench.StdoutBudget]] chars. Regression
  *     gating never reads it: the full-name 3-decimal line goes to
  *     target/bench_local.json, and scripts/bench_regress.py
  *     canonicalizes key shapes before comparing rounds.
  *   - PlanDump: plan claims (Exchange counts, join strategy,
  *     PushedFilters/ReadSchema) become committed evidence, not prose.
  *
  * `sel`: each arg is a comma list of full names or [[shortId]]s, with an
  * optional `only=` prefix; no args selects every entry. An unknown id
  * fails before Spark starts: a typo must not read as an empty green run.
  *
  * The data cache is cleared after every entry, so each entry starts
  * cold: a timing or profile is self-contained (its own persist cost
  * included, no cross-entry block-manager pressure), and persisted
  * frames never accumulate — 175 entries' sf10 persists in one JVM
  * OOMed a 16g heap before a single entry was timed (r14).
  */
object Entries {

  type Entry = (SparkSession, String) => DataFrame

  /** Short id = text before the first '_' ("q17b_approx_countd" →
    * "q17b"). Every SparkEntry name starts with a unique such prefix.
    */
  def shortId(name: String): String = name.takeWhile(_ != '_')

  /** The selected entries, sorted by name (the `sel` grammar above). */
  def select(args: Seq[String]): Seq[(String, Entry)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    require(all.map(e => shortId(e._1)).distinct.size == all.size,
      "short entry ids must stay unique — rename the colliding entry")
    val ids = args.flatMap(_.stripPrefix("only=").split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = ids -- all.flatMap { case (n, _) => Seq(n, shortId(n)) }
    require(unknown.isEmpty, s"unknown entry id(s): ${unknown.toSeq.sorted.mkString(", ")}")
    if (ids.isEmpty) all else all.filter { case (n, _) => ids(n) || ids(shortId(n)) }
  }

  /** `local[SPARK_GRAFT_CPUS]` (default: the host's processors) with as
    * many shuffle partitions. GraftSession carries the engine's session
    * contract — notably UTC and inferTimestampNTZ=false, without which
    * tz-less parquet (pandas/arrow writers) surfaces as
    * TIMESTAMP_NTZ and breaks event-time operators at analysis (the
    * round-7 regression).
    */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.builder(appName, s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.init(spark)
    spark
  }

  /** `body(name, build)` for each entry in order, where `build()` makes
    * the entry's frame. A throwing entry yields `Left(cause chain)` and
    * the loop goes on; the data cache is cleared after every entry.
    */
  def run[T](spark: SparkSession, sfDir: String, entries: Seq[(String, Entry)], tag: String)
            (body: (String, () => DataFrame) => T): Seq[(String, Either[String, T])] =
    entries.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"$tag: $name")
      val r = try Right(body(name, () => fn(spark, sfDir))) catch { case e: Throwable =>
        // record the whole cause chain: wrapper exceptions (encoder,
        // codegen) routinely hide the actionable root cause
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}")
          .mkString(" <- ")
        System.err.println(s"[$tag] $name FAILED: $chain")
        Left(chain)
      }
      spark.catalog.clearCache()
      name -> r
    }

  /** A failed entry must be LOUD: round 7's silent skip left 8 broken
    * entries simply absent from the round's correctness artifact, and
    * 117/117 green read as success until someone counted to 125. Call
    * after the outputs are written, so everything that works is kept.
    */
  def exitIfFailed(tag: String, results: Seq[(String, Either[String, _])]): Unit = {
    val failed = results.collect { case (n, Left(_)) => n }
    if (failed.nonEmpty) {
      System.err.println(s"[$tag] ${failed.size}/${results.size} entries FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** `v` (maps, seqs, strings, numbers) as JSON. json4s escapes every
    * control char: a tab or CR in hand-written oracle SQL must not make
    * a reader's json.load fail and silently zero the round's
    * correctness.
    */
  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def writeJson(path: String, v: AnyRef): Unit = Files.writeString(Paths.get(path), json(v))
}
