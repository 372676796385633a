package graft

/** Timing output of [[Entries]]: run the selected entries (all by
  * default) against SPARK_GRAFT_SF_DIR, print ONE JSON line with
  * per-query seconds ([[stdoutLine]]; why it is compact: [[Entries]]).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.Bench [sel…]
  *
  * Each query gets one untimed warmup execution (JIT + codegen compile +
  * file-listing caches) and one timed execution — the timed pass is what
  * steady-state throughput looks like; cold-start compilation noise of
  * the first-touched query would otherwise dominate a ranking of
  * sub-second queries.
  */
object Bench {

  /** Only a ~2000-char tail of stdout is kept for parsing, and sbt's
    * "[success] Total time ..." line (~75 chars) lands after ours.
    */
  val StdoutBudget = 1925

  /** Entry name → seconds, or the error that replaced the timing. */
  type Results = Seq[(String, Either[String, Double])]

  private def fmt(v: Double, dec: Int): String =
    s"%.${dec}f".formatLocal(java.util.Locale.ROOT, v)

  /** `fmt` without trailing zeros ("1.50" → "1.5", "2.00" → "2"). */
  private def compact(v: Double, dec: Int): String =
    fmt(v, dec).replaceAll("\\.?0+$", "")

  private def queriesJson(results: Results, num: Double => String,
                          key: String => String): String =
    results.map {
      case (k, Right(v)) => "\"" + key(k) + "\":" + num(v)
      case (k, Left(_))  => "\"" + key(k) + "\":\"err\""
    }.mkString("{", ",", "}")

  private def envelope(total: String, queries: Option[String], sf: String,
                       errors: Int): String =
    s"""{"metric":"total","value":$total,"unit":"sec"""" +
      queries.fold("")(q => s""","queries":$q""") +
      s""","sf":"$sf"""" + (if (errors == 0) "" else s""","errors":$errors""") + "}"

  /** Full-name, 3-decimal line for target/bench_local.json (the shape
    * bench_regress.py compares across rounds).
    */
  def fileLine(results: Results, sf: String): String =
    envelope(fmt(total(results), 3), Some(queriesJson(results, fmt(_, 3), identity)),
      sf, results.count(_._2.isLeft))

  /** The stdout line: short ids at 2 decimals without trailing zeros.
    * Over [[StdoutBudget]] it keeps the envelope and drops `queries` —
    * the per-entry numbers are in [[fileLine]] either way.
    */
  def stdoutLine(results: Results, sf: String): String = {
    val errors = results.count(_._2.isLeft)
    val t = compact(total(results), 3)
    val full = envelope(t, Some(queriesJson(results, compact(_, 2), Entries.shortId)), sf, errors)
    if (full.length <= StdoutBudget) full else envelope(t, None, sf, errors)
  }

  private def total(results: Results): Double =
    results.collect { case (_, Right(v)) => v }.sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val entries = Entries.select(args.toSeq)
    val spark = Entries.session("graft-bench")
    // warmup pass (also primes parquet footer caches / broadcast
    // relations). What the warmup exists to prime (JIT, codegen, footer
    // caches, broadcast codepaths) survives the runner's per-entry
    // clearCache, so every timed run starts from a cold DATA cache.
    Entries.run(spark, sfDir, entries, "bench-warmup")((_, build) => build().count())
    // ContextCleaner reclaims broadcasts / shuffle files / checkpointed
    // RDDs only when the driver JVM actually GCs — with a large heap and
    // 106 back-to-back entries in one JVM that may never happen, and the
    // accumulated block-manager state is the leading suspect for entries
    // that time flat in a short local run but regress in the driver's
    // full sequential run. Force the GC between entries, then give the
    // cleaner's ASYNC work (RPC + shuffle-file deletes) a beat to drain
    // so it doesn't overlap — and tax — the next timed entry.
    // Drain duration: the cleaner's deletes are async RPC + filesystem
    // work — on a loaded machine (the driver box runs more than this
    // bench) 150 ms was observably not always enough, and a delete burst
    // bleeding into the next sub-second entry reads as a 2× "regression"
    // (q42's r4 driver wobble: 0.78 s vs a 0.31-0.46 s local envelope
    // over 4 runs). The sleep is OUTSIDE every timed window, so it never
    // inflates any reported number.
    def reclaim(): Unit = {
      System.gc()
      Thread.sleep(250)
    }
    // An entry that throws records "err", NOT its fail-fast latency: the
    // round-7 testdata regeneration broke 8 entries at analysis time and
    // the old swallow-and-time recorded 0.05 s "timings" a regression
    // gate would read as a 10x speedup. Errors make the run red (exit 1)
    // and bench_regress.py treats a present→err entry as fatal.
    val results: Results = Entries.run(spark, sfDir, entries, "bench") { (_, build) =>
      reclaim() // after the previous entry's clearCache
      val t0 = System.nanoTime()
      build().count()
      (System.nanoTime() - t0) / 1e9
    }
    val sf = sfDir.split('/').last
    // stop Spark BEFORE printing so no shutdown logging lands after the
    // JSON line and pushes its head out of the driver's tail window
    spark.stop()
    val out = new java.io.File("target/bench_local.json")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out)
    try w.println(fileLine(results, sf)) finally w.close()
    println(stdoutLine(results, sf))
    Entries.exitIfFailed("bench", results)
  }
}
