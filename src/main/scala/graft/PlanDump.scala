package graft

import org.apache.spark.sql.execution.ExplainMode

/** Measurement tool (optimization rounds): for every SparkEntry query,
  * dump `.explain("formatted")` to `<outDir>/<name>_<tag>.txt` and
  * profile one cold execution — scheduled-job count (the local wall
  * floor: AQE materializes each shuffle stage as a job, so N jobs ×
  * the ~0.1 s local per-job floor bounds the entry from below no matter
  * how fast each stage is), planned Exchange count, and wall seconds —
  * to `<outDir>/profile_<tag>.json`. Plan claims (Exchange counts, join
  * strategy, PushedFilters/ReadSchema) become committed evidence, not
  * prose.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [only=a,b,...]
  *
  * Building an entry's frame may itself run jobs (codebook collects,
  * persisted intermediates) — that is part of the operator, and the job
  * counter covers build + the bench's timed action (`.count()` on a
  * cold cache, exactly what the driver times). The plan written is the
  * plan of the RETURNED frame. The data cache is cleared between
  * entries so each profile is self-contained.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val tag = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).stripPrefix("only=").split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    outDir.mkdirs()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-plandump", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.init(spark)
    val mode = ExplainMode.fromString("formatted")
    var failed = List.empty[String]
    val profile = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(s => s(n) || s(Bench.shortId(n))) }
      .foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"plandump: $name")
        try {
          val ((df, wall), jobs) = JobCounter.count(spark.sparkContext) {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            df.count()
            (df, (System.nanoTime() - t0) / 1e9)
          }
          val txt = df.queryExecution.explainString(mode)
          val exchanges = txt.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange( .*)?"))
          val w = new java.io.PrintWriter(new java.io.File(outDir, s"${name}_$tag.txt"))
          try w.println(txt) finally w.close()
          profile += s""""$name":{"jobs":$jobs,"exchanges":$exchanges,"wall":${f"$wall%.3f"}}"""
          println(f"[plandump] $name%-24s jobs=$jobs%3d exchanges=$exchanges%2d wall=$wall%7.3f")
        } catch { case e: Throwable =>
          failed ::= name
          System.err.println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    val pw = new java.io.PrintWriter(new java.io.File(outDir, s"profile_$tag.json"))
    try pw.println(profile.mkString("{", ",\n", "}")) finally pw.close()
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
