package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.immutable.ListMap

/** Plans-and-jobs output of [[Entries]]: for every selected entry, dump
  * `.explain("formatted")` to `<outDir>/<name>_<tag>.txt` and profile
  * one cold execution — scheduled-job count (the local wall floor: AQE
  * materializes each shuffle stage as a job, so N jobs × the ~0.1 s
  * local per-job floor bounds the entry from below no matter how fast
  * each stage is), planned Exchange count, and wall seconds — to
  * `<outDir>/profile_<tag>.json`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [sel…]
  *
  * Building an entry's frame may itself run jobs (codebook collects,
  * persisted intermediates) — that is part of the operator, and the job
  * counter covers build + the bench's timed action (`.count()` on a
  * cold cache, exactly what the driver times). The plan written is the
  * plan of the RETURNED frame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val entries = Entries.select(args.drop(3).toSeq)
    val spark = Entries.session("graft-plandump")
    new java.io.File(outDir).mkdirs()
    val mode = ExplainMode.fromString("formatted")
    val results = Entries.run(spark, sfDir, entries, "plandump") { (name, build) =>
      val ((df, wall), jobs) = JobCounter.count(spark.sparkContext) {
        val t0 = System.nanoTime()
        val df = build()
        df.count()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val txt = df.queryExecution.explainString(mode)
      val exchanges = txt.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange( .*)?"))
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), txt + "\n")
      println(f"[plandump] $name%-24s jobs=$jobs%3d exchanges=$exchanges%2d wall=$wall%7.3f")
      ListMap("jobs" -> jobs, "exchanges" -> exchanges, "wall" -> math.round(wall * 1000) / 1000.0)
    }
    spark.stop()
    Entries.writeJson(s"$outDir/profile_$tag.json",
      ListMap(results.collect { case (n, Right(p)) => n -> p }: _*))
    Entries.exitIfFailed("plandump", results)
  }
}
