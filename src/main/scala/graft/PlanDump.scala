package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.immutable.ListMap

/** Plans-and-jobs output of [[Entries]]: for every selected entry, run
  * the returned frame once on a cold cache and dump the plan that ran —
  * `.explain("formatted")`, AQE's final plan — to
  * `<outDir>/<name>_<tag>.txt`, and its profile to
  * `<outDir>/profile_<tag>.json`: scheduled-job count (the local wall
  * floor: AQE materializes each shuffle stage as a job, so N jobs × the
  * ~0.1 s local per-job floor bounds the entry from below no matter how
  * fast each stage is), planned Exchange count, and wall seconds.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [sel…]
  *
  * Building an entry's frame may itself run jobs (codebook collects,
  * persisted intermediates) — that is part of the operator, and the job
  * counter covers build + execution. The frame is executed through its
  * own `QueryExecution` (every row produced, none collected), so the
  * plan written is the plan that ran; a `count()` would be a different
  * query, pruned to no columns, whose plan is never written.
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
        df.queryExecution.toRdd.foreach(_ => ())
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val txt = df.queryExecution.explainString(mode)
      val exchanges = plannedExchanges(txt)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), txt + "\n")
      println(f"[plandump] $name%-24s jobs=$jobs%3d exchanges=$exchanges%2d wall=$wall%7.3f")
      ListMap("jobs" -> jobs, "exchanges" -> exchanges, "wall" -> math.round(wall * 1000) / 1000.0)
    }
    spark.stop()
    Entries.writeJson(s"$outDir/profile_$tag.json",
      ListMap(results.collect { case (n, Right(p)) => n -> p }: _*))
    Entries.exitIfFailed("plandump", results)
  }

  private val TreeExchange = """(?:.*[ -])?Exchange \((\d+)\).*""".r

  /** Planned shuffle exchanges of a formatted plan: the distinct
    * `Exchange` nodes of its trees (subqueries included), leaving out
    * every `== Final Plan ==` of an executed AQE plan — its
    * `== Initial Plan ==` holds each planned exchange — so a plan counts
    * the same before and after it runs.
    */
  private[graft] def plannedExchanges(txt: String): Int = {
    var finalAt = -1 // column of the `== Final Plan ==` being skipped
    txt.linesIterator.flatMap { line =>
      val at = line.indexOf("+- == ")
      if (finalAt >= 0) {
        if (at == finalAt && line.contains("Initial Plan")) finalAt = -1
        None
      } else if (at >= 0 && line.contains("Final Plan")) {
        finalAt = at
        None
      } else line match {
        case TreeExchange(id) => Some(id)
        case _ => None
      }
    }.toSet.size
  }
}
