package graft

import scala.collection.immutable.ListMap

/** Correctness output of [[Entries]]: each selected entry's result →
  * `<outDir>/<name>/` parquet, plus `oracle_sql.json` and `errors.json`
  * (entry → cause chain) for the DuckDB oracle compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [sel…]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val entries = Entries.select(args.drop(2).toSeq)
    val spark = Entries.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val results = Entries.run(spark, sfDir, entries, "verify") { (name, build) =>
      build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    spark.stop()
    Entries.writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    Entries.writeJson(s"$outDir/errors.json",
      ListMap(results.collect { case (n, Left(chain)) => n -> chain.take(900) }: _*))
    Entries.exitIfFailed("verify", results)
  }
}
