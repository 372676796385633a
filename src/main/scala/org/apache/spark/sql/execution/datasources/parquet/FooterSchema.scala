package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Spark's non-merging parquet schema inference, run on the driver.
  *
  * `ParquetUtils.inferSchema` picks one file (`_common_metadata`, else
  * `_metadata`, else the first data file by path) and hands it to
  * `mergeSchemasInParallel`, which schedules a job to read that one
  * footer. This makes the same choice over the same listing and reads the
  * footer with the same `private[parquet]` calls the job's task makes, so
  * session settings (NTZ inference, nanosAsLong, ignoreCorruptFiles)
  * apply unchanged. Missing and empty paths raise Spark's own errors.
  */
object FooterSchema {

  def infer(spark: SparkSession, path: String): StructType = {
    val conf = SessionStateHelper.getHadoopConf(spark)
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), conf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val files = new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles()
      .sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { f =>
        val ignoreCorrupt = SessionStateHelper.getSqlConf(spark).ignoreCorruptFiles
        ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(conf, Seq(f), ignoreCorrupt), spark)
      }
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
  }
}
