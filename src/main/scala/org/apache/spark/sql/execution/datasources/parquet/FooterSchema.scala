package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils
import scala.jdk.CollectionConverters._

/** The driver-side parquet footer reader: a dataset's schema
  * ([[infer]]) and its row count ([[rowCount]]) without a Spark job.
  *
  * `ParquetUtils.inferSchema` picks one file (`_common_metadata`, else
  * `_metadata`, else the first data file by path) and hands it to
  * `mergeSchemasInParallel`, which schedules a job to read that one
  * footer. [[infer]] makes the same choice over the same listing and
  * reads the footer with the same `private[parquet]` calls the job's
  * task makes, so session settings (NTZ inference, nanosAsLong,
  * ignoreCorruptFiles) apply unchanged. Missing and empty paths raise
  * Spark's own errors.
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

  /** Rows in `files`: the sum of every row group's row count, read from
    * each full footer, up to 8 files at a time as Spark's own footer
    * reads go. The footers must be read with `NO_FILTER`:
    * `readParquetFootersInParallel` (what [[infer]] uses) skips the row
    * groups and would count 0. An unreadable footer throws whatever
    * `ignoreCorruptFiles` says, so a caller can leave the count to the scan.
    */
  def rowCount(spark: SparkSession, options: Map[String, String],
               files: Seq[FileStatus]): Long = {
    val conf = SessionStateHelper.getHadoopConf(spark, options)
    ThreadUtils.parmap(files, "graft-footer-count", 8) { f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }
}
