package org.apache.spark.sql.execution.datasources.parquet.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Reaches the package-private footer calls of Spark's parquet schema
  * inference. `schema` reads one file's footer on the driver and converts
  * it as a non-merging `spark.read.parquet` does, under the session's
  * confs; `hidden` is the name rule Spark's file listing skips by. */
object Footer {
  def schema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      SessionStateHelper.getHadoopConf(spark), Seq(file),
      SessionStateHelper.getSqlConf(spark).ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }

  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
