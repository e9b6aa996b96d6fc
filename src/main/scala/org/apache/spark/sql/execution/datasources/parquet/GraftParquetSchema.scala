package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema Spark's parquet source infers for a table, read on the driver
  * from one data file's footer: the same footer read and the same
  * conversion (`ParquetFileFormat.readSchema`: the stored Spark schema when
  * the file carries one, else the parquet schema under the session's
  * conversion settings), without the one-task `mergeSchemasInParallel` job
  * that `spark.read.parquet` runs to read that footer. Lives in this
  * package because `readSchema` is private to it.
  */
object GraftParquetSchema {

  def of(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, footer)), spark)
  }
}
