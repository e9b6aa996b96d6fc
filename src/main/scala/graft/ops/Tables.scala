package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema

/** How graft reads its own parquet tables: a file, or a directory of part
  * files as a DataFrame write leaves it.
  *
  * `spark.read.parquet(dir)` without a schema runs a one-task Spark job
  * (`mergeSchemasInParallel`) to read the schema of a single footer;
  * `CleanJob.run` ran 17 of them on a 500-doc corpus. [[parquet]] reads that
  * footer on the driver instead and hands Spark the schema, so building the
  * frame runs no job.
  *
  * Tables whose files may disagree on schema (`SnapshotStore` snapshots,
  * which read with `mergeSchema`) or that have partition directories stay
  * on Spark's own inference.
  */
object Tables {

  /** The data files of the table at `path`, sorted by path: the file
    * itself, or every file below the directory except hidden entries
    * (`_SUCCESS`, `.crc`, `_temporary`), which the parquet reader skips too.
    */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def files(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(c => visible(c.getPath)).flatMap(files)
    files(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }

  /** The table at `path`, with the schema Spark would infer for it (the
    * first data file's, as Spark's inference picks it without
    * `mergeSchema`), read from that file's footer on the driver. A table
    * with no data file, or with nested directories, goes through
    * `spark.read.parquet` unchanged.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val files = dataFiles(spark, path)
    val flat = files.forall(f => f.getPath.getParent == files.head.getPath.getParent)
    files.headOption.filter(_ => flat).flatMap(GraftParquetSchema.of(spark, _))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The `documents` table of a corpus directory. */
  def docs(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/documents.parquet")
}
