package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shared parquet reader: Spark's inferred schema, without Spark's
  * schema-inference job.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  /** The committed copy of the sf0.001 suite tables (written by pyarrow,
    * so their schemas come from the parquet schema, not a Spark one).
    */
  private val sfTables: Seq[String] =
    new java.io.File("graftbench/data/sf0.001").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq.sorted

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tables-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A multi-file Spark write with binary, timestamp and nested columns. */
  private def pagesTable(): String = {
    val path = Files.createTempDirectory("graft-tables").toString + "/pages.parquet"
    graft.spark.PagesTable.generate(spark, 12, partitions = 3).toDF()
      .withColumn("meta", struct(col("lang"), array(col("url"), col("text")).as("parts"),
        map(col("lang"), length(col("text"))).as("len")))
      .write.parquet(path)
    path
  }

  test("the reader's schema and rows are Spark's for the sf tables and a " +
      "nested multi-file write") {
    assert(sfTables.size == 10, sfTables.toString)
    val pages = pagesTable()
    (sfTables :+ pages).foreach { p =>
      val ours = Tables.parquet(spark, p)
      val spark0 = spark.read.parquet(p)
      assert(ours.schema == spark0.schema, p)
      // set operations refuse map columns: compare the rest
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(df.schema.filterNot(_.dataType.simpleString.contains("map<"))
          .map(f => col(f.name)): _*)
      assert(rows(ours).exceptAll(rows(spark0)).isEmpty &&
        rows(spark0).exceptAll(rows(ours)).isEmpty, p)
    }
    val meta = Tables.parquet(spark, pages).schema("meta").dataType.simpleString
    assert(meta == "struct<lang:string,parts:array<string>,len:map<string,int>>", meta)
  }

  test("building a frame through the reader runs no Spark job") {
    val pages = pagesTable()
    def jobsOf(body: => Unit): Int = graft.obs.RunTally(spark)(body)._2.jobs
    val tables = sfTables :+ pages
    assert(jobsOf(tables.foreach(Tables.parquet(spark, _))) == 0)
    // Spark's own inference runs one job per table
    assert(jobsOf(tables.foreach(spark.read.parquet(_))) >= tables.size)
  }

  test("data files: the files the parquet reader scans, hidden entries skipped") {
    val pages = pagesTable()
    val dir = new java.io.File(pages)
    assert(dir.list().exists(_.startsWith("_")) && dir.list().exists(_.startsWith(".")),
      "the write left no hidden entries to skip")
    val ours = Tables.dataFiles(spark, pages).map(_.getPath.getName)
    assert(ours == spark.read.parquet(pages).inputFiles.toSeq
      .map(new org.apache.hadoop.fs.Path(_).getName).sorted)
    assert(ours.size == 3)
    // a single file is its own listing
    assert(Tables.dataFiles(spark, sfTables.head).map(_.getPath.getName) ==
      Seq(new java.io.File(sfTables.head).getName))
  }
}
