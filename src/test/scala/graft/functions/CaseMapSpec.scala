package graft.functions

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** graft_lower/graft_upper equal Spark's lower/upper byte for byte, and no
  * plan the suite sample or CleanJob executes holds Spark's own Lower or
  * Upper (whose first call stalls a stage on a class initializer).
  */
class CaseMapSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-casemap-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("graft_lower/graft_upper equal Spark's lower/upper byte for byte") {
    val ss = spark; import ss.implicits._
    // Spark's default: ICU case mappings on
    assert(spark.conf.getOption("spark.sql.icu.caseMappings.enabled").forall(_ == "true"))
    def utf8(s: String) = s.getBytes("UTF-8")
    val inputs: Seq[Array[Byte]] = Seq(
      utf8(""), utf8("Hello, World! 123 ~"),
      utf8("ÀÉÎÕÜ àéîõü Ñ ÿ µ"), // Latin-1; ÿ and µ upper-case outside it
      utf8("İstanbul ıI"), // dotted capital I lower-cases to two code points
      utf8("ΟΔΟΣ ΟΔΟΣ. Σ"), // final sigma is context-sensitive
      utf8("straße ŉ ǅ"), // ß and ŉ upper-case to two chars, ǅ is title case
      utf8("𐐀𐐨 😀A"), // non-BMP: Deseret pair, emoji
      Array[Byte](0x41, 0xC3.toByte, 0x28, 0xFF.toByte, 0x42), // invalid UTF-8
      Array[Byte](0x61, 0xE2.toByte, 0x82.toByte), // truncated sequence
      null)
    val df = inputs.toDF("b").select(col("b").cast("string").as("s"))
    // a data column (whole-stage codegen) and a literal (interpreted eval)
    val cols = Seq(lower(col("s")), GraftFunctions.lower(col("s")),
      upper(col("s")), GraftFunctions.upper(col("s"))).map(_.cast("binary"))
    val rows = df.select(cols: _*).collect()
    assert(rows.length == inputs.length)
    rows.zip(inputs).foreach { case (r, in) =>
      def at(i: Int) = Option(r.getAs[Array[Byte]](i)).map(_.toSeq)
      val shown = Option(in).map(_.map(b => f"${b & 0xff}%02x").mkString).orNull
      assert(at(1) == at(0), s"lower of $shown")
      assert(at(3) == at(2), s"upper of $shown")
    }
    for (in <- inputs.filter(_ != null)) {
      val s = lit(in).cast("string")
      val r = spark.range(1).select(Seq(lower(s), GraftFunctions.lower(s),
        upper(s), GraftFunctions.upper(s)).map(_.cast("binary")): _*).head()
      assert(r.getAs[Array[Byte]](1).toSeq == r.getAs[Array[Byte]](0).toSeq)
      assert(r.getAs[Array[Byte]](3).toSeq == r.getAs[Array[Byte]](2).toSeq)
    }
  }

  /** Spark's Lower/Upper anywhere in an executed plan, subqueries included. */
  private def caseMaps(plan: SparkPlan): Seq[String] =
    PlanWalk.find(plan) { case e @ (_: Lower | _: Upper) => e }

  private def executedPlans(body: => Option[DataFrame]): Seq[SparkPlan] =
    PlanWalk.executedPlans(spark)(body)

  test("the walk finds Spark's own lower") {
    val own = executedPlans(Some(spark.range(3).select(lower(col("id").cast("string")))))
    assert(own.flatMap(caseMaps).nonEmpty)
  }

  test("no suite-sample query and no CleanJob stage runs Spark's lower/upper") {
    // graftbench's suite sample, every 24th query of each module, on the
    // sf0.001 tables it runs them on
    val sf = new java.io.File("graftbench/data/sf0.001").getAbsolutePath
    val sample = Seq("q01_agg_pricing", "qc1_kmeans", "qd10_lsh_dedup_closure",
      "qg10_neighborhood", "qm10_audio_fingerprint", "qp1_curation_verdict",
      "qs10_recall_eval", "qt10_repetition", "qt32_shard_manifest", "qt7_hash_sample",
      "qu1_domain_cap", "qx1_extract_text")
    for (q <- sample) {
      val found = executedPlans(Some(graft.SparkEntry.queries(q)(spark, sf))).flatMap(caseMaps)
      assert(found.isEmpty, s"$q: ${found.distinct.mkString(", ")}")
    }
    val out = Files.createTempDirectory("graft-casemap-clean").toString
    graft.spark.CleanJob.DocCorpus.generate(spark, 300, partitions = 4)
      .write.parquet(s"$out/corpus/documents.parquet")
    val found = executedPlans {
      graft.spark.CleanJob.run(spark, s"$out/corpus", out); None
    }.flatMap(caseMaps)
    assert(found.isEmpty, s"CleanJob: ${found.distinct.mkString(", ")}")
  }
}
