package graft.ops

import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The round driver's settings are per loop: a loop plans its rounds on its
  * own session clone, so the caller's session conf is never written, and
  * two loops can run at once on one session.
  */
class IterTuningSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  // the sf0.001 tables, as committed beside the benchmark
  private val sf = "graftbench/data/sf0.001"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-itertuning-test")
      .config(Parts, "4")
      .config(Aqe, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def conf: (String, String) = (spark.conf.get(Aqe), spark.conf.get(Parts))

  test("a fixpoint round leaves the caller's session conf untouched") {
    val ss = spark; import ss.implicits._
    // 10 edges size the loop at 1 shuffle partition with AQE off
    val edges = (0L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val seen = Vector.newBuilder[(String, String)]
    val (state, rounds) = IterTuning.sized(edges) { (loop, e) =>
      loop.untilStable(e.select(col("src").as("v")), 4,
          new IllegalStateException("no fixpoint")) { s =>
        seen += conf
        (s.filter(col("v") > 0).distinct(), lit(true))
      }((before, after) => after == before)
    }
    assert(rounds == 2)
    assert(seen.result() == Vector(("true", "4"), ("true", "4")))
    // the rounds themselves were planned on the clone: the distinct's
    // shuffle ran at the loop's one partition
    assert(state.rdd.getNumPartitions == 1)
    // the lazy tail is the caller's: planned adaptively again
    val tail = state.groupBy(col("v")).count()
    assert(tail.queryExecution.executedPlan.nodeName == "AdaptiveSparkPlan",
      tail.queryExecution.executedPlan.treeString)
    assert(conf == (("true", "4")))
  }

  test("qd6 and qg2 run at once on one session: results equal a serial run's") {
    def rows(name: String): Seq[String] = {
      val df: DataFrame = SparkEntry.queries(name)(spark, sf)
      df.collect().map(_.toString).toSeq.sorted
    }
    val names = Seq("qd6_dedup_clusters", "qg2_host_components")
    val before = conf
    val serial = names.map(rows)
    val pool = Executors.newFixedThreadPool(names.length)
    val concurrent = try {
      // each thread runs its query twice, so the loops overlap
      val futures = names.map(n => pool.submit(new Callable[Seq[Seq[String]]] {
        def call(): Seq[Seq[String]] = Seq(rows(n), rows(n))
      }))
      futures.map(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdown()
    names.indices.foreach { i =>
      assert(serial(i).nonEmpty, names(i))
      concurrent(i).foreach(r => assert(r == serial(i), names(i)))
    }
    assert(conf == before)
  }
}
