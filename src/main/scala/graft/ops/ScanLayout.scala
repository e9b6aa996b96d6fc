package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Guide §2.5 "input skew" fix, made scale-adaptive: a corpus that arrives
  * as fewer splits than the session has cores (at the test scale factors:
  * ONE sub-128MB parquet file) serializes every downstream map stage — the
  * explode/shingle/sketch work of a whole query runs in a single task
  * while the other cores idle (measured: qt50's two CMS passes and qd13's
  * gram aggregate each ran 1-task map stages at sf0.1). The guide's
  * prescription for unsplittable input is "repartition immediately after
  * the read"; doing that UNCONDITIONALLY would add a full-corpus shuffle
  * at production scale, so the repartition fires ONLY when the scan's
  * measured split count is below the session's core count — at 100-TB
  * scale the scan has thousands of splits and this is a no-op. The
  * decision is derived from the measured input layout, not a local-mode
  * constant (guide §1.2 step 1 / §2.2).
  */
private[graft] object ScanLayout {

  /** Round-robin repartition `df` to the session's default parallelism iff
    * its current layout has fewer partitions than that. Round-robin keeps
    * Spark's sort-before-repartition determinism; every caller's
    * downstream is partition-layout-independent (hash aggregates / joins
    * over exact types), so results are unchanged at any width.
    *
    * PRECONDITION: `df` is a bare scan (a read, optionally with narrow
    * projections/filters) — no Exchange in its plan. The split count is a
    * property of the input files only there; past a shuffle the partition
    * count is the shuffle's, and asking the RDD for it would run the
    * shuffle stages eagerly under AQE. Violations throw
    * IllegalArgumentException naming this precondition.
    */
  def ensureParallel(df: DataFrame): DataFrame = {
    def hasExchange(p: SparkPlan): Boolean = p match {
      case _: Exchange => true
      case a: AdaptiveSparkPlanExec => hasExchange(a.executedPlan)
      case _ => p.children.exists(hasExchange)
    }
    val plan = df.queryExecution.executedPlan
    if (hasExchange(plan)) throw new IllegalArgumentException(
      "ScanLayout.ensureParallel needs a bare scan, but the input plan has " +
        s"an Exchange:\n$plan")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
