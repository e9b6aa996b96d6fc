package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Eager local checkpoint fused with a row count: the job that writes the
  * checkpoint blocks also counts the rows matching a condition, so an
  * iterative loop learns its state size or its convergence signal without
  * a second action over the materialized table.
  *
  * Same construction as `Dataset.localCheckpoint(eager = true)` — execute
  * the physical plan, copy the rows, mark the RDD for a local checkpoint,
  * wrap it as a `LogicalRDD` that keeps the plan's partitioning — except
  * that the eager action is a count over the condition instead of a plain
  * count. The count is the sum of per-partition results of the tasks that
  * wrote the blocks (a retried task reports once), so it is exact: never 0
  * when a row matched.
  *
  * Per-plan settings: a `planner` session (a clone made by [[cloneWith]])
  * plans and runs the materialization with its own conf, and the
  * checkpoint comes back on the caller's session, so whatever the caller
  * builds on it plans under the caller's conf again. Both sessions share
  * the SparkContext, so the checkpoint blocks are valid on either. Lives in
  * this package because `cloneSession`, `Dataset.ofRows` and
  * `LogicalRDD.fromDataset` are private to it.
  */
object GraftCheckpoint {

  private val Flag = "__graft_counted"

  /** A clone of `spark` whose own conf also holds `settings`. Plans rebuilt
    * on it read them; `spark`'s conf is never written.
    */
  def cloneWith(spark: SparkSession, settings: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    settings.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
    clone
  }

  /** `df`'s logical plan as a Dataset of `session`: planned under its conf. */
  private def on(session: SparkSession, df: DataFrame): classic.Dataset[Row] =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** `df.localCheckpoint(true)`, planned and run on `planner`; the
    * checkpoint is returned on `df`'s session.
    */
  def localCheckpoint(df: DataFrame, planner: SparkSession): DataFrame =
    on(df.sparkSession, on(planner, df).localCheckpoint(true))

  /** (checkpointed `df`, number of its rows where `where` is true). */
  def localCheckpointCounting(df: DataFrame, where: Column): (DataFrame, Long) =
    localCheckpointCounting(df, where, df.sparkSession)

  /** [[localCheckpointCounting]] planned and run on `planner`; the
    * checkpoint is returned on `df`'s session.
    */
  def localCheckpointCounting(df: DataFrame, where: Column,
      planner: SparkSession): (DataFrame, Long) = {
    val flagged = on(planner, df.withColumn(Flag, where))
    val k = flagged.schema.fieldIndex(Flag)
    val qe = flagged.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      // runJob computes (and caches) every partition, then checkpoints the
      // RDD itself: no partition is missing, so no further job runs
      val n = flagged.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => {
          var c = 0L
          while (it.hasNext) {
            val r = it.next()
            if (!r.isNullAt(k) && r.getBoolean(k)) c += 1
          }
          c
        }).sum
      val checkpointed = classic.Dataset.ofRows(
        df.sparkSession.asInstanceOf[classic.SparkSession],
        LogicalRDD.fromDataset(rdd, flagged, isStreaming = false))
      (checkpointed.drop(Flag), n)
    }
  }
}
