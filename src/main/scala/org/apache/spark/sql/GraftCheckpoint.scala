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
  * when a row matched. Lives in this package because `Dataset.ofRows` and
  * `LogicalRDD.fromDataset` are private to it.
  */
object GraftCheckpoint {

  private val Flag = "__graft_counted"

  /** (checkpointed `df`, number of its rows where `where` is true). */
  def localCheckpointCounting(df: DataFrame, where: Column): (DataFrame, Long) = {
    val flagged = df.withColumn(Flag, where).asInstanceOf[classic.Dataset[Row]]
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
      val checkpointed = classic.Dataset.ofRows(flagged.sparkSession,
        LogicalRDD.fromDataset(rdd, flagged, isStreaming = false))
      (checkpointed.drop(Flag), n)
    }
  }
}
