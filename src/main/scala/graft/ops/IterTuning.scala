package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.functions.lit

/** Scale-adaptive execution settings for ITERATIVE dataflow whose per-round
  * state is a measured, materialized table (edge lists, label tables), and
  * the one round driver every host-graph loop runs through.
  *
  * Why (guide §1.2 step 1 / §2.2): the per-round cost of the qg/qd fixpoint
  * loops at small state is pure scheduling latency — under AQE every
  * localCheckpoint(true) materialization becomes one job PER QUERY STAGE
  * (measured: qg12's 3-stage rounds ran 325 jobs for a 36-node graph,
  * ~34 ms/job), and the session's shuffle-partition count (sized for the
  * corpus-shaped queries) fans every tiny label shuffle into 32 reducers.
  *
  * The fix the guide prescribes is to DERIVE partitioning from input size
  * rather than a constant: once the loop's edge list is materialized and
  * counted (one job does both, see [[sized]]), the rounds run with shuffle
  * parallelism sized from that measured row count (`rowsPerPartition` =
  * 64k rows ≈ a few MB of long-pairs per task), and with AQE off — the plans
  * inside a round are fixed and already sized, so adaptive re-planning only
  * adds a job per stage. Session conf is restored on exit; the query's final
  * LAZY tail still plans under the session's normal configuration. At corpus
  * scale the same formula yields hundreds of partitions, so nothing here is
  * a local-mode constant.
  *
  * The round driver ([[sized]], [[rounds]], [[untilStable]]) owns the
  * iterative-dataflow rule (the qd6 invariant): EVERY ROUND MATERIALIZES.
  * Each materialization is an eager `localCheckpoint(true)` — lineage stays
  * O(1), so no round re-derives the base 2^rounds times — and where a loop
  * needs a row count (its state size or its convergence signal), the job
  * that writes the checkpoint also returns it
  * ([[GraftCheckpoint.localCheckpointCounting]]): one job per
  * materialization, never a second `count()`. A convergence loop that runs
  * past its budget THROWS. Checkpoint blocks are freed by the ContextCleaner
  * once no frame references them; `unpersist()` on a checkpointed frame
  * releases nothing, so the driver never calls it.
  */
private[ops] object IterTuning {

  private val RowsPerPartition = 65536L

  /** The same state-derived partition count [[withStateSized]] uses, for
    * callers that need to lay out a loop-reused table explicitly (e.g.
    * coalescing an adjacency list whose feeder pinned a wide repartition —
    * every round would otherwise inherit the wide layout as per-stage
    * tasks). Capped at the session's shuffle parallelism.
    */
  def partitionsFor(spark: SparkSession, stateRows: Long): Int = {
    val cap = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    math.min(cap.toLong, stateRows / RowsPerPartition + 1).toInt
  }

  /** Run `body` (the eager fixpoint rounds) with shuffle parallelism derived
    * from the measured per-round state size, AQE disabled, restoring the
    * session conf afterwards. Safe for any result-deterministic plan (hash
    * joins/aggregates over exact types — partitioning never changes their
    * output), which every caller here is.
    */
  def withStateSized[T](spark: SparkSession, stateRows: Long)(body: => T): T = {
    val conf = spark.conf
    val oldP = conf.get("spark.sql.shuffle.partitions")
    val oldA = conf.get("spark.sql.adaptive.enabled")
    val cap = math.max(1, oldP.toInt)
    val p = math.min(cap.toLong, stateRows / RowsPerPartition + 1).toString
    conf.set("spark.sql.shuffle.partitions", p)
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      conf.set("spark.sql.shuffle.partitions", oldP)
      conf.set("spark.sql.adaptive.enabled", oldA)
    }
  }

  /** Loop entry: checkpoint the loop-reused edge list and count it in one
    * job, then run `body` on the checkpointed list under [[withStateSized]]
    * for that count.
    */
  def sized[T](edges: DataFrame)(body: DataFrame => T): T = {
    val (e, n) = GraftCheckpoint.localCheckpointCounting(edges, lit(true))
    withStateSized(e.sparkSession, n)(body(e))
  }

  /** Fixed-k rounds: `k` applications of `step` from `init`, materializing
    * `init` and then every `per`-th step (and the last). `per` > 1 only for a
    * step that reads its input ONCE — a single-reference chain deepens the
    * plan linearly, so it may span checkpoints without re-derivation, and
    * fewer checkpoints mean fewer jobs; a step that reads its input twice
    * must use `per` = 1. Returns every materialized state, `init` first:
    * the last is the result, and a caller that observes each round reads
    * them all (`per` = 1).
    */
  def rounds(init: DataFrame, k: Int, per: Int)(
      step: DataFrame => DataFrame): Vector[DataFrame] = {
    val states = Vector.newBuilder[DataFrame]
    var state = init.localCheckpoint(true)
    states += state
    var done = 0
    while (done < k) {
      val take = math.min(per, k - done)
      state = (1 to take).foldLeft(state)((s, _) => step(s)).localCheckpoint(true)
      states += state
      done += take
    }
    states.result()
  }

  /** Until-stable rounds: materialize `init`, then run `round` until
    * `stable(previous count, current count)` holds. `round` returns the
    * next state's plan and the condition whose rows the loop watches; the
    * job that checkpoints the state also counts them. Before the first round
    * the check sees (-1, row count of `init`). Past `maxRounds` rounds it
    * throws `IllegalArgumentException` ("`what` did not converge in
    * `maxRounds` `unit`"). Returns the last materialized state.
    */
  def untilStable(init: DataFrame, maxRounds: Int, what: String,
      unit: String = "rounds")(round: DataFrame => (DataFrame, Column))(
      stable: (Long, Long) => Boolean): DataFrame = {
    var (state, n) = GraftCheckpoint.localCheckpointCounting(init, lit(true))
    var prev = -1L
    var r = 0
    while (!stable(prev, n)) {
      r += 1
      require(r <= maxRounds, s"$what did not converge in $maxRounds $unit")
      val (plan, watched) = round(state)
      val (next, m) = GraftCheckpoint.localCheckpointCounting(plan, watched)
      state = next
      prev = n
      n = m
    }
    state
  }
}
