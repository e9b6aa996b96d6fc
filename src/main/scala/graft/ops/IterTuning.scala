package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.functions.lit

/** Scale-adaptive execution settings for ITERATIVE dataflow whose per-round
  * state is a measured, materialized table (edge lists, label tables), and
  * the one round driver every fixpoint loop runs through.
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
  * parallelism sized from that measured row count (`RowsPerPartition` =
  * 64k rows ≈ a few MB of long-pairs per task), and with AQE off — the plans
  * inside a round are fixed and already sized, so adaptive re-planning only
  * adds a job per stage. These settings live on a PER-LOOP CLONE of the
  * caller's session ([[Loop]]): every materialization inside the loop is
  * planned on the clone and returned on the caller's session, so the
  * caller's conf is never written (two loops may run at once on one
  * session) and the query's final LAZY tail plans under the session's
  * normal configuration. At corpus scale the same formula yields hundreds
  * of partitions, so nothing here is a local-mode constant.
  *
  * The round driver ([[sized]], [[Loop.rounds]], [[Loop.untilStable]]) owns
  * the iterative-dataflow rule (the qd6 invariant): EVERY ROUND
  * MATERIALIZES. Each materialization is an eager local checkpoint — lineage
  * stays O(1), so no round re-derives the base 2^rounds times — and where a
  * loop needs a row count (its state size or its convergence signal), the
  * job that writes the checkpoint also returns it
  * ([[GraftCheckpoint.localCheckpointCounting]]): one job per
  * materialization, never a second `count()`. A convergence loop that runs
  * past its budget THROWS. Checkpoint blocks are freed by the ContextCleaner
  * once no frame references them; `unpersist()` on a checkpointed frame
  * releases nothing, so the driver never calls it.
  */
private[ops] object IterTuning {

  private val RowsPerPartition = 65536L

  /** One fixpoint loop's materializations, each planned on `planner` (the
    * caller's session cloned with the loop's settings) and returned on the
    * caller's session. `partitions` is the loop's state-derived shuffle
    * parallelism, for a caller that lays out a loop-reused table explicitly
    * (e.g. coalescing an adjacency list whose feeder pinned a wide
    * repartition — every round would otherwise inherit the wide layout as
    * per-stage tasks).
    */
  final class Loop private[IterTuning] (planner: SparkSession, val partitions: Int) {

    /** Eager local checkpoint of a loop-reused table. */
    def checkpoint(df: DataFrame): DataFrame =
      GraftCheckpoint.localCheckpoint(df, planner)

    private def counting(df: DataFrame, where: Column): (DataFrame, Long) =
      GraftCheckpoint.localCheckpointCounting(df, where, planner)

    /** Fixed-k rounds: `k` applications of `step` from `init`, materializing
      * `init` and then every `per`-th step (and the last). `per` > 1 only
      * for a step that reads its input ONCE — a single-reference chain
      * deepens the plan linearly, so it may span checkpoints without
      * re-derivation, and fewer checkpoints mean fewer jobs; a step that
      * reads its input twice must use `per` = 1. Returns every materialized
      * state, `init` first: the last is the result, and a caller that
      * observes each round reads them all (`per` = 1).
      */
    def rounds(init: DataFrame, k: Int, per: Int)(
        step: DataFrame => DataFrame): Vector[DataFrame] = {
      val states = Vector.newBuilder[DataFrame]
      var state = checkpoint(init)
      states += state
      var done = 0
      while (done < k) {
        val take = math.min(per, k - done)
        state = checkpoint((1 to take).foldLeft(state)((s, _) => step(s)))
        states += state
        done += take
      }
      states.result()
    }

    /** Until-stable rounds: materialize `init`, counting its rows where
      * `initWatch` holds, then run `round` until `stable(previous count,
      * current count)` holds. `round` returns the next state's plan and the
      * condition whose rows the loop watches; the job that checkpoints the
      * state also counts them. Before the first round the check sees
      * (-1, `init`'s count). Past `maxRounds` rounds it throws `exhausted`.
      * Returns the last materialized state and the number of rounds run.
      */
    def untilStable(init: DataFrame, maxRounds: Int, exhausted: => Throwable,
        initWatch: Column = lit(true))(round: DataFrame => (DataFrame, Column))(
        stable: (Long, Long) => Boolean): (DataFrame, Int) = {
      var (state, n) = counting(init, initWatch)
      var prev = -1L
      var r = 0
      while (!stable(prev, n)) {
        r += 1
        if (r > maxRounds) throw exhausted
        val (plan, watched) = round(state)
        val (next, m) = counting(plan, watched)
        state = next
        prev = n
        n = m
      }
      (state, r)
    }
  }

  /** Loop entry: checkpoint the loop-reused edge list and count it in one
    * job (planned under the caller's conf), then run `body` on a [[Loop]]
    * sized for that count and the checkpointed list. The loop's session is
    * a clone of the caller's with the shuffle parallelism derived from the
    * count (capped at the caller's) and AQE off. Safe for any
    * result-deterministic plan (hash joins/aggregates over exact types —
    * partitioning never changes their output), which every caller is.
    */
  def sized[T](edges: DataFrame)(body: (Loop, DataFrame) => T): T = {
    val (e, n) = GraftCheckpoint.localCheckpointCounting(edges, lit(true))
    val spark = e.sparkSession
    val cap = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val p = math.min(cap.toLong, n / RowsPerPartition + 1).toInt
    val planner = GraftCheckpoint.cloneWith(spark,
      "spark.sql.shuffle.partitions" -> p.toString,
      "spark.sql.adaptive.enabled" -> "false")
    body(new Loop(planner, p), e)
  }
}
