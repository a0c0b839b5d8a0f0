package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The skeleton and the shuffle settings of MANY-ROUND fixpoint loops (SCC,
 * k-core/k-truss peels, BFS frontiers, label propagation, component
 * closures). [[fixpoint]] is the one probe-until-stable loop; [[scoped]]
 * sizes the shuffles of any loop, and stays a separate call because not
 * every loop wants it (kTruss's wedge join keeps AQE).
 *
 * Two facts, both measured with the r12 QProbe (optimization guide §1):
 *
 *  1. With AQE on, EVERY exchange of every round runs as its own
 *     re-optimized stage-job; a 30-round loop over a bench-scale graph is
 *     ~150 one-task jobs whose cost is pure driver re-planning and
 *     scheduling (x37_scc: 169 jobs, 172 tasks, 4 MB of shuffle — wall
 *     time ~5 s, >95% of it between tasks). AQE's value inside such a
 *     loop is ONLY partition coalescing, and coalescing is decidable
 *     up front from the loop's state size.
 *  2. With AQE off and the DEFAULT shuffle parallelism, the same loop
 *     drowns in empty tasks instead (32 partitions x 300 stages:
 *     9,488 tasks, 79 s — measured). The fix is not a constant: it is
 *     deriving the loop's shuffle partition count from its state size.
 *
 * So: inside a loop, disable AQE and set shuffle partitions to
 * `ceil(stateRows / RowsPerTask)` clamped to [1, session setting] — the
 * same auto-sizing discipline as PageRank's in-plan rank scale and the bucketed
 * layouts (scale-adaptive, never a local[32] constant: a 10^9-edge graph
 * keeps the session's full parallelism, a 10^5-edge bench graph gets the
 * single partition its 3 MB of state wants). The session conf is
 * restored on exit; the RETURNED frame of a loop executes under the
 * caller's normal conf — only the loop-internal materializations are
 * scoped.
 */
object LoopConf {

  /** Target shuffle rows per task inside loop rounds: small enough that
    * a real cluster graph fans out, large enough that a bench graph
    * doesn't schedule empty tasks. ~2M 16-byte edge rows = ~32 MB. */
  val RowsPerTask: Long = 2L * 1000 * 1000

  def partitionsFor(spark: SparkSession, stateRows: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(cap.toLong,
      (stateRows + RowsPerTask - 1) / RowsPerTask)).toInt
  }

  /**
   * Run `body` with AQE coalescing switched from parallelism-first to
   * TARGET-SIZE partition coalescing (the Spark-documented setting for
   * respecting `advisoryPartitionSizeInBytes`). For PLAN-HEAVY pipelines
   * — wide multi-join chains whose serialized stage fragment is large —
   * per-task cost is dominated by task-binary deserialization (the r12
   * j00 probe: executor threads sitting in ObjectInputStream.readObject
   * inside Task.run), so the default "keep one partition per core even
   * at 1 MB each" multiplies a fixed 100-300 ms deserialize by the core
   * count on every stage. Size-based coalescing makes the task count
   * track the DATA, which is also the right behavior at 100 TB (guide
   * §2.2: fewer, larger reduce partitions). Scoped per pipeline, not
   * session-wide: compute-dense queries with small shuffle bytes
   * (levenshtein scoring, md5 kernels) legitimately want
   * parallelism-first. Actions inside `body` run under the scope; the
   * caller's conf is restored on exit.
   */
  private val PlanHeavyAdvisoryBytes: Long = 8L * 1024 * 1024

  def scopedPlanHeavy[T](spark: SparkSession)(body: => T): T =
    Sessions.withConf(spark,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> PlanHeavyAdvisoryBytes.toString)(body)

  /** Run `body` with loop-tuned shuffle settings; restore on exit. */
  def scoped[T](spark: SparkSession, stateRows: Long)(body: => T): T =
    Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> partitionsFor(spark, stateRows).toString)(body)

  /**
   * Iterate `step` from `state0` until `probe` stops changing; returns the
   * stable state. `name` names the loop in the failure.
   *
   * Per round the loop cuts the step's lineage with a LAZY
   * `localCheckpoint`, and `probe` — which must scan the whole state, e.g.
   * a count or a sum — is the one action that materializes those blocks
   * and yields the round's convergence scalar in the same job: R rounds
   * cost R + 1 probe executions (state0's probe included), never an extra
   * materialization job per round. `state0` is probed as the caller built
   * it.
   *
   * Stop rule: the probe value repeats, or satisfies `empty` (a state the
   * step cannot change, e.g. zero edges left: stopping there saves the
   * round that would only confirm it). The probe must be monotone in the
   * state (a count of a shrinking set, a sum of decreasing labels), so a
   * repeat IS the fixpoint.
   *
   * Cap: after `maxRounds` rounds without a repeat, one more step decides
   * exactness — if its probe repeats, the loop had converged exactly at
   * the cap; otherwise it fails with "`name` did not converge in
   * `maxRounds` rounds". The default is uncapped, for loops whose state
   * strictly shrinks until the stop.
   */
  def fixpoint[P](name: String, state0: DataFrame, maxRounds: Int = Int.MaxValue,
                  empty: P => Boolean = (_: P) => false)(probe: DataFrame => P)(
                  step: DataFrame => DataFrame): DataFrame = {
    var state = state0
    var prev = probe(state)
    var converged = empty(prev)
    var rounds = 0
    while (!converged) {
      require(rounds <= maxRounds, s"$name did not converge in $maxRounds rounds")
      state = step(state).localCheckpoint(false)
      val cur = probe(state)
      converged = cur == prev || empty(cur)
      prev = cur
      rounds += 1
    }
    state
  }
}
