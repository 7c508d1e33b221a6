package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.GraftShims.releaseLocalCheckpoint

/** The round loop of an iterative operator that MATERIALIZES every
  * round (connected components, coreness, Lloyd's k-means).
  *
  * Each round runs the caller's step, eagerly `localCheckpoint`s the new
  * state with the caller's convergence metrics `observe()`d on that same
  * job — the loop is driver-round-bound, so a separate count/collect job
  * per round is the fixed cost that multiplies by the round count — and
  * then releases the checkpoint the new state supersedes, so a loop of R
  * rounds pins one state frame in the block manager, not R.
  *
  * Rounds are the cost to cut, so an operator solves what it can before
  * the loop: connected components runs a union-find pass over each of
  * the caller's pair partitions ([[LocalUnionFind]]) first, observes a
  * conflict count on its initial state, and its rounds only stitch the
  * components that span partitions — no round when none does.
  *
  * Fused loops (bfs/harmonic) are plain folds instead: their rounds
  * compile into one query whose edge exchange is reused across rounds,
  * which a per-round checkpoint would break. Label propagation runs its
  * rounds in memory per component ([[LocalLpa]]), so it has no loop.
  */
object RoundLoop {

  /** Observed metric values by name. */
  type Metrics = Map[String, Long]

  /** @param state   the final checkpointed state
    * @param metrics the metrics observed when `state` was materialized
    * @param rounds  steps run (0 when the initial state already converged)
    * @param release idempotent hook freeing `state`'s checkpoint — call
    *                it only once every frame derived from `state` is
    *                materialized (checkpoints have no lineage)
    */
  final case class Result(state: DataFrame, metrics: Metrics, rounds: Int,
      release: () => Unit)

  /** Idempotent hook releasing the local checkpoints behind `cps` (nulls
    * and non-checkpoint frames are skipped). Only call it once the
    * consumer of every frame reading them is done.
    */
  def releaser(cps: DataFrame*): () => Unit = {
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    () => if (released.compareAndSet(false, true))
      cps.filter(_ != null).foreach(releaseLocalCheckpoint)
  }

  /** Eager local checkpoint of `df` with `metrics` observed on the
    * checkpoint job itself. A metric over zero rows that Spark reports
    * as null (a `sum` of an empty frame) reads as 0.
    */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Metrics) =
    if (metrics.isEmpty) (df.localCheckpoint(), Map.empty)
    else {
      val obs = new Observation()
      val cp = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
      (cp, obs.get.map { case (k, v) =>
        k -> Option(v).fold(0L)(_.asInstanceOf[Number].longValue) })
    }

  /** Runs `step` from `init` for at most `maxRounds` rounds, checking
    * `converged(previous, current)` before each step (`previous` is empty
    * before the first one).
    *
    * @param init the starting state and its metrics; the loop owns it and
    *             releases it (if it is a local checkpoint) once round 1
    *             supersedes it
    */
  def run(init: (DataFrame, Metrics), maxRounds: Int, metrics: Column*)(
      step: DataFrame => DataFrame)(
      converged: (Metrics, Metrics) => Boolean): Result = {
    var (state, m) = init
    var prev: Metrics = Map.empty
    var rounds = 0
    while (rounds < maxRounds && !converged(prev, m)) {
      val (next, nm) = checkpoint(step(state), metrics: _*)
      releaseLocalCheckpoint(state)
      state = next
      prev = m
      m = nm
      rounds += 1
    }
    Result(state, m, rounds, releaser(state))
  }
}
