package graft

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The one round driver for the library's checkpointed loops (pagerank,
  * the BFS/harmonic frontier walk, k-core, LPA, Borůvka and its min-label
  * CC, the dedup CCs, the beam walk, MMR's greedy picks, PQ training).
  * Rounds of driver actions are the loops' cost unit, so they are counted
  * and named here: every job a round runs carries the description
  * `"<tag> round <r>"` (Profile's per-job list and round plans read it),
  * and the caller's own description is restored afterwards.
  *
  * Round state is checkpointed, so lineage stays O(1) in the round count.
  * State whose row count the loop reads (a convergence test, a broadcast
  * gate) goes through [[checkpoint]], which counts it on first read only;
  * state the loop never counts is a plain `localCheckpoint()`. */
object Iterate {

  /** A checkpointed, counted loop frame. `rows` counts it on first read,
    * at most once; a frame whose count the loop already knows never
    * counts. */
  final class Frame private[Iterate] (val df: DataFrame, count: () => Long) {
    lazy val rows: Long = count()
  }

  def checkpoint(df: DataFrame): Frame = {
    val cp = df.localCheckpoint()
    new Frame(cp, () => cp.count())
  }

  /** Checkpoint a frame whose row count is already known (a loop-invariant
    * vertex set, or the sum of two disjoint counted frames). */
  def checkpoint(df: DataFrame, rows: Long): Frame =
    new Frame(df.localCheckpoint(), () => rows)

  /** Broadcast gate for the NODE-grain driver-counted state frames of the
    * loops: every loop already counts its state (the convergence test, or
    * once when the count is loop-invariant), so the gate is free. Below the
    * limit the per-round equi-join against the full edge relation is a
    * map-side BroadcastHashJoin and the edge set is never exchanged
    * (checkpointed frames carry no size stats, so without the hint every
    * round ran SortMergeJoin with BOTH sides shuffled; sf0.1 graph_kcore
    * 2.8→1.1s). The limit is memory-bound: state rows are 1–3 longs (≤ ~50
    * MB per 2M rows as a HashedRelation); past it the round keeps the
    * shuffled plan, the right shape for a frontier that IS a large
    * fraction of a huge vertex set. */
  private val NodeBroadcastLimit = 2L * 1000 * 1000

  /** `knownCount` may be an upper bound on the frame's rows (the dedup CC
    * loops pass 2 · |edges|): the gate then under-selects broadcasts,
    * never over-selects. */
  def gatedBroadcast(df: DataFrame, knownCount: Long): DataFrame =
    if (knownCount <= NodeBroadcastLimit) broadcast(df) else df

  /** Run `step(state, round)` until it reports the state stable, and fail
    * loudly if round `cap` is not stable: an oracle that iterates to the
    * fixpoint (or unrolls to the cap) must never be compared with an
    * engine that stopped early. Returns the final state and the rounds run. */
  def untilStable[S](tag: String, cap: Int, init: S)(
      step: (S, Int) => (S, Boolean)): (S, Int) = {
    val (s, rounds, stable) = run(tag, cap, init, step)
    require(stable, s"$tag did not converge in $cap rounds")
    (s, rounds)
  }

  /** Run at most `cap` rounds of `step(state, round)`, stopping early when
    * it reports done; reaching the cap is the loop's bound (a BFS depth, a
    * fixed round count), not a failure. */
  def upTo[S](tag: String, cap: Int, init: S)(
      step: (S, Int) => (S, Boolean)): (S, Int) = {
    val (s, rounds, _) = run(tag, cap, init, step)
    (s, rounds)
  }

  /** Rounds name their jobs on the thread's active (else the default)
    * session's context; with no session there are no jobs to name. */
  private def run[S](tag: String, cap: Int, init: S,
      step: (S, Int) => (S, Boolean)): (S, Int, Boolean) = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val caller = sc.map(_.getLocalProperty("spark.job.description")).orNull
    @tailrec def go(s: S, r: Int): (S, Int, Boolean) =
      if (r > cap) (s, cap, false)
      else {
        sc.foreach(_.setJobDescription(s"$tag round $r"))
        val (next, done) = step(s, r)
        if (done) (next, r, true) else go(next, r + 1)
      }
    try go(init, 1) finally sc.foreach(_.setJobDescription(caller))
  }
}
