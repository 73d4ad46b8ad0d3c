package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one fixpoint engine: every iterative graph algorithm (closure
  * and property paths, connected components, k-core peeling, the
  * shortest-path census) runs its rounds here. The engine owns the
  * loop, the checkpoint lifecycle and the convergence test; a caller
  * supplies only the round's relational step.
  *
  * Checkpoint lifecycle: each round is materialized as an eager
  * [[Checkpoints.compact]] checkpoint, so the plan never grows with
  * the round count and no round re-executes upstream plans. Spark never
  * frees a local checkpoint's blocks on its own, so a loop that
  * replaced its state without freeing would keep one dead copy per
  * round for the life of the session — fine for one query, a leak for
  * a long-running driver. The engine frees each superseded round frame
  * as soon as its successor is materialized, so live blocks stay
  * O(result), not O(result × rounds).
  *
  * The caller hands over `seed`, an eager checkpoint: the engine frees
  * it once no round can read it, unless it is the result (zero rounds).
  * Only the returned frame outlives the call; a caller that is done
  * with it frees it with [[Checkpoints.freeAll]]. Both entry points run
  * zero rounds on an empty seed and return `(result, rounds)`.
  */
object Fixpoint {

  /** Semi-naive growth: each round appends `delta(frontier, result)`,
    * the rows the last round's new rows (`frontier`) lead to that are
    * not yet in `result`; round 0's frontier and result are `seed`.
    * The delta must be distinct and disjoint from `result` (a left-anti
    * join against it), so the union needs no re-distinct. Stops when a round adds no rows; `rounds` counts the rounds that
    * added some. The seed lives until the loop ends, since a delta may
    * read it (closure's seed is its edge set). Per round: the delta's
    * checkpoint, its count, the grown result's checkpoint. */
  def grow(seed: DataFrame)(delta: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int) = {
    var result = seed
    var frontier = seed
    var rounds = 0
    var next = Checkpoints.compact(delta(frontier, result), eager = true)
    while (next.count() > 0) {
      // round 0's frontier and result are the seed, freed at the end
      if (rounds > 0) Checkpoints.free(frontier) // consumed by `next`
      val grown = Checkpoints.compact(result.unionByName(next), eager = true)
      if (rounds > 0) Checkpoints.free(result)
      result = grown
      frontier = next
      rounds += 1
      next = Checkpoints.compact(delta(frontier, result), eager = true)
    }
    Checkpoints.free(next)
    if (rounds > 0) { Checkpoints.free(frontier); Checkpoints.free(seed) }
    (result, rounds)
  }

  /** Rewrite to a fixpoint: each round replaces the state with
    * `step(state)`, freeing the state it read. Stops when a round
    * leaves the state's [[signature]] unchanged; `rounds` counts every
    * round run, the last (confirming) one included. Per round: the new
    * state's checkpoint and its signature. */
  def settle(seed: DataFrame)(step: DataFrame => DataFrame): (DataFrame, Int) = {
    var state = seed
    var sig = signature(state)
    var rounds = 0
    var stable = sig._1 == 0L
    while (!stable) {
      val next = Checkpoints.compact(step(state), eager = true)
      val s = signature(next)
      stable = s == sig
      Checkpoints.free(state)
      state = next
      sig = s
      rounds += 1
    }
    (state, rounds)
  }

  /** (row count, XOR of per-row xxhash64 over all columns), one
    * aggregate job over the checkpointed state. XOR is commutative and
    * overflow-free, so the hash is order-independent. It identifies a
    * state exactly when the state is a set (duplicate rows would
    * cancel), and for a state that only shrinks (k-core) the count
    * alone already decides. */
  private def signature(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
