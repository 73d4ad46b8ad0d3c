package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kg.Components
import graft.util.{Checkpoints, Fixpoint}

/** The fixpoint engine's two entry points over a synthetic depth-64
  * chain `0 → 1 → … → 64`: exact results, exact round counts, no
  * storage left behind but the result, and zero rounds on an empty
  * input. */
class FixpointSpec extends SparkSpec {

  private val depth = 64

  private def liveIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def chain: DataFrame = {
    val sess = spark; import sess.implicits._
    (0 until depth).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
  }

  /** The semi-naive closure hop over the edge set `e`. */
  private def hop(e: DataFrame)(frontier: DataFrame, closure: DataFrame): DataFrame =
    frontier.join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .select(col("a"), col("c").as("b"))
      .distinct()
      .join(closure, Seq("a", "b"), "left_anti")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("grow: the chain's closure is every (i, j) with i < j, after 63 growing rounds") {
    val before = liveIds
    val e = Checkpoints.compact(chain, eager = true)
    val (closure, rounds) = Fixpoint.grow(e)(hop(e))
    val got = pairs(closure.select("a", "b"))
    Checkpoints.freeAll(closure)
    assert(got == (for (i <- 0 to depth; j <- i + 1 to depth) yield (i.toLong, j.toLong)).toSet)
    // round k adds the pairs k + 1 apart; the pair 64 apart is round 63's
    assert(rounds == depth - 1)
    assert((liveIds -- before).isEmpty, s"grow left blocks live: ${liveIds -- before}")
  }

  test("settle: connected components of the chain is one star on vertex 0") {
    val before = liveIds
    val (stars, rounds) = Fixpoint.settle(Checkpoints.compact(chain, eager = true))(Components.starRound)
    val got = pairs(stars)
    Checkpoints.freeAll(stars)
    assert(got == (1 to depth).map(i => (i.toLong, 0L)).toSet)
    // large-star/small-star flattens the chain in 6 rewriting rounds;
    // the 7th confirms the fixpoint
    assert(rounds == 7)
    assert((liveIds -- before).isEmpty, s"settle left blocks live: ${liveIds -- before}")
  }

  test("both entry points run zero rounds on an empty input and keep no blocks") {
    val empty = chain.limit(0)
    val before = liveIds
    val (grown, g) = Fixpoint.grow(empty)(hop(empty))
    val (settled, s) = Fixpoint.settle(empty)(Components.starRound)
    assert(grown.count() == 0 && g == 0)
    assert(settled.count() == 0 && s == 0)
    assert((liveIds -- before).isEmpty, s"an empty fixpoint added blocks: ${liveIds -- before}")
  }
}
