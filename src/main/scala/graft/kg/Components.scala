package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{Checkpoints, Fixpoint}

/** DataFrame-native connected components via alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14 — public algorithm). Used for the
  * reference's duplicate-cluster step (`apps/entity-resolver/index.Rmd`
  * confirmed-merge groups) and dedup clustering; graft's only
  * connected-components engine (the GraphX wrapper was deleted).
  *
  * Why not GraphX here: Pregel pays per-superstep scheduling plus
  * vertex-program overhead that dominates on sparse match graphs
  * (measured 26.8 s for a 2k-vertex graph at sf0.1 in round 1), and at
  * the other extreme its point-to-point shuffles don't beat plain
  * DataFrame groupBys. Large-star/small-star is two map-side-partial
  * aggregations per round, converges in O(log² n) rounds, stays inside
  * Catalyst/Tungsten (whole-stage codegen, AQE), and every round's
  * state is just an edge DataFrame — the shape that survives a 100 TB
  * edge set on 1000 executors.
  *
  * The crossover runs the other way for PageRank: a DataFrame
  * fixed-iteration PageRank used to live here and lost to Pregel (10
  * iterations over the full entity graph: 23 s vs 13 s at sf0.1,
  * because each iteration paid a shuffle pair + checkpoint), so it was
  * deleted and kg_pagerank runs on [[Graphs.integerPageRankMemo]].
  *
  * Semantics: component id = MIN vertex id in the component (matches
  * GraphX `connectedComponents` and the recursive-CTE oracle).
  */
object Components {

  /** large-star(u): connect every strictly-larger neighbor of u to the
    * minimum of u's neighborhood (including u itself). Keeps big-id
    * nodes hanging off small-id hubs; never increases edge count past
    * 2|E| and strictly lowers reachable minima. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val m = nbrs.groupBy("a").agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("a"), col("mn")).as("m"))
    nbrs.join(m, "a").filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
    // no intermediate distinct: [[smallStar]]'s terminal distinct
    // dedups the round's edge set anyway (groupBy/min are unaffected
    // by duplicate inputs), so deduping here bought nothing but one
    // extra exchange per round — the per-round edge SET, and with it
    // the convergence signature, is unchanged
  }

  /** small-star(u): for the neighbors not larger than u, link them all
    * (and u) to the smallest — flattens chains into stars. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
    val m = or.groupBy("a").agg(min(col("b")).as("m"))
    or.join(m, "a")
      .select(col("b").as("a"), col("m").as("b"))
      .unionAll(m.select(col("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** One round: large-star, then small-star. */
  private[graft] def starRound(e: DataFrame): DataFrame = smallStar(largeStar(e))

  /** Connected components of the undirected graph given by `edges`
    * `(a, b)` (any orientation, self-loops ignored) over the vertex
    * universe `vertices` `(id)`. Returns `(id, comp)` with
    * comp = min id of the component; vertices with no edge map to
    * themselves. The rounds settle in [[graft.util.Fixpoint.settle]]:
    * each round's edge set is distinct, so its signature identifies
    * it. */
  def connectedComponents(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val (fixed, _) = Fixpoint.settle(
      edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .transform(Checkpoints.compact(_, eager = true)))(starRound)
    // fixpoint edges are stars (child -> min-id root); roots and
    // isolated vertices fall out of the left join as comp = id
    val stars = fixed.groupBy(col("a").as("id")).agg(min(col("b")).as("comp"))
    vertices.select(col("id").cast("long").as("id"))
      .join(stars, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
