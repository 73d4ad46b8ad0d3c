package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
    // the convergence checksum, is unchanged
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

  /** (row count, order-independent content hash) — cheap convergence
    * check: one aggregate job over the checkpointed edge set. XOR of
    * per-row hashes is commutative and overflow-free (the edge set is
    * distinct, so XOR cancellation of duplicate rows cannot occur). */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Connected components of the undirected graph given by `edges`
    * `(a, b)` (any orientation, self-loops ignored) over the vertex
    * universe `vertices` `(id)`. Returns `(id, comp)` with
    * comp = min id of the component; vertices with no edge map to
    * themselves. Each round localCheckpoints (bounded lineage) — the
    * fixpoint loop never re-executes upstream plans — and unpersists
    * the superseded round's checkpoint once its successor is
    * materialized, so live blocks stay O(edges), not O(edges × rounds). */
  def connectedComponents(edges: DataFrame, vertices: DataFrame): DataFrame = {
    var e = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    var prev = checksum(e)
    var converged = prev._1 == 0L
    while (!converged) {
      val next = smallStar(largeStar(e)).transform(graft.util.Checkpoints.compact(_, eager = true))
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      graft.util.Checkpoints.free(e) // superseded round
      e = next
    }
    // fixpoint edges are stars (child -> min-id root); roots and
    // isolated vertices fall out of the left join as comp = id
    val stars = e.groupBy(col("a").as("id")).agg(min(col("b")).as("comp"))
    vertices.select(col("id").cast("long").as("id"))
      .join(stars, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
