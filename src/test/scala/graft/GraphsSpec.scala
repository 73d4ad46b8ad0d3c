package graft

import org.apache.spark.graphx.lib.PageRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg.{Graphs, TripleStore, Triples}

/** The graph engines against references that are not graft code:
  * the closure fixpoint against the exact pair set of a deep chain,
  * integer PageRank against GraphX's own float PageRank, and the
  * memoized statements graph's lifecycle (shared instance, survives
  * the queries it serves, rebuilt to identical results after reset),
  * plus the BFS isolated-seed contract. */
class GraphsSpec extends SparkSpec {

  /** The ASIA region node — kg_shortest_path's seed. */
  private def asiaSeeds(st: DataFrame): DataFrame =
    st.filter(col("p") === "label").filter(col("o_val") === "ASIA")
      .filter(col("s") >= lit(Triples.REGION * Triples.NS) &&
        col("s") < lit((Triples.REGION + 1) * Triples.NS))
      .select(col("s").as("node"))

  test("deep-chain closure: the fixpoint returns exactly the chain's pair set") {
    // a depth-64 chain is the adversarial case for the per-round
    // fixpoint (64 join+checkpoint rounds)
    val sess = spark; import sess.implicits._
    val depth = 64
    val chain = (0 until depth)
      .map(i => (i.toLong, "next", Option((i + 1).toLong), Option.empty[String]))
      .toDF("s", "p", "o_id", "o_val")
    val r = TripleStore(spark, chain).closure(Seq("next"))
    val got = r.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    graft.util.Checkpoints.freeAll(r)
    val expected = (for (i <- 0 to depth; j <- i + 1 to depth) yield (i.toLong, j.toLong)).toSet
    assert(got == expected)
  }

  test("integer fixed-point PageRank: bounded agreement with the float twin; exact filter") {
    // full (unfiltered) fixed-point ranks at spec scale
    val fixed = Graphs.integerPageRankMemo(spark, sf, numIter = 10, threshold = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fixed.nonEmpty)
    // GraphX's own raw (unnormalized) float iteration — same semantics
    // minus the per-edge floor quantization
    val g = Graphs.fromStatements(Triples.statements(spark, sf))
    val ref = PageRank.runWithOptions(g, 10, 0.15, None, normalized = false)
    val float = ref.vertices.collect().toMap
    ref.unpersist(blocking = false)
    g.unpersist(blocking = false)
    assert(float.keySet == fixed.map(_._1).toSet)
    // quantization bound: one floor per edge contribution (≤ 1e-12),
    // amplified ≤ 1/(1−0.85) across iterations and scaled by hub
    // in-degree — ≪ 1e-6 at sf0.001 (max in-degree ~1e3)
    var worst = 0.0
    fixed.foreach { case (id, _, rank) => worst = math.max(worst, math.abs(rank - float(id))) }
    assert(worst <= 1e-6, s"fixed-point vs float drift $worst exceeds the quantization bound")
    // the shipped filter is the exact integer threshold
    val hubs = Graphs.integerPageRankMemo(spark, sf, numIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expectHubs = fixed.filter(_._2 > Graphs.PrScale).map(t => (t._1, t._2)).toMap
    assert(hubs == expectHubs, "threshold filter must be rank_scaled > PrScale exactly")
    // and the display double is the single division from the exact integer
    fixed.foreach { case (_, s, d) => assert(d == s.toDouble / 1e12) }
    Graphs.resetMemo()
  }

  test("statements-graph memo: one build per (session, dir); results identical; reset frees") {
    Graphs.resetMemo()
    // same INSTANCE on the second ask — the build is paid once
    val g1 = Graphs.statementsGraph(spark, sf)
    val g2 = Graphs.statementsGraph(spark, sf)
    assert(g1 eq g2, "memo must return the cached graph instance")
    val seeds = asiaSeeds(Triples.statements(spark, sf))
    // integer ranks and int distances: exact equality is correct
    def ranks() = Graphs.integerPageRankMemo(spark, sf, numIter = 3, threshold = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def dists() = Graphs.distancesMemo(spark, sf, seeds)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val (pr1, d1) = (ranks(), dists())
    assert(pr1.nonEmpty && d1.nonEmpty)
    // serving both queries must NOT have freed or replaced the base graph
    assert(Graphs.statementsGraph(spark, sf) eq g1)
    assert(g1.edges.getStorageLevel != StorageLevel.NONE, "base graph edges must stay cached")
    // reset drops and frees the entry — the next ask is a fresh build
    Graphs.resetMemo()
    assert(g1.edges.getStorageLevel == StorageLevel.NONE, "reset must free the base graph")
    assert(!(Graphs.statementsGraph(spark, sf) eq g1), "reset must drop the memo")
    assert(ranks() == pr1, "PageRank over the rebuilt graph must equal the pre-reset result")
    assert(dists() == d1, "BFS over the rebuilt graph must equal the pre-reset result")
    Graphs.resetMemo()
  }

  test("shortest-path BFS: a seed outside the graph is emitted once at distance 0") {
    val sess = spark; import sess.implicits._
    val st = Triples.statements(spark, sf)
    // below every entity namespace, so no statement mentions it and
    // Graph.fromEdges never makes it a vertex
    val ghost = Triples.NS - 1
    assert(st.filter(col("s") === ghost || col("o_id") === ghost).isEmpty)
    val asia = asiaSeeds(st)
    val base = Graphs.distancesMemo(spark, sf, asia)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val withGhost = Graphs.distancesMemo(spark, sf, asia.unionAll(Seq(ghost, ghost).toDF("node")))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(base.nonEmpty && !base.exists(_._1 == ghost))
    assert(withGhost.map(_._1).distinct.length == withGhost.length, "no node may appear twice")
    val (lost, extra) = (base.toSet -- withGhost, withGhost.toSet -- base)
    assert(lost.isEmpty && extra == Set(ghost -> 0), s"lost $lost, extra $extra")
    Graphs.resetMemo()
  }
}
