package graft.kg

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Memo

/** GraphX bridge (SURVEY §2.F) — the iterative half of the
  * reference's `analysis/network` capability (statements → network,
  * centrality, neighbor distances) as library API over the triple
  * store: PageRank ([[integerPageRankMemo]], kg_pagerank) and BFS
  * distances ([[distancesMemo]], kg_shortest_path). One engine per
  * algorithm: degree (kg_degree), connected components
  * ([[Components]]) and closure ([[TripleStore.closure]]) run on the
  * DataFrame engine, which wins where there is little iteration.
  *
  * Namespaced long entity ids ARE GraphX `VertexId`s — no re-keying
  * pass. Edge-centric Pregel algorithms (PageRank, BFS) are the right
  * shape for huge sparse graphs: state is per-vertex, messages flow
  * along co-partitioned edges.
  *
  * Lifecycle: GraphX caches a graph's edge/vertex RDDs internally and
  * NEVER frees them on its own — on a long-running driver (or a bench
  * suite) every leaked graph pins executor storage until the session
  * dies. Every public entry point here therefore materializes its
  * (small) result frame and unpersists its derived graphs before
  * returning; callers get a plain DataFrame with no live RDD behind
  * it, and the memoized base graph is freed by [[resetMemo]].
  */
object Graphs {

  /** Entity graph from the o_id statements (attr-free edges — see the
    * narrowing note in the body), its edges pinned to the context's
    * parallelism clamped to [8, 64] partitions. Pregel per-superstep
    * scheduling overhead scales with partition count: measured at
    * sf0.1 local[32], matching the core count beats the old hard-coded
    * 8 by ~12% on PageRank/degrees, and the clamp keeps tiny local runs
    * from paying per-partition superstep overhead. (On a cluster the
    * count would track edge volume, ∝ edge bytes / 128 MB, instead.)
    *
    * Callers own the returned graph's storage: call
    * `graph.unpersist()` once results are extracted ([[statementsGraph]]
    * does this when its memo is reset). */
  def fromStatements(st: DataFrame): Graph[Unit, Unit] = {
    val n = math.min(64, math.max(8, st.sparkSession.sparkContext.defaultParallelism))
    // Edge attr is Unit, NOT the predicate string: no algorithm here
    // (PageRank, BFS) reads it, and carrying it would put one
    // Java String per edge into the cached edge partitions — measured
    // at sf0.1, every Pregel superstep re-read ~250 MB of cached edges
    // where the attr-free graph holds ~60 MB (guide §2.3: narrower
    // types — cache and shuffle fewer bytes). Predicate-conditioned
    // traversals filter the statements FRAME and run on the DataFrame
    // fixpoint ([[TripleStore.closure]]), so no graph needs the attr.
    val edges = exactlyN(st.filter(col("o_id").isNotNull)
      .select(col("s"), col("o_id")), n)
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph.fromEdges(edges, ())
  }

  /** Statements-graph memo — the [[graft.er.ER]] ccMemo pattern for
    * GraphX: the statements→`Graph.fromEdges` build (scan + round-
    * robin repartition + Edge conversion + GraphX's internal edge-
    * partition materialization) was re-paid by EVERY GraphX entry in
    * a session — kg_pagerank and kg_shortest_path, the suite's #1/#2
    * warm costs in round 11, each rebuilt it per run. Keyed by
    * (session, dir); the memo OWNS the graph's cached RDDs —
    * memo-serving entry points unpersist only their DERIVED graphs
    * (ranks, BFS states), never the base, and the bench/scale
    * harness sweeps call [[resetMemo]] before cold timings. GraphX
    * caches lineage-backed RDDs (MEMORY_ONLY), so an external
    * unpersist degrades to recompute, never wrong results. */
  private val graphMemo =
    Memo[(SparkSession, String), Graph[Unit, Unit]](this)((_, g) => g.unpersist(blocking = false))

  def statementsGraph(spark: SparkSession, dir: String): Graph[Unit, Unit] =
    graphMemo((spark, dir))(fromStatements(Triples.statements(spark, dir)))

  /** Drop memoized statement graphs and free their cached RDDs. */
  def resetMemo(): Unit = Memo.reset(this)

  /** Pin a frame to EXACTLY n partitions before the RDD handoff.
    * `coalesce` alone only shrinks — when the upstream plan ends in a
    * broadcast join (or AQE-coalesced exchange) the edge frame can
    * arrive with 2–3 partitions, and every Pregel superstep then runs
    * at that parallelism (measured: kg_shortest_path 4–5 s at 32 edge
    * partitions vs 40–56 s when the build plan broadcast and left the
    * graph 2-way). Graph parallelism must be explicit, not an accident
    * of the upstream join strategy — a one-time round-robin shuffle of
    * the edge frame buys O(depth) supersteps at full width.
    * Unconditional: probing the current count (`df.rdd
    * .getNumPartitions`) would force AQE stage materialization, and a
    * user-specified repartition is exempt from AQE coalescing. */
  private def exactlyN(df: DataFrame, n: Int): DataFrame = df.repartition(n)

  /** Materialize `result` (eager localCheckpoint — small: one row per
    * vertex) then free every listed graph's cached edge/vertex RDD
    * blocks. All entry points route through this so the unpersist
    * lifecycle lives in exactly one place. */
  private def extracting(gs: Graph[_, _]*)(result: => DataFrame): DataFrame = {
    val out = result.transform(graft.util.Checkpoints.compact(_, eager = true))
    gs.foreach(_.unpersist(blocking = false))
    out
  }

  /** Fixed-point scale for [[integerPageRankMemo]]: rank 1.0 = 10¹².
    * Headroom bound: unnormalized PageRank mass is conserved-or-lost,
    * so every intermediate (a rank, a message sum) is ≤ V·S; with
    * S = 10¹² that stays inside Int64 up to V ≈ 9·10⁶ vertices —
    * beyond that, callers pass a smaller scale (quantization ε and
    * overflow headroom trade off through the one constant). */
  val PrScale: Long = 1000000000000L

  /** Integer fixed-point static PageRank over the MEMOIZED statements
    * graph — the round-12 [R]→[O] conversion of kg_pagerank, and
    * graft's only PageRank (the GraphX float `staticPageRank` wrappers
    * and the DataFrame twin were deleted; see kg_pagerank for the
    * measured engine choice). Float PageRank is rows-only forever:
    * per-vertex rank is an IEEE SUM of incoming contributions whose
    * addition order depends on shuffle partitioning, and hub in-degree
    * is unbounded. This engine replaces every float op with an INTEGER
    * one, all exactly associative/commutative and therefore
    * order-independent:
    *
    *   - rank is a scaled Int64 (1.0 = [[PrScale]] = S);
    *   - an edge contribution is `rank div outdeg` (floor division —
    *     the quantization, ≤ 1 ulp of S per edge);
    *   - message merge is Int64 addition (exact, any order);
    *   - the damping update 0.15 + 0.85·m is exact rational
    *     arithmetic: 3S/20 + 17m/20, with 17m kept in Int64 range
    *     via the identity floor(17m/20) = 17·(m div 20) +
    *     (17·(m mod 20)) div 20;
    *   - dangling mass is NOT redistributed and ranks are NOT
    *     normalized (GraphX semantics minus the final float mass
    *     correction, which would reintroduce an IEEE global sum) —
    *     the output carries the exact `rank_scaled` plus the display
    *     double `rank_scaled / 1e12` (ONE division from an exact
    *     integer — both engines round identically, the
    *     er_disambiguate similarity precedent).
    *
    * Every value is deterministic bit-for-bit under any partitioning,
    * so DuckDB replays the 10 iterations as unrolled CTEs in HUGEINT
    * (kg_random_walk pattern) and the driver hash-gates it.
    * Agreement with float PageRank is spec-bounded against GraphX's
    * own unnormalized `PageRank.runWithOptions`: the per-edge floor
    * quantization propagates as err ≤ (indeg·S⁻¹)/(1−0.85), ≪ 1e-6
    * at spec scale (GraphsSpec). Structure mirrors GraphX's
    * own PageRank loop (aggregateMessages + outerJoinVertices, all
    * vertices updated every round — dangling vertices still decay),
    * reference: org.apache.spark.graphx.lib.PageRank.runWithOptions. */
  def integerPageRankMemo(spark: SparkSession, dir: String,
      numIter: Int = 10, scale: Long = PrScale,
      threshold: Long = PrScale): DataFrame = {
    val sess = spark; import sess.implicits._
    val g0 = statementsGraph(spark, dir)
    // vertex state (rank_scaled, outDegree); degree 0 never divides
    // (a dangling vertex sends no messages)
    var rg: Graph[(Long, Int), Unit] = g0.outerJoinVertices(g0.outDegrees) {
      (_, _, d) => (scale, d.getOrElse(0))
    }.cache()
    for (_ <- 0 until numIter) {
      val msgs = rg.aggregateMessages[Long](
        ctx => ctx.sendToDst(ctx.srcAttr._1 / ctx.srcAttr._2), _ + _)
      val prev = rg
      rg = prev.outerJoinVertices(msgs) { (_, attr, m0) =>
        val m = m0.getOrElse(0L)
        (3L * scale / 20L + 17L * (m / 20L) + 17L * (m % 20L) / 20L, attr._2)
      }.cache()
      // GraphX's own PageRank loop order (PageRank.runWithOptions):
      // materialize the NEW graph's shipped edges, THEN free the
      // superseded step — otherwise the next aggregateMessages
      // recomputes through the unpersisted ancestor chain. The step
      // graphs' RDDs are all distinct from the memoized base's, which
      // stays cached.
      rg.edges.foreachPartition(_ => ())
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
    }
    // Overflow invariant, checked LOUDLY: without wraparound every
    // rank is ≥ the reset floor 3S/20 (rank' = 3S/20 + a nonnegative
    // term, and 17·(m div 20) cannot wrap when m itself didn't — it
    // is ≤ 0.85·Int64.Max by construction); a wrapped message sum
    // goes negative and the floor violation survives to the final
    // iteration. Total mass is bounded by V·S, so headroom is sized
    // by the one `scale` knob — at V ≈ 10⁸ vertices pass 10¹⁰.
    val floorScaled = 3L * scale / 20L
    val minRank = rg.vertices.map(_._2._1).fold(Long.MaxValue)(math.min)
    require(minRank >= floorScaled,
      s"integer PageRank overflow: min rank $minRank < reset floor $floorScaled — " +
        s"a message sum exceeded Int64 at scale=$scale; pass a smaller scale " +
        "(total mass is bounded by numVertices * scale)")
    extracting(rg) {
      rg.vertices.toDF("id", "state")
        .select(col("id"), col("state._1").as("rank_scaled"))
        .filter(col("rank_scaled") > threshold)
        .select(col("id"), col("rank_scaled"),
          (col("rank_scaled").cast("double") / lit(scale.toDouble)).as("rank"))
    }
  }

  /** Edge-centric BFS shortest-path distances from a (small) seed set
    * over the UNDIRECTED MEMOIZED statements graph — the
    * kg_shortest_path entry; only the derived BFS graphs are freed, the
    * base graph stays cached. Per-vertex state is one int; a superstep
    * relaxes `dist+1` across both directions of every edge and only
    * improved vertices message on — so a superstep is one
    * co-partitioned message shuffle over cached RDDs, where a DataFrame
    * BFS hop pays join + distinct + anti-join + checkpoint + count.
    * BFS-to-exhaustion runs eccentricity-many rounds (7 on the test
    * topology), which is why Pregel won here (measured at sf0.1: 5.8 s
    * vs 11.9 s warm for the DataFrame BFS, since deleted; the residual
    * cost is the statements-scan graph build both engines paid) while
    * the 2-hop kg_khop stays on the DataFrame engine. Seeds are a
    * query-sized set (collected to the driver, like every seed set in
    * the suite — never data-sized). */
  def distancesMemo(spark: SparkSession, dir: String, seeds: DataFrame): DataFrame = {
    val g = statementsGraph(spark, dir)
    val sess = spark; import sess.implicits._
    val seedIds = seeds.select(col("node").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val init = g.mapVertices((id, _) => if (seedIds(id)) 0 else Int.MaxValue)
    val res = init.pregel(Int.MaxValue)(
      (_, attr, msg) => math.min(attr, msg),
      t => {
        val toDst = t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr
        val toSrc = t.dstAttr != Int.MaxValue && t.dstAttr + 1 < t.srcAttr
        if (toDst && toSrc) Iterator((t.dstId, t.srcAttr + 1), (t.srcId, t.dstAttr + 1))
        else if (toDst) Iterator((t.dstId, t.srcAttr + 1))
        else if (toSrc) Iterator((t.srcId, t.dstAttr + 1))
        else Iterator.empty
      },
      math.min)
    extracting(res, init) {
      val reached = res.vertices.filter(_._2 != Int.MaxValue).toDF("node", "dist")
      // Graph.fromEdges materializes only edge ENDPOINTS: a seed with
      // no entity edge (literal-only node) never becomes a vertex, but
      // the contract (and the oracle) emits every seed at distance 0 —
      // add the missing ones back
      val isolated = seeds.select(col("node")).distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(0))
      reached.unionAll(isolated)
    }
  }
}
