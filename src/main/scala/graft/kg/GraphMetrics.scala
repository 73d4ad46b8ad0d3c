package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Fixpoint, Memo}
import Triples.{sqlCte => T, NS}

/** Graph-metric and property-path completers over the statement store
  * (SURVEY §2.A): the remaining SPARQL 1.1 path forms (alternation,
  * inverse, negated property set) and the two standard
  * neighborhood-structure analyses of the companions co-occurrence
  * network — local clustering coefficients and neighborhood-Jaccard
  * link prediction (the "which entities look alike by their
  * relations" question the reference's companions R analysis asks of
  * its SPARQL results, e.g. data-publishing/factgrid/queries/
  * companions_and_relations.rq as consumed by apps/companions).
  *
  * Determinism: coefficients and similarities are RATIONALS emitted as
  * exact integer numerator/denominator columns — no float in any
  * oracle-hashed value. Where a ratio orders a top-k, the ordering key
  * is the single IEEE division of the two integer-derived doubles
  * (bit-identical in any engine) with a full lexicographic tiebreak.
  *
  * Scale notes (100 TB):
  *   - Path alternation/inverse/negation are unions of PRUNED pattern
  *     scans (each arm filters p before anything widens) — no new
  *     shuffle shape beyond the patterns themselves.
  *   - Both graph metrics reuse the co-occurrence edge build ONCE via
  *     a checkpoint (edge-set-sized, freed before return); triangles
  *     and common-neighbor pairs are the classic two-path equi-joins,
  *     Σ deg² volume, never a cross join. At 100 TB the degree cap /
  *     weight floor on the edge set (weight ≥ 2 here) is the knob
  *     that bounds Σ deg² — same pattern as er_blocking's block cap.
  */
object GraphMetrics {

  private val C0 = Triples.CUSTOMER.toLong * NS
  private val C1 = (Triples.CUSTOMER + 1).toLong * NS

  /** kg_path_alt — the SPARQL 1.1 property-path forms the fixpoint
    * queries don't cover, one arm each, unioned with a `form` tag:
    * alternation `in_region|^in_nation` from nation subjects (direct
    * arm + inverse arm), and the negated property set
    * `!(in_nation|label)` over customer subjects (their remaining
    * properties). */
  def kgPathAlt(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val direct = st.filter(col("p") === "in_region")
      .select(col("s").as("x"), lit("alt_direct").as("form"), col("p"),
        col("o_id"), col("o_val"))
    val inverse = st.filter(col("p") === "in_nation")
      .select(col("o_id").as("x"), lit("alt_inverse").as("form"), col("p"),
        col("s").as("o_id"), lit(null).cast("string").as("o_val"))
    val negSet = st
      .filter(col("s").between(C0, C1 - 1) && !col("p").isin("in_nation", "label"))
      .select(col("s").as("x"), lit("neg_set").as("form"), col("p"),
        col("o_id"), col("o_val"))
    direct.union(inverse).union(negSet)
  }

  /** Co-occurrence edge memo: five queries (communities, kcore,
    * random_walk, clustering_coeff, node_sim) each re-derived the
    * has_part self-join + weight census per invocation (~1.5 s of the
    * statements union, the fanned DISTINCT branch and the pair
    * aggregation every time). One eager checkpoint per (session, dir),
    * a [[Memo.frames]] memo: pinned, so a consumer's freeAll() over its
    * own lineage leaves it alone, and freed by [[resetMemo]]
    * (Bench's sweep) before every cold measurement. */
  private val edgesMemo = Memo.frames[(SparkSession, String)](this)

  private[kg] def edges(spark: SparkSession, dir: String): DataFrame =
    edgesMemo((spark, dir))(KGQueries.kgCooccur(spark, dir).select(col("p1"), col("p2")))

  /** Undirected statement-graph edge memo (both directions exploded,
    * hash-partitioned on the BFS join key `a` — localCheckpoint
    * preserves the partitioning, so every hop join is exchange-free on
    * the edge side): kg_khop rebuilt this frame on every invocation.
    * Same lifecycle as [[edgesMemo]]. The entry is built from the
    * caller's statements frame `st` (kg_khop's own, over `dir`) on a
    * miss, so a cold kg_khop builds the statements once, not twice. */
  private val statementEdgesMemo = Memo.frames[(SparkSession, String)](this)

  private[kg] def statementEdges(spark: SparkSession, dir: String, st: DataFrame): DataFrame =
    statementEdgesMemo((spark, dir)) {
      new TripleStore(spark, st).edges.repartition(col("a"))
    }

  /** kg_clustering_coeff — local clustering coefficient per node of
    * the co-occurrence network, as the exact rational
    * `2·triangles / (deg·(deg−1))`: emitted as integer
    * (n_triangles, degree, coeff_num, coeff_den); deg-1 nodes carry
    * den 0 (coefficient undefined, the caller's NaN). */
  def kgClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val tri = KGQueries.triangleCensus(e) // the one shared triangle plan
    val deg = e.select(col("p1").as("node"), col("p2").as("nbr"))
      .union(e.select(col("p2").as("node"), col("p1").as("nbr")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val out = deg.join(tri, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        col("degree"))
      .withColumn("coeff_num", lit(2L) * col("n_triangles"))
      .withColumn("coeff_den", col("degree") * (col("degree") - lit(1L)))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    out
  }

  /** kg_node_sim — neighborhood-Jaccard link prediction over the
    * co-occurrence network: for node pairs sharing ≥ 1 neighbor,
    * jaccard = common / (deg_a + deg_b − common); top-100 by that
    * ratio (one IEEE division as the sort key, full (a,b) tiebreak),
    * emitted as exact integers. */
  def kgNodeSim(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val adj = e.select(col("p1").as("node"), col("p2").as("nbr"))
      .union(e.select(col("p2").as("node"), col("p1").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val common = adj.as("x")
      .join(adj.as("y"), col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("a"), col("y.node").as("b"))
      .agg(count(lit(1)).as("common"))
    val out = common
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("union_size", col("deg_a") + col("deg_b") - col("common"))
      .orderBy((col("common").cast("double") / col("union_size").cast("double")).desc,
        col("a"), col("b"))
      .limit(100)
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        col("union_size"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    out
  }

  /** kg_having — SPARQL 1.1 GROUP BY + HAVING with an aggregate
    * subquery threshold: nations whose customer count exceeds the
    * per-nation average (the `HAVING (COUNT(?c) > ...)` form, with
    * the average from a 1-row sub-select broadcast back), label
    * resolved through the label service. The average is ONE IEEE
    * division of two counts — identical in any engine. */
  def kgHaving(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val counts = st.filter(col("p") === "in_nation" && col("s").between(C0, C1 - 1))
      .groupBy(col("o_id").as("nation")).agg(count(lit(1)).as("n_customers"))
    val avg = counts.agg(
      (sum(col("n_customers")).cast("double") / count(lit(1)).cast("double")).as("avg_c"))
    val labels = st.filter(col("p") === "label" && col("lang") === "en")
      .select(col("s").as("nation"), col("o_val").as("nation_name"))
    counts.crossJoin(broadcast(avg))
      .filter(col("n_customers").cast("double") > col("avg_c"))
      .join(labels, Seq("nation"))
      .select(col("nation"), col("nation_name"), col("n_customers"), col("avg_c"))
  }

  /** kg_void_stats — VoID-class schema profiling of the statement
    * store (the dataset-description census a curator publishes as
    * `void:propertyPartition` and uses to validate mappings): per
    * predicate, statement count, distinct subjects, distinct entity
    * objects, distinct literal values, and the functionality verdict
    * (functional ⟺ no subject carries the predicate twice — the
    * owl:FunctionalProperty check). One map-side-partial groupBy(p);
    * output is predicate-dictionary-sized at any corpus size. */
  def kgVoidStats(spark: SparkSession, dir: String): DataFrame =
    Triples.statements(spark, dir)
      .groupBy(col("p"))
      .agg(
        count(lit(1)).as("n_statements"),
        count_distinct(col("s")).as("n_subjects"),
        count_distinct(col("o_id")).as("n_entity_objects"),
        count_distinct(col("o_val")).as("n_literal_values"))
      .withColumn("is_functional", col("n_statements") === col("n_subjects"))

  /** Walk length for [[kgRandomWalk]] (steps beyond the start node). */
  private val WalkSteps = 3

  /** kg_random_walk — deterministic random-walk corpus generation
    * (the DeepWalk/node2vec data-prep shape): one 3-step walk from
    * every node of the co-occurrence network, where step k at node c
    * moves to the neighbor ranked `md5(c|k) mod deg(c)` in c's
    * id-ordered adjacency list. md5 replaces the RNG, so walks are a
    * pure function of the graph — rerun-identical on any cluster
    * layout, and the oracle replays every step. Emitted long:
    * (start, step, node).
    *
    * Scale: each step is ONE equi-join of the frontier against the
    * ranked adjacency (frontier size = node count, constant), never a
    * per-walk driver loop; rank + degree are census-sized window/agg
    * over the edge list. Walk fan-out (multiple walks per node) is a
    * walk-id column in the hash preimage — same plan shape. */
  def kgRandomWalk(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Bits
    graft.functions.GraftFunctions.registerAll(spark)
    val e = edges(spark, dir)
    val adj = e.select(col("p1").as("node"), col("p2").as("nbr"))
      .union(e.select(col("p2").as("node"), col("p1").as("nbr")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("node")).orderBy(col("nbr"))))
      .transform(graft.util.Checkpoints.compact(_, eager = true)) // feeds every step's join + the degree census
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    var frontier = adj.select(col("node").as("start")).distinct()
      .withColumn("cur", col("start"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    val owned = scala.collection.mutable.ListBuffer[DataFrame](adj, frontier)
    val rows = Seq.newBuilder[DataFrame]
    rows += frontier.select(col("start"), lit(0).as("step"), col("cur").as("node"))
    (1 to WalkSteps).foreach { k =>
      val idx = pmod(
        Md5Bits.p60(concat(col("cur").cast("string"), lit("|"), lit(k))), col("deg")) + lit(1)
      // each step's frontier is checkpointed (node-census-sized) so the
      // union of all steps doesn't re-run the k² join prefix chain
      frontier = frontier
        .join(deg.select(col("node").as("cur"), col("deg")), Seq("cur"))
        .withColumn("rank", idx.cast("int"))
        .join(adj.select(col("node").as("cur"), col("rank"), col("nbr")), Seq("cur", "rank"))
        .select(col("start"), col("nbr").as("cur"))
        .transform(graft.util.Checkpoints.compact(_, eager = true))
      owned += frontier
      rows += frontier.select(col("start"), lit(k).as("step"), col("cur").as("node"))
    }
    val out = rows.result().reduce(_ union _).transform(graft.util.Checkpoints.compact(_, eager = true))
    owned.foreach(graft.util.Checkpoints.free)
    out
  }

  /** Synchronous label-propagation rounds for [[kgCommunities]] —
    * fixed so the result is well-defined regardless of convergence
    * (sync LPA can oscillate on bipartite structures; a fixed round
    * count + deterministic tie-break makes the output a pure function
    * of the graph, the kg_random_walk determinism pattern). */
  private val LpaRounds = 4

  /** kg_communities — community detection over the co-occurrence
    * network by deterministic synchronous label propagation (the
    * community structure the reference's companions network analysis
    * visualizes): every node starts as its own label; each round it
    * adopts the most frequent label among its neighbors, ties broken
    * by the SMALLEST label. Emitted: (node, community,
    * community_size) after [[LpaRounds]] rounds.
    *
    * Scale: each round is one edge-sized equi-join + one
    * map-side-partial groupBy + one per-node window (partition
    * cardinality = the node's distinct neighbor labels — degree
    * bounded, never data-sized); the adjacency is checkpointed once
    * and freed. Rounds × 2 shuffles total, the same budget as the
    * DataFrame CC engine this sits beside. */
  def kgCommunities(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    // adjacency materialized PRE-PARTITIONED on the round join key
    // `nbr` (localCheckpoint preserves the hash partitioning): every
    // LPA round's label join then exchanges only the census-sized
    // label frame, never the edge-sized adjacency — one
    // adjacency-sized exchange per round removed (guide §2.4)
    val adj = e.select(col("p1").as("node"), col("p2").as("nbr"))
      .union(e.select(col("p2").as("node"), col("p1").as("nbr")))
      .repartition(col("nbr"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    val owned = scala.collection.mutable.ListBuffer[DataFrame](adj)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("cnt").desc, col("lbl").asc)
    var labels = adj.select("node").distinct().withColumn("lbl", col("node"))
    (1 to LpaRounds).foreach { _ =>
      labels = adj
        .join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("node"), col("lbl"))
        .transform(graft.util.Checkpoints.compact(_, eager = true))
      owned += labels
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    val out = labels.join(sizes, Seq("lbl"))
      .select(col("node"), col("lbl").as("community"), col("community_size"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    owned.foreach(graft.util.Checkpoints.free)
    out
  }

  /** Peeling constant for [[kgKcore]] (and the unroll bound of its
    * oracle replay — the gate fails loudly, never silently, if a
    * future data scale needs deeper peeling). */
  private val KcoreK = 3
  private val KcoreRounds = 12

  /** kg_kcore — k-core decomposition of the co-occurrence network
    * (k = 3): ITERATIVE PEELING — drop nodes of in-set degree < k,
    * recompute, repeat to the FIXPOINT; emits every original node
    * with its in-core verdict. The k-core is the canonical
    * dense-substructure reduction the companions network analysis
    * motivates (prune hangers-on before community inspection).
    *
    * Scale: each round is one groupBy-count + two semi-joins on the
    * (shrinking) edge set — the standard distributed peeling loop
    * (rounds ≈ peeling depth, small on heavy-tailed graphs), settled
    * by [[graft.util.Fixpoint.settle]]. Peeling only removes edges, so
    * an unchanged edge count already means an unchanged edge set. No
    * collect touches data-sized state. */
  def kgKcore(spark: SparkSession, dir: String): DataFrame = {
    val e0 = edges(spark, dir)
    val allNodes = e0.select(col("p1").as("node"))
      .union(e0.select(col("p2").as("node"))).distinct()
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    val (adj, _) = Fixpoint.settle(
      e0.select(col("p1").as("a"), col("p2").as("b"))
        .union(e0.select(col("p2").as("a"), col("p1").as("b")))
        .transform(graft.util.Checkpoints.compact(_, eager = true))) { e =>
      val keep = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcoreK).select(col("a").as("k"))
      e
        .join(keep.withColumnRenamed("k", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("k", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    val core = adj.select(col("a").as("node")).distinct().withColumn("inc", lit(true))
    val out = allNodes.join(core, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("inc"), lit(false)).as("in_core"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    graft.util.Checkpoints.free(adj)
    graft.util.Checkpoints.free(allNodes)
    out
  }

  /** kg_within_relations — the reference network analysis's
    * `relations_within` frame (analysis/network/02-look-into-data.R:
    * 11–17): the ROOT-SET-INDUCED subgraph — relations whose subject
    * AND object both belong to the root class — DISTINCT, with the
    * two censuses the script derives from it (edges per root, edges
    * per property) as window counts. Roots = the remove-na members;
    * the relation layer = the family edge families (the store where
    * members actually link each other).
    *
    * Scale: root membership is a semi-join pushed to BOTH endpoint
    * sides before anything widens; the censuses are windows over the
    * (already-reduced) induced edge set, never the full statement
    * store. */
  def kgWithinRelations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The family store's plan embeds one join per family kind plus the
    // whole sitelink/statements union; three pattern scans below meant
    // three full plan copies — driver-side planning alone measured
    // ~3.3 s (wall 5.2 s vs stage-sum 1.9 s at sf0.1). Filter to the
    // three predicate families ONCE (constant folding prunes the union
    // to exactly those branches) and lazily checkpoint; the scans below
    // then filter the small checkpointed frame (the compileOn
    // pruned-store pattern, hand-applied to this non-compiled query).
    val st = SparqlQueries.familyStatements(spark, dir)
      .filter(col("p") === "in_region" || col("p") === "in_nation" ||
        col("p").startsWith("family_"))
      .transform(graft.util.Checkpoints.compact(_, eager = false))
    // root class = members located in region 1 (a class wide enough
    // that members actually interlink — the nation-level set induces
    // an almost-empty subgraph)
    val nat = st.filter(col("p") === "in_region" && col("o_id") === 1L * NS + 1)
      .select(col("s").as("n"))
    val roots = st.filter(col("p") === "in_nation")
      .join(nat, col("o_id") === col("n")).select(col("s").as("member"))
    val fam = st.filter(col("p").startsWith("family_") && col("o_id").isNotNull)
      .select(col("s").as("root"), col("p").as("property1"), col("o_id").as("item1"))
      .join(roots.withColumnRenamed("member", "root"), Seq("root"), "left_semi")
      .join(roots.withColumnRenamed("member", "item1"), Seq("item1"), "left_semi")
      .select(col("root"), col("property1"), col("item1")).distinct()
    fam
      .withColumn("n_root_edges", count(lit(1)).over(Window.partitionBy(col("root"))))
      .withColumn("n_property_edges",
        count(lit(1)).over(Window.partitionBy(col("property1"))))
  }

  /** Shared forward half of Brandes: the undirected roots-induced
    * edge set (`und`, least/greatest-normalized DISTINCT pairs), its
    * symmetric adjacency (`adj`), and the all-sources shortest-path
    * census `settled` = (src, node, dist, σ) built by level-
    * synchronous frontier joins (σ summed over parents), plus the max
    * level reached. All three frames are eager localCheckpoint roots
    * OWNED by [[censusMemo]] — callers must NOT free them (the memo
    * serves both consumers; [[resetMemo]] frees the blocks). Used by
    * [[kgEdgeBetweenness]] (which continues into the backward δ
    * sweep) and exposed integer-exact as [[kgSpCensus]]. */
  private def spForward(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, Int) = {
    val wRel = kgWithinRelations(spark, dir)
    val und = wRel.select(least(col("root"), col("item1")).as("a"),
        greatest(col("root"), col("item1")).as("b")).distinct()
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    // kgWithinRelations lazily checkpoints its pruned family store;
    // `und` is materialized above, so that store leaf is dead weight
    // here — free it now (the memo owns only und/adj/settled, so
    // resetMemo would never reclaim it)
    graft.util.Checkpoints.freeAll(wRel)
    val adj = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    val nodes = adj.select(col("a").as("node")).distinct()
    // level-synchronous: the frontier is one BFS level, so every new
    // row's dist is the frontier's plus one
    val (settled, d) = Fixpoint.grow(nodes.select(col("node").as("src"), col("node"),
        lit(0).as("dist"), lit(1.0).as("sigma")).transform(graft.util.Checkpoints.compact(_, eager = true))) {
      (frontier, settled) =>
        frontier.join(adj, frontier("node") === adj("a"))
          .select(frontier("src"), adj("b").as("node"), (frontier("dist") + 1).as("dist"), col("sigma"))
          .join(settled.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
          .groupBy(col("src"), col("node"), col("dist")).agg(sum(col("sigma")).as("sigma"))
    }
    (und, adj, settled, d)
  }

  /** Forward-sweep memo: the census tuple computed ONCE per (session,
    * input dir) and shared by kg_sp_census and kg_edge_betweenness —
    * the level-synchronous all-sources BFS is the expensive half of
    * both (the [[graft.er.ER]] ccMemo pattern). The memo OWNS the
    * three checkpoint roots: exactly one copy lives per (session,
    * dir) however many times the queries run, and [[resetMemo]]
    * (called by Bench before cold measurements) frees the blocks
    * explicitly. */
  private val censusMemo =
    Memo[(SparkSession, String), (DataFrame, DataFrame, DataFrame, Int)](this) {
      case (_, (und, adj, settled, _)) => Seq(und, adj, settled).foreach(graft.util.Checkpoints.free)
    }

  private def spForwardMemo(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, Int) =
    censusMemo((spark, dir))(spForward(spark, dir))

  /** Drop memoized forward sweeps and edge sets AND free their
    * checkpoint blocks. */
  def resetMemo(): Unit = Memo.reset(this)

  /** kg_sp_census — the INTEGER-EXACT half of Brandes as its own
    * oracle-gated query: all-sources BFS distances and σ shortest-path
    * counts (src, node, dist, sigma) over the roots-induced subgraph.
    * Unlike the δ-dependent betweenness score (IEEE sums → [R]), dist
    * and σ are exact integers, so this frame hash-matches a DuckDB
    * replay — a recursive min-dist CTE (recursion capped at
    * [[SpCensusCap]]; measured eccentricity 2/4/6 at sf0.001/0.01/0.1,
    * topology-bound by the modular family-edge offsets, so the cap
    * only bounds cycle re-expansion) plus a shortest-prefix walk
    * enumeration (every prefix of a shortest path is a shortest path,
    * so constraining each step to land at dist = len+1 enumerates
    * exactly the σ paths; total walk rows = Σσ = 481 at sf0.01).
    * This machine-gates the σ/dist layer that kg_edge_betweenness
    * builds on, leaving only the δ float sweep to the 1e-9 spec. */
  def kgSpCensus(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, settled, _) = spForwardMemo(spark, dir)
    settled.select(col("src"), col("node"), col("dist"),
      col("sigma").cast("long").as("sigma"))
  }

  /** Fixed-point scale for [[kgEdgeBetweenness]]'s dependency sweep:
    * δ = 1.0 is [[BwScale]] = 10⁹. Headroom bound: a per-edge
    * contribution is σv·(S + δ'w) where δ(w) ≤ reachable-pair count
    * ≤ V per source, so contrib ≤ σmax·V·S — with S = 10⁹ that stays
    * inside Int64 for σmax·V up to ~9·10⁹, far beyond the
    * analysis-class induced subgraphs this operator contracts for
    * (the reference runs `centrality_edge_betweenness()` on ONE
    * root-class network). Each level asserts the bound LOUDLY
    * ([[kgEdgeBetweenness]]); larger graphs pass a smaller scale,
    * the [[Graphs.PrScale]] convention. */
  val BwScale: Long = 1000000000L

  /** kg_edge_betweenness — edge betweenness centrality of the
    * roots-induced network, the
    * `centrality_edge_betweenness()` the reference's network analysis
    * ranks edges by (analysis/network/02-look-into-data.R:47): Brandes
    * over every source simultaneously — the shared forward sweep
    * ([[spForward]]: all-sources BFS building (src, node, dist, σ)
    * with σ path counts summed over parents), then the backward
    * dependency sweep level by level (δ(v) = Σ_w σv/σw·(1+δ(w)) over
    * the shortest-path DAG), edge score = Σ over sources of its DAG
    * contributions, halved (undirected pairs counted from both ends).
    *
    * Round-12 [R]→[O] conversion (the kg_pagerank pattern): the
    * backward sweep runs in INTEGER fixed point — δ is a scaled Int64
    * (1.0 = [[BwScale]] = S), a DAG contribution is the floor
    * division `σv·(S + δ'w) div σw` (σ and dist are exact integers,
    * machine-gated via [[kgSpCensus]]), and every merge is an Int64
    * SUM — exactly associative/commutative, so the result is
    * bit-identical under any shuffle partitioning and DuckDB replays
    * the sweep as unrolled HUGEINT CTEs under the hash gate. The only
    * quantization is the per-contribution floor (≤ 10⁻⁹ of a δ unit),
    * spec-bounded against an in-memory exact float Brandes at 1e-6
    * (GraphMetricsSpec). Output carries the exact doubled scaled
    * score `bw_scaled_x2` (the /2 undirected halving would leave
    * integer range) plus the display double `bw_scaled_x2 / 2S` —
    * ONE division from an exact integer, both engines round
    * identically (the kg_pagerank display-column precedent). Overflow
    * cannot wrap silently: each level asserts max σv·(S + δ'w) stays
    * under Int64 headroom and δ' ≥ 0 before its results are used.
    *
    * Scale: betweenness is inherently all-sources (O(V·E) work) — the
    * reference runs it on an ANALYSIS-CLASS-sized induced subgraph,
    * and this operator keeps that contract (its input is the
    * kg_within_relations frame, bounded by the root class). The
    * sweeps are frontier joins keyed (src, node): work per round =
    * |frontier|·avg-degree rows, every round localCheckpointed so the
    * plan never grows with the diameter; no driver collect touches
    * per-pair state (only scalar counts + the max level). */
  def kgEdgeBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val S = BwScale
    val (und, adj, settled, d) = spForwardMemo(spark, dir)
    // ---- shortest-path DAG edges (σ cast to exact Int64) -------------
    val sv = settled.select(col("src").as("s1"), col("node").as("v"),
      col("dist").as("dv"), col("sigma").cast("long").as("sgv"))
    val sw = settled.select(col("src").as("s2"), col("node").as("w"),
      col("dist").as("dw"), col("sigma").cast("long").as("sgw"))
    val dag = sv.join(adj, col("v") === col("a"))
      .join(sw, col("s1") === col("s2") && col("b") === col("w") &&
        col("dw") === col("dv") + 1)
      .select(col("s1").as("src"), col("v"), col("w"),
        col("dv"), col("dw"), col("sgv"), col("sgw"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    // ---- backward: level-by-level integer dependency sweep -----------
    var delta = settled.filter(col("dist") === d)
      .select(col("src"), col("node"), lit(0L).as("delta"))
      .transform(graft.util.Checkpoints.compact(_, eager = true))
    // settled/adj/und are memo-owned (censusMemo) — not freed here
    var contribs = List.empty[DataFrame]
    for (dd <- d to 1 by -1) {
      val level = dag.filter(col("dw") === dd)
        .join(delta.select(col("src"), col("node").as("w"), col("delta")),
          Seq("src", "w"), "left_outer")
        .withColumn("dl", coalesce(col("delta"), lit(0L)))
        .withColumn("contrib", expr(s"sgv * (CAST($S AS BIGINT) + dl) div sgw"))
        .transform(graft.util.Checkpoints.compact(_, eager = true))
      // Overflow invariant, checked LOUDLY per level (the pagerank
      // reset-floor convention): the product σv·(S + δ') must keep
      // Int64 headroom, and a wrapped earlier sum would surface as a
      // negative δ'. The check is a scalar agg over an already-
      // checkpointed analysis-class frame — d (≤ graph eccentricity)
      // driver round trips total.
      val guard = level.agg(
        max(col("sgv").cast("double") * (lit(S.toDouble) + col("dl").cast("double"))),
        min(col("dl"))).first()
      val maxProd = Option(guard.get(0)).fold(0.0)(_ => guard.getDouble(0))
      val minDl = Option(guard.get(1)).fold(0L)(_ => guard.getLong(1))
      require(maxProd < 4.5e18 && minDl >= 0L,
        s"integer betweenness overflow risk at level $dd: max sigma*(S+delta) = " +
          s"$maxProd, min delta = $minDl at scale=$S — pass a smaller BwScale " +
          "(contrib is bounded by sigma_max * V * scale)")
      contribs ::= level.select(col("v"), col("w"), col("contrib"))
      val prevDelta = delta
      delta = level.groupBy(col("src"), col("v")).agg(sum(col("contrib")).as("delta"))
        .select(col("src"), col("v").as("node"), col("delta"))
        .transform(graft.util.Checkpoints.compact(_, eager = true))
      graft.util.Checkpoints.free(prevDelta)
    }
    val all = contribs match {
      case Nil =>
        // free this call's own checkpoints before the early return —
        // the empty-graph result derives only from (memo-owned) und
        graft.util.Checkpoints.free(dag)
        graft.util.Checkpoints.free(delta)
        return und.select(col("a"), col("b"), lit(0L).as("bw_scaled_x2"),
          lit(0.0).as("betweenness"))
      case xs  => xs.reduce(_ unionByName _)
    }
    // the result reads only the per-level contrib checkpoints (dag and
    // the final delta are this call's own; the memo keeps und/adj/settled)
    graft.util.Checkpoints.free(dag)
    graft.util.Checkpoints.free(delta)
    all
      .select(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"),
        col("contrib"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("contrib")).as("bw_scaled_x2"))
      .select(col("a"), col("b"), col("bw_scaled_x2"),
        (col("bw_scaled_x2").cast("double") / lit(2.0 * S)).as("betweenness"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_edge_betweenness" -> (kgEdgeBetweenness _),
    "kg_sp_census"        -> (kgSpCensus _),
    "kg_within_relations" -> (kgWithinRelations _),
    "kg_kcore"            -> (kgKcore _),
    "kg_path_alt"         -> (kgPathAlt _),
    "kg_clustering_coeff" -> (kgClusteringCoeff _),
    "kg_node_sim"         -> (kgNodeSim _),
    "kg_random_walk"      -> (kgRandomWalk _),
    "kg_having"           -> (kgHaving _),
    "kg_void_stats"       -> (kgVoidStats _),
    "kg_communities"      -> (kgCommunities _))

  /** Shared oracle CTE: the weight ≥ 2 co-occurrence edge set. */
  private val E =
    """hp AS (SELECT s AS o, o_id AS part FROM triples WHERE p='has_part'),
      |e AS (SELECT a.part AS p1, b.part AS p2 FROM hp a JOIN hp b ON a.o = b.o AND a.part < b.part
      |      GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  private val walkSql: String = {
    val steps = (1 to WalkSteps).map { k =>
      s"""w$k AS (
         |  SELECT w${k - 1}.start, a.nbr AS cur
         |  FROM w${k - 1}
         |  JOIN deg d ON d.node = w${k - 1}.cur
         |  JOIN adj a ON a.node = w${k - 1}.cur
         |   AND a.rank = (${graft.dedup.Md5Bits.p60Sql(s"CAST(w${k - 1}.cur AS VARCHAR)||'|$k'")} % d.deg) + 1)"""
        .stripMargin
    }.mkString(",\n")
    val rows = (0 to WalkSteps).map(k =>
      s"SELECT start, CAST($k AS INTEGER) AS step, cur AS node FROM w$k")
      .mkString("\nUNION ALL ")
    s"""$T, $E,
       |adj AS (
       |  SELECT node, nbr, row_number() OVER (PARTITION BY node ORDER BY nbr) AS rank
       |  FROM (SELECT p1 AS node, p2 AS nbr FROM e UNION ALL SELECT p2, p1 FROM e)),
       |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
       |w0 AS (SELECT DISTINCT node AS start, node AS cur FROM adj),
       |$steps
       |$rows""".stripMargin
  }

  private val lpaSql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""l$k AS (SELECT node, lbl FROM (
         |  SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rk
         |  FROM (SELECT a.node, l.lbl, count(*) AS cnt
         |        FROM adj a JOIN l${k - 1} l ON l.node = a.nbr GROUP BY 1, 2))
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""adj AS (SELECT p1 AS node, p2 AS nbr FROM e UNION ALL SELECT p2, p1 FROM e),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
       |$rounds,
       |sizes AS (SELECT lbl, count(*) AS community_size FROM l$LpaRounds GROUP BY 1)
       |SELECT l.node, l.lbl AS community, sizes.community_size
       |FROM l$LpaRounds l JOIN sizes ON sizes.lbl = l.lbl""".stripMargin
  }

  /** kg_kcore oracle: the peeling loop UNROLLED to [[KcoreRounds]]
    * survivor CTEs, with a non-convergence POISON row (count drift
    * between the last two rounds emits an impossible node, failing
    * the hash gate loudly rather than validating a half-peeled
    * core). */
  private val kcoreSql: String = {
    // every sN is referenced twice by round N+1 and DuckDB inlines
    // CTEs by default — without MATERIALIZED the plan doubles per
    // round (2^rounds scans of the base parquet)
    val rounds = (1 to KcoreRounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e2.a AS node FROM adj e2
         |  JOIN s${i - 1} x ON x.node = e2.b
         |  JOIN s${i - 1} y ON y.node = e2.a
         |  GROUP BY e2.a HAVING count(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""$T, $E,
       |adj AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM e UNION ALL SELECT p2, p1 FROM e),
       |s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM adj),
       |$rounds
       |SELECT n.node, (c.node IS NOT NULL) AS in_core
       |FROM s0 n LEFT JOIN s$KcoreRounds c ON c.node = n.node
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(NULL AS BOOLEAN)
       |WHERE (SELECT count(*) FROM s${KcoreRounds - 1}) <>
       |      (SELECT count(*) FROM s$KcoreRounds)""".stripMargin
  }

  /** Shared oracle CTE chain: roots, family edges and the DISTINCT
    * root-filtered induced edge set `w` — regenerated from the SAME
    * kind list ([[SparqlQueries.familyKinds]]). */
  private val withinCtes: String = {
    val branches = SparqlQueries.familyKinds.map { case (p, res, mod, off) =>
      s"""SELECT CAST(${3L * NS} + k.c_custkey AS BIGINT) AS root,
         |    '$p' AS property1, CAST(${3L * NS} + t.c_custkey AS BIGINT) AS item1
         |  FROM customer k JOIN customer t ON t.c_custkey = k.c_custkey + $off
         |  WHERE k.c_custkey % $mod = $res""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""roots AS (SELECT CAST(${3L * NS} + c.c_custkey AS BIGINT) AS member
       |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
       |  WHERE n.n_regionkey = 1),
       |fam AS (
       |  $branches),
       |w AS (SELECT DISTINCT f.root, f.property1, f.item1 FROM fam f
       |  JOIN roots r1 ON r1.member = f.root
       |  JOIN roots r2 ON r2.member = f.item1)""".stripMargin
  }

  /** kg_within_relations oracle — the induced edge set with its two
    * censuses as window counts. */
  private val withinSql: String =
    s"""WITH $withinCtes
       |SELECT root, property1, item1,
       |  count(*) OVER (PARTITION BY root) AS n_root_edges,
       |  count(*) OVER (PARTITION BY property1) AS n_property_edges
       |FROM w""".stripMargin

  /** Recursion cap for the kg_sp_census min-dist CTE. Measured
    * eccentricity of the roots-induced subgraph: 2 (sf0.001), 4
    * (sf0.01), 6 (sf0.1) — topology-bound (the modular family-edge
    * offsets chain customers at fixed strides), so 12 only bounds
    * cycle re-expansion; min(dist) per (src, node) is exact.
    *
    * ORACLE COST BOUND (round-9 ADVICE): the σ side enumerates
    * shortest-PREFIX walks, whose row count is Σσ — combinatorial in
    * graph density, NOT in node count (481 rows at the sf0.01 gate,
    * 2 941 at sf0.1). The oracle is priced for the GATE's scale
    * factor; bumping the gate to a denser graph can blow the walk
    * enumeration up long before the engine side (which is per-level
    * frontier joins) notices. If the gate scale ever moves, re-measure
    * Σσ first — a DuckDB hang here is the walk census, not the CTE
    * cap. The engine query itself has no such term. */
  private val SpCensusCap = 12

  /** kg_sp_census oracle — dist by capped recursive min-level BFS;
    * σ by enumerating shortest-prefix walks (each step must land at
    * dist = len+1, so rows of `walks` ARE the shortest paths —
    * Σσ = 481 rows at sf0.01) and counting per endpoint. The inner
    * WITH RECURSIVE inside `dmin` is the kg_shortest_path pattern. */
  private val spCensusSql: String =
    s"""WITH RECURSIVE $withinCtes,
       |und AS (SELECT DISTINCT least(root, item1) AS a, greatest(root, item1) AS b FROM w),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
       |nodes AS (SELECT DISTINCT a AS node FROM e),
       |dmin AS (
       |  SELECT src, node, min(dist) AS dist FROM (
       |    WITH RECURSIVE r(src, node, dist) AS (
       |      SELECT node, node, 0 FROM nodes
       |      UNION
       |      SELECT r.src, e.b, r.dist + 1 FROM r JOIN e ON e.a = r.node
       |      WHERE r.dist < $SpCensusCap)
       |    SELECT src, node, dist FROM r)
       |  GROUP BY src, node),
       |walks(src, node, len) AS (
       |  SELECT node, node, 0 FROM nodes
       |  UNION ALL
       |  SELECT wk.src, e.b, wk.len + 1
       |  FROM walks wk JOIN e ON e.a = wk.node
       |  JOIN dmin dm ON dm.src = wk.src AND dm.node = e.b AND dm.dist = wk.len + 1)
       |SELECT src, node, CAST(len AS INTEGER) AS dist, count(*) AS sigma
       |FROM walks GROUP BY src, node, len""".stripMargin

  /** kg_edge_betweenness oracle — the integer fixed-point backward
    * sweep UNROLLED (the kg_pagerank pattern) on top of the
    * [[spCensusSql]] census CTEs, all arithmetic in HUGEINT: per
    * level k (from [[SpCensusCap]] down to 1 — levels above the
    * graph's true eccentricity have an empty DAG slice, so the extra
    * unrolled CTEs are no-ops, exactly like the engine's δ = 0
    * initialization at the deepest level), contrib = σv·(S + δ'w) //
    * σw (floor division + exact integer sums = order-independent),
    * then δ' per (src, v) = Σ contrib. Edge score = Σ contrib over
    * all levels grouped by undirected pair; the display double is
    * the ONE division score/2S from the exact integer. The census
    * and dag frames are MATERIALIZED so the 12-deep chain never
    * re-inlines the walk enumeration. */
  private val edgeBetweennessSql: String = {
    val S = BwScale
    val cap = SpCensusCap
    val lvls = (cap to 1 by -1).map { k =>
      s"""lvl$k AS MATERIALIZED (
         |  SELECT g.src, g.v, g.w,
         |    (g.sgv * (CAST($S AS HUGEINT) + COALESCE(d.delta, CAST(0 AS HUGEINT)))) // g.sgw AS contrib
         |  FROM dag g LEFT JOIN dlt${k + 1} d ON d.src = g.src AND d.node = g.w
         |  WHERE g.dw = $k),
         |dlt$k AS MATERIALIZED (
         |  SELECT src, v AS node, SUM(contrib) AS delta FROM lvl$k GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val unionAll = (cap to 1 by -1)
      .map(k => s"SELECT v, w, contrib FROM lvl$k").mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $withinCtes,
       |und AS (SELECT DISTINCT least(root, item1) AS a, greatest(root, item1) AS b FROM w),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
       |nodes AS (SELECT DISTINCT a AS node FROM e),
       |dmin AS (
       |  SELECT src, node, min(dist) AS dist FROM (
       |    WITH RECURSIVE r(src, node, dist) AS (
       |      SELECT node, node, 0 FROM nodes
       |      UNION
       |      SELECT r.src, e.b, r.dist + 1 FROM r JOIN e ON e.a = r.node
       |      WHERE r.dist < $cap)
       |    SELECT src, node, dist FROM r)
       |  GROUP BY src, node),
       |walks(src, node, len) AS (
       |  SELECT node, node, 0 FROM nodes
       |  UNION ALL
       |  SELECT wk.src, e.b, wk.len + 1
       |  FROM walks wk JOIN e ON e.a = wk.node
       |  JOIN dmin dm ON dm.src = wk.src AND dm.node = e.b AND dm.dist = wk.len + 1),
       |census AS MATERIALIZED (
       |  SELECT src, node, len AS dist, CAST(count(*) AS HUGEINT) AS sigma
       |  FROM walks GROUP BY src, node, len),
       |dag AS MATERIALIZED (
       |  SELECT cv.src, cv.node AS v, cw.node AS w, cw.dist AS dw,
       |         cv.sigma AS sgv, cw.sigma AS sgw
       |  FROM census cv JOIN e ON e.a = cv.node
       |  JOIN census cw ON cw.src = cv.src AND cw.node = e.b AND cw.dist = cv.dist + 1),
       |dlt${cap + 1} AS (
       |  SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS node,
       |         CAST(NULL AS HUGEINT) AS delta WHERE FALSE),
       |$lvls
       |SELECT a, b, CAST(s2 AS BIGINT) AS bw_scaled_x2,
       |  CAST(s2 AS DOUBLE) / ${2.0 * S} AS betweenness
       |FROM (
       |  SELECT least(v, w) AS a, greatest(v, w) AS b, SUM(contrib) AS s2
       |  FROM ($unionAll)
       |  GROUP BY 1, 2)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "kg_within_relations" -> withinSql,
    "kg_sp_census"        -> spCensusSql,
    "kg_edge_betweenness" -> edgeBetweennessSql,
    "kg_kcore" -> kcoreSql,
    "kg_communities" -> s"$T, $E,\n$lpaSql",
    "kg_void_stats" ->
      s"""$T
         |SELECT p, count(*) AS n_statements,
         |  count(DISTINCT s) AS n_subjects,
         |  count(DISTINCT o_id) AS n_entity_objects,
         |  count(DISTINCT o_val) AS n_literal_values,
         |  (count(*) = count(DISTINCT s)) AS is_functional
         |FROM triples GROUP BY p""".stripMargin,
    "kg_having" ->
      s"""$T,
         |counts AS (SELECT o_id AS nation, count(*) AS n_customers FROM triples
         |           WHERE p='in_nation' AND s BETWEEN $C0 AND ${C1 - 1} GROUP BY 1),
         |a AS (SELECT CAST(CAST(sum(n_customers) AS BIGINT) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE) AS avg_c FROM counts),
         |l AS (SELECT s AS nation, o_val AS nation_name FROM triples WHERE p='label' AND lang='en')
         |SELECT nation, nation_name, n_customers, avg_c
         |FROM counts CROSS JOIN a JOIN l USING (nation)
         |WHERE CAST(n_customers AS DOUBLE) > avg_c""".stripMargin,
    "kg_random_walk" -> walkSql,
    "kg_path_alt" ->
      s"""$T
         |SELECT s AS x, 'alt_direct' AS form, p, o_id, o_val FROM triples WHERE p='in_region'
         |UNION ALL
         |SELECT o_id AS x, 'alt_inverse' AS form, p, s AS o_id, CAST(NULL AS VARCHAR) AS o_val
         |FROM triples WHERE p='in_nation'
         |UNION ALL
         |SELECT s AS x, 'neg_set' AS form, p, o_id, o_val FROM triples
         |WHERE s BETWEEN $C0 AND ${C1 - 1} AND p NOT IN ('in_nation', 'label')""".stripMargin,
    "kg_clustering_coeff" ->
      s"""$T, $E,
         |tri AS (
         |  SELECT node, count(*) AS n_triangles FROM (
         |    SELECT unnest([e1.p1, e1.p2, e2.p2]) AS node
         |    FROM e e1 JOIN e e2 ON e1.p2 = e2.p1 JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
         |  GROUP BY 1),
         |deg AS (SELECT node, count(*) AS degree FROM
         |        (SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1)
         |SELECT deg.node, coalesce(n_triangles, 0)::BIGINT AS n_triangles, degree,
         |  (2 * coalesce(n_triangles, 0))::BIGINT AS coeff_num,
         |  (degree * (degree - 1))::BIGINT AS coeff_den
         |FROM deg LEFT JOIN tri ON deg.node = tri.node""".stripMargin,
    "kg_node_sim" ->
      s"""$T, $E,
         |adj AS (SELECT p1 AS node, p2 AS nbr FROM e UNION ALL SELECT p2, p1 FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
         |common AS (
         |  SELECT x.node AS a, y.node AS b, count(*) AS common
         |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
         |  GROUP BY 1, 2)
         |SELECT a, b, common, da.deg AS deg_a, db.deg AS deg_b,
         |  (da.deg + db.deg - common)::BIGINT AS union_size
         |FROM common JOIN deg da ON da.node = a JOIN deg db ON db.node = b
         |ORDER BY CAST(common AS DOUBLE) / CAST(da.deg + db.deg - common AS DOUBLE) DESC, a, b
         |LIMIT 100""".stripMargin)
}
