package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Triples.{sqlCte => T, NS}

/** SPARQL-class query operators over the triple store (SURVEY §2.A) —
  * the reference's `data-publishing/factgrid/queries` (.rq files) +
  * `apps/{companions,compare-factgrid-wikidata}` capability surface,
  * re-expressed as Catalyst plans over the `Triples.statements` view.
  *
  * The SPARQL mental model maps 1:1 onto DataFrame ops:
  *   - triple pattern        → filter on `p` (+ `o_*`) over statements
  *   - BGP (pattern join)    → equi-join of patterns on shared vars
  *   - OPTIONAL              → left outer join
  *   - UNION                 → unionAll
  *   - FILTER / BIND         → filter / withColumn
  *   - property path `p*`    → iterative fixpoint (frontier BFS)
  *   - label service         → broadcast join against the label dim
  *
  * Scale notes (100 TB): every pattern filters `p` BEFORE joining — at
  * production the statements table is partitioned/bucketed by `p` then
  * `s`, so a pattern is a pruned scan, and pattern-joins shuffle only
  * the pattern subsets (never the whole store). The label dimension and
  * seed sets are broadcast. Fixpoint loops keep a sparse frontier
  * (anti-join visited) and run in [[graft.util.Fixpoint]].
  */
object KGQueries {

  private def pat(st: DataFrame, p: String): DataFrame = st.filter(col("p") === p)

  /** kg_triples — the RML-style melt itself (full statements dump). */
  def kgTriples(spark: SparkSession, dir: String): DataFrame =
    Triples.statements(spark, dir)

  /** kg_bgp_join — BGP: customers in ASIA with segment BUILDING.
    * SPARQL: ?c in_nation ?n . ?n in_region ?r . ?r label "ASIA" .
    *         ?c mktsegment "BUILDING" . ?c label ?name          */
  def kgBgpJoin(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val asiaRegion = pat(st, "label").filter(col("o_val") === "ASIA")
      .filter(col("s") >= lit(Triples.REGION * NS) && col("s") < lit((Triples.REGION + 1) * NS))
      .select(col("s").as("r"))
    val nInR = pat(st, "in_region").select(col("s").as("n"), col("o_id").as("r"))
    val cInN = pat(st, "in_nation").select(col("s").as("c"), col("o_id").as("n"))
      .filter(col("c") >= lit(Triples.CUSTOMER * NS) && col("c") < lit((Triples.CUSTOMER + 1) * NS))
    val cSeg = pat(st, "mktsegment").filter(col("o_val") === "BUILDING").select(col("s").as("c"))
    val cName = pat(st, "label").select(col("s").as("c"), col("o_val").as("name"))
    // region + nation patterns are tiny → broadcast into the fact side.
    cInN.join(broadcast(nInR.join(broadcast(asiaRegion), "r")), "n")
      .join(cSeg, "c")
      .join(cName, "c")
      .select(col("c"), col("name"))
  }

  /** kg_optional — OPTIONAL: every customer, with their orders if any. */
  def kgOptional(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val cust = pat(st, "label")
      .filter(col("s") >= lit(Triples.CUSTOMER * NS) && col("s") < lit((Triples.CUSTOMER + 1) * NS))
      .select(col("s").as("c"), col("o_val").as("name"))
    val placed = pat(st, "placed_by").select(col("s").as("o"), col("o_id").as("c"))
    cust.join(placed, Seq("c"), "left_outer").select(col("c"), col("name"), col("o"))
  }

  /** kg_union — UNION of two patterns: all entities located in a nation,
    * tagged by which pattern matched (customer vs supplier branch). */
  def kgUnion(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val inN = pat(st, "in_nation")
    val c = inN.filter(col("s") >= lit(Triples.CUSTOMER * NS) && col("s") < lit((Triples.CUSTOMER + 1) * NS))
      .select(lit("customer").as("kind"), col("s").as("x"), col("o_id").as("n"))
    val s = inN.filter(col("s") >= lit(Triples.SUPPLIER * NS) && col("s") < lit((Triples.SUPPLIER + 1) * NS))
      .select(lit("supplier").as("kind"), col("s").as("x"), col("o_id").as("n"))
    c.unionAll(s)
  }

  /** kg_filter_bind — FILTER(len > 10) + BIND(upper(label), strlen). */
  def kgFilterBind(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    pat(st, "label")
      .filter(col("s") >= lit(Triples.PART * NS) && col("s") < lit((Triples.PART + 1) * NS))
      .filter(length(col("o_val")) > 10)
      .select(col("s"), col("o_val").as("label"),
        upper(col("o_val")).as("label_upper"), length(col("o_val")).as("label_len"))
  }

  /** kg_property_path — `(in_nation|in_region)+` transitive closure:
    * all (entity, transitively-containing place) pairs, via the
    * semi-naive [[TripleStore.closure]] (the Spark shape of SPARQL path
    * closure). */
  def kgPropertyPath(spark: SparkSession, dir: String): DataFrame =
    TripleStore(spark, Triples.statements(spark, dir)).closure(Seq("in_nation", "in_region"))

  /** kg_minus — SPARQL MINUS / FILTER NOT EXISTS: customers located in
    * a nation, minus those whose market segment is BUILDING — the
    * reference's exclusion form (apps/companions/queries.R:124,
    * companions_and_relations.rq:122 `MINUS { ?p fgt:P131 fg:Q400012 }`)
    * as a left-anti join on the shared variable. Scale: anti-join
    * shuffles both pattern subsets on s once; no hint, so AQE
    * broadcasts the (usually small) excluded side when it fits. */
  def kgMinus(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val inN = pat(st, "in_nation")
      .filter(col("s") >= lit(Triples.CUSTOMER * NS) && col("s") < lit((Triples.CUSTOMER + 1) * NS))
      .select(col("s").as("c"), col("o_id").as("n"))
    val excluded = pat(st, "mktsegment").filter(col("o_val") === "BUILDING")
      .select(col("s").as("c"))
    inN.join(excluded, Seq("c"), "left_anti")
  }

  /** kg_minus_regex — MINUS with a regex predicate on the excluded
    * pattern: customers located in a nation, minus those whose label
    * matches an exclusion alternation — the reference's
    * `MINUS {FILTER(REGEX(STR(?value), "Stefan_Zweig|Therese…"))}`
    * (apps/companions/queries.R:124,150,166; data-publishing/factgrid/
    * queries/companions_and_relations.rq:122) via
    * [[TripleStore.minusWhere]]. The regex runs as a codegen'd rlike
    * on the label pattern BEFORE the left-anti join, so only matching
    * labels shuffle; both Spark rlike and the DuckDB oracle's
    * regexp_matches are unanchored searches with common alternation
    * syntax. */
  def kgMinusRegex(spark: SparkSession, dir: String): DataFrame = {
    val store = TripleStore(spark, Triples.statements(spark, dir))
    val inN = store.pattern("in_nation")
      .filter(col("s") >= lit(Triples.CUSTOMER * NS) && col("s") < lit((Triples.CUSTOMER + 1) * NS))
      .select(col("s").as("c"), col("o_id").as("n"))
    val labels = store.pattern("label").select(col("s").as("c"), col("o_val"))
    store.minusWhere(inN, labels, Seq("c"), col("o_val").rlike("(0|5)7$"))
  }

  /** kg_seq_path — sequence property path `p/q*`: one `in_nation` step
    * then zero-or-more `in_region` steps — the composition form the
    * reference actually writes (companions_and_relations.rq:59
    * `?value (fgt:P2/fgt:P3*) fg:Q12`). Delegates to
    * [[TripleStore.path]] (seeded semi-naive fixpoint). */
  def kgSeqPath(spark: SparkSession, dir: String): DataFrame =
    TripleStore(spark, Triples.statements(spark, dir))
      .path("in_nation", Seq("in_region"))

  /** kg_label_lang — label service with language fallback: each
    * customer's display label prefers German and falls back to English
    * (the reference label service's `[AUTO_LANGUAGE]` + FILTER(LANG)
    * semantics, companions_and_relations.rq:33). One window over the
    * per-id label set ordered by language priority. */
  def kgLabelLang(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val labels = pat(st, "label")
      .filter(col("s") >= lit(Triples.CUSTOMER * NS) && col("s") < lit((Triples.CUSTOMER + 1) * NS))
      .select(col("s").as("c"), col("o_val").as("label"), col("lang"))
    val w = Window.partitionBy(col("c"))
      .orderBy(when(col("lang") === "de", 0).otherwise(1), col("lang"))
    labels.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("c"), col("label"), col("lang"))
  }

  /** kg_label_join — label service: resolve placed_by edges to labels
    * (SPARQL label service shape). The label set is one row per
    * labeled entity — it GROWS with the graph, so it carries no
    * broadcast hint: AQE broadcasts it while it fits the threshold and
    * degrades to a shuffle join (not a driver OOM) at scale. The
    * production answer for a hot label service is the co-bucketed
    * label layout ([[graft.util.Scale.writeBucketed]], plan-asserted
    * zero-exchange in ScaleSpec). */
  def kgLabelJoin(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val labels = pat(st, "label").select(col("s").as("id"), col("o_val").as("lbl"))
    val placed = pat(st, "placed_by").select(col("s").as("o"), col("o_id").as("c"))
    placed.join(labels, col("c") === col("id"))
      .select(col("o").as("order_id"), col("c").as("customer_id"), col("lbl").as("customer_label"))
  }

  /** kg_khop — 2-hop neighborhood of the ASIA region node over the
    * undirected entity graph, with hop distance (min). Frontier BFS:
    * visited is anti-joined out so each hop only expands new nodes.
    *
    * Edge materialization: the full undirected edge frame is
    * checkpointed once, hash-partitioned on the hop join key `a` — the
    * memoized [[GraphMetrics.statementEdges]] frame, built once per
    * (session, dir) from this call's statements frame `st`, so a cold
    * call derives the statements once. Every hop then costs a frontier
    * join against checkpoint blocks that exchanges only the frontier
    * side, instead of re-deriving the statements from the base tables.
    * At scale, recurring expansions should read a bucketed-by-`a` edge
    * layout ([[graft.util.Scale.writeBucketed]], plan-asserted in
    * ScaleSpec) instead of materializing the graph per query.
    *
    * Delegates to [[TripleStore.khop]] so the hop loop lives in
    * exactly one place. */
  def kgKhop(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val seeds = pat(st, "label").filter(col("o_val") === "ASIA")
      .filter(col("s") >= lit(Triples.REGION * NS) && col("s") < lit((Triples.REGION + 1) * NS))
      .select(col("s").as("node"))
    // the undirected edge frame is the MEMOIZED pre-partitioned
    // checkpoint (GraphMetrics.statementEdges) — rebuilt per
    // invocation it was the query's dominant repeated cost
    TripleStore(spark, st).khop(seeds, k = 2,
      prebuilt = Some(GraphMetrics.statementEdges(spark, dir, st)))
  }

  /** kg_cooccur — companions network (apps/companions): part pairs
    * co-occurring in the same order, weighted by number of shared
    * orders. Pairs are generated per-order (bounded fan-out), never as
    * a global cross join. */
  def kgCooccur(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val hp = pat(st, "has_part").select(col("s").as("o"), col("o_id").as("part"))
    val a = hp.withColumnRenamed("part", "p1")
    val b = hp.withColumnRenamed("part", "p2")
    a.join(b, Seq("o")).filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= 2)
  }

  /** kg_describe — SPARQL DESCRIBE-class: every statement a seed
    * entity participates in, as subject OR object (the "show me
    * everything about X" entity card). Seeds = the ASIA region and its
    * nations — a QUERY-sized set like SPARQL VALUES, so the ids are
    * collected to the driver (two pruned pattern scans, a handful of
    * rows) and the card is ONE statements pass with a codegen'd
    * `isin` OR-predicate: each statement emitted exactly once, no
    * join, no dedup. The first cut instead ran two broadcast
    * semi-joins + an anti-join whose shared seed SUB-PLAN re-executed
    * under every branch — ~8 statement scans, 18.5 s warm at sf0.1 vs
    * 2.1 s for this shape. For a DATA-sized description set (not
    * DESCRIBE's contract) the semi-join form with a checkpointed seed
    * frame is the fallback. */
  def kgDescribe(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val asiaIds = pat(st, "label").filter(col("o_val") === "ASIA")
      .filter(col("s") >= lit(Triples.REGION * NS) && col("s") < lit((Triples.REGION + 1) * NS))
      .select(col("s")).collect().map(_.getLong(0))
    val nationIds = pat(st, "in_region").filter(col("o_id").isin(asiaIds: _*))
      .select(col("s")).collect().map(_.getLong(0))
    TripleStore(spark, st).describe((asiaIds ++ nationIds).toSeq)
  }

  /** kg_ask — SPARQL ASK: does the pattern match at all? (BUILDING
    * customers located in ASIA — kg_bgp_join's pattern as a boolean.)
    * Spark shape: the BGP plan capped by a global aggregate; the
    * count is emitted beside the boolean so the oracle checks more
    * than a constant. At scale ASK short-circuits further: wrap the
    * pattern in `.limit(1)` when only existence matters — the full
    * count is kept here to keep the oracle informative. */
  def kgAsk(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val asiaRegion = pat(st, "label").filter(col("o_val") === "ASIA")
      .filter(col("s") >= lit(Triples.REGION * NS) && col("s") < lit((Triples.REGION + 1) * NS))
      .select(col("s").as("r"))
    val nInR = pat(st, "in_region").select(col("s").as("n"), col("o_id").as("r"))
    val cInN = pat(st, "in_nation").select(col("s").as("c"), col("o_id").as("n"))
      .filter(col("c") >= lit(Triples.CUSTOMER * NS) && col("c") < lit((Triples.CUSTOMER + 1) * NS))
    val cSeg = pat(st, "mktsegment").filter(col("o_val") === "BUILDING").select(col("s").as("c"))
    cInN.join(broadcast(nInR.join(broadcast(asiaRegion), "r")), "n")
      .join(cSeg, "c")
      .agg(count(lit(1)).as("n_matches"))
      .select(col("n_matches"), (col("n_matches") > 0).as("ask"))
  }

  /** kg_construct — SPARQL CONSTRUCT-class: derive NEW statements from
    * a graph pattern and emit them in statement shape (s, p, o_id) —
    * here the inferred `in_region` edge for every customer and
    * supplier, composed from their `in_nation` edge and the nation's
    * `in_region` edge (the rule-materialization step of KG curation;
    * the output unions straight back into a statements table). The
    * nation→region map is bounded (a dimension), so the compose join
    * broadcasts it; one pruned pattern scan each side, no shuffle on
    * the entity side. */
  def kgConstruct(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val nInR = pat(st, "in_region").select(col("s").as("n"), col("o_id").as("r"))
    pat(st, "in_nation")
      .select(col("s"), col("o_id").as("n"))
      .join(broadcast(nInR), "n")
      .select(col("s"), lit("in_region").as("p"), col("r").as("o_id"))
  }

  /** kg_shortest_path — min hop distance from the ASIA region node to
    * EVERY reachable entity over the undirected graph (the
    * how-closely-related question the reference's network views
    * answer): BFS run to exhaustion instead of kg_khop's fixed two
    * hops. The test graph's eccentricity from ASIA is 7 at every
    * shipped SF (region → nation → customer/supplier → order → part →
    * order → … chains), and the topology — not the data volume —
    * bounds it, so the oracle's recursion cap of 11 carries
    * comfortable margin.
    *
    * Engine choice, measured at sf0.1: eccentricity-many rounds make
    * this the deep-iteration case — Pregel BFS 5.8 s warm vs a
    * DataFrame frontier fixpoint 11.9 s (even with the edge set
    * checkpointed pre-partitioned on the join key), because a
    * superstep is one message shuffle while a fixpoint hop is join +
    * distinct + anti-join + checkpoint + count. The Pregel engine
    * ([[Graphs.distancesMemo]]) serves the query; the DataFrame twin
    * was deleted. Same crossover logic as kg_pagerank (iterations
    * favor Pregel) vs er_connected_components (few rounds favor
    * DataFrame). */
  def kgShortestPath(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    val seeds = pat(st, "label").filter(col("o_val") === "ASIA")
      .filter(col("s") >= lit(Triples.REGION * NS) && col("s") < lit((Triples.REGION + 1) * NS))
      .select(col("s").as("node"))
    Graphs.distancesMemo(spark, dir, seeds)
  }

  /** kg_group_concat — SPARQL GROUP_CONCAT aggregation: per customer,
    * the sorted comma-joined list of their order ids plus the order
    * count. Deterministic at any parallelism: the per-group list is
    * array_sort'ed before joining (= GROUP_CONCAT with ORDER BY — the
    * only GROUP_CONCAT shape that hash-checks on a distributed
    * engine). Scale: one shuffle on customer; per-group state is that
    * customer's orders, never the graph. */
  def kgGroupConcat(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    pat(st, "placed_by")
      .select(col("o_id").as("c"), col("s").as("o"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_orders"),
        expr("array_join(transform(array_sort(collect_list(o)), x -> CAST(x AS STRING)), ',')")
          .as("orders_concat"))
  }

  /** kg_triangles — triangle census of the co-occurrence network
    * (node = part, edge = co-occurs in ≥ 2 orders, from [[kgCooccur]]):
    * per-node triangle participation counts, the clustering signal of
    * the companions analysis. The `p1 < p2` edge orientation makes
    * each triangle (a<b<c) match exactly once in the three-way join.
    * Scale: the classic two-path + closing-edge equi-join plan — pair
    * volume is Σ deg²(node) on the FILTERED (weight ≥ 2) edge set,
    * and the standard degree-ordered orientation (low-degree node
    * first) is exactly what `p1 < p2` approximates on this id-assigned
    * graph; no global cross join anywhere. */
  /** Per-node triangle participation census over a CHECKPOINTED
    * `(p1 < p2)`-oriented edge frame — the two-path + closing-edge
    * equi-join plan, shared by [[kgTriangles]] and
    * [[GraphMetrics.kgClusteringCoeff]] (one algorithm, one place). */
  private[kg] def triangleCensus(e: DataFrame): DataFrame = {
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.p2") === col("e2.p1"))
      .join(e.as("e3"),
        col("e3.p1") === col("e1.p1") && col("e3.p2") === col("e2.p2"))
      .select(col("e1.p1").as("a"), col("e1.p2").as("b"), col("e2.p2").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  def kgTriangles(spark: SparkSession, dir: String): DataFrame = {
    // the edge set feeds all three join legs — read the MEMOIZED
    // co-occurrence edge checkpoint (GraphMetrics.edges, shared with
    // communities/kcore/random_walk/...) instead of materializing a
    // private copy of the same join + groupBy per invocation; the memo
    // is pinned, freed only by the reset hook
    val e = GraphMetrics.edges(spark, dir)
    triangleCensus(e)
      .transform(graft.util.Checkpoints.compact(_, eager = true)) // node census only — small
  }

  /** Graph B for diff/upsert: a deterministic "stale remote copy" of
    * the mktsegment sub-graph — some statements missing (%7), some
    * conflicting (%10 → LEGACY), some extra ids A has never seen (%13,
    * offset key). Mirrors apps/compare-factgrid-wikidata. */
  private def graphB(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") % 7 =!= 0)
      .select(
        Triples.id(Triples.CUSTOMER, col("c_custkey")).as("s"),
        when(col("c_custkey") % 10 === 0, lit("LEGACY")).otherwise(col("c_mktsegment")).as("o_val"))
      .unionAll(
        Tables.customer(spark, dir).filter(col("c_custkey") % 13 === 0)
          .select((Triples.id(Triples.CUSTOMER, col("c_custkey")) + lit(500000000L)).as("s"),
            col("c_mktsegment").as("o_val")))

  private val graphBSql: String =
    s"""(SELECT ${Triples.idSql(Triples.CUSTOMER, "c_custkey")} AS s,
       |  CASE WHEN c_custkey % 10 = 0 THEN 'LEGACY' ELSE c_mktsegment END AS o_val
       | FROM customer WHERE c_custkey % 7 <> 0
       | UNION ALL
       | SELECT ${Triples.idSql(Triples.CUSTOMER, "c_custkey")} + 500000000 AS s, c_mktsegment AS o_val
       | FROM customer WHERE c_custkey % 13 = 0)""".stripMargin

  private def graphA(spark: SparkSession, dir: String): DataFrame =
    pat(Triples.statements(spark, dir), "mktsegment").select(col("s"), col("o_val"))

  /** kg_graph_diff — federated compare of two graphs on subject key:
    * classify every statement as match / conflict / missing on either
    * side (full outer join — both sides shuffle on s once). */
  def kgGraphDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = graphA(spark, dir).withColumnRenamed("o_val", "a_val")
    val b = graphB(spark, dir).withColumnRenamed("o_val", "b_val")
    a.join(b, Seq("s"), "full_outer")
      .select(col("s"), col("a_val"), col("b_val"),
        when(col("b_val").isNull, "missing_in_b")
          .when(col("a_val").isNull, "missing_in_a")
          .when(col("a_val") === col("b_val"), "match")
          .otherwise("conflict").as("status"))
  }

  /** kg_upsert — publishing merge: A's statements win; B rows whose
    * subject A doesn't know are carried over (anti-join + union). */
  def kgUpsert(spark: SparkSession, dir: String): DataFrame = {
    val a = graphA(spark, dir)
    val b = graphB(spark, dir)
    a.select(col("s"), col("o_val"), lit("upserted").as("src"))
      .unionAll(
        b.join(a.select("s"), Seq("s"), "left_anti")
          .select(col("s"), col("o_val"), lit("carried").as("src")))
  }

  /** kg_validate — "Remove NA": drop literal statements whose value is
    * NULL/''/'NA' and edges whose target id doesn't exist (dangling
    * ref), on a deterministically-corrupted raw feed; report per
    * predicate. Scale: the entity-id universe is FACT-sized (it
    * includes every order id), so it is never hinted broadcast — the
    * plan is a plain outer equi-join on o_id that AQE may broadcast at
    * test SF and shuffles (or runs co-bucketed) at fact scale. */
  def kgValidate(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    // deterministic corruption: null/NA some mktsegments, dangle some placed_by
    val raw = st.select(col("s"), col("p"),
      when(col("p") === "placed_by" && col("s") % 17 === 0, col("o_id") + lit(900000000L))
        .otherwise(col("o_id")).as("o_id"),
      when(col("p") === "mktsegment" && col("s") % 11 === 0, lit(null).cast("string"))
        .when(col("p") === "mktsegment" && col("s") % 13 === 0, lit("NA"))
        .otherwise(col("o_val")).as("o_val"))
    val ids = Triples.entityIds(spark, dir).distinct()
    // ONE pass over the statements union: a null o_id never matches
    // the join key, so literal rows flow through the left join
    // unmatched and the validity rule dispatches on o_id — splitting
    // into a literal side and an edge side would build the (17-branch)
    // statements union twice for the same rows
    raw.join(ids, col("o_id") === col("id"), "left_outer")
      .withColumn("valid",
        when(col("o_id").isNull,
          col("o_val").isNotNull && col("o_val") =!= "" && col("o_val") =!= "NA")
          .otherwise(col("id").isNotNull))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"))
  }

  /** kg_degree — per-entity degree over the entity graph (in+out; the
    * reference's network degree structure): one explode of each edge
    * into its two ends + one map-side-partial groupBy. Engine choice,
    * measured at sf0.1: a degree count has no iteration, so the
    * DataFrame aggregate (2.8 s warm, the statements scan dominating)
    * beats building a GraphX graph for `g.degrees` (4.2 s — RDD
    * conversion + graph cache paid for one pass), so the GraphX
    * wrapper was deleted; KGSpec still checks this aggregate against
    * GraphX's own `g.degrees`. Same crossover rule as everywhere:
    * Pregel for iteration (pagerank, BFS), Catalyst for one-pass
    * aggregates. */
  def kgDegree(spark: SparkSession, dir: String): DataFrame = {
    val st = Triples.statements(spark, dir)
    st.filter(col("o_id").isNotNull)
      .select(explode(array(col("s"), col("o_id"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** kg_pagerank — PageRank over the entity graph, fixed 10
    * iterations, round-12 [R]→[O] conversion: INTEGER fixed-point
    * arithmetic ([[Graphs.integerPageRankMemo]], rank 1.0 = 10¹²)
    * makes every per-vertex accumulation an Int64 sum — exactly
    * associative/commutative, so the result is bit-identical under
    * any shuffle partitioning and DuckDB replays the ten iterations
    * as unrolled HUGEINT CTEs under the hash gate.
    *
    * History: rounds ≤11 ran GraphX float `staticPageRank` and stayed
    * [R] — per-vertex rank was an IEEE sum over unbounded hub
    * in-degree, order-dependent by construction; forcing an order
    * would mean collecting hub-in-degree arrays per row, the banned
    * anti-pattern. The fixed-point engine sidesteps IEEE instead of
    * ordering it: the only quantization is one floor-division per
    * edge contribution (≤ 10⁻¹² each), spec-bounded at 1e-6 against
    * GraphX's own unnormalized float `PageRank.runWithOptions`
    * (GraphsSpec). Engine shape is unchanged — the same GraphX
    * aggregateMessages loop over the MEMOIZED statements graph
    * (iterations favor Pregel: 13 s vs 23 s DataFrame at sf0.1,
    * SURVEY §5; the GraphX float wrappers and the DataFrame PageRank
    * were deleted), with per-step edge materialization mirroring
    * PageRank.runWithOptions' unpersist cadence. Contract change vs
    * GraphX: ranks are UNNORMALIZED (the final mass correction is a
    * global float division — reintroducing it would re-break
    * determinism); the hub filter is the exact integer
    * rank_scaled > 10¹². */
  def kgPagerank(spark: SparkSession, dir: String): DataFrame =
    Graphs.integerPageRankMemo(spark, dir, numIter = 10)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_degree"        -> (kgDegree _),
    "kg_pagerank"      -> (kgPagerank _),
    "kg_triples"       -> (kgTriples _),
    "kg_bgp_join"      -> (kgBgpJoin _),
    "kg_optional"      -> (kgOptional _),
    "kg_union"         -> (kgUnion _),
    "kg_filter_bind"   -> (kgFilterBind _),
    "kg_property_path" -> (kgPropertyPath _),
    "kg_label_join"    -> (kgLabelJoin _),
    "kg_khop"          -> (kgKhop _),
    "kg_cooccur"       -> (kgCooccur _),
    "kg_graph_diff"    -> (kgGraphDiff _),
    "kg_upsert"        -> (kgUpsert _),
    "kg_validate"      -> (kgValidate _),
    "kg_minus"         -> (kgMinus _),
    "kg_minus_regex"   -> (kgMinusRegex _),
    "kg_seq_path"      -> (kgSeqPath _),
    "kg_label_lang"    -> (kgLabelLang _),
    "kg_shortest_path" -> (kgShortestPath _),
    "kg_group_concat"  -> (kgGroupConcat _),
    "kg_triangles"     -> (kgTriangles _),
    "kg_describe"      -> (kgDescribe _),
    "kg_construct"     -> (kgConstruct _),
    "kg_ask"           -> (kgAsk _))

  private val R0 = Triples.REGION * NS; private val R1 = (Triples.REGION + 1) * NS
  private val C0 = Triples.CUSTOMER * NS; private val C1 = (Triples.CUSTOMER + 1) * NS
  private val S0 = Triples.SUPPLIER * NS; private val S1 = (Triples.SUPPLIER + 1) * NS
  private val P0 = Triples.PART * NS; private val P1 = (Triples.PART + 1) * NS

  /** kg_pagerank oracle — the ten integer fixed-point iterations
    * UNROLLED (the kg_random_walk pattern), all arithmetic in
    * HUGEINT: per iteration, message m(dst) = Σ rk(src) // deg(src)
    * (floor division + exact integer sum = order-independent), then
    * rk' = 3S/20 + 17·(m÷20) + (17·(m mod 20))÷20 — the Int64-safe
    * decomposition of floor(17m/20) the engine uses
    * ([[Graphs.integerPageRankMemo]]). e/deg/v and the per-iteration
    * frames are MATERIALIZED so the 10-deep chain is evaluated once
    * per level, never re-inlined. */
  private val pagerankSql: String = {
    val S = Graphs.PrScale
    val iters = (1 to 10).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT e.dst AS id, SUM(r${k - 1}.rk // deg.dg) AS m
         |  FROM e JOIN deg ON deg.id = e.src JOIN r${k - 1} ON r${k - 1}.id = e.src
         |  GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT v.id, ${3L * S / 20L} + 17 * (COALESCE(m.m, 0) // 20)
         |       + (17 * (COALESCE(m.m, 0) % 20)) // 20 AS rk
         |  FROM v LEFT JOIN m$k m ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""$T,
       |e AS MATERIALIZED (SELECT s AS src, o_id AS dst FROM triples WHERE o_id IS NOT NULL),
       |deg AS MATERIALIZED (SELECT src AS id, count(*) AS dg FROM e GROUP BY 1),
       |v AS MATERIALIZED (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |r0 AS (SELECT id, CAST($S AS HUGEINT) AS rk FROM v),
       |$iters
       |SELECT id, CAST(rk AS BIGINT) AS rank_scaled, CAST(rk AS DOUBLE) / 1e12 AS rank
       |FROM r10 WHERE rk > $S""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "kg_pagerank" -> pagerankSql,
    "kg_degree" ->
      s"""$T, ends AS (
         |  SELECT s AS id FROM triples WHERE o_id IS NOT NULL
         |  UNION ALL SELECT o_id FROM triples WHERE o_id IS NOT NULL)
         |SELECT id, count(*) AS degree FROM ends GROUP BY id""".stripMargin,
    "kg_triples" -> s"$T SELECT s, p, o_id, o_val, lang FROM triples",
    "kg_minus" ->
      s"""$T
         |SELECT s AS c, o_id AS n FROM triples t
         |WHERE p='in_nation' AND s BETWEEN $C0 AND ${C1 - 1}
         |  AND NOT EXISTS (SELECT 1 FROM triples x
         |                  WHERE x.p='mktsegment' AND x.o_val='BUILDING' AND x.s = t.s)""".stripMargin,
    "kg_minus_regex" ->
      s"""$T
         |SELECT s AS c, o_id AS n FROM triples t
         |WHERE p='in_nation' AND s BETWEEN $C0 AND ${C1 - 1}
         |  AND NOT EXISTS (SELECT 1 FROM triples x
         |                  WHERE x.p='label' AND regexp_matches(x.o_val, '(0|5)7${"$"}')
         |                    AND x.s = t.s)""".stripMargin,
    "kg_seq_path" ->
      s"""$T, step AS (SELECT s AS a, o_id AS b FROM triples WHERE p='in_nation'),
         |e AS (SELECT s AS a, o_id AS b FROM triples WHERE p='in_region')
         |SELECT DISTINCT a AS s, b AS reach FROM (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM step
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN e ON e.a = r.b)
         |  SELECT a, b FROM r)""".stripMargin,
    "kg_label_lang" ->
      s"""$T
         |SELECT c, label, lang FROM (
         |  SELECT s AS c, o_val AS label, lang,
         |    row_number() OVER (PARTITION BY s
         |      ORDER BY CASE WHEN lang='de' THEN 0 ELSE 1 END, lang) AS rk
         |  FROM triples WHERE p='label' AND s BETWEEN $C0 AND ${C1 - 1})
         |WHERE rk = 1""".stripMargin,
    "kg_bgp_join" ->
      s"""$T
         |SELECT c.s AS c, nm.o_val AS name
         |FROM (SELECT s FROM triples WHERE p='label' AND o_val='ASIA' AND s BETWEEN $R0 AND ${R1 - 1}) r
         |JOIN (SELECT s, o_id FROM triples WHERE p='in_region') nr ON nr.o_id = r.s
         |JOIN (SELECT s, o_id FROM triples WHERE p='in_nation' AND s BETWEEN $C0 AND ${C1 - 1}) c ON c.o_id = nr.s
         |JOIN (SELECT s FROM triples WHERE p='mktsegment' AND o_val='BUILDING') seg ON seg.s = c.s
         |JOIN (SELECT s, o_val FROM triples WHERE p='label') nm ON nm.s = c.s""".stripMargin,
    "kg_optional" ->
      s"""$T
         |SELECT c.s AS c, c.o_val AS name, o.s AS o
         |FROM (SELECT s, o_val FROM triples WHERE p='label' AND s BETWEEN $C0 AND ${C1 - 1}) c
         |LEFT JOIN (SELECT s, o_id FROM triples WHERE p='placed_by') o ON o.o_id = c.s""".stripMargin,
    "kg_union" ->
      s"""$T
         |SELECT 'customer' AS kind, s AS x, o_id AS n FROM triples
         |WHERE p='in_nation' AND s BETWEEN $C0 AND ${C1 - 1}
         |UNION ALL
         |SELECT 'supplier' AS kind, s AS x, o_id AS n FROM triples
         |WHERE p='in_nation' AND s BETWEEN $S0 AND ${S1 - 1}""".stripMargin,
    "kg_filter_bind" ->
      s"""$T
         |SELECT s, o_val AS label, upper(o_val) AS label_upper, CAST(length(o_val) AS INTEGER) AS label_len
         |FROM triples WHERE p='label' AND s BETWEEN $P0 AND ${P1 - 1} AND length(o_val) > 10""".stripMargin,
    "kg_property_path" ->
      s"""$T, e AS (SELECT s AS a, o_id AS b FROM triples WHERE p IN ('in_nation','in_region'))
         |SELECT DISTINCT s, reach FROM (
         |  WITH RECURSIVE r(s, reach) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.s, e.b FROM r JOIN e ON e.a = r.reach)
         |  SELECT s, reach FROM r)""".stripMargin,
    "kg_label_join" ->
      s"""$T
         |SELECT pb.s AS order_id, pb.o_id AS customer_id, l.o_val AS customer_label
         |FROM (SELECT s, o_id FROM triples WHERE p='placed_by') pb
         |JOIN (SELECT s, o_val FROM triples WHERE p='label') l ON l.s = pb.o_id""".stripMargin,
    "kg_ask" ->
      s"""$T
         |SELECT count(*) AS n_matches, count(*) > 0 AS ask
         |FROM (SELECT s FROM triples WHERE p='label' AND o_val='ASIA' AND s BETWEEN $R0 AND ${R1 - 1}) r
         |JOIN (SELECT s, o_id FROM triples WHERE p='in_region') nr ON nr.o_id = r.s
         |JOIN (SELECT s, o_id FROM triples WHERE p='in_nation' AND s BETWEEN $C0 AND ${C1 - 1}) c ON c.o_id = nr.s
         |JOIN (SELECT s FROM triples WHERE p='mktsegment' AND o_val='BUILDING') seg ON seg.s = c.s""".stripMargin,
    "kg_construct" ->
      s"""$T
         |SELECT cn.s, 'in_region' AS p, nr.o_id
         |FROM (SELECT s, o_id FROM triples WHERE p='in_nation') cn
         |JOIN (SELECT s, o_id FROM triples WHERE p='in_region') nr ON nr.s = cn.o_id""".stripMargin,
    "kg_describe" ->
      s"""$T, asia AS (SELECT s AS node FROM triples
         |             WHERE p='label' AND o_val='ASIA' AND s BETWEEN $R0 AND ${R1 - 1}),
         |nations AS (SELECT s AS node FROM triples
         |            WHERE p='in_region' AND o_id IN (SELECT node FROM asia)),
         |seeds AS (SELECT node FROM asia UNION ALL SELECT node FROM nations)
         |SELECT s, p, o_id, o_val, lang FROM triples
         |WHERE s IN (SELECT node FROM seeds)
         |UNION ALL
         |SELECT s, p, o_id, o_val, lang FROM triples
         |WHERE o_id IN (SELECT node FROM seeds)
         |  AND s NOT IN (SELECT node FROM seeds)""".stripMargin,
    "kg_shortest_path" ->
      // the recursion cap (dist < 11) only bounds cycle re-expansion:
      // measured eccentricity from ASIA is 7 at every shipped SF and
      // is topology-bound (see kgShortestPath doc), so min(dist) per
      // node is exact
      s"""$T, e AS (
         |  SELECT s AS a, o_id AS b FROM triples WHERE o_id IS NOT NULL
         |  UNION ALL SELECT o_id, s FROM triples WHERE o_id IS NOT NULL),
         |seeds AS (SELECT DISTINCT s AS node FROM triples
         |          WHERE p='label' AND o_val='ASIA' AND s BETWEEN $R0 AND ${R1 - 1})
         |SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
         |  WITH RECURSIVE r(node, dist) AS (
         |    SELECT node, 0 FROM seeds
         |    UNION
         |    SELECT e.b, r.dist + 1 FROM r JOIN e ON e.a = r.node WHERE r.dist < 11)
         |  SELECT node, dist FROM r)
         |GROUP BY node""".stripMargin,
    "kg_group_concat" ->
      s"""$T
         |SELECT o_id AS c, count(*) AS n_orders,
         |  string_agg(CAST(s AS VARCHAR), ',' ORDER BY s) AS orders_concat
         |FROM triples WHERE p='placed_by' GROUP BY o_id""".stripMargin,
    "kg_triangles" ->
      s"""$T, hp AS (SELECT s AS o, o_id AS part FROM triples WHERE p='has_part'),
         |e AS (SELECT a.part AS p1, b.part AS p2 FROM hp a JOIN hp b ON a.o = b.o AND a.part < b.part
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |tri AS (
         |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
         |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1 JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
         |ends AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT node, count(*) AS n_triangles FROM ends GROUP BY node""".stripMargin,
    "kg_khop" ->
      s"""$T, e AS (
         |  SELECT s AS a, o_id AS b FROM triples WHERE o_id IS NOT NULL
         |  UNION ALL SELECT o_id, s FROM triples WHERE o_id IS NOT NULL),
         |seeds AS (SELECT s AS node FROM triples WHERE p='label' AND o_val='ASIA' AND s BETWEEN $R0 AND ${R1 - 1}),
         |h1 AS (SELECT DISTINCT e.b AS node FROM seeds JOIN e ON e.a = seeds.node
         |       WHERE e.b NOT IN (SELECT node FROM seeds)),
         |h2 AS (SELECT DISTINCT e.b AS node FROM h1 JOIN e ON e.a = h1.node
         |       WHERE e.b NOT IN (SELECT node FROM seeds) AND e.b NOT IN (SELECT node FROM h1))
         |SELECT node, 0 AS dist FROM seeds
         |UNION ALL SELECT node, 1 FROM h1
         |UNION ALL SELECT node, 2 FROM h2""".stripMargin,
    "kg_cooccur" ->
      s"""$T, hp AS (SELECT s AS o, o_id AS part FROM triples WHERE p='has_part')
         |SELECT a.part AS p1, b.part AS p2, count(*) AS weight
         |FROM hp a JOIN hp b ON a.o = b.o AND a.part < b.part
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "kg_graph_diff" ->
      s"""$T, a AS (SELECT s, o_val AS a_val FROM triples WHERE p='mktsegment'),
         |b AS (SELECT s, o_val AS b_val FROM $graphBSql b0)
         |SELECT coalesce(a.s, b.s) AS s, a_val, b_val,
         |  CASE WHEN b.s IS NULL THEN 'missing_in_b'
         |       WHEN a.s IS NULL THEN 'missing_in_a'
         |       WHEN a_val = b_val THEN 'match' ELSE 'conflict' END AS status
         |FROM a FULL OUTER JOIN b ON a.s = b.s""".stripMargin,
    "kg_upsert" ->
      s"""$T, a AS (SELECT s, o_val FROM triples WHERE p='mktsegment'),
         |b AS (SELECT * FROM $graphBSql b0)
         |SELECT s, o_val, 'upserted' AS src FROM a
         |UNION ALL
         |SELECT s, o_val, 'carried' AS src FROM b WHERE s NOT IN (SELECT s FROM a)""".stripMargin,
    "kg_validate" ->
      s"""$T, raw AS (
         |  SELECT s, p,
         |    CASE WHEN p='placed_by' AND s % 17 = 0 THEN o_id + 900000000 ELSE o_id END AS o_id,
         |    CASE WHEN p='mktsegment' AND s % 11 = 0 THEN NULL
         |         WHEN p='mktsegment' AND s % 13 = 0 THEN 'NA'
         |         ELSE o_val END AS o_val
         |  FROM triples),
         |ids AS (SELECT DISTINCT id FROM ${Triples.entityIdsSql} u)
         |SELECT p, count(*) AS n_total,
         |  CAST(sum(CASE WHEN (o_id IS NULL AND o_val IS NOT NULL AND o_val <> '' AND o_val <> 'NA')
         |            OR (o_id IS NOT NULL AND o_id IN (SELECT id FROM ids))
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
         |FROM raw GROUP BY p""".stripMargin)
}
