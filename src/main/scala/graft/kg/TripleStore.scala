package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Checkpoints, Fixpoint}

/** User-facing query DSL over a statements table — the programmatic
  * face of the SPARQL-class capability (what a reference user writes
  * instead of a .rq file). All methods return lazy DataFrames, so
  * composition stays one Catalyst plan: filters/pruning reach the
  * statement scan and the optimizer sees the whole pipeline.
  *
  * {{{
  * val store = TripleStore(spark, dir)
  * store.pattern("in_nation")                          // one triple pattern
  * store.labeled(store.pattern("in_nation"), "o_id")   // label service
  * store.khop(store.byLabel("ASIA"), k = 2)            // neighborhood
  * store.closure(Seq("in_nation", "in_region"))        // property path +
  * store.describe(Seq(id1, id2))                       // DESCRIBE card
  * }}}
  */
final class TripleStore(val spark: SparkSession, val statements: DataFrame) {

  /** One triple pattern: all statements with predicate `p`. */
  def pattern(p: String): DataFrame = statements.filter(col("p") === p)

  /** Entities of a namespace (id-range pruned, no join). */
  def inNamespace(c: Column, ns: Int): Column =
    c >= lit(ns.toLong * Triples.NS) && c < lit((ns + 1).toLong * Triples.NS)

  /** The id→label relation (one row per labeled entity — grows with
    * the graph; never force-broadcast it). */
  def labels: DataFrame =
    pattern("label").select(col("s").as("id"), col("o_val").as("label"))

  /** Label-service join: resolve `idCol` of `df` to labels. The label
    * frame is aliased and referenced qualified, so `df` may itself
    * carry an `id` column (e.g. labeling a degree table) without
    * ambiguity. No broadcast hint — the label side scales with the
    * graph, so AQE decides (broadcast under the threshold, shuffle
    * above); at scale store labels co-bucketed on id
    * ([[graft.util.Scale.writeBucketed]]) so the join is exchange-free
    * on the label side. */
  def labeled(df: DataFrame, idCol: String): DataFrame = {
    val lbl = labels.alias("_graft_lbl")
    df.join(lbl, df(idCol) === col("_graft_lbl.id"))
      .drop(col("_graft_lbl.id"))
  }

  /** Seed set: entity ids carrying an exact label. */
  def byLabel(label: String): DataFrame =
    pattern("label").filter(col("o_val") === label).select(col("s").as("node"))

  /** SPARQL DESCRIBE: every statement the given entities participate
    * in, as subject or object — one isin-predicated statements pass.
    * `ids` is a QUERY-sized set (like [[values]]); for a data-sized
    * description set use semi-joins against a checkpointed seed frame
    * instead (see [[KGQueries.kgDescribe]] for the measured why). */
  def describe(ids: Seq[Long]): DataFrame =
    statements.filter(col("s").isin(ids: _*) || col("o_id").isin(ids: _*))

  /** Undirected entity edges from all o_id statements. */
  def edges: DataFrame =
    // both directions from one statements pass (explode), not a
    // two-scan union — any consumer that leaves this lazy pays one
    // statements scan per use, never two ([[khop]] checkpoints this
    // frame once, pre-partitioned on `a`, when ≥ 2 hops reuse it)
    statements.filter(col("o_id").isNotNull)
      .select(explode(array(
        struct(col("s").as("a"), col("o_id").as("b")),
        struct(col("o_id").as("a"), col("s").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))

  /** k-hop neighborhood with min hop distance (frontier BFS; the
    * frontier is anti-joined against visited so each hop only expands
    * new nodes — sparse at every step). For k ≥ 2 the full
    * undirected [[edges]] frame is checkpointed once, hash-partitioned
    * on the join key `a`, so no hop re-derives the statements from
    * their source and every hop join exchanges only the frontier side;
    * its blocks are freed once the hops are materialized (see
    * [[KGQueries.kgKhop]] for the measured alternatives). For k ≤ 1
    * the single consumer keeps the edge frame lazy. A caller may pass
    * a prebuilt memo frame instead (the overload below). Recurring
    * expansions at scale should read a bucketed-by-source edge layout
    * instead ([[graft.util.Scale.writeBucketed]]). */
  def khop(seeds: DataFrame, k: Int): DataFrame = khop(seeds, k, None)

  /** [[khop]] with a caller-provided undirected edge frame (a memoized
    * checkpoint — e.g. [[GraphMetrics.statementEdges]]); the frame is
    * memo-owned, so the free below no-ops on it. */
  def khop(seeds: DataFrame, k: Int, prebuilt: Option[DataFrame]): DataFrame = {
    // ≥ 2 hops: materialize the undirected edges PRE-PARTITIONED on
    // the join key `a` (localCheckpoint preserves the hash
    // partitioning), so every hop's join exchanges only the frontier
    // side; one hop keeps the single lazy scan. Measured at sf0.1 on
    // the since-deleted DataFrame BFS-to-exhaustion: the co-partitioned
    // checkpoint removed 7 full-edge exchanges, 14.2 s → 11.9 s warm.
    val e = prebuilt.getOrElse {
      if (k >= 2) edges.repartition(col("a"))
        .transform(graft.util.Checkpoints.compact(_, eager = true))
      else edges
    }
    // the seed frame is itself a statements scan — checkpoint it once
    // (node-set sized) or every hop's anti-join and the final result
    // union re-derive the whole statements sub-plan through it
    var visited = seeds.select(col("node")).distinct().withColumn("dist", lit(0))
      .transform(graft.util.Checkpoints.compact(_, eager = k >= 2))
    var frontier = visited.select("node")
    for (hop <- 1 to k) {
      val next = frontier.join(e, col("node") === col("a"))
        .select(col("b").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .transform(graft.util.Checkpoints.compact(_, eager = true))
      visited = visited.unionAll(next.withColumn("dist", lit(hop)))
      frontier = next
    }
    graft.util.Checkpoints.free(e) // no-op when e stayed lazy
    visited
  }

  /** Transitive closure over a predicate alternation — SPARQL
    * `(p1|p2)+`, via the semi-naive [[TripleStore.fixpoint]]. */
  def closure(preds: Seq[String]): DataFrame =
    TripleStore.fixpoint(
      statements.filter(col("p").isin(preds: _*))
        .select(col("s").as("a"), col("o_id").as("b")))
      .select(col("a").as("s"), col("b").as("reach"))

  /** SPARQL MINUS / FILTER NOT EXISTS: rows of `left` whose `on`
    * columns have no match in `right` (left-anti join — the excluded
    * pattern never contributes columns, exactly MINUS semantics). */
  def minus(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_anti")

  /** MINUS with a predicate on the excluded side — SPARQL
    * `MINUS { ?x ?p ?v FILTER(REGEX(STR(?v), "…")) }` (the reference's
    * companions exclusion form): drop rows of `left` whose `on`
    * columns match any `right` row satisfying `cond`. The predicate is
    * evaluated codegen'd BEFORE the anti-join, so only matching rows
    * of the excluded pattern ever shuffle. */
  def minusWhere(left: DataFrame, right: DataFrame, on: Seq[String], cond: Column): DataFrame =
    left.join(right.filter(cond), on, "left_anti")

  /** Sequence property path `step/closure*`: one step of `step`, then
    * zero-or-more steps over `closurePreds` — SPARQL `p/q*` (e.g. the
    * reference's `fgt:P2/fgt:P3*`). Seeded semi-naive fixpoint: the
    * step pairs are the seed (zero closure steps included), each hop
    * extends only the frontier. */
  def path(step: String, closurePreds: Seq[String]): DataFrame = {
    val first = pattern(step).select(col("s").as("a"), col("o_id").as("b"))
    val e = statements.filter(col("p").isin(closurePreds: _*))
      .select(col("s").as("a"), col("o_id").as("b"))
    TripleStore.fixpoint(e, seed = Some(first))
      .select(col("a").as("s"), col("b").as("reach"))
  }

  /** VALUES-style inline seed set (SPARQL `VALUES ?x { ... }`,
    * network-03-federated.rq:32): a driver-side id list as a
    * broadcastable seed frame for khop/joins. */
  def values(ids: Seq[Long]): DataFrame = {
    val sess = spark
    import sess.implicits._
    ids.toDF("node")
  }

  /** Statement diff against another store's statements for one
    * predicate: match / conflict / missing classification. */
  def diff(other: DataFrame, p: String): DataFrame = {
    val a = pattern(p).select(col("s"), col("o_val").as("a_val"))
    val b = other.select(col("s"), col("o_val").as("b_val"))
    a.join(b, Seq("s"), "full_outer")
      .select(col("s"), col("a_val"), col("b_val"),
        when(col("b_val").isNull, "missing_in_b")
          .when(col("a_val").isNull, "missing_in_a")
          .when(col("a_val") === col("b_val"), "match")
          .otherwise("conflict").as("status"))
  }
}

object TripleStore {

  /** Transitive-closure fixpoint over an edge set `(a, b)`: returns
    * all pairs reachable via 1+ edge steps, optionally restricted to
    * start pairs `seed` (defaults to the edges themselves). Semi-naive
    * ([[graft.util.Fixpoint.grow]]): per hop, only the frontier joins
    * the edge set, and new pairs are deduped with a left-anti join
    * against the materialized closure, never an exceptAll
    * re-aggregation of it. Shared by `closure`, `path` and the SPARQL
    * path steps. */
  private[kg] def fixpoint(edges: DataFrame, seed: Option[DataFrame] = None): DataFrame = {
    val e = edges.distinct().transform(Checkpoints.compact(_, eager = true))
    val hop = (frontier: DataFrame, closure: DataFrame) => frontier
      .join(e.withColumnRenamed("a", "b_").withColumnRenamed("b", "c"), col("b") === col("b_"))
      .select(col("a"), col("c").as("b"))
      .distinct()
      .join(closure, Seq("a", "b"), "left_anti")
    seed match {
      case None => Fixpoint.grow(e)(hop)._1 // the edge set is the seed
      case Some(s) =>
        val (closure, _) = Fixpoint.grow(s.distinct().transform(Checkpoints.compact(_, eager = true)))(hop)
        Checkpoints.free(e)
        closure
    }
  }

  /** Store over the test star schema's RML-lite mapping. */
  def apply(spark: SparkSession, dir: String): TripleStore =
    new TripleStore(spark, Triples.statements(spark, dir))

  /** Store over an arbitrary statements table `(s, p, o_id, o_val)`. */
  def apply(spark: SparkSession, statements: DataFrame): TripleStore =
    new TripleStore(spark, statements)
}
