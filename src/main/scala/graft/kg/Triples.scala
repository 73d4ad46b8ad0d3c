package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** RML-lite declarative mapping of the wide star schema into a triple
  * store `(s, p, o_id | o_val)` — the reference's
  * `data-modeling/create-rdf.py` + `mappings/kg_v1.yml` capability
  * (wide relational rows → RDF statements), re-expressed as a Spark
  * projection+union pipeline.
  *
  * Entity ids are namespaced longs (`ns * 10^12 + key`) so the graph
  * stays on fixed-width integer keys: GraphX `VertexId`-compatible and
  * shuffle-cheap at 100 TB (no string-key exchanges, perfect for
  * bucketed storage on `s`).
  *
  * The SAME mapping spec emits both the Spark plan and the DuckDB
  * oracle SQL (`Triples.sqlCte`), so engine and oracle cannot drift.
  *
  * Scale: the build is a union of per-table projections — no shuffle at
  * all; each branch prunes to exactly the 2–3 source columns it needs
  * (verify via ReadSchema in explain). Edge maps sourced from lineitem
  * use DISTINCT, a map-side-partial aggregate on the (already
  * co-partitioned) key pair.
  */
object Triples {
  val NS: Long = 1000000000000L
  val REGION = 1; val NATION = 2; val CUSTOMER = 3; val SUPPLIER = 4
  val PART = 5; val ORDER = 6

  /** Namespaced entity id as a Column. */
  def id(ns: Int, key: Column): Column = lit(ns.toLong * NS) + key.cast("long")
  /** Namespaced entity id as a SQL fragment (DuckDB). */
  def idSql(ns: Int, key: String): String = s"(${ns.toLong * NS} + CAST($key AS BIGINT))"

  /** `df` projected to statement rows `(s, p, o_id, o_val, lang)`, the
    * schema every statements frame shares: an entity object fills
    * `o_id`, a literal `o_val`, and the side a row leaves out, like a
    * missing language, is a typed NULL. */
  def rows(df: DataFrame, s: Column, p: Column,
      oId: Column = lit(null).cast("long"),
      oVal: Column = lit(null).cast("string"),
      lang: Column = lit(null).cast("string")): DataFrame =
    df.select(s.as("s"), p.as("p"), oId.as("o_id"), oVal.as("o_val"), lang.as("lang"))

  /** One mapping rule: either an entity edge (oNs set) or a literal.
    * Public — [[Mapping]] parses a declarative config document into
    * these, so a reference user ports their RML mapping by editing
    * config, not Scala. */
  final case class Rule(
      table: String, sKey: String, sNs: Int, p: String,
      oCol: String, oNs: Option[Int], distinct: Boolean = false)

  /** The test star schema's built-in mapping (the hard-coded twin of
    * the config [[Mapping]] accepts — MappingSpec proves a config
    * round-trips to exactly these rules). */
  val rules: Seq[Rule] = Seq(
    // ---- entity edges --------------------------------------------------
    Rule("nation",   "n_nationkey", NATION,   "in_region",   "n_regionkey", Some(REGION)),
    Rule("customer", "c_custkey",   CUSTOMER, "in_nation",   "c_nationkey", Some(NATION)),
    Rule("supplier", "s_suppkey",   SUPPLIER, "in_nation",   "s_nationkey", Some(NATION)),
    Rule("orders",   "o_orderkey",  ORDER,    "placed_by",   "o_custkey",   Some(CUSTOMER)),
    Rule("lineitem", "l_orderkey",  ORDER,    "has_part",    "l_partkey",   Some(PART),     distinct = true),
    Rule("lineitem", "l_orderkey",  ORDER,    "supplied_by", "l_suppkey",   Some(SUPPLIER), distinct = true),
    // ---- literals ------------------------------------------------------
    Rule("region",   "r_regionkey", REGION,   "label",      "r_name",         None),
    Rule("nation",   "n_nationkey", NATION,   "label",      "n_name",         None),
    Rule("customer", "c_custkey",   CUSTOMER, "label",      "c_name",         None),
    Rule("customer", "c_custkey",   CUSTOMER, "mktsegment", "c_mktsegment",   None),
    Rule("supplier", "s_suppkey",   SUPPLIER, "label",      "s_name",         None),
    Rule("part",     "p_partkey",   PART,     "label",      "p_name",         None),
    Rule("part",     "p_partkey",   PART,     "brand",      "p_brand",        None),
    Rule("part",     "p_partkey",   PART,     "type",       "p_type",         None),
    Rule("orders",   "o_orderkey",  ORDER,    "status",     "o_orderstatus",  None),
    Rule("orders",   "o_orderkey",  ORDER,    "priority",   "o_orderpriority", None))

  /** Language tag for a rule's literal: base `label` literals are
    * tagged 'en' (the source archive's labels are one language); all
    * other statements carry NULL. A deterministic synthetic German
    * label branch ([[deLabelCol]]/[[deLabelSql]]) gives the label
    * dimension a second language, so the reference's label-service
    * language fallback (`[AUTO_LANGUAGE]`,
    * companions_and_relations.rq:33) is an expressible, testable
    * query (kg_label_lang). */
  private def langOf(r: Rule): Option[String] =
    if (r.oNs.isEmpty && r.p == "label") Some("en") else None

  /** Statements from an explicit rule set — the execution half of the
    * mapping front-end (rules come from [[rules]] or from a parsed
    * [[Mapping]] config). Pure projection+union, one read per distinct
    * table, no shuffle except the DISTINCT branches. */
  def mapped(spark: SparkSession, dir: String, mappingRules: Seq[Rule]): DataFrame =
    mappedFrom(sources(spark, dir, mappingRules), mappingRules)

  /** One [[Tables.load]] per distinct table name: each load lists the
    * source and reads its footer on the driver, so rules over the same
    * table share one frame instead of paying that once per rule. */
  private def sources(spark: SparkSession, dir: String, rs: Seq[Rule]): Map[String, DataFrame] =
    rs.map(_.table).distinct.map(t => t -> Tables.load(spark, dir, t)).toMap

  private def mappedFrom(tables: Map[String, DataFrame], mappingRules: Seq[Rule]): DataFrame = {
    require(mappingRules.nonEmpty, "mapping requires at least one rule")
    mappingRules.map { r =>
      // DISTINCT branches (the lineitem edge maps) fan out of the scan
      // first (Scale.fanScan — no-op when the scan has ≥ core-count
      // splits): on the one-row-group test layout the partial aggregate
      // otherwise runs inside the single scan task — measured 1.8 s
      // serial per branch at sf0.1, the largest fixed cost every
      // statements consumer paid. The narrow (sKey, oCol) projection is
      // what shuffles, and only for distinct rules.
      val src0 = tables(r.table)
      val src =
        if (r.distinct) graft.util.Scale.fanScan(
          src0.select(col(r.sKey), col(r.oCol)), Seq(col(r.sKey), col(r.oCol)))
        else src0
      // langOf is None for entity edges: their lang is the typed NULL
      val row = r.oNs match {
        case Some(ns) => rows(src, id(r.sNs, col(r.sKey)), lit(r.p), oId = id(ns, col(r.oCol)))
        case None => rows(src, id(r.sNs, col(r.sKey)), lit(r.p), oVal = col(r.oCol).cast("string"),
          lang = langOf(r).map(lit(_)).getOrElse(lit(null)).cast("string"))
      }
      if (r.distinct) row.distinct() else row
    }.reduce(_ unionAll _)
  }

  /** The full statements DataFrame: `(s, p, o_id, o_val, lang)`. The
    * German-label branch reads the same `customer` frame as the rules. */
  def statements(spark: SparkSession, dir: String): DataFrame = {
    val tables = sources(spark, dir, rules)
    val de = rows(tables("customer").filter(col("c_custkey") % 3 === 0),
      id(CUSTOMER, col("c_custkey")), lit("label"),
      oVal = concat(lit("DE "), col("c_name")).cast("string"), lang = lit("de"))
    mappedFrom(tables, rules).unionAll(de)
  }

  /** DuckDB CTE defining the identical `triples` relation. */
  val sqlCte: String = {
    val selects = rules.map { r =>
      val oId = r.oNs match {
        case Some(ns) => idSql(ns, r.oCol)
        case None     => "CAST(NULL AS BIGINT)"
      }
      val oVal = r.oNs match {
        case Some(_) => "CAST(NULL AS VARCHAR)"
        case None    => s"CAST(${r.oCol} AS VARCHAR)"
      }
      val lang = langOf(r) match {
        case Some(l) => s"'$l'"
        case None    => "CAST(NULL AS VARCHAR)"
      }
      val d = if (r.distinct) "DISTINCT " else ""
      s"SELECT $d${idSql(r.sNs, r.sKey)} AS s, '${r.p}' AS p, $oId AS o_id, $oVal AS o_val, $lang AS lang FROM ${r.table}"
    }
    val de = s"SELECT ${idSql(CUSTOMER, "c_custkey")} AS s, 'label' AS p, CAST(NULL AS BIGINT) AS o_id, " +
      "'DE ' || CAST(c_name AS VARCHAR) AS o_val, 'de' AS lang FROM customer WHERE c_custkey % 3 = 0"
    (selects :+ de).mkString("WITH triples AS (\n", "\nUNION ALL\n", "\n)")
  }

  /** All known entity ids (for referential validation). */
  def entityIds(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Seq(
      ("region", "r_regionkey", REGION), ("nation", "n_nationkey", NATION),
      ("customer", "c_custkey", CUSTOMER), ("supplier", "s_suppkey", SUPPLIER),
      ("part", "p_partkey", PART), ("orders", "o_orderkey", ORDER))
    keyed.map { case (t, k, ns) =>
      Tables.load(spark, dir, t).select(id(ns, col(k)).as("id"))
    }.reduce(_ unionAll _)
  }

  /** SQL for the identical entity-id universe. */
  val entityIdsSql: String = Seq(
    ("region", "r_regionkey", REGION), ("nation", "n_nationkey", NATION),
    ("customer", "c_custkey", CUSTOMER), ("supplier", "s_suppkey", SUPPLIER),
    ("part", "p_partkey", PART), ("orders", "o_orderkey", ORDER))
    .map { case (t, k, ns) => s"SELECT ${idSql(ns, k)} AS id FROM $t" }
    .mkString("(", " UNION ALL ", ")")
}
