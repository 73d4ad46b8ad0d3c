package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Sparql.{ServiceGraph, defaultEntityPreds, run, runOn}
import Triples.{sqlCte => T}

/** The SPARQL query registry, the same shape as [[KGQueries]]: the
  * `kg_sparql_*` query texts and their runners, the synthetic dialect
  * stores and SERVICE endpoint graphs the runners query, the reference
  * `.rq` corpus helpers, and the DuckDB oracle of every key. The
  * compiler itself is [[Sparql]]; everything here reaches it through
  * [[Sparql.run]] and [[Sparql.runOn]]. */
object SparqlQueries {

  /** The flagship text query (the companions/label shape of the
    * reference's .rq files): BUILDING customers with their nation and
    * its label, OPTIONAL (possibly multiple) customer labels,
    * NATION_1x only. */
  val flagship: String =
    """PREFIX g: <http://graft.local/>   # accepted and ignored
      |SELECT ?c ?n ?nname ?cname WHERE {
      |  ?c in_nation ?n .
      |  ?n label ?nname .
      |  ?c mktsegment "BUILDING" .
      |  OPTIONAL { ?c label ?cname . }
      |  FILTER(REGEX(?nname, "^NATION_1"))
      |}""".stripMargin

  /** kg_sparql — [[flagship]] parsed from TEXT and compiled; the
    * oracle is the hand-written SQL of the same query, so the parser
    * and compiler are themselves under the hash gate. */
  def kgSparql(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, flagship)

  /** Second gated text query: UNION chain + COUNT/GROUP BY (the
    * census shape of the reference's property-survey queries),
    * written in the reference's prefixed vocabulary and run through
    * the dialect maps. */
  val censusText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?n (COUNT(?c) AS ?n_members) (COUNT(DISTINCT ?seg) AS ?n_segments) WHERE {
      |  { ?c fgt:P2 ?n . ?c mktsegment "BUILDING" . ?c mktsegment ?seg . }
      |  UNION
      |  { ?c fgt:P2 ?n . ?c mktsegment "MACHINERY" . ?c mktsegment ?seg . }
      |} GROUP BY ?n""".stripMargin

  /** kg_sparql_agg — [[censusText]] through the dialect map; UNION +
    * aggregate compilation under the hash gate. */
  def kgSparqlAgg(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, censusText, predAliases = Map("fgt:P2" -> "in_nation"))

  /** Property-path text — the single most characteristic reference
    * query shape (`?value (fgt:P2/fgt:P3*) fg:Q12`,
    * companions_and_relations.rq:59): one step then a closure. */
  val pathText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?c ?reach WHERE {
      |  ?c mktsegment "BUILDING" .
      |  ?c (fgt:P2/fgt:P3*) ?reach .
      |}""".stripMargin

  /** kg_sparql_path — [[pathText]] through the dialect map: the
    * `p/q*` composition compiled to the seeded semi-naive fixpoint
    * ([[TripleStore.fixpoint]]), under the hash gate against a
    * DuckDB recursive CTE. */
  def kgSparqlPath(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathText,
      predAliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region"))

  /** Label-service text — lokale-from-factgrid.rq's structure (label
    * service + anchor pattern + UNION chain + OPTIONAL), with only
    * the vocabulary translated. `wd:Q40454` (the reference's
    * "Lokal" class anchor) maps to nation 5's entity id. */
  val labelText: String =
    """PREFIX wd: <https://database.factgrid.de/entity/>
      |PREFIX wdt: <https://database.factgrid.de/prop/direct/>
      |SELECT DISTINCT ?item ?itemLabel ?seg WHERE {
      |  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
      |  ?item wdt:P2 wd:Q40454 .
      |  { ?item mktsegment "BUILDING" . }
      |  UNION
      |  { ?item wdt:P2 wd:Q40454;
      |      mktsegment "MACHINERY" . }
      |  OPTIONAL { ?item mktsegment ?seg . }
      |}""".stripMargin

  /** kg_sparql_label — [[labelText]]: `?itemLabel` auto-resolved by
    * the recognized label-service block (de-preferred, en fallback,
    * id-string default), under the hash gate. */
  def kgSparqlLabel(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, labelText,
      predAliases = Map("wdt:P2" -> "in_nation"),
      entityAliases = Map("wd:Q40454" -> (2L * Triples.NS + 5)))

  /** Exclusion text — MINUS + FILTER NOT EXISTS with the reference's
    * STR(?v) regex wrapper (companions_and_relations.rq:116,
    * compare-factgrid-wikidata_many_items.rq). */
  val minusText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?c ?n WHERE {
      |  ?c fgt:P2 ?n .
      |  MINUS { ?c mktsegment "BUILDING" . }
      |  FILTER NOT EXISTS { ?c label ?l . FILTER(REGEX(STR(?l), "7$")) }
      |}""".stripMargin

  /** kg_sparql_minus — [[minusText]]: both exclusion forms compiled
    * to left-anti joins on the shared variable, under the hash gate. */
  def kgSparqlMinus(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, minusText, predAliases = Map("fgt:P2" -> "in_nation"))

  /** Multi-var VALUES text (the network-03-federated.rq:32 inline
    * data idiom, two-column form). */
  val valuesText: String =
    """PREFIX fg: <https://database.factgrid.de/entity/>
      |SELECT ?c ?n ?seg WHERE {
      |  ?c in_nation ?n .
      |  ?c mktsegment ?seg .
      |  VALUES (?n ?seg) { (fg:Q3 "BUILDING") (fg:Q5 "MACHINERY") }
      |}""".stripMargin

  /** kg_sparql_values — [[valuesText]]: row-wise inline data compiled
    * to an OR-of-ANDs pushdown predicate, under the hash gate. */
  def kgSparqlValues(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, valuesText,
      entityAliases = Map(
        "fg:Q3" -> (2L * Triples.NS + 3),
        "fg:Q5" -> (2L * Triples.NS + 5)))

  /** Variable-predicate text — the companions "get ALL relations to a
    * class" core (`?fg_item ?relation ?value . ?value fgt:P2 fg:Q7`,
    * companions_and_relations.rq:44): every statement whose object
    * belongs to the anchor class, the predicate itself a projected
    * variable, objects labeled through the label service. */
  val predText: String =
    """PREFIX fg: <https://database.factgrid.de/entity/>
      |PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?c ?relation ?v ?vLabel WHERE {
      |  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
      |  ?c ?relation ?v .
      |  ?v fgt:P2 fg:Q40454 .
      |}""".stripMargin

  /** kg_sparql_pred — [[predText]]: the variable-predicate scan with
    * schema-driven object typing (?v is entity-typed by its OTHER
    * binding site), under the hash gate. */
  def kgSparqlPred(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, predText,
      predAliases = Map("fgt:P2" -> "in_nation"),
      entityAliases = Map("fg:Q40454" -> (2L * Triples.NS + 5)))

  /** Predicate-VALUES text — db_all_person_relations.rq:37's idiom:
    * a relation allow-list as inline data over a predicate variable. */
  val predValuesText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?item ?rel ?other WHERE {
      |  VALUES ?rel { fgt:P84 fgt:P203 }
      |  ?item ?rel ?other .
      |}""".stripMargin

  /** kg_sparql_pred_values — [[predValuesText]]: the VALUES predicate
    * list compiles to a p-isin pushdown on the statements scan (never
    * an unpruned scan), under the hash gate. */
  def kgSparqlPredValues(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, predValuesText,
      predAliases = Map("fgt:P84" -> "placed_by", "fgt:P203" -> "supplied_by"))

  /** The built-in statements extended with the sitelink reification
    * as TRIPLES (`?link schema:about ?item . ?link schema:isPartOf
    * <https://www.wikidata.org/> . ?link schema:name ?qid` — the
    * block opening lokale-from-factgrid.rq:40 and every compare/
    * network query): link entities in their own id namespace, one
    * per wikidata-linked customer (custkey % 3 — the same subset
    * [[Wikibase.sitelinks]] links). Shows [[runOn]]'s purpose —
    * extend the store, run the reference text unchanged. */
  def sitelinkStatements(spark: SparkSession, dir: String): DataFrame =
    Triples.statements(spark, dir).unionAll(sitelinks(
      Tables.customer(spark, dir).filter(col("c_custkey") % 3 === 0),
      lit(7L * Triples.NS) + col("c_custkey"), Triples.id(Triples.CUSTOMER, col("c_custkey")),
      wikidataSite, concat(lit("Q"), col("c_custkey").cast("string"))))

  private val wikidataSite = "https://www.wikidata.org/"

  /** The predicate aliases of the sitelink reification's three triples
    * (see [[sitelinks]]), shared by every dialect over a sitelink store. */
  private val sitelinkAliases: Map[String, String] = Map("schema:about" -> "schema_about",
    "schema:isPartOf" -> "schema_ispartof", "schema:name" -> "schema_name")

  /** The sitelink reification of each row of `df` (`?link schema:about
    * ?item . ?link schema:isPartOf <site> . ?link schema:name ?title`):
    * the link node `link` is about the entity `item`, part of the site
    * IRI literal `site`, and named `title`. */
  private def sitelinks(df: DataFrame, link: Column, item: Column, site: String,
      title: Column): DataFrame =
    Triples.rows(df, link, lit("schema_about"), oId = item)
      .unionAll(Triples.rows(df, link, lit("schema_ispartof"), oVal = lit(site)))
      .unionAll(Triples.rows(df, link, lit("schema_name"), oVal = title))

  /** Multi-site sitelink store — [[sitelinkStatements]] (the
    * www.wikidata.org site) plus four per-language wikipedia sites,
    * each a deterministic customer subset with its own link-node
    * namespace, site IRI literal and title scheme: the store
    * get_wiki_sitelinks.rq's five OPTIONAL blocks
    * (get_wiki_sitelinks.rq:14–50) discriminate by `schema:isPartOf`
    * object. Pure projection+union off the customer scan — the
    * sitelink block at 100 TB is a per-site predicate-pruned scan,
    * never a shuffle. */
  def wikiSitelinkStatements(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    def site(linkNs: Long, keep: Column, url: String, prefix: String): DataFrame =
      sitelinks(c.filter(keep), lit(linkNs * Triples.NS) + col("c_custkey"),
        Triples.id(Triples.CUSTOMER, col("c_custkey")), url, concat(lit(prefix), col("c_name")))
    sitelinkStatements(spark, dir)
      .unionAll(site(12, col("c_custkey") % 2 === 0, "https://de.wikipedia.org/", "de "))
      .unionAll(site(13, lit(true),                  "https://en.wikipedia.org/", "en "))
      .unionAll(site(14, col("c_custkey") % 5 === 0, "https://es.wikipedia.org/", "es "))
      .unionAll(site(15, col("c_custkey") % 7 === 0, "https://fr.wikipedia.org/", "fr "))
  }

  /** Shared dialect map for the two get_wiki_sitelinks files: the
    * sitelink reification plus the class anchors their WHERE clauses
    * name (`fgt:P2/fgt:P3*` = membership-then-hierarchy closure,
    * `fgt:P131` = the direct remove-na set edge). */
  private def wikilinksAliases: (Map[String, String], Map[String, Long]) = (
    sitelinkAliases ++ Map(
      "fgt:P2" -> "in_nation", "fgt:P3" -> "in_region", "fgt:P131" -> "in_nation"),
    Map("fg:Q12" -> (Triples.REGION.toLong * Triples.NS + 1), // class → region 1
      "fg:Q400012" -> (2L * Triples.NS + 3)))                 // remove-na set → nation 3

  /** kg_sparql_wikilinks — get_wiki_sitelinks.rq BYTE-FOR-BYTE: a
    * property-path class filter (`?fg_item (fgt:P2/fgt:P3*) fg:Q12`,
    * get_wiki_sitelinks.rq:12) anchoring items (customers AND
    * suppliers — both carry the membership edge), then FIVE optional
    * sitelink-reification blocks (wikidata with the qid→IRI BIND,
    * de/en/es/fr wikipedia), discriminated per block by the
    * `schema:isPartOf` IRI literal, under the label service. */
  def kgSparqlWikilinks(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = wikilinksAliases
    runOn(spark, wikiSitelinkStatements(spark, dir),
      referenceText("get_wiki_sitelinks.rq"), pa, ea,
      autoLang = "en", entityValued = defaultEntityPreds + "schema_about")
  }

  /** kg_sparql_wikilinks_rna — get_wiki_sitelinks_removena.rq
    * BYTE-FOR-BYTE: as [[kgSparqlWikilinks]] but anchored by the
    * direct `fgt:P131 fg:Q400012` remove-na membership edge
    * (get_wiki_sitelinks_removena.rq:10). */
  def kgSparqlWikilinksRna(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = wikilinksAliases
    runOn(spark, wikiSitelinkStatements(spark, dir),
      referenceText("get_wiki_sitelinks_removena.rq"), pa, ea,
      autoLang = "en", entityValued = defaultEntityPreds + "schema_about")
  }

  /** Sitelink text — the exact link-reification block + qid→IRI BIND
    * of the reference files, plus the label service. */
  val sitelinkText: String =
    """PREFIX wd: <http://www.wikidata.org/entity/>
      |PREFIX schema: <http://schema.org/>
      |SELECT DISTINCT ?item ?itemLabel ?qid ?wd_item WHERE {
      |  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
      |  ?link schema:about ?item .
      |  ?link schema:isPartOf <https://www.wikidata.org/> .
      |  ?link schema:name ?qid .
      |  BIND(IRI(CONCAT(STR(wd:), ?qid)) AS ?wd_item)
      |}""".stripMargin

  /** kg_sparql_sitelinks — [[sitelinkText]] over the extended store:
    * IRI-literal objects, the BIND(IRI(CONCAT(STR(wd:), ?qid)))
    * transform resolved through the query's own PREFIX declarations,
    * and runOn's custom typing dictionary, under the hash gate. */
  def kgSparqlSitelinks(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, sitelinkStatements(spark, dir), sitelinkText,
      predAliases = sitelinkAliases,
      entityValued = defaultEntityPreds + "schema_about")

  /** Property-dictionary direct-claim triples (`?prop
    * wikibase:directClaim ?rel`, companions_and_relations.rq:46): one
    * property ENTITY per entity-valued predicate, its object the
    * predicate's local name — the Wikibase property/direct-claim
    * reification over this store's dictionary. The SQL twin below is
    * generated from this SAME list, so engine and oracle cannot
    * drift. */
  val directClaimProps: Seq[(Long, String)] =
    Triples.rules.collect { case r if r.oNs.isDefined => r.p }.distinct
      .zipWithIndex.map { case (p, i) => (8L * Triples.NS + i, p) }

  /** The direct-claim dictionary's triples, one per [[directClaimProps]]
    * entry. */
  private def directClaims(spark: SparkSession): DataFrame = {
    val sess = spark; import sess.implicits._
    Triples.rows(directClaimProps.toDF("sid", "name"), col("sid"), lit("directClaim"),
      oVal = col("name"))
  }

  /** Built-in statements extended with the direct-claim dictionary. */
  def directClaimStatements(spark: SparkSession, dir: String): DataFrame =
    Triples.statements(spark, dir).unionAll(directClaims(spark))

  /** directClaim-triangle text — the companions core: all relations
    * whose object belongs to the anchor class, each relation joined
    * back to its property ENTITY through the direct-claim
    * reification (predicate variable ⋈ literal site on the
    * predicate-name string). */
  val directText: String =
    """PREFIX fg: <https://database.factgrid.de/entity/>
      |PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |PREFIX wikibase: <http://wikiba.se/ontology#>
      |SELECT ?prop ?rel ?item ?value WHERE {
      |  ?item ?rel ?value .
      |  ?value fgt:P2 fg:Q40454 .
      |  ?prop wikibase:directClaim ?rel .
      |}""".stripMargin

  /** kg_sparql_direct — [[directText]] over the direct-claim-extended
    * store, under the hash gate. */
  def kgSparqlDirect(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, directClaimStatements(spark, dir), directText,
      predAliases = Map(
        "fgt:P2" -> "in_nation",
        "wikibase:directClaim" -> "directClaim"),
      entityAliases = Map("fg:Q40454" -> (2L * Triples.NS + 5)))

  /** Aggregate-completer text — MIN/MAX/SAMPLE/GROUP_CONCAT in the
    * projection (the reference's per-entity survey shapes; sorted
    * GROUP_CONCAT matches the kg_group_concat determinism rule).
    * Note the label join fans out (de+en labels for every 3rd
    * customer), so COUNT counts label BINDINGS, not customers — bag
    * semantics, mirrored exactly by the oracle join. */
  val aggText: String =
    """SELECT ?n (COUNT(?c) AS ?n_bindings) (MIN(?lbl) AS ?first_label)
      |       (MAX(?lbl) AS ?last_label) (SAMPLE(?seg) AS ?sample_seg)
      |       (GROUP_CONCAT(DISTINCT ?seg; separator="|") AS ?segs) WHERE {
      |  ?c in_nation ?n .
      |  ?c label ?lbl .
      |  ?c mktsegment ?seg .
      |} GROUP BY ?n""".stripMargin

  /** kg_sparql_gc — [[aggText]] under the hash gate. */
  def kgSparqlGc(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, aggText)

  /** The "remote endpoint" graph for the federation surface: a
    * deterministic stale copy of the mktsegment relation — some
    * statements missing (custkey % 7), some conflicting (% 10 →
    * LEGACY) — the kg_graph_diff B-graph in statements shape
    * (mirrors apps/compare-factgrid-wikidata's FactGrid-vs-Wikidata
    * drift). Shares the entity id space with the main store, which is
    * the single-engine federation model ([[ServiceGraph]]). */
  def remoteStatements(spark: SparkSession, dir: String): DataFrame = {
    Triples.rows(Tables.customer(spark, dir).filter(col("c_custkey") % 7 =!= 0),
      Triples.id(Triples.CUSTOMER, col("c_custkey")), lit("mktsegment"),
      oVal = when(col("c_custkey") % 10 === 0, lit("LEGACY")).otherwise(col("c_mktsegment")))
  }

  /** DuckDB twin of [[remoteStatements]]. */
  val remoteSql: String =
    s"""(SELECT ${Triples.idSql(Triples.CUSTOMER, "c_custkey")} AS s, 'mktsegment' AS p,
       |  CAST(NULL AS BIGINT) AS o_id,
       |  CASE WHEN c_custkey % 10 = 0 THEN 'LEGACY' ELSE c_mktsegment END AS o_val,
       |  CAST(NULL AS VARCHAR) AS lang
       | FROM customer WHERE c_custkey % 7 <> 0)""".stripMargin

  private val wikidataEndpoint = "https://query.wikidata.org/sparql"

  /** The registry used by the gated federation queries: the Wikidata
    * endpoint IRI of the reference files, served by [[remoteStatements]]
    * under Wikidata's OWN prefixed vocabulary (`wdt:P131`). */
  def serviceGraphs(spark: SparkSession, dir: String): Map[String, ServiceGraph] = Map(
    wikidataEndpoint -> ServiceGraph(remoteStatements(spark, dir),
      predAliases = Map("wdt:P131" -> "mktsegment")))

  /** Federated-compare text — compare-factgrid-wikidata_many_items.rq's
    * exact structure: the local statement, the SERVICE block against
    * the remote endpoint whose body is ONE OPTIONAL group (the value
    * may be missing remotely), and the BIND(IF(…)) verdict. */
  val serviceText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |PREFIX wdt: <http://www.wikidata.org/prop/direct/>
      |SELECT ?fg_item ?fg_value ?wd_value ?is_same WHERE {
      |  ?fg_item fgt:P131 ?fg_value .
      |  SERVICE <https://query.wikidata.org/sparql> {
      |    OPTIONAL { ?fg_item wdt:P131 ?wd_value . }
      |  }
      |  BIND(IF(?fg_value = ?wd_value, "true", "false") AS ?is_same)
      |}""".stripMargin

  /** kg_sparql_service — [[serviceText]] over the registered remote
    * graph, under the hash gate: the OPTIONAL service body compiles
    * to a per-row left join (bindings-injected semantics), the IF
    * verdict to the null-propagating two-arm when. */
  def kgSparqlService(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, serviceText,
      predAliases = Map("fgt:P131" -> "mktsegment"),
      graphs = serviceGraphs(spark, dir))

  /** Federated-join text — the network-02 expansion shape: required
    * (non-OPTIONAL) service body, so only items the remote graph also
    * knows survive (inner join on the shared entity id space). */
  val serviceJoinText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |PREFIX wdt: <http://www.wikidata.org/prop/direct/>
      |SELECT ?item ?n ?wd_seg WHERE {
      |  ?item fgt:P2 ?n .
      |  SERVICE <https://query.wikidata.org/sparql> {
      |    ?item wdt:P131 ?wd_seg .
      |  }
      |}""".stripMargin

  /** kg_sparql_federated — [[serviceJoinText]] under the hash gate. */
  def kgSparqlFederated(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, serviceJoinText,
      predAliases = Map("fgt:P2" -> "in_nation"),
      graphs = serviceGraphs(spark, dir))

  /** Language-filter text — `FILTER(LANG(?v) = "[AUTO_LANGUAGE]")`
    * (companions_and_relations.rq:76, test.rq:66): the restriction
    * compiles into the label scan itself, not a post-filter. */
  val langText: String =
    """SELECT ?c ?n ?lbl WHERE {
      |  ?c in_nation ?n .
      |  ?c label ?lbl .
      |  FILTER(LANG(?lbl) = "[AUTO_LANGUAGE]")
      |}""".stripMargin

  /** kg_sparql_lang — [[langText]] under the hash gate ([AUTO_LANGUAGE]
    * → the deployment autoLang, "de" — the synthetic de-label subset). */
  def kgSparqlLang(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, langText)

  /** Path-alternation text — per-step alternation with an inverse arm
    * (`fgt:P3|^fgt:P2` — the kg_path_alt forms in compiled text):
    * from nation subjects, the region hop OR the inverse membership
    * edge. */
  val pathAltText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?n ?x WHERE {
      |  ?n fgt:P3 ?reg .
      |  ?n (fgt:P3|^fgt:P2) ?x .
      |}""".stripMargin

  /** kg_sparql_path_alt — [[pathAltText]] under the hash gate. */
  def kgSparqlPathAlt(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathAltText,
      predAliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region"))

  /** One-or-more text — `p/q+` (the `+` modifier: like `q*` but the
    * zero-step pairs are excluded — customers reach their region,
    * never their nation). */
  val pathPlusText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?c ?reach WHERE {
      |  ?c mktsegment "BUILDING" .
      |  ?c (fgt:P2/fgt:P3+) ?reach .
      |}""".stripMargin

  /** kg_sparql_path_plus — [[pathPlusText]] under the hash gate. */
  def kgSparqlPathPlus(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathPlusText,
      predAliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region"))

  /** Zero-or-one + closure-FIRST text (round 10 — the last SPARQL 1.1
    * path forms): branch `opt` walks `p?/q` (the zero-or-one step is
    * identity ∪ one hop, so nations reach their region directly AND
    * customers reach it through the optional nation hop); branch
    * `star_first` opens with the closure `(p|q)*` over a VARIABLE
    * subject — the ZeroOrMorePath-over-open-ends case, seeded by the
    * identity over every graph node. */
  val pathOptText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?a ?r ?form WHERE {
      |  { ?a (fgt:P2?/fgt:P3) ?r . BIND("opt" AS ?form) }
      |  UNION
      |  { ?a ((fgt:P2|fgt:P3)*/fgt:P3) ?r . BIND("star_first" AS ?form) }
      |}""".stripMargin

  /** kg_sparql_path_opt — [[pathOptText]] under the hash gate. */
  def kgSparqlPathOpt(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathOptText,
      predAliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region"))

  /** analyse-number-of-items.R's inline query BYTE-FOR-BYTE (the one
    * reference query text outside the 22 .rq files that names a
    * construct the compiler lacked): per-item statement counts via
    * the `wikibase:statements` meta-predicate, anchored on the
    * remove-na class edge, with the AUTO_LANGUAGE,en label chain. */
  val nitemsText: String =
    """SELECT DISTINCT ?item ?itemLabel ?statementcount
      |WHERE {
      |  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
      |  ?item wdt:P131 wd:Q400012 .
      |  ?item wikibase:statements ?statementcount.
      |}""".stripMargin

  /** kg_sparql_nitems — [[nitemsText]] under the hash gate. */
  def kgSparqlNitems(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, nitemsText,
      predAliases = Map("wdt:P131" -> "in_nation"),
      entityAliases = Map("wd:Q400012" -> (2L * Triples.NS + 3)))

  /** Negated-property-set text — `!(p|q)` (the kg_path_alt negated
    * arm): every order relation EXCEPT the part/supplier edges whose
    * object is entity-typed by its other binding site — i.e. the
    * placed_by customer, found by exclusion. */
  val pathNegText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?o ?x ?n WHERE {
      |  ?o !(fgt:P189|fgt:P203) ?x .
      |  ?x fgt:P2 ?n .
      |}""".stripMargin

  /** kg_sparql_path_neg — [[pathNegText]] under the hash gate. */
  def kgSparqlPathNeg(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathNegText,
      predAliases = Map(
        "fgt:P189" -> "has_part", "fgt:P203" -> "supplied_by",
        "fgt:P2" -> "in_nation"))

  /** The round-11 closing path forms — the last two documented loud
    * rejects of the path compiler:
    *   - branch `nest`: TOP-LEVEL alternation whose arm is itself a
    *     sequence (`(p/q)|r` — PathAlternative over PathSequence; the
    *     arms compile separately and bag-union, and SPARQL's `|`-binds-
    *     looser precedence now holds where the old '/'-first split
    *     would have silently compiled p/(q|r));
    *   - branch `neginv`: a negated property set with an INVERSE arm
    *     (`!(p|^q)` — forward edges outside {p} ∪ REVERSED edges
    *     outside {q}, each direction traversed only when it has arms
    *     in the set). */
  val pathNestText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?a ?x ?form WHERE {
      |  { ?a fgt:P10 "BUILDING" . ?a ((fgt:P2/fgt:P3)|fgt:P2) ?x . BIND("nest" AS ?form) }
      |  UNION
      |  { ?a !(fgt:P189|^fgt:P2) ?x . ?x fgt:P3 ?r2 . BIND("neginv" AS ?form) }
      |}""".stripMargin

  /** kg_sparql_path_nest — [[pathNestText]] under the hash gate. */
  def kgSparqlPathNest(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathNestText,
      predAliases = Map(
        "fgt:P2" -> "in_nation", "fgt:P3" -> "in_region",
        "fgt:P10" -> "mktsegment", "fgt:P189" -> "has_part"))

  /** Inverse-of-sequence path text — the compiler's LAST loud reject
    * (rounds ≤11: "inverse applies to names, not sequences"), closed
    * by the parser's inverse rewrite
    * `^(p₁/…/pₙ) = ^pₙ/…/^p₁`:
    *   - `invseq`: `^(fgt:P2/fgt:P3)` — plain inverse-of-sequence,
    *     desugars to `^fgt:P3/^fgt:P2` (region ← nation ← member);
    *   - `invstar`: `^(fgt:P2/fgt:P3*)` — STARRED inner step: inverse
    *     commutes with the closure, `(^fgt:P3)* / ^fgt:P2` (spliced
    *     without the spaces), compiled by the existing closure-FIRST
    *     machinery (variable subject + following plain step → the
    *     reversed nation-seeded fixpoint, never the node-census
    *     identity);
    *   - `invalt`: `^((fgt:P184|fgt:P203)/fgt:P2)` — an ALTERNATION
    *     element inside the inverted sequence, which must re-
    *     parenthesize when spliced (`^fgt:P2/(^fgt:P184|^fgt:P203)`;
    *     unparenthesized it would re-associate under '|''s looser
    *     precedence). */
  val pathInvText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |SELECT ?x ?c ?form WHERE {
      |  { ?x ^(fgt:P2/fgt:P3) ?c . BIND("invseq" AS ?form) }
      |  UNION
      |  { ?x ^(fgt:P2/fgt:P3*) ?c . BIND("invstar" AS ?form) }
      |  UNION
      |  { ?x ^((fgt:P184|fgt:P203)/fgt:P2) ?c . BIND("invalt" AS ?form) }
      |}""".stripMargin

  /** kg_sparql_path_inv — [[pathInvText]] under the hash gate. */
  def kgSparqlPathInv(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, pathInvText,
      predAliases = Map(
        "fgt:P2" -> "in_nation", "fgt:P3" -> "in_region",
        "fgt:P184" -> "placed_by", "fgt:P203" -> "supplied_by"))

  /** CONSTRUCT text — rule materialization from query text (the
    * kg_construct inference written as a .rq a reference user would
    * run): compose located_in over the nation hop and carry the
    * segment literal, emitting statement-shaped rows. */
  val constructText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |CONSTRUCT { ?c located_in ?r . ?c has_segment ?seg }
      |WHERE {
      |  ?c fgt:P2 ?n .
      |  ?n fgt:P3 ?r .
      |  ?c mktsegment ?seg .
      |}""".stripMargin

  /** kg_sparql_construct — [[constructText]] under the hash gate. */
  def kgSparqlConstruct(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, constructText,
      predAliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region"))

  /** ASK text (all four SPARQL query forms now compile from text). */
  val askText: String =
    """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
      |ASK { ?c fgt:P2 ?n . ?c mktsegment "BUILDING" . }""".stripMargin

  /** kg_sparql_ask — [[askText]] under the hash gate. */
  def kgSparqlAsk(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, askText, predAliases = Map("fgt:P2" -> "in_nation"))

  /** DESCRIBE text — the entity card for a labeled seed. */
  val describeText: String =
    """DESCRIBE ?n WHERE { ?n label "NATION_5" . }""".stripMargin

  /** kg_sparql_describe — [[describeText]] under the hash gate. */
  def kgSparqlDescribe(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, describeText)

  /** Heterogeneous-UNION text — the companions_and_relations.rq WHERE
    * shape: branches carrying their OWN OPTIONAL groups and
    * per-branch source tags (`BIND("factgrid" AS ?source)`,
    * companions_and_relations.rq:50), bound variable sets differing
    * per branch. Branch results compile per branch against the
    * (checkpointed) outer frame and union BY NAME — a branch that
    * binds no ?l null-pads it, SPARQL's unaligned-UNION rule. */
  val unionOptText: String =
    """SELECT ?c ?n ?l ?src WHERE {
      |  ?c in_nation ?n .
      |  { ?c mktsegment "BUILDING" . OPTIONAL { ?c label ?l . } BIND("building" AS ?src) }
      |  UNION
      |  { ?c mktsegment "MACHINERY" . BIND("machinery" AS ?src) }
      |}""".stripMargin

  /** kg_sparql_union_opt — [[unionOptText]] under the hash gate. */
  def kgSparqlUnionOpt(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, unionOptText)

  /** Expression-BIND text — the get_gnd_from_fg_and_wd.rq /
    * get_factgrid_ids_from_wikidata.rq transforms: CONCAT over
    * single-quoted literals + STR(?v) (note the DOT-LESS triple
    * termination before BIND — the SPARQL grammar allows it and the
    * reference file uses it), and regex REPLACE. Both null-propagate
    * (SPARQL error-to-unbound = Spark concat/regexp_replace = DuckDB
    * || / regexp_replace-'g'). */
  val exprBindText: String =
    """SELECT ?c ?l ?tag ?qid WHERE {
      |  ?c in_nation ?n .
      |  ?c label ?l
      |  BIND(CONCAT('"', STR(?l), '"') AS ?tag)
      |  BIND(REPLACE(STR(?l), "Customer#0*", "C-") AS ?qid)
      |  FILTER(LANG(?l) = "en")
      |}""".stripMargin

  /** kg_sparql_expr_bind — [[exprBindText]] under the hash gate. */
  def kgSparqlExprBind(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, exprBindText)

  /** Deep-SERVICE text — companions_hirschfeld.rq's remote shape: a
    * required remote pattern, an OPTIONAL remote group carrying its
    * own MINUS-regex exclusion (hirschfeld:48), and an empty
    * `OPTIONAL { }` (hirschfeld's trailing wikidata block) compiled
    * as a no-op. The whole body runs recursively on the registered
    * remote graph, then joins the outer frame once. */
  val serviceOptText: String =
    """PREFIX wdt: <http://www.wikidata.org/prop/direct/>
      |SELECT ?c ?n ?seg1 ?seg2 WHERE {
      |  ?c in_nation ?n .
      |  SERVICE <https://query.wikidata.org/sparql> {
      |    ?c wdt:P131 ?seg1
      |    OPTIONAL {
      |      ?c wdt:P131 ?seg2
      |      MINUS { FILTER(REGEX(STR(?seg2), "^LEGACY$")) }
      |    }
      |    OPTIONAL { }
      |  }
      |}""".stripMargin

  /** kg_sparql_service_opt — [[serviceOptText]] under the hash gate. */
  def kgSparqlServiceOpt(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, serviceOptText, graphs = serviceGraphs(spark, dir))

  /** Blank-node text — time-items.rq's `[ a wikibase:BestRank ; … ]`
    * statement-reification syntax, desugared to fresh-variable
    * triples; `in_region?r` exercises the glued predicate?var token
    * split (companions' `dbo:thumbnail?image`). */
  val blankText: String =
    """SELECT ?c ?r WHERE {
      |  ?c in_nation [ in_region?r ] .
      |}""".stripMargin

  /** kg_sparql_blank — [[blankText]] under the hash gate. */
  def kgSparqlBlank(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, blankText)

  /** Directory holding the reference corpus's `.rq` files, overridable
    * via `-Dgraft.reference.queries.dir=…` for checkouts living
    * elsewhere (the 22 verbatim entries read these bytes at runtime —
    * they are test INPUTS, not vendored sources). */
  def referenceQueriesDir: String = System.getProperty(
    "graft.reference.queries.dir",
    "/root/reference/data-publishing/factgrid/queries")

  /** Reference file → the registry key whose runner reads it VERBATIM
    * through [[referenceText]]: the keys that cannot run without the
    * corpus. SparqlSpec checks that every `referenceText` literal in
    * the main sources names a file listed here. */
  val referenceRunners: Map[String, String] = Map(
    "lokale-from-factgrid.rq" -> "kg_sparql_lokale",
    "network-00-starting-point.rq" -> "kg_sparql_net0",
    "network-01-remove-na.rq" -> "kg_sparql_net1",
    "network-02-starting-point.rq" -> "kg_sparql_net2",
    "network-03-federated.rq" -> "kg_sparql_net3",
    "companions_and_relations.rq" -> "kg_sparql_companions",
    "companions_and_relations_no_constants.rq" -> "kg_sparql_noconst",
    "companions_hirschfeld.rq" -> "kg_sparql_hirschfeld",
    "db_all_person_relations.rq" -> "kg_sparql_family",
    "get_wiki_sitelinks.rq" -> "kg_sparql_wikilinks",
    "get_wiki_sitelinks_removena.rq" -> "kg_sparql_wikilinks_rna",
    "get_factgrid_ids_from_wikidata.rq" -> "kg_sparql_fgids",
    "get_factgrid_ids_from_wikidata-removena.rq" -> "kg_sparql_fgids_rna",
    "get_gnd_from_fg_and_wd.rq" -> "kg_sparql_gnd",
    "compare-factgrid-wikidata_one_item.rq" -> "kg_sparql_cmp1",
    "compare-factgrid-wikidata_many_items.rq" -> "kg_sparql_cmp",
    "persons_factgrid_wikidata.rq" -> "kg_sparql_persons",
    "orgs_factgrid_wikidata.rq" -> "kg_sparql_orgs",
    "get_all_properties_with_corresponding_prop.rq" -> "kg_sparql_props",
    "get_all_properties_person_with_corresponding_prop.rq" -> "kg_sparql_props_person",
    "time-items.rq" -> "kg_sparql_time",
    "test.rq" -> "kg_sparql_test")

  /** Read a reference query file VERBATIM (the lokale milestone's
    * contract, now as oracle-gated entries: the bytes on disk are the
    * query — nothing is edited, only dialect maps are supplied).
    * Fails with a pointer at the override property when the checkout
    * is absent instead of a bare NoSuchFileException. */
  def referenceText(name: String): String = {
    val p = java.nio.file.Paths.get(referenceQueriesDir, name)
    require(java.nio.file.Files.isReadable(p),
      s"reference query corpus not found at '$p' — point " +
        "-Dgraft.reference.queries.dir at a checkout of the reference's " +
        "data-publishing/factgrid/queries directory")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  /** Dialect maps for the network-* files: the class/root anchors and
    * the two predicates the files name; everything else is variable
    * predicates + the directClaim dictionary + the label service. */
  private def networkAliases: (Map[String, String], Map[String, Long]) = (
    Map("fgt:P131" -> "in_nation", "wikibase:directClaim" -> "directClaim"),
    Map("fg:Q400012" -> (2L * Triples.NS + 3), // the anchor class → nation 3
      "fg:Q225307" -> (3L * Triples.NS + 7))) // the root item → customer 7

  /** kg_sparql_net0 — network-00-starting-point.rq BYTE-FOR-BYTE: a
    * BIND-seeded root, two VARIABLE-PREDICATE hops (`?root ?fgt1
    * ?item1 . ?item1 ?fgt2 ?item2`), the directClaim property
    * dictionary resolving each hop's property entity, and five
    * label-service columns. ?item2 has NO binding-site typing — the
    * projected ?item2Label types it as an entity (the label-service
    * convention rule). */
  def kgSparqlNet0(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = networkAliases
    runOn(spark, directClaimStatements(spark, dir),
      referenceText("network-00-starting-point.rq"), pa, ea)
  }

  /** kg_sparql_net1 — network-01-remove-na.rq BYTE-FOR-BYTE: as net0
    * but anchored by the `?root fgt:P131 fg:Q400012` class membership
    * (every entity of the anchor class is a root). */
  def kgSparqlNet1(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = networkAliases
    runOn(spark, directClaimStatements(spark, dir),
      referenceText("network-01-remove-na.rq"), pa, ea)
  }

  /** Statement-reified network store — [[companionsStatements]]
    * (base + sitelinks + directClaim dictionary) extended with the
    * Wikibase statement-node access path the network-02/03 files walk
    * (`?item fgp:P2 ?statement . ?statement (fgps:P2/(fgt:P3*))
    * ?class`, network-03-federated.rq:43–44): one statement NODE per
    * nation membership edge (`nation → stmt_claim → stmtNode →
    * stmt_value → region`), its own namespace. Projection+union off
    * the nation scan — reification adds rows, never a shuffle. */
  def reifiedNetworkStatements(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val stmtId = lit(16L * Triples.NS) + col("n_nationkey").cast("long")
    val claim = Triples.rows(n, Triples.id(Triples.NATION, col("n_nationkey")),
      lit("stmt_claim"), oId = stmtId)
    val value = Triples.rows(n, stmtId, lit("stmt_value"),
      oId = Triples.id(Triples.REGION, col("n_regionkey")))
    companionsStatements(spark, dir).unionAll(claim).unionAll(value)
  }

  /** network-03's root item and its VALUES class anchors, derived
    * from the data exactly like [[companionAnchors]]: the three
    * `wd:Q7 wd:Q12 wd:Q11214` active-entity classes resolve to the
    * root's own region and the two after it, so the class check
    * matches (the deployment fact the dialect map encodes). */
  private val net3RootKey = 12L
  private def net3Anchors(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val nk = Tables.customer(spark, dir).filter(col("c_custkey") === net3RootKey)
      .select(col("c_nationkey").cast("long")).head().getLong(0)
    val rk = Tables.nation(spark, dir).filter(col("n_nationkey") === nk)
      .select(col("n_regionkey").cast("long")).head().getLong(0)
    def reg(o: Long) = Triples.REGION.toLong * Triples.NS + (rk + o) % 5
    (reg(0), reg(1), reg(2))
  }

  /** Dialect map shared by the network-02/03 files: sitelink
    * reification, direct-claim dictionary, and the statement layer. */
  private def reifiedAliases: Map[String, String] = sitelinkAliases ++ Map(
    "wikibase:directClaim" -> "directClaim", "fgp:P2" -> "stmt_claim", "fgps:P2" -> "stmt_value",
    "fgt:P3" -> "in_region", "wdt:P3" -> "in_region", "fgt:P131" -> "in_nation")

  /** kg_sparql_net3 — network-03-federated.rq BYTE-FOR-BYTE: a
    * BIND-seeded root, the sitelink qid→IRI round trip, two
    * variable-predicate hops with an UNREFERENCED trailing object
    * (multiplicity only), the directClaim dictionary on hop 1, and
    * the statement-node class walk `?item1 fgp:P2 ?statement1 .
    * ?statement1 (fgps:P2/(wdt:P3*)) ?entities` against the 3-entity
    * VALUES block — under the label service. */
  def kgSparqlNet3(spark: SparkSession, dir: String): DataFrame = {
    val (ra, rb, rc) = net3Anchors(spark, dir)
    runOn(spark, reifiedNetworkStatements(spark, dir),
      referenceText("network-03-federated.rq"),
      predAliases = reifiedAliases,
      entityAliases = Map(
        "fg:Q226350" -> (3L * Triples.NS + net3RootKey),
        "wd:Q7" -> ra, "wd:Q12" -> rb, "wd:Q11214" -> rc),
      entityValued = defaultEntityPreds ++ Set("schema_about", "stmt_claim", "stmt_value"))
  }

  /** Digit offset distinguishing NATION qids from customer qids in
    * the shared wikidata IRI scheme (`Q<custkey>` vs `Q<offset+k>`):
    * both sides of network-02's double qid→IRI round trip must map
    * into ONE remote id space (iriScheme base + digits). */
  private val wdNationOffset = 1000000000L

  /** network-02's outer store — [[reifiedNetworkStatements]] plus
    * NATION sitelinks (network-02-starting-point.rq:40–43 runs the
    * qid→IRI round trip on the statement VALUE too), their qid digits
    * offset per [[wdNationOffset]]. */
  def net2Statements(spark: SparkSession, dir: String): DataFrame =
    reifiedNetworkStatements(spark, dir).unionAll(sitelinks(Tables.nation(spark, dir),
      lit(17L * Triples.NS) + col("n_nationkey"), Triples.id(Triples.NATION, col("n_nationkey")),
      wikidataSite, concat(lit("Q"), (lit(wdNationOffset) + col("n_nationkey")).cast("string"))))

  /** The network-02 wikidata stand-in: ONE truthy entity claim per
    * customer (`wd:customer → wd:nation`), both ids in the shared
    * qid digit space, so the remote `?wd_item ?wdt1 ?wd_value`
    * variable-predicate pattern (network-02-starting-point.rq:52)
    * joins the outer round-tripped IRI strings through the declared
    * iriScheme. All-entity-edges, declared via the "*" typing
    * marker. */
  def wdRelStatements(spark: SparkSession, dir: String): DataFrame = {
    Triples.rows(Tables.customer(spark, dir),
      lit(3L * Triples.NS) + col("c_custkey").cast("long"), lit("wd_rel"),
      oId = lit(3L * Triples.NS + wdNationOffset) + col("c_nationkey").cast("long"))
  }

  /** kg_sparql_net2 — network-02-starting-point.rq BYTE-FOR-BYTE: the
    * directClaim hop off the BIND-seeded root, the statement-node
    * class walk against the VALUES entity set, the qid→IRI round trip
    * on BOTH endpoints (root and value, each through its own sitelink
    * block), and the remote wikidata SERVICE joining the two IRI
    * strings back onto remote entity ids under the declared scheme —
    * under the label service. */
  def kgSparqlNet2(spark: SparkSession, dir: String): DataFrame = {
    val (ra, rb, rc) = net3Anchors(spark, dir)
    runOn(spark, net2Statements(spark, dir),
      referenceText("network-02-starting-point.rq"),
      predAliases = reifiedAliases,
      entityAliases = Map(
        "fg:Q225307" -> (3L * Triples.NS + net3RootKey),
        "fg:Q7" -> ra, "fg:Q12" -> rb, "fg:Q11214" -> rc),
      entityValued = defaultEntityPreds ++ Set("schema_about", "stmt_claim", "stmt_value"),
      graphs = Map(wikidataEndpoint -> ServiceGraph(wdRelStatements(spark, dir),
        entityValued = Set("wd_rel", "*"),
        iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS)))))
  }

  // ---- get_factgrid_ids / get_gnd files VERBATIM --------------------

  /** Wikidata FactGrid-ID backlink claims (`?wd_item wdt:P8168
    * ?factgrid_id`, get_factgrid_ids_from_wikidata.rq:18): every
    * second customer's wikidata twin carries the FactGrid id STRING —
    * the literal the file's REPLACE(STR(?fg_item),…) round trip joins
    * on. Remote ids live in the shared qid digit space so the same
    * graph also serves the -removena variant's iriScheme join. */
  def wdFgidStatements(spark: SparkSession, dir: String): DataFrame = {
    Triples.rows(Tables.customer(spark, dir).filter(col("c_custkey") % 2 === 0),
      lit(3L * Triples.NS) + col("c_custkey").cast("long"), lit("wd_fgid"),
      oVal = (lit(3L * Triples.NS) + col("c_custkey").cast("long")).cast("string"))
  }

  /** GND identifier literals on every second customer (`?fg_item
    * fgt:P76 ?fg_gnd`, get_gnd_from_fg_and_wd.rq:8) over the sitelink
    * store. */
  def gndStatements(spark: SparkSession, dir: String): DataFrame = {
    val gnd = Triples.rows(Tables.customer(spark, dir).filter(col("c_custkey") % 2 === 0),
      Triples.id(Triples.CUSTOMER, col("c_custkey")), lit("gnd"),
      oVal = concat(lit("GND"), col("c_custkey").cast("string")))
    sitelinkStatements(spark, dir).unionAll(gnd)
  }

  /** Wikidata GND claims (`?wd_item wdt:P227 ?wd_gnd`,
    * get_gnd_from_fg_and_wd.rq:14): every fifth customer's wikidata
    * twin, same GND scheme as the FactGrid side. */
  def wdGndStatements(spark: SparkSession, dir: String): DataFrame = {
    Triples.rows(Tables.customer(spark, dir).filter(col("c_custkey") % 5 === 0),
      lit(3L * Triples.NS) + col("c_custkey").cast("long"), lit("wd_gnd"),
      oVal = concat(lit("GND"), col("c_custkey").cast("string")))
  }

  /** kg_sparql_fgids — get_factgrid_ids_from_wikidata.rq
    * BYTE-FOR-BYTE: remove-na members WITHOUT a wikidata sitelink
    * (FILTER NOT EXISTS over the link reification), the
    * REPLACE(STR(?fg_item)) id-string BIND, and the remote P8168
    * backlink joined on that literal — the reference's
    * find-unlinked-items maintenance query. */
  def kgSparqlFgids(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, sitelinkStatements(spark, dir),
      referenceText("get_factgrid_ids_from_wikidata.rq"),
      predAliases = sitelinkAliases ++ Map("fgt:P131" -> "in_nation"),
      entityAliases = Map("fg:Q400012" -> (2L * Triples.NS + 3)),
      entityValued = defaultEntityPreds + "schema_about",
      graphs = Map(wikidataEndpoint -> ServiceGraph(wdFgidStatements(spark, dir),
        predAliases = Map("wdt:P8168" -> "wd_fgid"))))

  /** kg_sparql_fgids_rna — get_factgrid_ids_from_wikidata-removena.rq
    * BYTE-FOR-BYTE: remove-na members WITH their sitelink, the
    * qid→IRI BIND, a three-language label chain plus an AltLabel
    * column, and a remote OPTIONAL P8168 claim joined through the
    * declared IRI scheme. */
  def kgSparqlFgidsRna(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, sitelinkStatements(spark, dir),
      referenceText("get_factgrid_ids_from_wikidata-removena.rq"),
      predAliases = sitelinkAliases ++ Map("fgt:P131" -> "in_nation"),
      entityAliases = Map("fg:Q400012" -> (2L * Triples.NS + 3)),
      entityValued = defaultEntityPreds + "schema_about",
      graphs = Map(wikidataEndpoint -> ServiceGraph(wdFgidStatements(spark, dir),
        predAliases = Map("wdt:P8168" -> "wd_fgid"),
        iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS)))))

  /** kg_sparql_gnd — get_gnd_from_fg_and_wd.rq BYTE-FOR-BYTE: the
    * FactGrid GND literal and instance-of hop, a dangling quoted
    * CONCAT BIND, the qid→IRI round trip, and the remote OPTIONAL
    * P227 GND claim — the reference's cross-authority identifier
    * reconciliation query. */
  def kgSparqlGnd(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, gndStatements(spark, dir),
      referenceText("get_gnd_from_fg_and_wd.rq"),
      predAliases = sitelinkAliases ++ Map("fgt:P131" -> "in_nation",
        "fgt:P2" -> "in_nation", "fgt:P76" -> "gnd"),
      entityAliases = Map("fg:Q400012" -> (2L * Triples.NS + 3)),
      entityValued = defaultEntityPreds + "schema_about",
      graphs = Map(wikidataEndpoint -> ServiceGraph(wdGndStatements(spark, dir),
        predAliases = Map("wdt:P227" -> "wd_gnd"),
        iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS)))))

  // ---- compare-factgrid-wikidata files VERBATIM ---------------------

  /** Corresponding-Wikidata-property code per property entity
    * (`fg:P117 fgt:P343 ?code` — compare-factgrid-wikidata_one_item
    * .rq:13): the dictionary index offset into wikidata's P-space.
    * Shared between the store rows, the remote claim predicates, and
    * the oracle so the three cannot drift. */
  def corrWdCode(p: String): String = {
    val id = directClaimProps.find(_._2 == p).getOrElse(
      throw new IllegalArgumentException(s"'$p' is not a dictionary predicate"))._1
    s"P${100 + (id - 8L * Triples.NS)}"
  }

  /** The compare files' outer store — [[net2Statements]] (sitelinks
    * on items AND values) extended with the `corr_wd` property-
    * dictionary literals. */
  def compareStatements(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark; import sess.implicits._
    val corr = Triples.rows(directClaimProps.map { case (id, p) => (id, corrWdCode(p)) }
      .toDF("sid", "code"), col("sid"), lit("corr_wd"), oVal = col("code"))
    net2Statements(spark, dir).unionAll(corr)
  }

  /** The compare files' wikidata stand-in: every SECOND customer's
    * twin carries one claim under the corresponding-property IRI
    * (predicates in this graph's dialect ARE full IRI strings, so the
    * outer `BIND(IRI(CONCAT(STR(wdt:), ?code)))` round trip joins the
    * remote p column directly), its value the nation twin's IRI TEXT
    * — drifted one nation forward for every FOURTH customer, so
    * is_same exercises all three verdicts (true / false / null). */
  def wdCompareStatements(spark: SparkSession, dir: String): DataFrame = {
    val wdNation = when(col("c_custkey") % 4 === 0, (col("c_nationkey") + 1) % 25)
      .otherwise(col("c_nationkey"))
    Triples.rows(Tables.customer(spark, dir).filter(col("c_custkey") % 2 === 0),
      lit(3L * Triples.NS) + col("c_custkey").cast("long"),
      lit("http://www.wikidata.org/prop/direct/" + corrWdCode("in_nation")),
      oVal = concat(lit("http://www.wikidata.org/entity/Q"),
        (lit(wdNationOffset) + wdNation).cast("string")))
  }

  private def compareAliases: (Map[String, String], Map[String, Long]) = (
    sitelinkAliases ++ Map(
      "fgt:P117" -> "in_nation", "fgt:P343" -> "corr_wd"),
    Map("fg:Q223420" -> (3L * Triples.NS + companionsRootKey),
      "fg:P117" -> directClaimProps.find(_._2 == "in_nation").get._1))

  private def compareGraphs(spark: SparkSession, dir: String): Map[String, ServiceGraph] =
    Map(wikidataEndpoint -> ServiceGraph(wdCompareStatements(spark, dir),
      entityValued = Set("~"),
      iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS))))

  /** kg_sparql_cmp1 — compare-factgrid-wikidata_one_item.rq
    * BYTE-FOR-BYTE: a parameterized property (BIND'd predicate
    * constant substituted into the claim pattern), the property's
    * corresponding-wikidata code read from the dictionary and
    * IRI-rendered, the qid→IRI round trip on item AND value, and the
    * remote OPTIONAL claim under the corresponding-property IRI. */
  def kgSparqlCmp1(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = compareAliases
    runOn(spark, compareStatements(spark, dir),
      referenceText("compare-factgrid-wikidata_one_item.rq"), pa, ea,
      entityValued = defaultEntityPreds + "schema_about",
      graphs = compareGraphs(spark, dir))
  }

  /** kg_sparql_cmp — compare-factgrid-wikidata_many_items.rq
    * BYTE-FOR-BYTE: as [[kgSparqlCmp1]] over EVERY sitelinked item,
    * closed by the `IF(?wd_value_from_fg = ?wd_value_from_wd)`
    * drift verdict (true / false / null-propagating, the reference's
    * cross-graph consistency report). */
  def kgSparqlCmp(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = compareAliases
    runOn(spark, compareStatements(spark, dir),
      referenceText("compare-factgrid-wikidata_many_items.rq"), pa, ea,
      entityValued = defaultEntityPreds + "schema_about",
      graphs = compareGraphs(spark, dir))
  }

  // ---- persons/orgs_factgrid_wikidata files VERBATIM ----------------

  /** Class entities for the persons/orgs exports: fg:Q7 (person) and
    * fg:Q12 (organisation) as REAL store entities with labels and
    * their own sitelinks — customers type as persons, suppliers as
    * organisations, so the two files' class paths split the item set
    * the way the reference's do. */
  private val personClass = 10L * Triples.NS + 7
  private val orgClass    = 10L * Triples.NS + 12
  /** Qid digit offsets per remote-entity family (customers use the
    * bare custkey; nations use [[wdNationOffset]]). */
  private val wdClassOffset    = 2000000000L
  private val wdSupplierOffset = 3000000000L

  /** The biographical-export store: [[net2Statements]] plus type
    * edges (customer→person, supplier→org), class labels+sitelinks,
    * supplier sitelinks, and the P728/P91/P76 identifier literals the
    * persons file's OPTIONAL blocks read. */
  def bioStatements(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark; import sess.implicits._
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val ctype = Triples.rows(c, Triples.id(Triples.CUSTOMER, col("c_custkey")),
      lit("type_of"), oId = lit(personClass))
    val stype = Triples.rows(s, Triples.id(Triples.SUPPLIER, col("s_suppkey")),
      lit("type_of"), oId = lit(orgClass))
    val classes = Seq((personClass, 7L, "Person"), (orgClass, 12L, "Organisation"))
      .toDF("cid", "code", "cname")
    val clabels = Triples.rows(classes, col("cid"), lit("label"),
      oVal = col("cname"), lang = lit("en"))
    val clinks = sitelinks(classes, lit(18L * Triples.NS) + col("code"), col("cid"),
      wikidataSite, concat(lit("Q"), (lit(wdClassOffset) + col("code")).cast("string")))
    val slinks = sitelinks(s.filter(col("s_suppkey") % 3 === 0),
      lit(19L * Triples.NS) + col("s_suppkey"), Triples.id(Triples.SUPPLIER, col("s_suppkey")),
      wikidataSite, concat(lit("Q"), (lit(wdSupplierOffset) + col("s_suppkey")).cast("string")))
    def custLit(keep: Column, p: String, v: Column) = Triples.rows(c.filter(keep),
      Triples.id(Triples.CUSTOMER, col("c_custkey")), lit(p), oVal = v.cast("string"))
    val forum = custLit(col("c_custkey") % 4 === 0, "forum_id",
      concat(lit("F"), col("c_custkey")))
    val member = custLit(col("c_custkey") % 5 === 0, "member_of",
      concat(lit("M"), col("c_custkey")))
    val gnd = custLit(col("c_custkey") % 2 === 0, "gnd",
      concat(lit("GND"), col("c_custkey")))
    net2Statements(spark, dir).unionAll(ctype).unionAll(stype).unionAll(clabels)
      .unionAll(clinks).unionAll(slinks).unionAll(forum).unionAll(member).unionAll(gnd)
  }

  private def bioAliases: (Map[String, String], Map[String, Long]) = (
    sitelinkAliases ++ Map(
      "fgt:P131" -> "in_nation", "fgt:P2" -> "type_of", "fgt:P3" -> "subclass_of",
      "fgt:P83" -> "in_nation", "fgt:P728" -> "forum_id", "fgt:P452" -> "mktsegment",
      "fgt:P76" -> "gnd", "fgt:P91" -> "member_of"),
    Map("fg:Q400012" -> (2L * Triples.NS + 3),
      "fg:Q7" -> personClass, "fg:Q12" -> orgClass))

  /** kg_sparql_persons — persons_factgrid_wikidata.rq BYTE-FOR-BYTE:
    * remove-na PERSONS (the class path hits the customer type edge),
    * three sitelink round trips (item, location, instance-class),
    * and five identifier OPTIONALs — the reference's biographical
    * export. */
  def kgSparqlPersons(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = bioAliases
    runOn(spark, bioStatements(spark, dir),
      referenceText("persons_factgrid_wikidata.rq"), pa, ea,
      entityValued = defaultEntityPreds ++ Set("schema_about", "type_of", "subclass_of"))
  }

  /** kg_sparql_orgs — orgs_factgrid_wikidata.rq BYTE-FOR-BYTE: as
    * [[kgSparqlPersons]] for ORGANISATIONS (suppliers). */
  def kgSparqlOrgs(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = bioAliases
    runOn(spark, bioStatements(spark, dir),
      referenceText("orgs_factgrid_wikidata.rq"), pa, ea,
      entityValued = defaultEntityPreds ++ Set("schema_about", "type_of", "subclass_of"))
  }

  // ---- companions_hirschfeld + db_all_person_relations VERBATIM -----

  private val hirschfeldRootKey = 9L

  /** kg_sparql_hirschfeld — companions_hirschfeld.rq BYTE-FOR-BYTE:
    * the root's sitelink round trip into the DBpedia graph — sameAs,
    * wiki-links restricted to persons, the Stefan-Zweig MINUS-regex
    * exclusion, a regex FILTER on the targets' own sameAs text, and
    * required thumbnails; the trailing wikidata SERVICE holds one
    * empty OPTIONAL and drops as a no-op. */
  def kgSparqlHirschfeld(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, sitelinkStatements(spark, dir),
      referenceText("companions_hirschfeld.rq"),
      predAliases = sitelinkAliases,
      entityAliases = Map("fg:Q225307" -> (3L * Triples.NS + hirschfeldRootKey)),
      autoLang = "en",
      entityValued = defaultEntityPreds + "schema_about",
      graphs = Map(dbpediaEndpoint -> dbpediaGraph(spark, dir)))

  /** Family-relation edges per kind (predicate name, key residue,
    * modulus, target offset): deterministic so the DuckDB twin
    * regenerates them; the spread of moduli gives the root a
    * multi-kind household. */
  private[kg] val familyKinds: Seq[(String, Long, Long, Long)] = Seq(
    ("family_spouse",     0L,  3L, 1L),
    ("family_partner",    0L,  9L, 2L),
    ("family_sibling",    0L,  3L, 5L),
    ("family_mother",     0L,  6L, 3L),
    ("family_stepmother", 0L, 12L, 7L),
    ("family_father",     3L,  6L, 3L),
    ("family_stepfather", 9L, 12L, 7L),
    ("family_student",    0L,  9L, 4L))

  /** db_all_person_relations.rq's outer store: sitelinks + the family
    * edge families + the DBpedia mirrors' labels (so the label
    * service can resolve branch-2 values). */
  def familyStatements(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val keys = c.select(col("c_custkey").cast("long").as("k"))
    val edges = familyKinds.map { case (p, res, mod, off) =>
      Triples.rows(keys.filter(col("k") % mod === res)
          .join(c.select(col("c_custkey").cast("long").as("t")), col("t") === col("k") + off),
        lit(3L * Triples.NS) + col("k"), lit(p), oId = lit(3L * Triples.NS) + col("t"))
    }.reduce(_ unionAll _)
    val dbpLabels = Triples.rows(c, lit(9L * Triples.NS) + col("c_custkey"), lit("label"),
      oVal = concat(lit("DBP "), col("c_name")), lang = lit("en"))
    sitelinkStatements(spark, dir).unionAll(edges).unionAll(dbpLabels)
  }

  /** The wikidata family graph for db_all_person_relations branch 3:
    * one family claim per third customer twin (all nine `wdt:` family
    * VALUES names resolve to it) plus a P18 image literal on every
    * twin. */
  def wdFamilyStatements(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val keys = c.select(col("c_custkey").cast("long").as("k"))
    val edges = Triples.rows(keys.filter(col("k") % 3 === 0)
        .join(c.select(col("c_custkey").cast("long").as("t")), col("t") === col("k") + 2),
      lit(3L * Triples.NS) + col("k"), lit("wd_family"), oId = lit(3L * Triples.NS) + col("t"))
    val imgs = Triples.rows(c, Triples.id(Triples.CUSTOMER, col("c_custkey")), lit("wd_img"),
      oVal = concat(lit("wdimg_"), col("c_custkey").cast("string")))
    edges.unionAll(imgs)
  }

  /** kg_sparql_family — db_all_person_relations.rq BYTE-FOR-BYTE: a
    * three-branch UNION reading the same person's relations from
    * THREE graphs — factgrid family edges via a nine-name VALUES
    * predicate block, DBpedia via the thirteen dbo: relation names,
    * wikidata via nine wdt: names through the IRI scheme — each
    * branch OPTIONAL, images required per branch, under the label
    * service. */
  def kgSparqlFamily(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, familyStatements(spark, dir),
      referenceText("db_all_person_relations.rq"),
      predAliases = sitelinkAliases ++ Map(
        "fgt:P84" -> "family_spouse", "fgt:P117" -> "family_partner",
        "fgt:P203" -> "family_sibling", "fgt:P142" -> "family_mother",
        "fgt:P313" -> "family_stepmother", "fgt:P141" -> "family_father",
        "fgt:P312" -> "family_stepfather", "fgt:P190" -> "family_student",
        "fgt:P189" -> "mktsegment"),
      entityAliases = Map("fg:Q223420" -> (3L * Triples.NS + hirschfeldRootKey)),
      autoLang = "de",
      entityValued = defaultEntityPreds ++ Set("schema_about") ++
        familyKinds.map(_._1).toSet,
      graphs = Map(
        dbpediaEndpoint -> dbpediaGraph(spark, dir),
        wikidataEndpoint -> ServiceGraph(wdFamilyStatements(spark, dir),
          predAliases = Seq("P26", "P22", "P25", "P40", "P451", "P1038", "P1066",
            "P1290", "P3373", "P3448").map(p => s"wdt:$p" -> "wd_family").toMap +
            ("wdt:P18" -> "wd_img"),
          entityValued = Set("wd_family"),
          iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS)))))

  // ---- time-items.rq VERBATIM ---------------------------------------

  private val birthProp  = 8L * Triples.NS + 20
  private val bestRankCls = 10L * Triples.NS + 40

  /** The smallest sitelinked remove-na member — time-items.rq's
    * `fg:Q376282` root, derived from the data (query-sized driver
    * lookup, the companionAnchors contract). */
  private def timeRootKey(spark: SparkSession, dir: String): Long = {
    Tables.customer(spark, dir)
      .filter(col("c_nationkey") === 3 && col("c_custkey") % 3 === 0)
      .agg(min(col("c_custkey")).cast("long")).head().getLong(0)
  }

  /** The time-items outer store: sitelinks + the birth-date statement
    * layer — truthy literal (`fgt:P38`), statement node with BestRank
    * typing (`fgp:P38` / `a wikibase:BestRank`), value node with its
    * timePrecision qualifier (`fgpsv:P38` / `wikibase:timePrecision`,
    * day for even keys, year for odd) — plus the P38 property
    * entity's type and corresponding-wikidata code. */
  def timeStatements(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark; import sess.implicits._
    val c = Tables.customer(spark, dir)
    val cid = Triples.id(Triples.CUSTOMER, col("c_custkey"))
    val stmt = lit(20L * Triples.NS) + col("c_custkey").cast("long")
    val vnode = lit(21L * Triples.NS) + col("c_custkey").cast("long")
    val birth = Triples.rows(c, cid, lit("birth"),
      oVal = concat(lit("D"), col("c_custkey").cast("string")))
    val stmtE = Triples.rows(c, cid, lit("stmt_birth"), oId = stmt)
    val rank = Triples.rows(c, stmt, lit("type_of"), oId = lit(bestRankCls))
    val psv = Triples.rows(c, stmt, lit("psv_birth"), oId = vnode)
    val prec = Triples.rows(c, vnode, lit("time_prec"),
      oVal = when(col("c_custkey") % 2 === 0, "11").otherwise("9"))
    val meta = Triples.rows(Seq((birthProp, "prop_type", "Time"), (birthProp, "corr_wd", "P569"))
      .toDF("s0", "p0", "v0"), col("s0"), col("p0"), oVal = col("v0"))
    sitelinkStatements(spark, dir).unionAll(birth).unionAll(stmtE)
      .unionAll(rank).unionAll(psv).unionAll(prec).unionAll(meta)
  }

  /** The time-items wikidata graph: per-twin P569 claims under FULL
    * IRI predicate strings (direct / statement / statement-value —
    * matching the outer wdt:/wdp:/wdpsv: BIND renders), BestRank
    * statement typing, and day-precision value nodes. Every second
    * twin carries the claim; every fourth matches the FactGrid value
    * exactly, so is_same exercises true / false / null. */
  def wdTimeStatements(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") % 2 === 0)
    val wid = lit(3L * Triples.NS) + col("c_custkey").cast("long")
    val stmt = lit(22L * Triples.NS) + col("c_custkey").cast("long")
    val vnode = lit(23L * Triples.NS) + col("c_custkey").cast("long")
    val raw = when(col("c_custkey") % 4 === 0, concat(lit("D"), col("c_custkey").cast("string")))
      .otherwise(concat(lit("WD"), col("c_custkey").cast("string")))
    val direct = Triples.rows(c, wid, lit("http://www.wikidata.org/prop/direct/P569"), oVal = raw)
    val stmtE = Triples.rows(c, wid, lit("http://www.wikidata.org/prop/P569"), oId = stmt)
    val rank = Triples.rows(c, stmt, lit("type_of"), oId = lit(bestRankCls))
    val psv = Triples.rows(c, stmt, lit("http://www.wikidata.org/prop/statement/value/P569"),
      oId = vnode)
    val prec = Triples.rows(c, vnode, lit("time_prec"), oVal = lit("11"))
    direct.unionAll(stmtE).unionAll(rank).unionAll(psv).unionAll(prec)
  }

  /** kg_sparql_time — time-items.rq BYTE-FOR-BYTE: the deepest
    * Wikibase access path in the corpus — FIVE BIND'd property-role
    * constants (direct / entity / statement / statement-value), the
    * blank-node BestRank + timePrecision walk on BOTH graphs (remote
    * via outer-rendered IRI predicate strings), value/precision
    * string synthesis, and the three-valued is_same verdict. */
  def kgSparqlTime(spark: SparkSession, dir: String): DataFrame = {
    val root = timeRootKey(spark, dir)
    runOn(spark, timeStatements(spark, dir),
      referenceText("time-items.rq"),
      predAliases = sitelinkAliases ++ Map("fgt:P131" -> "in_nation",
        "fgt:P38" -> "birth", "fgp:P38" -> "stmt_birth", "fgpsv:P38" -> "psv_birth",
        "fgt:P343" -> "corr_wd", "wikibase:propertyType" -> "prop_type",
        "a" -> "type_of", "wikibase:timePrecision" -> "time_prec"),
      entityAliases = Map(
        "fg:Q376282" -> (3L * Triples.NS + root),
        "fg:Q400012" -> (2L * Triples.NS + 3),
        "fg:P38" -> birthProp,
        "wikibase:BestRank" -> bestRankCls),
      autoLang = "en",
      entityValued = defaultEntityPreds ++
        Set("schema_about", "stmt_birth", "psv_birth", "type_of"),
      graphs = Map(wikidataEndpoint -> ServiceGraph(wdTimeStatements(spark, dir),
        predAliases = Map("a" -> "type_of", "wikibase:timePrecision" -> "time_prec"),
        entityAliases = Map("wikibase:BestRank" -> bestRankCls),
        entityValued = Set("type_of", "~"),
        iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS)))))
  }

  // ---- companions_and_relations_no_constants.rq VERBATIM ------------

  /** Wikidata-IRI NODES inside the DBpedia stand-in (the no_constants
    * variant's branch 6 walks `?wd_item ?relation ?value` with the
    * wd IRI as a dbpedia-graph SUBJECT, so sameAs must be an ENTITY
    * edge there, not IRI text): mirrors link to a wd node per
    * customer, and wd nodes carry the same wiki-link claims as their
    * mirrors. The IRI scheme joins the outer round-tripped string
    * onto the wd-node namespace. */
  private val wdNodeNs = 11L * Triples.NS

  /** `(c_custkey, t_key)`: each wikidata-linked customer (custkey % 3)
    * paired with the next two customers, its wiki-link targets in the
    * DBpedia stand-in. */
  private def wikilinkTargets(spark: SparkSession, c: DataFrame): DataFrame =
    c.filter(col("c_custkey") % 3 === 0).select(col("c_custkey"))
      .crossJoin(spark.range(1, 3).select(col("id").as("off")))
      .join(c.select(col("c_custkey").as("t_key")), col("t_key") === col("c_custkey") + col("off"))
  def dbpediaNodeStatements(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val DB = 9L * Triples.NS
    val sameasE = Triples.rows(c, lit(DB) + col("c_custkey"), lit("owl_sameas"),
      oId = lit(wdNodeNs) + col("c_custkey"))
    val wdLinks = Triples.rows(wikilinkTargets(spark, c), lit(wdNodeNs) + col("c_custkey"),
      lit("db_wikilink"), oId = lit(DB) + col("t_key"))
    dbpediaStatements(spark, dir).filter(col("p") =!= "owl_sameas")
      .unionAll(sameasE).unionAll(wdLinks)
  }

  /** kg_sparql_noconst — companions_and_relations_no_constants.rq
    * BYTE-FOR-BYTE: the companions union widened to SIX branches —
    * the extra dbpedia branch walks relations off the wd-IRI node
    * itself — projected down to the image-grid columns (?sortname is
    * never bound: a projected-unbound null, per spec). The dbpedia
    * graph here uses the ENTITY form of sameAs with an IRI scheme on
    * the wd-node namespace. */
  def kgSparqlNoConst(spark: SparkSession, dir: String): DataFrame = {
    val (ra, rb) = companionAnchors(spark, dir)
    val dbp = dbpediaGraph(spark, dir).copy(
      statements = dbpediaNodeStatements(spark, dir),
      entityValued = Set("db_wikilink", "db_type", "owl_sameas"),
      iriScheme = Some(("http://www.wikidata.org/entity/", wdNodeNs)))
    runOn(spark, companionsStatements(spark, dir),
      referenceText("companions_and_relations_no_constants.rq"),
      predAliases = sitelinkAliases ++ Map(
        "fgt:P2" -> "in_region", "fgt:P3" -> "in_region",
        "fgt:P189" -> "label",
        "wikibase:directClaim" -> "directClaim"),
      entityAliases = Map(
        "fg:Q223420" -> (3L * Triples.NS + companionsRootKey),
        "fg:Q7" -> ra, "fg:Q12" -> ra),
      autoLang = "en",
      entityValued = defaultEntityPreds + "schema_about",
      graphs = companionsGraphs(spark, dir, ra, rb) + (dbpediaEndpoint -> dbp))
  }

  // ---- lokale-from-factgrid.rq VERBATIM -----------------------------

  /** kg_sparql_lokale — lokale-from-factgrid.rq BYTE-FOR-BYTE (the
    * round-4 verbatim milestone, promoted from spec-only to the
    * oracle gate): "de"-only label chain with id-string fallback, the
    * five-branch UNION with ';' continuations, seven OPTIONALs incl.
    * the sitelink block, and three projected-but-unbound null
    * columns. Bag semantics: no DISTINCT, so the five identical
    * branches and the label fan-out multiply — the oracle replays the
    * multiplicity exactly. */
  def kgSparqlLokale(spark: SparkSession, dir: String): DataFrame = {
    val n5 = 2L * Triples.NS + 5
    runOn(spark, sitelinkStatements(spark, dir),
      referenceText("lokale-from-factgrid.rq"),
      predAliases = Map(
        "wdt:P2" -> "in_nation", "wdt:P726" -> "in_nation",
        "wdt:P208" -> "in_nation", "wdt:P48" -> "label",
        "wdt:P49" -> "label", "wdt:P50" -> "mktsegment",
        "wdt:P106" -> "label", "wdt:P573" -> "mktsegment") ++ sitelinkAliases,
      entityAliases = Map(
        "wd:Q40454" -> n5, "wd:Q399989" -> n5, "wd:Q399990" -> n5,
        "wd:Q399988" -> n5, "wd:Q400014" -> n5, "wd:Q137530" -> n5),
      entityValued = defaultEntityPreds + "schema_about")
  }

  // ---- test.rq VERBATIM ---------------------------------------------

  /** kg_sparql_test — test.rq BYTE-FOR-BYTE: the companions prototype
    * — a two-branch UNION of per-graph OPTIONALs (factgrid class-path
    * + directClaim helper, remote wikidata class-path with an
    * explicit rdfs:label + LANG filter), LIMIT 10 (a no-op above the
    * result size, so the page is deterministic). */
  def kgSparqlTest(spark: SparkSession, dir: String): DataFrame = {
    val (ra, _) = companionAnchors(spark, dir)
    runOn(spark, companionsStatements(spark, dir),
      referenceText("test.rq"),
      predAliases = sitelinkAliases ++ Map(
        "fgt:P2" -> "in_region", "fgt:P3" -> "in_region",
        "wikibase:directClaim" -> "directClaim"),
      entityAliases = Map(
        "fg:Q225307" -> (3L * Triples.NS + companionsRootKey),
        "fg:Q12" -> ra),
      autoLang = "en",
      entityValued = defaultEntityPreds + "schema_about",
      graphs = companionsGraphs(spark, dir, ra, ra))
  }

  // ---- get_all_properties files VERBATIM ----------------------------

  private val propGroupA = 10L * Triples.NS + 30
  private val propGroupB = 10L * Triples.NS + 31

  /** Property-dictionary metadata store
    * (get_all_properties_with_corresponding_prop.rq): each direct-
    * claim property entity with its label, `wikibase:propertyType`,
    * corresponding-wikidata code, and a part-of grouping edge
    * (alternating two labeled groups — fg:Q100632 is the person-
    * properties group the person variant filters on). */
  def propMetaStatements(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark; import sess.implicits._
    val props = directClaimProps.zipWithIndex
      .map { case ((id, p), i) => (id, p, corrWdCode(p), i.toLong) }
      .toDF("pid", "pname", "code", "idx")
    val labels = Triples.rows(props, col("pid"), lit("label"), oVal = col("pname"), lang = lit("en"))
    val ptype = Triples.rows(props, col("pid"), lit("prop_type"), oVal = lit("WikibaseItem"))
    val corr = Triples.rows(props, col("pid"), lit("corr_wd"), oVal = col("code"))
    val partOf = Triples.rows(props, col("pid"), lit("part_of"),
      oId = when(col("idx") % 2 === 0, propGroupA).otherwise(propGroupB))
    val groups = Triples.rows(Seq((propGroupA, "Property group A"), (propGroupB, "Property group B"))
      .toDF("gid", "gname"), col("gid"), lit("label"), oVal = col("gname"), lang = lit("en"))
    Triples.statements(spark, dir).unionAll(labels).unionAll(ptype)
      .unionAll(corr).unionAll(partOf).unionAll(groups)
  }

  private def propMetaAliases: (Map[String, String], Map[String, Long]) = (
    Map("fgt:P343" -> "corr_wd", "wikibase:propertyType" -> "prop_type",
      "fgt:P8" -> "part_of"),
    Map("fg:Q100632" -> propGroupA))

  /** kg_sparql_props — get_all_properties_with_corresponding_prop.rq
    * BYTE-FOR-BYTE: the whole property dictionary with labels, types,
    * wikidata correspondence IRIs, and the part-of grouping under the
    * label service (LIMIT 314 is a no-op above the dictionary
    * size). */
  def kgSparqlProps(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = propMetaAliases
    runOn(spark, propMetaStatements(spark, dir),
      referenceText("get_all_properties_with_corresponding_prop.rq"), pa, ea,
      entityValued = defaultEntityPreds + "part_of")
  }

  /** kg_sparql_props_person —
    * get_all_properties_person_with_corresponding_prop.rq
    * BYTE-FOR-BYTE: the person-group slice of the dictionary; the
    * file's `ORDER BY (?PropertyLabel)` names an unbound variable
    * (the reference's own typo) — endpoint semantics make it a no-op
    * sort, which the compiler honors. */
  def kgSparqlPropsPerson(spark: SparkSession, dir: String): DataFrame = {
    val (pa, ea) = propMetaAliases
    runOn(spark, propMetaStatements(spark, dir),
      referenceText("get_all_properties_person_with_corresponding_prop.rq"), pa, ea,
      entityValued = defaultEntityPreds + "part_of")
  }

  /** Unreferenced-object text — network-03's trailing `?item1 ?fgt2
    * ?item2` where ?item2 is never projected, joined, filtered, or
    * labeled: the scan binds nothing for it and keeps EVERY statement
    * row (exact multiplicity — each statement has one object term),
    * instead of guessing a type or rejecting. */
  val predFreeText: String =
    """SELECT ?s ?p WHERE {
      |  ?s ?p ?o .
      |  ?s in_nation ?n .
      |}""".stripMargin

  /** kg_sparql_pred_free — [[predFreeText]] under the hash gate. */
  def kgSparqlPredFree(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, predFreeText)

  /** Solution-modifier text — `ORDER BY DESC(?v) ?tiebreak LIMIT n
    * OFFSET m` (OFFSET applies first, per spec). The unique ?c key in
    * the sort makes the selected WINDOW deterministic, so the page is
    * hash-checkable. */
  val orderText: String =
    """SELECT ?c ?n WHERE {
      |  ?c in_nation ?n .
      |} ORDER BY DESC(?n) ?c LIMIT 20 OFFSET 5""".stripMargin

  /** kg_sparql_order — [[orderText]] under the hash gate. */
  def kgSparqlOrder(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, orderText)

  // ---- companions_and_relations.rq VERBATIM -------------------------

  /** The companions outer store: base statements + the sitelink
    * reification + the directClaim property dictionary — everything
    * the file's factgrid side touches. */
  def companionsStatements(spark: SparkSession, dir: String): DataFrame =
    sitelinkStatements(spark, dir).unionAll(directClaims(spark))

  /** The deterministic DBpedia stand-in graph (companions branch 5):
    * a db-namespace mirror entity per wikidata-linked customer,
    * `owl:sameAs` carrying the wikidata IRI TEXT as a literal (what
    * joins the outer `?wd_item` string), wiki-link edges to the next
    * two customers' mirrors, a Person class for even custkeys, labels
    * and thumbnails. Everything derives from the customer table, so
    * the DuckDB twin regenerates it exactly. */
  def dbpediaStatements(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val DB = 9L * Triples.NS
    val mirror = lit(DB) + col("c_custkey")
    // EVERY mirror carries its wikidata sameAs (hirschfeld's wikilink
    // TARGETS need one; companions only ever joins the root's row, so
    // its result is unchanged by the wider coverage)
    val sameas = Triples.rows(c, mirror, lit("owl_sameas"),
      oVal = concat(lit("http://www.wikidata.org/entity/Q"), col("c_custkey")))
    val wikilinks = Triples.rows(wikilinkTargets(spark, c), mirror, lit("db_wikilink"),
      oId = lit(DB) + col("t_key"))
    val persons = Triples.rows(c.filter(col("c_custkey") % 2 === 0), mirror, lit("db_type"),
      oId = lit(10L * Triples.NS + 1))
    val labels = Triples.rows(c, mirror, lit("db_label"),
      oVal = concat(lit("DBP "), col("c_name")), lang = lit("en"))
    val thumbs = Triples.rows(c.filter(col("c_custkey") % 5 === 0), mirror, lit("db_thumb"),
      oVal = concat(lit("thumb_"), col("c_custkey"), lit(".jpg")))
    sameas.unionAll(wikilinks).unionAll(persons).unionAll(labels).unionAll(thumbs)
  }

  /** The companions root item (a sitelinked customer) and its class
    * anchors: the query's `fg:Q7`/`fg:Q12`/`wd:Q5` aliases resolve to
    * the root's own region (so the class checks MATCH — the
    * deployment fact the dialect map encodes), `wd:Q43229` to the
    * next region (the organisation branch stays empty, as it would
    * for a person). One 2-row driver lookup — the query-sized-seed
    * contract. */
  private val companionsRootKey = 9L
  private[graft] def companionAnchors(spark: SparkSession, dir: String): (Long, Long) = {
    val nk = Tables.customer(spark, dir).filter(col("c_custkey") === companionsRootKey)
      .select(col("c_nationkey").cast("long")).head().getLong(0)
    val rk = Tables.nation(spark, dir).filter(col("n_nationkey") === nk)
      .select(col("n_regionkey").cast("long")).head().getLong(0)
    (Triples.REGION * Triples.NS + rk, Triples.REGION * Triples.NS + (rk + 1) % 5)
  }

  private val dbpediaEndpoint = "https://dbpedia.org/sparql"

  /** The two remote graphs companions_and_relations.rq federates
    * over: "wikidata" = the full base store under wikidata's
    * vocabulary with the IRI scheme that joins the file's
    * qid→IRI-string round trip, and the deterministic DBpedia
    * stand-in. */
  def companionsGraphs(spark: SparkSession, dir: String,
      regionA: Long, regionB: Long): Map[String, ServiceGraph] = Map(
    wikidataEndpoint -> ServiceGraph(Triples.statements(spark, dir),
      predAliases = Map(
        "rdfs:label" -> "label",
        "wdt:P31" -> "in_region", "wdt:P279" -> "in_region",
        "wdt:P18" -> "mktsegment"),
      entityAliases = Map("wd:Q5" -> regionA, "wd:Q43229" -> regionB),
      entityValued = defaultEntityPreds,
      iriScheme = Some(("http://www.wikidata.org/entity/", 3L * Triples.NS))),
    dbpediaEndpoint -> dbpediaGraph(spark, dir))

  /** The DBpedia stand-in as a registered federation target — shared
    * by companions, hirschfeld, and db_all_person_relations (the
    * latter's 13 `dbo:` person-relation VALUES names all resolve to
    * the wiki-link edge, this graph's relation stand-in). */
  def dbpediaGraph(spark: SparkSession, dir: String): ServiceGraph =
    ServiceGraph(dbpediaStatements(spark, dir),
      predAliases = Map(
        "owl:sameAs" -> "owl_sameas",
        "dbo:wikiPageWikiLink" -> "db_wikilink",
        "a" -> "db_type",
        "rdfs:label" -> "db_label",
        "dbo:thumbnail" -> "db_thumb") ++
        Seq("partner", "relation", "relative", "child", "spouse", "parent",
          "opponent", "affair", "colleague", "friend", "sibling", "spouseName",
          "student").map(n => s"dbo:$n" -> "db_wikilink"),
      entityAliases = Map("dbo:Person" -> (10L * Triples.NS + 1)),
      entityValued = Set("db_wikilink", "db_type"))

  /** kg_sparql_companions — companions_and_relations.rq, the
    * reference's FLAGSHIP query, BYTE-FOR-BYTE from its file: the
    * five-way UNION (factgrid person / factgrid organisation-path /
    * wikidata person / wikidata organisation-path / dbpedia
    * wiki-links) with per-branch OPTIONALs, source tags, the
    * MINUS-regex exclusion, two federated SERVICE graphs, the
    * qid→IRI round trip joined through the declared IRI scheme, and
    * gap-filled label synthesis — all under the hash gate. */
  def kgSparqlCompanions(spark: SparkSession, dir: String): DataFrame = {
    val (ra, rb) = companionAnchors(spark, dir)
    runOn(spark, companionsStatements(spark, dir),
      referenceText("companions_and_relations.rq"),
      predAliases = sitelinkAliases ++ Map(
        "fgt:P2" -> "in_region", "fgt:P3" -> "in_region",
        "fgt:P189" -> "label",
        "wikibase:directClaim" -> "directClaim"),
      entityAliases = Map(
        "fg:Q223420" -> (3L * Triples.NS + companionsRootKey),
        "fg:Q7" -> ra, "fg:Q12" -> ra),
      autoLang = "en",
      entityValued = defaultEntityPreds + "schema_about",
      graphs = companionsGraphs(spark, dir, ra, rb))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_sparql_companions"  -> (kgSparqlCompanions _),
    "kg_sparql_wikilinks"   -> (kgSparqlWikilinks _),
    "kg_sparql_wikilinks_rna" -> (kgSparqlWikilinksRna _),
    "kg_sparql_net3"        -> (kgSparqlNet3 _),
    "kg_sparql_net2"        -> (kgSparqlNet2 _),
    "kg_sparql_fgids"       -> (kgSparqlFgids _),
    "kg_sparql_fgids_rna"   -> (kgSparqlFgidsRna _),
    "kg_sparql_gnd"         -> (kgSparqlGnd _),
    "kg_sparql_cmp1"        -> (kgSparqlCmp1 _),
    "kg_sparql_cmp"         -> (kgSparqlCmp _),
    "kg_sparql_persons"     -> (kgSparqlPersons _),
    "kg_sparql_orgs"        -> (kgSparqlOrgs _),
    "kg_sparql_props"       -> (kgSparqlProps _),
    "kg_sparql_props_person" -> (kgSparqlPropsPerson _),
    "kg_sparql_hirschfeld"  -> (kgSparqlHirschfeld _),
    "kg_sparql_family"      -> (kgSparqlFamily _),
    "kg_sparql_time"        -> (kgSparqlTime _),
    "kg_sparql_test"        -> (kgSparqlTest _),
    "kg_sparql_noconst"     -> (kgSparqlNoConst _),
    "kg_sparql_lokale"      -> (kgSparqlLokale _),
    "kg_sparql_net0"        -> (kgSparqlNet0 _),
    "kg_sparql_net1"        -> (kgSparqlNet1 _),
    "kg_sparql_pred_free"   -> (kgSparqlPredFree _),
    "kg_sparql_order"       -> (kgSparqlOrder _),
    "kg_sparql_union_opt"   -> (kgSparqlUnionOpt _),
    "kg_sparql_expr_bind"   -> (kgSparqlExprBind _),
    "kg_sparql_service_opt" -> (kgSparqlServiceOpt _),
    "kg_sparql_blank"       -> (kgSparqlBlank _),
    "kg_sparql"             -> (kgSparql _),
    "kg_sparql_agg"         -> (kgSparqlAgg _),
    "kg_sparql_path"        -> (kgSparqlPath _),
    "kg_sparql_label"       -> (kgSparqlLabel _),
    "kg_sparql_minus"       -> (kgSparqlMinus _),
    "kg_sparql_values"      -> (kgSparqlValues _),
    "kg_sparql_pred"        -> (kgSparqlPred _),
    "kg_sparql_pred_values" -> (kgSparqlPredValues _),
    "kg_sparql_sitelinks"   -> (kgSparqlSitelinks _),
    "kg_sparql_gc"          -> (kgSparqlGc _),
    "kg_sparql_direct"      -> (kgSparqlDirect _),
    "kg_sparql_service"     -> (kgSparqlService _),
    "kg_sparql_federated"   -> (kgSparqlFederated _),
    "kg_sparql_lang"        -> (kgSparqlLang _),
    "kg_sparql_construct"   -> (kgSparqlConstruct _),
    "kg_sparql_ask"         -> (kgSparqlAsk _),
    "kg_sparql_describe"    -> (kgSparqlDescribe _),
    "kg_sparql_path_alt"    -> (kgSparqlPathAlt _),
    "kg_sparql_path_plus"   -> (kgSparqlPathPlus _),
    "kg_sparql_path_opt"    -> (kgSparqlPathOpt _),
    "kg_sparql_nitems"      -> (kgSparqlNitems _),
    "kg_sparql_path_neg"    -> (kgSparqlPathNeg _),
    "kg_sparql_path_nest"   -> (kgSparqlPathNest _),
    "kg_sparql_path_inv"    -> (kgSparqlPathInv _))

  /** Shared oracle pieces for the network-* files: the directClaim
    * dictionary as inline VALUES, the best-label window (de-preferred,
    * en fallback, id-string default), and the entity-object hop scan. */
  private def networkOracle(rootsCte: String): String =
    s"""$T,
       |props AS (SELECT * FROM (VALUES ${directClaimProps
                    .map { case (id, p) => s"($id, '$p')" }.mkString(", ")}) AS v(prop, rel)),
       |best AS (SELECT s, o_val FROM (
       |  SELECT s, o_val, row_number() OVER (PARTITION BY s
       |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
       |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
       |roots AS ($rootsCte),
       |h AS (SELECT s, p, o_id FROM triples WHERE o_id IS NOT NULL),
       |hops AS (
       |  SELECT r.s AS root, t1.p AS p1, t1.o_id AS item1, t2.p AS p2, t2.o_id AS item2
       |  FROM roots r JOIN h t1 ON t1.s = r.s JOIN h t2 ON t2.s = t1.o_id),
       |j AS (SELECT hops.*, pr1.prop AS prop1, pr2.prop AS prop2
       |  FROM hops JOIN props pr1 ON pr1.rel = hops.p1
       |            JOIN props pr2 ON pr2.rel = hops.p2)
       |SELECT j.root AS root,
       |  COALESCE(bR.o_val, CAST(j.root AS VARCHAR)) AS "rootLabel",
       |  COALESCE(b1p.o_val, CAST(j.prop1 AS VARCHAR)) AS "property1Label",
       |  j.item1 AS item1,
       |  COALESCE(b1.o_val, CAST(j.item1 AS VARCHAR)) AS "item1Label",
       |  COALESCE(b2p.o_val, CAST(j.prop2 AS VARCHAR)) AS "property2Label",
       |  j.item2 AS item2,
       |  COALESCE(b2.o_val, CAST(j.item2 AS VARCHAR)) AS "item2Label"
       |FROM j LEFT JOIN best bR ON bR.s = j.root
       |LEFT JOIN best b1p ON b1p.s = j.prop1
       |LEFT JOIN best b1  ON b1.s  = j.item1
       |LEFT JOIN best b2p ON b2p.s = j.prop2
       |LEFT JOIN best b2  ON b2.s  = j.item2""".stripMargin

  /** DuckDB twin of [[kgSparqlCompanions]] — five branch CTEs over
    * the same synthesized stores, unioned with explicit null padding,
    * the same gap-filled label coalesces, DISTINCT. Region anchors
    * and the root sitelink derive from the data (scalar subqueries),
    * exactly as [[companionAnchors]] does. */
  private def companionsOracle: String = {
    val NS = Triples.NS
    val CUST = 3L * NS; val REG = 1L * NS; val DB = 9L * NS; val CLS = 10L * NS + 1
    val props = directClaimProps.map { case (id, p) => s"($id, '$p')" }.mkString(", ")
    s"""$T,
       |props AS (SELECT * FROM (VALUES $props) AS v(prop, rel)),
       |root AS (
       |  SELECT CAST($CUST + c_custkey AS BIGINT) AS fg_item,
       |    'http://www.wikidata.org/entity/Q' || c_custkey AS wd_item
       |  FROM customer WHERE c_custkey = $companionsRootKey AND c_custkey % 3 = 0),
       |anch AS (
       |  SELECT CAST($REG + n.n_regionkey AS BIGINT) AS ra,
       |    CAST($REG + (n.n_regionkey + 1) % 5 AS BIGINT) AS rb
       |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
       |  WHERE c.c_custkey = $companionsRootKey),
       |best AS (SELECT s, o_val FROM (
       |  SELECT s, o_val, row_number() OVER (PARTITION BY s
       |    ORDER BY CASE WHEN lang = 'en' THEN 0 END, lang) AS rk
       |  FROM triples WHERE p = 'label' AND lang IN ('en')) WHERE rk = 1),
       |body1 AS (
       |  SELECT t.p AS relation, t.o_id AS value, pr.prop AS relation_string,
       |    img.o_val AS image, 'factgrid' AS source
       |  FROM triples t
       |  JOIN triples cls ON cls.s = t.o_id AND cls.p = 'in_region'
       |    AND cls.o_id = (SELECT ra FROM anch)
       |  JOIN props pr ON pr.rel = t.p
       |  LEFT JOIN triples img ON img.s = t.o_id AND img.p = 'label' AND img.o_val IS NOT NULL
       |  WHERE t.s = (SELECT fg_item FROM root) AND t.o_id IS NOT NULL),
       |b1 AS (SELECT r.fg_item, r.wd_item, x.* FROM root r CROSS JOIN body1 x),
       |b2 AS (SELECT r.fg_item, r.wd_item, x.* FROM root r LEFT JOIN body1 x ON TRUE),
       |w3 AS (
       |  SELECT t.s AS wid, t.p AS relation, t.o_id AS value,
       |    vl.o_val AS valueLabel, img.o_val AS image, 'wikidata' AS source
       |  FROM triples t
       |  JOIN triples cls ON cls.s = t.o_id AND cls.p = 'in_region'
       |    AND cls.o_id = (SELECT ra FROM anch)
       |  JOIN triples wl ON wl.s = t.s AND wl.p = 'label' AND wl.lang = 'en'
       |  JOIN triples vl ON vl.s = t.o_id AND vl.p = 'label' AND vl.lang = 'en'
       |  LEFT JOIN triples img ON img.s = t.o_id AND img.p = 'mktsegment' AND img.o_val IS NOT NULL
       |  WHERE t.o_id IS NOT NULL),
       |b3 AS (SELECT r.fg_item, r.wd_item, w.relation, w.value, w.valueLabel, w.image, w.source
       |  FROM root r LEFT JOIN w3 w
       |    ON w.wid = CAST(substring(r.wd_item, 33) AS BIGINT) + $CUST),
       |w4 AS (
       |  SELECT t.s AS wid, t.p AS relation, t.o_id AS value,
       |    vl.o_val AS valueLabel, img.o_val AS image, 'wikidata' AS source
       |  FROM triples t
       |  JOIN triples cls ON cls.s = t.o_id AND cls.p = 'in_region'
       |    AND cls.o_id = (SELECT rb FROM anch)
       |  JOIN triples wl ON wl.s = t.s AND wl.p = 'label' AND wl.lang = 'en'
       |  JOIN triples vl ON vl.s = t.o_id AND vl.p = 'label' AND vl.lang = 'en'
       |  LEFT JOIN triples img ON img.s = t.o_id AND img.p = 'mktsegment' AND img.o_val IS NOT NULL
       |  WHERE t.o_id IS NOT NULL),
       |b4 AS (SELECT r.fg_item, r.wd_item, w.relation, w.value, w.valueLabel, w.image, w.source
       |  FROM root r LEFT JOIN w4 w
       |    ON w.wid = CAST(substring(r.wd_item, 33) AS BIGINT) + $CUST),
       |db_sameas AS (SELECT CAST($DB + c_custkey AS BIGINT) AS s,
       |    'http://www.wikidata.org/entity/Q' || c_custkey AS o_val
       |  FROM customer),
       |db_wikilink AS (SELECT CAST($DB + l.c_custkey AS BIGINT) AS s,
       |    CAST($DB + t.c_custkey AS BIGINT) AS o_id
       |  FROM customer l JOIN customer t
       |    ON t.c_custkey IN (l.c_custkey + 1, l.c_custkey + 2)
       |  WHERE l.c_custkey % 3 = 0),
       |db_person AS (SELECT CAST($DB + c_custkey AS BIGINT) AS s FROM customer WHERE c_custkey % 2 = 0),
       |db_label AS (SELECT CAST($DB + c_custkey AS BIGINT) AS s, 'DBP ' || c_name AS o_val FROM customer),
       |db_thumb AS (SELECT CAST($DB + c_custkey AS BIGINT) AS s,
       |    'thumb_' || c_custkey || '.jpg' AS o_val FROM customer WHERE c_custkey % 5 = 0),
       |opt5 AS (
       |  SELECT w.s AS db_item, w.o_id AS value, l.o_val AS valueLabel, th.o_val AS image,
       |    'wikipedia' AS source, 'mentioned_in_wikipedia' AS relation_stringLabel
       |  FROM db_wikilink w
       |  JOIN db_person ty ON ty.s = w.o_id
       |  JOIN db_label l ON l.s = w.o_id
       |  LEFT JOIN db_thumb th ON th.s = w.o_id
       |  WHERE NOT regexp_matches(CAST(w.o_id AS VARCHAR),
       |    'Stefan_Zweig|LGBT_rights_by_country_or_territory')),
       |b5 AS (
       |  SELECT r.fg_item, r.wd_item, o.value, o.valueLabel, o.image, o.source,
       |    o.relation_stringLabel
       |  FROM root r
       |  JOIN db_sameas r5 ON r5.o_val = r.wd_item
       |  LEFT JOIN opt5 o ON o.db_item = r5.s),
       |u AS (
       |  SELECT fg_item, wd_item, relation, value, CAST(NULL AS VARCHAR) AS valueLabel,
       |    relation_string, CAST(NULL AS VARCHAR) AS relation_stringLabel, image, source FROM b1
       |  UNION ALL
       |  SELECT fg_item, wd_item, relation, value, NULL, relation_string, NULL, image, source FROM b2
       |  UNION ALL
       |  SELECT fg_item, wd_item, relation, value, valueLabel,
       |    CAST(NULL AS BIGINT), NULL, image, source FROM b3
       |  UNION ALL
       |  SELECT fg_item, wd_item, relation, value, valueLabel,
       |    CAST(NULL AS BIGINT), NULL, image, source FROM b4
       |  UNION ALL
       |  SELECT fg_item, wd_item, CAST(NULL AS VARCHAR), value, valueLabel,
       |    CAST(NULL AS BIGINT), relation_stringLabel, image, source FROM b5)
       |SELECT DISTINCT u.fg_item,
       |  COALESCE(bfi.o_val, CAST(u.fg_item AS VARCHAR)) AS "fg_itemLabel",
       |  u.wd_item, u.value,
       |  COALESCE(u.valueLabel, bv.o_val, CAST(u.value AS VARCHAR)) AS "valueLabel",
       |  u.relation,
       |  COALESCE(u.relation_stringLabel, brs.o_val, CAST(u.relation_string AS VARCHAR))
       |    AS "relation_stringLabel",
       |  u.image, u.source
       |FROM u
       |LEFT JOIN best bfi ON bfi.s = u.fg_item
       |LEFT JOIN best bv  ON bv.s = u.value
       |LEFT JOIN best brs ON brs.s = u.relation_string""".stripMargin
  }

  /** DuckDB twin of the get_wiki_sitelinks files: the anchored item
    * set (customers AND suppliers carry the membership edge) left-
    * extended with the five per-site sitelink columns, every site a
    * deterministic custkey residue — regenerated from the same base
    * tables [[wikiSitelinkStatements]] projects, so engine and oracle
    * cannot drift. */
  private def wikilinksOracle(anchor: String): String =
    s"""WITH items AS (
       |  SELECT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS fg_item,
       |    c_name AS lbl, c_custkey AS ck
       |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey WHERE $anchor
       |  UNION ALL
       |  SELECT CAST(${4L * Triples.NS} + s_suppkey AS BIGINT), s_name, CAST(NULL AS INTEGER)
       |  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey WHERE $anchor)
       |SELECT DISTINCT fg_item, lbl AS "fg_itemLabel",
       |  CASE WHEN ck % 3 = 0 THEN 'http://www.wikidata.org/entity/Q' || ck END AS wd_item,
       |  CASE WHEN ck % 2 = 0 THEN 'de ' || lbl END AS "Sdewiki",
       |  CASE WHEN ck IS NOT NULL THEN 'en ' || lbl END AS "Senwiki",
       |  CASE WHEN ck % 7 = 0 THEN 'fr ' || lbl END AS "Sfrwiki",
       |  CASE WHEN ck % 5 = 0 THEN 'es ' || lbl END AS "Seswiki"
       |FROM items""".stripMargin

  /** DuckDB twin of the compare files: the sitelinked item set, the
    * dictionary's corresponding-property rendering, both IRI round
    * trips, the drifted remote claim (every 4th customer one nation
    * forward, every odd customer claimless), and — for the many-items
    * variant — the three-valued is_same verdict. */
  private def compareOracle(oneItem: Boolean): String = {
    val code = corrWdCode("in_nation")
    val rootFilter = if (oneItem) s"AND c_custkey = $companionsRootKey" else ""
    val wdItemCol =
      if (oneItem) ""
      else "\n  'http://www.wikidata.org/entity/Q' || i.c_custkey AS wd_item,"
    val isSameCol =
      if (oneItem) ""
      else """,
  CASE WHEN 'http://www.wikidata.org/entity/Q' || (1000000000 + i.c_nationkey) = wd
       THEN 'true'
       WHEN 'http://www.wikidata.org/entity/Q' || (1000000000 + i.c_nationkey) <> wd
       THEN 'false' END AS is_same"""
    s"""$T,
       |best AS (SELECT s, o_val FROM (
       |  SELECT s, o_val, row_number() OVER (PARTITION BY s
       |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
       |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
       |items AS (SELECT c_custkey, c_nationkey,
       |    CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS fg_item,
       |    CASE WHEN c_custkey % 2 = 0 THEN 'http://www.wikidata.org/entity/Q' ||
       |      (1000000000 + CASE WHEN c_custkey % 4 = 0
       |        THEN (c_nationkey + 1) % 25 ELSE c_nationkey END) END AS wd
       |  FROM customer WHERE c_custkey % 3 = 0 $rootFilter)
       |SELECT DISTINCT i.fg_item,
       |  COALESCE(b.o_val, CAST(i.fg_item AS VARCHAR)) AS "fg_itemLabel",$wdItemCol
       |  'in_nation' AS fg_property,
       |  'http://www.wikidata.org/prop/direct/$code' AS wd_property,
       |  CAST(${2L * Triples.NS} + i.c_nationkey AS BIGINT) AS fg_value,
       |  'http://www.wikidata.org/entity/Q' || (1000000000 + i.c_nationkey) AS wd_value_from_fg,
       |  i.wd AS wd_value_from_wd$isSameCol
       |FROM items i LEFT JOIN best b ON b.s = i.fg_item""".stripMargin
  }

  /** VALUES list of (id, name, idx) for the property dictionary —
    * shared by both get_all_properties oracles. */
  private def propValuesSql: String = directClaimProps.zipWithIndex
    .map { case ((id, p), i) => s"($id, '$p', $i)" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "kg_sparql_props" ->
      s"""WITH props AS (SELECT * FROM (VALUES $propValuesSql) AS v(pid, pname, idx))
         |SELECT CAST(pid AS BIGINT) AS fg_property,
         |  pname AS "fg_propertyLabel",
         |  'WikibaseItem' AS fg_property_type,
         |  CAST(NULL AS VARCHAR) AS "fg_propertyDescription",
         |  'http://www.wikidata.org/prop/direct/P' || (100 + idx) AS wd_property,
         |  CAST(CASE WHEN idx % 2 = 0 THEN $propGroupA ELSE $propGroupB END AS BIGINT)
         |    AS fg_part_of,
         |  CASE WHEN idx % 2 = 0 THEN 'Property group A'
         |    ELSE 'Property group B' END AS "fg_part_ofLabel"
         |FROM props""".stripMargin,
    "kg_sparql_props_person" ->
      s"""WITH props AS (SELECT * FROM (VALUES $propValuesSql) AS v(pid, pname, idx))
         |SELECT CAST(pid AS BIGINT) AS fg_property,
         |  pname AS "fg_propertyLabel",
         |  CAST(NULL AS VARCHAR) AS "fg_propertyDescription",
         |  'http://www.wikidata.org/prop/direct/P' || (100 + idx) AS wd_property
         |FROM props WHERE idx % 2 = 0""".stripMargin,
    "kg_sparql_lokale" ->
      s"""$T,
         |mem AS (
         |  SELECT c_custkey AS ck, c_name, c_mktsegment,
         |    CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS id, TRUE AS isc
         |  FROM customer WHERE c_nationkey = 5
         |  UNION ALL
         |  SELECT s_suppkey, s_name, CAST(NULL AS VARCHAR),
         |    CAST(${4L * Triples.NS} + s_suppkey AS BIGINT), FALSE
         |  FROM supplier WHERE s_nationkey = 5),
         |lab AS (SELECT s, o_val FROM triples WHERE p = 'label'),
         |branch AS (SELECT 1 AS b UNION ALL SELECT 2 UNION ALL SELECT 3
         |  UNION ALL SELECT 4 UNION ALL SELECT 5),
         |n5 AS (SELECT n_name FROM nation WHERE n_nationkey = 5)
         |SELECT m.id AS fg_item,
         |  CASE WHEN m.isc AND m.ck % 3 = 0 THEN 'DE ' || m.c_name
         |       ELSE CAST(m.id AS VARCHAR) END AS "fg_itemLabel",
         |  CAST(NULL AS VARCHAR) AS "fg_itemDescription",
         |  CAST(NULL AS VARCHAR) AS "fg_itemAltLabel",
         |  CAST(${2L * Triples.NS + 5} AS BIGINT) AS "Address",
         |  CAST(${2L * Triples.NS + 5} AS VARCHAR) AS "AddressLabel",
         |  (SELECT n_name FROM n5) AS "Geo",
         |  CAST(NULL AS VARCHAR) AS "Notiz",
         |  la.o_val AS "Anfangszeitpunkt",
         |  m.c_mktsegment AS "Endzeitpunkt",
         |  ld.o_val AS "Datum",
         |  CASE WHEN m.isc AND m.ck % 3 = 0
         |    THEN 'https://database.factgrid.de/entity/Q' || m.ck END AS wd_item,
         |  CAST(${2L * Triples.NS + 5} AS BIGINT) AS "Treffpunkt",
         |  CAST(${2L * Triples.NS + 5} AS VARCHAR) AS "TreffpunktLabel",
         |  m.c_mktsegment AS "Zielgruppe"
         |FROM mem m
         |JOIN lab la ON la.s = m.id
         |JOIN lab ld ON ld.s = m.id
         |CROSS JOIN branch""".stripMargin,
    "kg_sparql_noconst" ->
      s"""WITH root AS (SELECT c.c_custkey AS rk, c.c_nationkey AS nk FROM customer c
         |  WHERE c.c_custkey = $companionsRootKey AND c.c_custkey % 3 = 0),
         |nn AS (SELECT n.n_name FROM nation n JOIN root r ON n.n_nationkey = r.nk),
         |tgt AS (SELECT t.c_custkey AS t, t.c_name FROM customer t
         |  JOIN root r ON t.c_custkey IN (r.rk + 1, r.rk + 2)
         |  WHERE t.c_custkey % 2 = 0)
         |SELECT DISTINCT u.fg_item, u.vl AS "valueLabel", u.image,
         |  CAST(NULL AS VARCHAR) AS sortname
         |FROM (
         |  SELECT CAST(${3L * Triples.NS} + r.rk AS BIGINT) AS fg_item,
         |    (SELECT n_name FROM nn) AS vl, (SELECT n_name FROM nn) AS image FROM root r
         |  UNION ALL
         |  SELECT CAST(${3L * Triples.NS} + r.rk AS BIGINT),
         |    (SELECT n_name FROM nn), NULL FROM root r
         |  UNION ALL
         |  SELECT CAST(${3L * Triples.NS} + r.rk AS BIGINT), NULL, NULL FROM root r
         |  UNION ALL
         |  SELECT CAST(${3L * Triples.NS} + r.rk AS BIGINT), 'DBP ' || t.c_name,
         |    CASE WHEN t.t % 5 = 0 THEN 'thumb_' || t.t || '.jpg' END
         |  FROM tgt t JOIN root r ON TRUE) u""".stripMargin,
    "kg_sparql_test" -> {
      val helperId = directClaimProps.find(_._2 == "in_nation").get._1
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('en')) WHERE rk = 1),
         |base AS (SELECT CAST(${3L * Triples.NS} + c.c_custkey AS BIGINT) AS fg_item,
         |    b.o_val AS fl,
         |    'http://www.wikidata.org/entity/Q' || c.c_custkey AS wd_item,
         |    CAST(${2L * Triples.NS} + c.c_nationkey AS BIGINT) AS value,
         |    nn.n_name AS vl
         |  FROM customer c
         |  JOIN nation nn ON nn.n_nationkey = c.c_nationkey
         |  LEFT JOIN best b ON b.s = ${3L * Triples.NS} + c.c_custkey
         |  WHERE c.c_custkey = $companionsRootKey AND c.c_custkey % 3 = 0)
         |SELECT DISTINCT fg_item, fl AS "fg_itemLabel", wd_item,
         |  CAST($helperId AS VARCHAR) AS "fg_relation_helperLabel",
         |  value, vl AS "valueLabel", 'factgrid' AS source FROM base
         |UNION ALL
         |SELECT DISTINCT fg_item, fl, wd_item, CAST(NULL AS VARCHAR),
         |  value, vl, CAST(NULL AS VARCHAR) FROM base""".stripMargin
    },
    "kg_sparql_time" ->
      s"""WITH root AS (SELECT MIN(c_custkey) AS rk FROM customer
         |  WHERE c_nationkey = 3 AND c_custkey % 3 = 0),
         |vals AS (SELECT r.rk, c.c_name,
         |    'D' || r.rk || '/' || CASE WHEN r.rk % 2 = 0 THEN '11' ELSE '9' END AS fgv,
         |    CASE WHEN r.rk % 2 = 0 THEN
         |      (CASE WHEN r.rk % 4 = 0 THEN 'D' ELSE 'WD' END) || r.rk || '/11' END AS wdv
         |  FROM root r JOIN customer c ON c.c_custkey = r.rk)
         |SELECT DISTINCT CAST(${3L * Triples.NS} + rk AS BIGINT) AS fg_item,
         |  c_name AS "fg_itemLabel",
         |  'http://www.wikidata.org/entity/Q' || rk AS wd_item,
         |  fgv AS fg_value, wdv AS wd_value,
         |  CASE WHEN wdv IS NULL THEN NULL
         |       WHEN fgv = wdv THEN 'true' ELSE 'false' END AS is_same
         |FROM vals""".stripMargin,
    "kg_sparql_hirschfeld" ->
      s"""WITH root AS (SELECT c_custkey AS rk FROM customer
         |  WHERE c_custkey = $hirschfeldRootKey AND c_custkey % 3 = 0),
         |tgt AS (SELECT t.c_custkey AS t FROM root r
         |  JOIN customer t ON t.c_custkey IN (r.rk + 1, r.rk + 2)
         |  WHERE t.c_custkey % 2 = 0 AND t.c_custkey % 5 = 0)
         |SELECT DISTINCT CAST(${9L * Triples.NS} + t AS BIGINT) AS db_wikilink,
         |  'thumb_' || t || '.jpg' AS image FROM tgt""".stripMargin,
    "kg_sparql_family" -> {
      val CUST = 3L * Triples.NS; val DB = 9L * Triples.NS
      val famCtes = familyKinds.map { case (_, res, mod, off) =>
        s"""SELECT t.c_custkey AS t FROM root r
           |    JOIN customer t ON r.rk % $mod = $res AND t.c_custkey = r.rk + $off"""
          .stripMargin
      }.mkString("\n  UNION ALL ")
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
         |root AS (SELECT c_custkey AS rk FROM customer
         |  WHERE c_custkey = $hirschfeldRootKey AND c_custkey % 3 = 0),
         |rl AS (SELECT COALESCE(b.o_val, CAST($CUST + r.rk AS VARCHAR)) AS fl
         |  FROM root r LEFT JOIN best b ON b.s = $CUST + r.rk),
         |fam AS (
         |  $famCtes),
         |b1 AS (SELECT CAST($CUST + f.t AS BIGINT) AS value,
         |    COALESCE(bv.o_val, CAST($CUST + f.t AS VARCHAR)) AS vl,
         |    c.c_mktsegment AS image
         |  FROM fam f JOIN customer c ON c.c_custkey = f.t
         |  LEFT JOIN best bv ON bv.s = $CUST + f.t),
         |b2 AS (SELECT CAST($DB + t.c_custkey AS BIGINT) AS value,
         |    'DBP ' || t.c_name AS vl,
         |    'thumb_' || t.c_custkey || '.jpg' AS image
         |  FROM root r JOIN customer t ON t.c_custkey IN (r.rk + 1, r.rk + 2)
         |  WHERE t.c_custkey % 5 = 0),
         |b3 AS (SELECT CAST($CUST + t.c_custkey AS BIGINT) AS value,
         |    COALESCE(bv.o_val, CAST($CUST + t.c_custkey AS VARCHAR)) AS vl,
         |    'wdimg_' || t.c_custkey AS image
         |  FROM root r JOIN customer t ON r.rk % 3 = 0 AND t.c_custkey = r.rk + 2
         |  LEFT JOIN best bv ON bv.s = $CUST + t.c_custkey)
         |SELECT DISTINCT (SELECT fl FROM rl) AS "fg_itemLabel",
         |  u.value, u.vl AS "valueLabel", u.image
         |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2
         |  UNION ALL SELECT * FROM b3) u""".stripMargin
    },
    "kg_sparql_companions" -> companionsOracle,
    "kg_sparql_wikilinks" -> wikilinksOracle("n.n_regionkey = 1"),
    "kg_sparql_wikilinks_rna" -> wikilinksOracle("n.n_nationkey = 3"),
    // net-03: root's dictionary-resolved hop into its nation, gated by
    // the statement-node class walk (nation's membership-statement
    // region in the anchor set — derived from the root, like the
    // Scala side), then the label coalesces. The reified statement
    // rows are Scala-synthesized from the nation table, so the twin
    // walks nation directly.
    "kg_sparql_net3" ->
      s"""$T,
         |props AS (SELECT * FROM (VALUES ${directClaimProps
             .map { case (id, p) => s"($id, '$p')" }.mkString(", ")}) AS v(prop, rel)),
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
         |root AS (SELECT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS s
         |  FROM customer WHERE c_custkey = $net3RootKey AND c_custkey % 3 = 0),
         |anch AS (SELECT n.n_regionkey AS r0 FROM customer c
         |  JOIN nation n ON n.n_nationkey = c.c_nationkey WHERE c.c_custkey = $net3RootKey),
         |h AS (SELECT s, p, o_id FROM triples WHERE o_id IS NOT NULL),
         |j AS (SELECT r.s AS fg_item, pr.prop AS property1, t1.o_id AS item1
         |  FROM root r
         |  JOIN h t1 ON t1.s = r.s
         |  JOIN props pr ON pr.rel = t1.p
         |  JOIN nation n2 ON CAST(${2L * Triples.NS} + n2.n_nationkey AS BIGINT) = t1.o_id
         |  JOIN anch a ON n2.n_regionkey IN (a.r0, (a.r0 + 1) % 5, (a.r0 + 2) % 5))
         |SELECT DISTINCT j.fg_item,
         |  COALESCE(bR.o_val, CAST(j.fg_item AS VARCHAR)) AS "fg_itemLabel",
         |  j.property1 AS property1,
         |  COALESCE(bp.o_val, CAST(j.property1 AS VARCHAR)) AS "property1Label",
         |  j.item1 AS item1,
         |  COALESCE(b1.o_val, CAST(j.item1 AS VARCHAR)) AS "item1Label"
         |FROM j LEFT JOIN best bR ON bR.s = j.fg_item
         |LEFT JOIN best bp ON bp.s = j.property1
         |LEFT JOIN best b1 ON b1.s = j.item1""".stripMargin,
    // net-02: as net-03's walk but projecting the dictionary hop's
    // VALUE plus the qid→IRI round trip on both endpoints; the remote
    // wikidata claim (customer→nation) holds by construction for
    // every customer, so the SERVICE join keeps the row iff the
    // round-tripped ids pair up — which the twin recomputes directly.
    "kg_sparql_net2" ->
      s"""$T,
         |props AS (SELECT * FROM (VALUES ${directClaimProps
             .map { case (id, p) => s"($id, '$p')" }.mkString(", ")}) AS v(prop, rel)),
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
         |root AS (SELECT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS s, c_custkey
         |  FROM customer WHERE c_custkey = $net3RootKey AND c_custkey % 3 = 0),
         |anch AS (SELECT n.n_regionkey AS r0 FROM customer c
         |  JOIN nation n ON n.n_nationkey = c.c_nationkey WHERE c.c_custkey = $net3RootKey),
         |h AS (SELECT s, p, o_id FROM triples WHERE o_id IS NOT NULL),
         |j AS (SELECT r.s AS fg_item, pr.prop AS property, t1.o_id AS fg_value,
         |    'http://www.wikidata.org/entity/Q' || r.c_custkey AS wd_item,
         |    'http://www.wikidata.org/entity/Q' || ($wdNationOffset + n2.n_nationkey) AS wd_value
         |  FROM root r
         |  JOIN h t1 ON t1.s = r.s
         |  JOIN props pr ON pr.rel = t1.p
         |  JOIN nation n2 ON CAST(${2L * Triples.NS} + n2.n_nationkey AS BIGINT) = t1.o_id
         |  JOIN anch a ON n2.n_regionkey IN (a.r0, (a.r0 + 1) % 5, (a.r0 + 2) % 5))
         |SELECT j.fg_item,
         |  COALESCE(bR.o_val, CAST(j.fg_item AS VARCHAR)) AS "fg_itemLabel",
         |  j.property AS property,
         |  COALESCE(bp.o_val, CAST(j.property AS VARCHAR)) AS "propertyLabel",
         |  j.fg_value AS fg_value,
         |  COALESCE(bv.o_val, CAST(j.fg_value AS VARCHAR)) AS "fg_valueLabel",
         |  j.wd_item AS wd_item, j.wd_value AS wd_value
         |FROM j LEFT JOIN best bR ON bR.s = j.fg_item
         |LEFT JOIN best bp ON bp.s = j.property
         |LEFT JOIN best bv ON bv.s = j.fg_value""".stripMargin,
    "kg_sparql_fgids" ->
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT DISTINCT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS fg_item,
         |  COALESCE(b.o_val, CAST(${3L * Triples.NS} + c_custkey AS VARCHAR)) AS "fg_itemLabel",
         |  CAST(${3L * Triples.NS} + c_custkey AS VARCHAR) AS fg_item_as_string,
         |  CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS wd_item
         |FROM customer c LEFT JOIN best b ON b.s = ${3L * Triples.NS} + c_custkey
         |WHERE c_nationkey = 3 AND c_custkey % 3 <> 0 AND c_custkey % 2 = 0""".stripMargin,
    "kg_sparql_fgids_rna" ->
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT DISTINCT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS fg_item,
         |  COALESCE(b.o_val, CAST(${3L * Triples.NS} + c_custkey AS VARCHAR)) AS "fg_itemLabel",
         |  CAST(NULL AS VARCHAR) AS "fg_itemAltLabel",
         |  'http://www.wikidata.org/entity/Q' || c_custkey AS wd_item,
         |  CASE WHEN c_custkey % 2 = 0
         |    THEN CAST(${3L * Triples.NS} + c_custkey AS VARCHAR) END AS wd_fg_id
         |FROM customer c LEFT JOIN best b ON b.s = ${3L * Triples.NS} + c_custkey
         |WHERE c_nationkey = 3 AND c_custkey % 3 = 0""".stripMargin,
    "kg_sparql_gnd" ->
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT DISTINCT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS fg_item,
         |  COALESCE(b.o_val, CAST(${3L * Triples.NS} + c_custkey AS VARCHAR)) AS "fg_itemLabel",
         |  'GND' || c_custkey AS fg_gnd,
         |  CASE WHEN c_custkey % 5 = 0 THEN 'GND' || c_custkey END AS wd_gnd,
         |  'http://www.wikidata.org/entity/Q' || c_custkey AS wd_item,
         |  CAST(${2L * Triples.NS} + c_nationkey AS BIGINT) AS instance,
         |  COALESCE(bn.o_val, CAST(${2L * Triples.NS} + c_nationkey AS VARCHAR)) AS "instanceLabel"
         |FROM customer c
         |LEFT JOIN best b ON b.s = ${3L * Triples.NS} + c_custkey
         |LEFT JOIN best bn ON bn.s = ${2L * Triples.NS} + c_nationkey
         |WHERE c_nationkey = 3 AND c_custkey % 3 = 0 AND c_custkey % 2 = 0""".stripMargin,
    "kg_sparql_cmp1" -> compareOracle(oneItem = true),
    "kg_sparql_cmp" -> compareOracle(oneItem = false),
    "kg_sparql_persons" ->
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
         |nl AS (SELECT n_name FROM nation WHERE n_nationkey = 3)
         |SELECT DISTINCT CAST(${3L * Triples.NS} + c_custkey AS BIGINT) AS fg_item,
         |  COALESCE(b.o_val, CAST(${3L * Triples.NS} + c_custkey AS VARCHAR)) AS "fg_itemLabel",
         |  CAST(NULL AS VARCHAR) AS "fg_itemDescription",
         |  CAST(NULL AS VARCHAR) AS "fg_itemAltLabel",
         |  CASE WHEN c_custkey % 3 = 0
         |    THEN 'http://www.wikidata.org/entity/Q' || c_custkey END AS wd_item,
         |  CAST(${2L * Triples.NS + 3} AS BIGINT) AS location,
         |  (SELECT n_name FROM nl) AS "locationLabel",
         |  'http://www.wikidata.org/entity/Q${wdNationOffset + 3}' AS wd_location,
         |  CAST($personClass AS BIGINT) AS instance,
         |  'Person' AS "instanceLabel",
         |  'http://www.wikidata.org/entity/Q${wdClassOffset + 7}' AS wd_instance,
         |  CASE WHEN c_custkey % 4 = 0 THEN 'F' || c_custkey END AS fg_forum_id,
         |  c_mktsegment AS field_of_work,
         |  CASE WHEN c_custkey % 2 = 0 THEN 'GND' || c_custkey END AS fg_gnd,
         |  CASE WHEN c_custkey % 5 = 0 THEN 'M' || c_custkey END AS member
         |FROM customer c
         |LEFT JOIN best b ON b.s = ${3L * Triples.NS} + c_custkey
         |WHERE c_nationkey = 3""".stripMargin,
    "kg_sparql_orgs" ->
      s"""$T,
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1),
         |nl AS (SELECT n_name FROM nation WHERE n_nationkey = 3)
         |SELECT DISTINCT CAST(${4L * Triples.NS} + s_suppkey AS BIGINT) AS fg_item,
         |  COALESCE(b.o_val, CAST(${4L * Triples.NS} + s_suppkey AS VARCHAR)) AS "fg_itemLabel",
         |  CAST(NULL AS VARCHAR) AS "fg_itemDescription",
         |  CAST(NULL AS VARCHAR) AS "fg_itemAltLabel",
         |  CASE WHEN s_suppkey % 3 = 0 THEN 'http://www.wikidata.org/entity/Q' ||
         |    ($wdSupplierOffset + s_suppkey) END AS wd_item,
         |  CAST(${2L * Triples.NS + 3} AS BIGINT) AS location,
         |  (SELECT n_name FROM nl) AS "locationLabel",
         |  'http://www.wikidata.org/entity/Q${wdNationOffset + 3}' AS wd_location,
         |  CAST($orgClass AS BIGINT) AS instance,
         |  'Organisation' AS "instanceLabel",
         |  'http://www.wikidata.org/entity/Q${wdClassOffset + 12}' AS wd_instance,
         |  CAST(NULL AS VARCHAR) AS fg_forum_id,
         |  CAST(NULL AS VARCHAR) AS field_of_work
         |FROM supplier s
         |LEFT JOIN best b ON b.s = ${4L * Triples.NS} + s_suppkey
         |WHERE s_nationkey = 3""".stripMargin,
    "kg_sparql_net0" -> networkOracle(
      s"SELECT ${3L * Triples.NS + 7} AS s"),
    "kg_sparql_net1" -> networkOracle(
      s"SELECT s FROM triples WHERE p = 'in_nation' AND o_id = ${2L * Triples.NS + 3}"),
    "kg_sparql_pred_free" ->
      s"""$T
         |SELECT t.s AS s, t.p AS p FROM triples t
         |JOIN triples cn ON cn.s = t.s AND cn.p = 'in_nation'""".stripMargin,
    "kg_sparql_order" ->
      s"""$T
         |SELECT s AS c, o_id AS n FROM triples WHERE p = 'in_nation'
         |ORDER BY o_id DESC, s LIMIT 20 OFFSET 5""".stripMargin,
    "kg_sparql_union_opt" ->
      s"""$T,
         |cn AS (SELECT s AS c, o_id AS n FROM triples WHERE p = 'in_nation'),
         |lbl AS (SELECT s, o_val FROM triples WHERE p = 'label' AND o_val IS NOT NULL),
         |u AS (
         |  SELECT cn.c, cn.n, l.o_val AS l, 'building' AS src
         |  FROM cn JOIN triples m ON m.s = cn.c AND m.p = 'mktsegment' AND m.o_val = 'BUILDING'
         |  LEFT JOIN lbl l ON l.s = cn.c
         |  UNION ALL
         |  SELECT cn.c, cn.n, NULL, 'machinery'
         |  FROM cn JOIN triples m ON m.s = cn.c AND m.p = 'mktsegment' AND m.o_val = 'MACHINERY')
         |SELECT c, n, l, src FROM u""".stripMargin,
    "kg_sparql_expr_bind" ->
      s"""$T,
         |cn AS (SELECT s FROM triples WHERE p = 'in_nation'),
         |lbl AS (SELECT s, o_val AS l FROM triples
         |        WHERE p = 'label' AND o_val IS NOT NULL AND lang = 'en')
         |SELECT cn.s AS c, lbl.l AS l, '"' || lbl.l || '"' AS tag,
         |  regexp_replace(lbl.l, 'Customer#0*', 'C-', 'g') AS qid
         |FROM cn JOIN lbl ON lbl.s = cn.s""".stripMargin,
    "kg_sparql_service_opt" ->
      s"""$T,
         |remote AS (SELECT * FROM $remoteSql r0),
         |cn AS (SELECT s AS c, o_id AS n FROM triples WHERE p = 'in_nation'),
         |req AS (SELECT cn.c, cn.n, r1.o_val AS seg1
         |        FROM cn JOIN remote r1 ON r1.s = cn.c AND r1.o_val IS NOT NULL),
         |opt AS (SELECT s, o_val AS seg2 FROM remote
         |        WHERE o_val IS NOT NULL AND NOT regexp_matches(o_val, '^LEGACY$$'))
         |SELECT req.c, req.n, req.seg1, o.seg2
         |FROM req LEFT JOIN opt o ON o.s = req.c""".stripMargin,
    "kg_sparql_blank" ->
      s"""$T
         |SELECT t.s AS c, r.o_id AS r
         |FROM triples t
         |JOIN triples r ON r.s = t.o_id AND r.p = 'in_region'
         |WHERE t.p = 'in_nation'""".stripMargin,
    "kg_sparql" ->
      s"""$T
         |SELECT cn.s AS c, cn.o_id AS n, nl.o_val AS nname, cl.o_val AS cname
         |FROM (SELECT s, o_id FROM triples WHERE p = 'in_nation') cn
         |JOIN (SELECT s, o_val FROM triples WHERE p = 'label' AND o_val IS NOT NULL) nl
         |  ON nl.s = cn.o_id
         |JOIN (SELECT s FROM triples WHERE p = 'mktsegment' AND o_val = 'BUILDING') seg
         |  ON seg.s = cn.s
         |LEFT JOIN (SELECT s, o_val FROM triples WHERE p = 'label' AND o_val IS NOT NULL) cl
         |  ON cl.s = cn.s
         |WHERE regexp_matches(nl.o_val, '^NATION_1')""".stripMargin,
    "kg_sparql_agg" ->
      s"""$T,
         |seg AS (SELECT s, o_val FROM triples WHERE p = 'mktsegment' AND o_val IS NOT NULL),
         |cn AS (SELECT s, o_id FROM triples WHERE p = 'in_nation'),
         |u AS (
         |  SELECT cn.s AS c, cn.o_id AS n, sv.o_val AS seg
         |  FROM cn JOIN seg sb ON sb.s = cn.s AND sb.o_val = 'BUILDING'
         |  JOIN seg sv ON sv.s = cn.s
         |  UNION ALL
         |  SELECT cn.s, cn.o_id, sv.o_val
         |  FROM cn JOIN seg sm ON sm.s = cn.s AND sm.o_val = 'MACHINERY'
         |  JOIN seg sv ON sv.s = cn.s)
         |SELECT n, count(c) AS n_members, count(DISTINCT seg) AS n_segments
         |FROM u GROUP BY n""".stripMargin,
    "kg_sparql_path" ->
      s"""$T,
         |bld AS (SELECT s FROM triples WHERE p = 'mktsegment' AND o_val = 'BUILDING'),
         |step AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_nation'),
         |e AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_region'),
         |r AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM step
         |    UNION
         |    SELECT rr.a, e.b FROM rr JOIN e ON e.a = rr.b)
         |  SELECT a, b FROM rr)
         |SELECT r.a AS c, r.b AS reach FROM r JOIN bld ON bld.s = r.a""".stripMargin,
    "kg_sparql_label" ->
      s"""$T,
         |base AS (SELECT s FROM triples WHERE p = 'in_nation' AND o_id = ${2L * Triples.NS + 5}),
         |u AS (
         |  SELECT b.s FROM base b
         |  JOIN triples m ON m.s = b.s AND m.p = 'mktsegment' AND m.o_val = 'BUILDING'
         |  UNION ALL
         |  SELECT b.s FROM base b
         |  JOIN triples m ON m.s = b.s AND m.p = 'mktsegment' AND m.o_val = 'MACHINERY'),
         |opt AS (SELECT u.s, m.o_val AS seg FROM u
         |        LEFT JOIN triples m ON m.s = u.s AND m.p = 'mktsegment' AND m.o_val IS NOT NULL),
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT DISTINCT o.s AS item,
         |  COALESCE(b.o_val, CAST(o.s AS VARCHAR)) AS "itemLabel", o.seg AS seg
         |FROM opt o LEFT JOIN best b ON b.s = o.s""".stripMargin,
    "kg_sparql_minus" ->
      s"""$T
         |SELECT t.s AS c, t.o_id AS n FROM triples t
         |WHERE t.p = 'in_nation'
         |  AND NOT EXISTS (SELECT 1 FROM triples m
         |                  WHERE m.p = 'mktsegment' AND m.o_val = 'BUILDING' AND m.s = t.s)
         |  AND NOT EXISTS (SELECT 1 FROM triples x
         |                  WHERE x.p = 'label' AND x.o_val IS NOT NULL
         |                    AND regexp_matches(x.o_val, '7${"$"}') AND x.s = t.s)""".stripMargin,
    "kg_sparql_values" ->
      s"""$T
         |SELECT t.s AS c, t.o_id AS n, m.o_val AS seg
         |FROM triples t
         |JOIN triples m ON m.s = t.s AND m.p = 'mktsegment' AND m.o_val IS NOT NULL
         |WHERE t.p = 'in_nation'
         |  AND ((t.o_id = ${2L * Triples.NS + 3} AND m.o_val = 'BUILDING')
         |    OR (t.o_id = ${2L * Triples.NS + 5} AND m.o_val = 'MACHINERY'))""".stripMargin,
    "kg_sparql_pred" ->
      s"""$T,
         |cls AS (SELECT s FROM triples WHERE p = 'in_nation' AND o_id = ${2L * Triples.NS + 5}),
         |rel AS (SELECT t.s AS c, t.p AS relation, t.o_id AS v
         |        FROM triples t JOIN cls ON cls.s = t.o_id
         |        WHERE t.o_id IS NOT NULL),
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT r.c AS c, r.relation AS relation, r.v AS v,
         |  COALESCE(b.o_val, CAST(r.v AS VARCHAR)) AS "vLabel"
         |FROM rel r LEFT JOIN best b ON b.s = r.v""".stripMargin,
    "kg_sparql_pred_values" ->
      s"""$T
         |SELECT s AS item, p AS rel, o_id AS other FROM triples
         |WHERE p IN ('placed_by', 'supplied_by') AND o_id IS NOT NULL""".stripMargin,
    // the link reification is key-derived (custkey % 3), so the oracle
    // shortcuts the synthesis and reads customer directly
    "kg_sparql_sitelinks" ->
      s"""$T,
         |c3 AS (SELECT c_custkey, ${Triples.idSql(Triples.CUSTOMER, "c_custkey")} AS item
         |       FROM customer WHERE c_custkey % 3 = 0),
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT DISTINCT c3.item AS item,
         |  COALESCE(b.o_val, CAST(c3.item AS VARCHAR)) AS "itemLabel",
         |  'Q' || CAST(c_custkey AS VARCHAR) AS qid,
         |  'http://www.wikidata.org/entity/Q' || CAST(c_custkey AS VARCHAR) AS wd_item
         |FROM c3 LEFT JOIN best b ON b.s = c3.item""".stripMargin,
    "kg_sparql_gc" ->
      s"""$T,
         |rows AS (
         |  SELECT cn.s AS c, cn.o_id AS n, l.o_val AS lbl, m.o_val AS seg
         |  FROM (SELECT s, o_id FROM triples WHERE p = 'in_nation') cn
         |  JOIN (SELECT s, o_val FROM triples WHERE p = 'label' AND o_val IS NOT NULL) l
         |    ON l.s = cn.s
         |  JOIN (SELECT s, o_val FROM triples WHERE p = 'mktsegment' AND o_val IS NOT NULL) m
         |    ON m.s = cn.s)
         |SELECT n, count(c) AS n_bindings, min(lbl) AS first_label,
         |  max(lbl) AS last_label, min(seg) AS sample_seg,
         |  string_agg(DISTINCT seg, '|' ORDER BY seg) AS segs
         |FROM rows GROUP BY n""".stripMargin,
    // the props relation is generated from the SAME Scala list the
    // engine extends the store with (directClaimProps)
    "kg_sparql_direct" ->
      s"""$T,
         |props AS (SELECT * FROM (VALUES ${directClaimProps
                      .map { case (id, p) => s"($id, '$p')" }.mkString(", ")}) AS v(prop, rel)),
         |cls AS (SELECT s FROM triples WHERE p = 'in_nation' AND o_id = ${2L * Triples.NS + 5})
         |SELECT pr.prop AS prop, pr.rel AS rel, t.s AS item, t.o_id AS value
         |FROM triples t
         |JOIN cls ON cls.s = t.o_id
         |JOIN props pr ON pr.rel = t.p
         |WHERE t.o_id IS NOT NULL""".stripMargin,
    // the remote relation is the SQL twin of remoteStatements; the IF
    // verdict is the null-propagating CASE (no ELSE — unbound remote
    // value ⇒ unbound verdict, SPARQL's IF-on-error semantics)
    "kg_sparql_service" ->
      s"""$T,
         |remote AS (SELECT * FROM $remoteSql r0)
         |SELECT t.s AS fg_item, t.o_val AS fg_value, r.o_val AS wd_value,
         |  CASE WHEN t.o_val = r.o_val THEN 'true'
         |       WHEN t.o_val <> r.o_val THEN 'false' END AS is_same
         |FROM triples t
         |LEFT JOIN remote r ON r.s = t.s AND r.o_val IS NOT NULL
         |WHERE t.p = 'mktsegment' AND t.o_val IS NOT NULL""".stripMargin,
    "kg_sparql_federated" ->
      s"""$T,
         |remote AS (SELECT * FROM $remoteSql r0)
         |SELECT t.s AS item, t.o_id AS n, r.o_val AS wd_seg
         |FROM triples t
         |JOIN remote r ON r.s = t.s AND r.o_val IS NOT NULL
         |WHERE t.p = 'in_nation'""".stripMargin,
    "kg_sparql_lang" ->
      s"""$T
         |SELECT t.s AS c, t.o_id AS n, l.o_val AS lbl
         |FROM triples t
         |JOIN triples l ON l.s = t.s AND l.p = 'label'
         |  AND l.o_val IS NOT NULL AND l.lang = 'de'
         |WHERE t.p = 'in_nation'""".stripMargin,
    "kg_sparql_construct" ->
      s"""$T,
         |base AS (
         |  SELECT cn.s AS c, nr.o_id AS r, m.o_val AS seg
         |  FROM (SELECT s, o_id FROM triples WHERE p = 'in_nation') cn
         |  JOIN (SELECT s, o_id FROM triples WHERE p = 'in_region') nr ON nr.s = cn.o_id
         |  JOIN (SELECT s, o_val FROM triples WHERE p = 'mktsegment' AND o_val IS NOT NULL) m
         |    ON m.s = cn.s)
         |SELECT DISTINCT * FROM (
         |  SELECT c AS s, 'located_in' AS p, r AS o_id,
         |    CAST(NULL AS VARCHAR) AS o_val, CAST(NULL AS VARCHAR) AS lang FROM base
         |  UNION ALL
         |  SELECT c AS s, 'has_segment' AS p, CAST(NULL AS BIGINT) AS o_id,
         |    seg AS o_val, CAST(NULL AS VARCHAR) AS lang FROM base)""".stripMargin,
    "kg_sparql_ask" ->
      s"""$T
         |SELECT count(*) > 0 AS ask, count(*) AS n_matches
         |FROM (SELECT s, o_id FROM triples WHERE p = 'in_nation') c
         |JOIN (SELECT s FROM triples WHERE p = 'mktsegment' AND o_val = 'BUILDING') seg
         |  ON seg.s = c.s""".stripMargin,
    "kg_sparql_describe" ->
      s"""$T,
         |seeds AS (SELECT s FROM triples WHERE p = 'label' AND o_val = 'NATION_5')
         |SELECT s, p, o_id, o_val, lang FROM triples
         |WHERE s IN (SELECT s FROM seeds) OR o_id IN (SELECT s FROM seeds)""".stripMargin,
    "kg_sparql_path_alt" ->
      s"""$T,
         |nat AS (SELECT s FROM triples WHERE p = 'in_region'),
         |arms AS (
         |  SELECT s AS n, o_id AS x FROM triples WHERE p = 'in_region'
         |  UNION ALL
         |  SELECT o_id AS n, s AS x FROM triples WHERE p = 'in_nation')
         |SELECT nat.s AS n, arms.x AS x
         |FROM nat JOIN arms ON arms.n = nat.s""".stripMargin,
    "kg_sparql_path_plus" ->
      s"""$T,
         |bld AS (SELECT s FROM triples WHERE p = 'mktsegment' AND o_val = 'BUILDING'),
         |step AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_nation'),
         |e AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_region'),
         |one AS (SELECT st.a, e.b FROM step st JOIN e ON e.a = st.b),
         |r AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM one
         |    UNION
         |    SELECT rr.a, e.b FROM rr JOIN e ON e.a = rr.b)
         |  SELECT a, b FROM rr)
         |SELECT r.a AS c, r.b AS reach FROM r JOIN bld ON bld.s = r.a""".stripMargin,
    "kg_sparql_path_neg" ->
      s"""$T
         |SELECT t.s AS o, t.o_id AS x, cn.o_id AS n
         |FROM triples t
         |JOIN triples cn ON cn.s = t.o_id AND cn.p = 'in_nation'
         |WHERE t.p NOT IN ('has_part', 'supplied_by') AND t.o_id IS NOT NULL""".stripMargin,
    "kg_sparql_path_nest" ->
      s"""$T,
         |anch AS (SELECT s FROM triples WHERE p = 'mktsegment' AND o_val = 'BUILDING'),
         |nest AS (
         |  SELECT n.s AS a, r.o_id AS x FROM triples n
         |  JOIN triples r ON r.s = n.o_id AND r.p = 'in_region'
         |  WHERE n.p = 'in_nation'
         |  UNION ALL
         |  SELECT s, o_id FROM triples WHERE p = 'in_nation'),
         |b1 AS (SELECT anch.s AS a, nest.x, 'nest' AS form
         |       FROM anch JOIN nest ON nest.a = anch.s),
         |negs AS (
         |  SELECT s AS a, o_id AS x FROM triples
         |  WHERE p <> 'has_part' AND o_id IS NOT NULL
         |  UNION ALL
         |  SELECT o_id AS a, s AS x FROM triples
         |  WHERE p <> 'in_nation' AND o_id IS NOT NULL),
         |b2 AS (SELECT negs.a, negs.x, 'neginv' AS form
         |       FROM negs JOIN triples reg ON reg.s = negs.x AND reg.p = 'in_region')
         |SELECT a, x, form FROM b1
         |UNION ALL SELECT a, x, form FROM b2""".stripMargin,
    "kg_sparql_path_inv" ->
      s"""$T,
         |nat AS (SELECT s AS c, o_id AS n FROM triples WHERE p = 'in_nation'),
         |reg AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_region'),
         |invseq AS (
         |  SELECT reg.b AS x, nat.c FROM nat JOIN reg ON reg.a = nat.n),
         |clo AS (
         |  WITH RECURSIVE cl(a, b) AS (
         |    SELECT o_id, o_id FROM triples WHERE p = 'in_nation'
         |    UNION
         |    SELECT cl.a, reg.b FROM cl JOIN reg ON reg.a = cl.b)
         |  SELECT a, b FROM cl),
         |invstar AS (
         |  SELECT clo.b AS x, nat.c FROM nat JOIN clo ON clo.a = nat.n),
         |invalt AS (
         |  SELECT cs.o_id AS x, e.s AS c FROM triples e
         |  JOIN triples cs ON cs.s = e.o_id AND cs.p = 'in_nation'
         |  WHERE e.p IN ('placed_by', 'supplied_by') AND e.o_id IS NOT NULL)
         |SELECT x, c, 'invseq' AS form FROM invseq
         |UNION ALL SELECT x, c, 'invstar' FROM invstar
         |UNION ALL SELECT x, c, 'invalt' FROM invalt""".stripMargin,
    "kg_sparql_path_opt" ->
      s"""$T,
         |nodes AS (SELECT DISTINCT n FROM (
         |  SELECT s AS n FROM triples
         |  UNION ALL SELECT o_id FROM triples WHERE o_id IS NOT NULL)),
         |nat AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_nation'),
         |reg AS (SELECT s AS a, o_id AS b FROM triples WHERE p = 'in_region'),
         |z AS (SELECT n AS a, n AS b FROM nodes
         |      UNION SELECT a, b FROM nat WHERE a <> b),
         |opt AS (SELECT z.a, reg.b AS r FROM z JOIN reg ON reg.a = z.b),
         |e2 AS (SELECT DISTINCT a, b FROM (
         |  SELECT a, b FROM nat UNION ALL SELECT a, b FROM reg)),
         |clo AS (
         |  WITH RECURSIVE c(a, b) AS (
         |    SELECT n, n FROM nodes
         |    UNION
         |    SELECT c.a, e2.b FROM c JOIN e2 ON e2.a = c.b)
         |  SELECT a, b FROM c),
         |sf AS (SELECT clo.a, reg.b AS r FROM clo JOIN reg ON reg.a = clo.b)
         |SELECT a, r, 'opt' AS form FROM opt
         |UNION ALL SELECT a, r, 'star_first' FROM sf""".stripMargin,
    "kg_sparql_nitems" ->
      s"""$T,
         |anch AS (SELECT s FROM triples WHERE p = 'in_nation' AND o_id = ${2L * Triples.NS + 3}),
         |cnt AS (SELECT s, count(*) AS c FROM triples GROUP BY 1),
         |best AS (SELECT s, o_val FROM (
         |  SELECT s, o_val, row_number() OVER (PARTITION BY s
         |    ORDER BY CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 1 END, lang) AS rk
         |  FROM triples WHERE p = 'label' AND lang IN ('de', 'en')) WHERE rk = 1)
         |SELECT DISTINCT a.s AS item,
         |  COALESCE(b.o_val, CAST(a.s AS VARCHAR)) AS "itemLabel",
         |  cnt.c AS statementcount
         |FROM anch a JOIN cnt ON cnt.s = a.s
         |LEFT JOIN best b ON b.s = a.s""".stripMargin)
}
