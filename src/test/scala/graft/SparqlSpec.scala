package graft

import org.apache.spark.sql.functions._

import graft.kg.{Sparql, SparqlQueries}

class SparqlSpec extends SparkSpec {

  test("flagship text query runs, binds all four vars, and OPTIONAL keeps row coverage") {
    val df = SparqlQueries.kgSparql(spark, sf)
    assert(df.columns.toSeq == Seq("c", "n", "nname", "cname"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the OPTIONAL label exists for every customer in this store, and
    // some customers carry a second (de) label — fan-out is real
    assert(rows.forall(r => !r.isNullAt(2)), "required nname null")
    val perC = rows.groupBy(_.getLong(0)).values.map(_.length)
    assert(perC.exists(_ > 1), "no multi-label fan-out — OPTIONAL join suspect")
  }

  test("a text BGP compiles to the same result as the hand-built DSL query") {
    // kg_bgp_join's shape as text: customers in ASIA through the
    // nation/region chain
    val text =
      """SELECT ?c ?n WHERE {
        |  ?c in_nation ?n .
        |  ?n in_region ?r .
        |  ?r label "ASIA" .
        |}""".stripMargin
    val got = Sparql.run(spark, sf, text)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val st = graft.kg.Triples.statements(spark, sf)
    val asia = st.filter(col("p") === "label" && col("o_val") === "ASIA").select(col("s").as("r"))
    val nInR = st.filter(col("p") === "in_region")
      .select(col("s").as("n"), col("o_id").as("r")).join(asia, "r")
    val exp = st.filter(col("p") === "in_nation")
      .select(col("s").as("c"), col("o_id").as("n")).join(nInR.select("n"), "n")
      .select("c", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp, s"text-compiled BGP diverges: ${got.size} vs ${exp.size}")
  }

  test("ORDER BY + LIMIT compile to a deterministic top-n") {
    val text =
      """SELECT ?n ?lbl WHERE { ?n label ?lbl . ?n in_region ?r . }
        |ORDER BY ?lbl LIMIT 5""".stripMargin
    val rows = Sparql.run(spark, sf, text).collect().map(_.getString(1))
    assert(rows.length == 5 && rows.sameElements(rows.sorted))
  }

  test("reference dialect: lokale-from-factgrid.rq's shape runs via alias maps") {
    // the reference query's structure verbatim (prefixed names,
    // ';' continuation, UNION chain, multi-pattern OPTIONAL group) —
    // only the vocabulary is translated through the dialect maps
    val st = graft.kg.Triples.statements(spark, sf)
    val nation = st.filter(col("p") === "label" && col("o_val") === "NATION_2")
      .select("s").head().getLong(0)
    val text =
      """PREFIX fg: <https://database.factgrid.de/entity/>
        |PREFIX fgt: <https://database.factgrid.de/prop/direct/>
        |SELECT DISTINCT ?item ?n ?lbl WHERE {
        |  ?item fgt:P2 fg:Q40454 .
        |  { ?item mktsegment "BUILDING" . }
        |  UNION
        |  { ?item fgt:P2 fg:Q40454;
        |      mktsegment "MACHINERY" . }
        |  OPTIONAL {
        |    ?item in_nation ?n .
        |    ?n label ?lbl .
        |  }
        |}""".stripMargin
    val got = Sparql.run(spark, sf, text,
        predAliases = Map("fgt:P2" -> "in_nation"),
        entityAliases = Map("fg:Q40454" -> nation))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // DSL-built expectation
    val inNation = st.filter(col("p") === "in_nation" && col("o_id") === nation)
      .select(col("s").as("item"))
    val seg = st.filter(col("p") === "mktsegment" &&
        col("o_val").isin("BUILDING", "MACHINERY"))
      .select(col("s").as("item"))
    val nLbl = st.filter(col("p") === "label" && col("o_val").startsWith("NATION_"))
      .select(col("s").as("n"), col("o_val").as("lbl"))
    val exp = inNation.join(seg, "item")
      .withColumn("n", lit(nation)).join(nLbl, "n")
      .select("item", "n", "lbl").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got.nonEmpty && got == exp,
      s"translated reference query diverges: got ${got.size}, expected ${exp.size}")
    // a prefixed name missing from the dialect map fails loudly
    val e = intercept[IllegalArgumentException](
      Sparql.run(spark, sf, text, predAliases = Map("fgt:P2" -> "in_nation")))
    assert(e.getMessage.contains("no alias"))
  }

  test("aggregates: COUNT/COUNT DISTINCT with GROUP BY compile and guard their contract") {
    val rows = SparqlQueries.kgSparqlAgg(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, members, segs) =>
      assert(members >= 1 && segs >= 1 && segs <= 2) // only BUILDING/MACHINERY branches
    }
    // GROUP BY must cover exactly the plain vars
    val e = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?n ?x (COUNT(?c) AS ?k) WHERE { ?c in_nation ?n . } GROUP BY ?n"))
    assert(e.getMessage.contains("GROUP BY"))
    // GROUP BY without aggregates is rejected too
    val e2 = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?n WHERE { ?c in_nation ?n . } GROUP BY ?n"))
    assert(e2.getMessage.contains("GROUP BY") || e2.getMessage.contains("aggregate"))
  }

  test("BIND seeds and VALUES restrictions compile (the network-*.rq seed idiom)") {
    val st = graft.kg.Triples.statements(spark, sf)
    val nation = st.filter(col("p") === "label" && col("o_val") === "NATION_3")
      .select("s").head().getLong(0)
    // BIND: seed the root entity, walk out, project the seed back
    val text =
      s"""PREFIX fg: <https://database.factgrid.de/entity/>
         |SELECT ?root ?c ?seg WHERE {
         |  BIND(fg:Q3 AS ?root)
         |  ?c in_nation ?root .
         |  ?c mktsegment ?seg .
         |  VALUES ?seg { "BUILDING" "MACHINERY" }
         |}""".stripMargin
    val rows = Sparql.run(spark, sf, text, entityAliases = Map("fg:Q3" -> nation))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 == nation), "projected BIND seed wrong")
    assert(rows.map(_._3).distinct.toSet.subsetOf(Set("BUILDING", "MACHINERY")))
    // expected membership from a direct computation
    val exp = st.filter(col("p") === "in_nation" && col("o_id") === nation)
      .select(col("s")).collect().map(_.getLong(0)).toSet
    val segs = st.filter(col("p") === "mktsegment" &&
        col("o_val").isin("BUILDING", "MACHINERY"))
      .select(col("s")).collect().map(_.getLong(0)).toSet
    assert(rows.map(_._2).toSet == exp.intersect(segs))
    // VALUES over an unbound var fails loudly
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """SELECT ?c WHERE { ?c in_nation ?n . VALUES ?zzz { "x" } }"""))
    assert(e.getMessage.contains("not bound"))
  }

  test("property path p/q* compiles to the step+closure plan (companions shape)") {
    val df = SparqlQueries.kgSparqlPath(spark, sf)
    assert(df.columns.toSeq == Seq("c", "reach"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // DSL twin: kg_seq_path pairs restricted to BUILDING customers
    val st = graft.kg.Triples.statements(spark, sf)
    val bld = st.filter(col("p") === "mktsegment" && col("o_val") === "BUILDING")
      .select(col("s").as("c"))
    val exp = graft.kg.TripleStore(spark, st).path("in_nation", Seq("in_region"))
      .withColumnRenamed("s", "c").join(bld, "c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp, s"path query diverges: ${got.size} vs ${exp.size}")
    // zero-step closure: every customer's nation itself is reachable
    val nations = st.filter(col("p") === "in_nation").select("s", "o_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (c, _) => nations.exists(_._1 == c) })
    assert(got.exists { case (c, r) => nations.contains((c, r)) }, "nation step missing")
    assert(got.exists { case (c, r) => !nations.contains((c, r)) }, "region closure missing")
    // loud reject: non-entity step
    def fails(p: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
        s"SELECT ?a ?b WHERE { ?a $p ?b . }"))
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' lacks '$frag'")
    }
    fails("in_nation/label*", "not entity-valued")
    // closure-FIRST compiles since round 10: in_region*/in_nation over a
    // variable subject = identity-seeded closure then the nation hop —
    // only the identity arm of the closure has in_nation out-edges, so
    // the result is exactly the in_nation edge set
    val st0 = graft.kg.Triples.statements(spark, sf)
    val cf = Sparql.run(spark, sf,
      "SELECT ?a ?b WHERE { ?a (in_region*/in_nation) ?b . }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val natEdges = st0.filter(col("p") === "in_nation")
      .collect().map(r => (r.getAs[Long]("s"), r.getAs[Long]("o_id"))).sorted.toSeq
    assert(cf == natEdges, "closure-first path must equal the nation edge set here")
    // `?` (zero-or-one) compiles since round 10: in_nation/in_region? =
    // the nation edges (zero) ∪ the two-step customer→region pairs (one)
    val zo = Sparql.run(spark, sf,
      "SELECT ?a ?b WHERE { ?a (in_nation/in_region?) ?b . }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nat = st0.filter(col("p") === "in_nation")
      .select(col("s").as("a"), col("o_id").as("b"))
    val reg = st0.filter(col("p") === "in_region")
      .select(col("s").as("b"), col("o_id").as("b2"))
    val twoStep = nat.join(reg, "b").select(col("a"), col("b2").as("b"))
    val zoExp = (natEdges.toSet ++
      twoStep.collect().map(r => (r.getLong(0), r.getLong(1))))
    assert(zo == zoExp, "p/q? must be the zero ∪ one step union")
  }

  test("SERVICE wikibase:label resolves ?xLabel with language preference and id fallback") {
    val df = SparqlQueries.kgSparqlLabel(spark, sf)
    assert(df.columns.toSeq == Seq("item", "itemLabel", "seg"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // de-labeled customers (custkey % 3 == 0) must show the DE label;
    // the rest fall back to en (all customers carry an en label)
    rows.foreach { r =>
      val (item, lbl) = (r.getLong(0), r.getString(1))
      if (item % 3 == 0) assert(lbl.startsWith("DE "), s"$item: expected de label, got $lbl")
      else assert(!lbl.startsWith("DE ") && lbl.nonEmpty)
    }
    // id-string fallback: orders have no label triple at all
    val ord = Sparql.run(spark, sf,
      """SELECT ?o ?oLabel WHERE {
        |  SERVICE wikibase:label { bd:serviceParam wikibase:language "[AUTO_LANGUAGE],en". }
        |  ?o placed_by ?c .
        |} LIMIT 5""".stripMargin)
    ord.collect().foreach(r => assert(r.getString(1) == r.getLong(0).toString))
    // a ?xLabel var without the SERVICE block is a loud error
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?c ?cLabel WHERE { ?c in_nation ?n . }"))
    assert(e.getMessage.contains("SERVICE wikibase:label"))
    // a federated endpoint without a registered graph rejects loudly
    // (with a registry it compiles — the kg_sparql_service surface)
    val e2 = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """SELECT ?x ?n WHERE { ?x in_nation ?n .
        |  SERVICE <https://example.org/sparql> { ?x mktsegment ?v . } }""".stripMargin))
    assert(e2.getMessage.contains("not registered"))
  }

  test("MINUS and FILTER NOT EXISTS compile to anti-joins; filter-only MINUS excludes rows") {
    val got = SparqlQueries.kgSparqlMinus(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val st = graft.kg.Triples.statements(spark, sf)
    val inN = st.filter(col("p") === "in_nation").select(col("s").as("c"), col("o_id").as("n"))
    val bld = st.filter(col("p") === "mktsegment" && col("o_val") === "BUILDING").select(col("s").as("c"))
    val l7 = st.filter(col("p") === "label" && col("o_val").rlike("7$")).select(col("s").as("c"))
    val exp = inN.join(bld, Seq("c"), "left_anti").join(l7, Seq("c"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == exp, s"minus query diverges: ${got.size} vs ${exp.size}")
    // pattern-less MINUS (the reference's MINUS{FILTER(REGEX(STR(?v),…))})
    // = row exclusion on the outer binding
    val fo = Sparql.run(spark, sf,
      """SELECT ?c ?seg WHERE {
        |  ?c mktsegment ?seg .
        |  MINUS { FILTER(REGEX(STR(?seg), "^BUILD")) }
        |}""".stripMargin)
    val segs = fo.select("seg").distinct().collect().map(_.getString(0)).toSet
    assert(segs.nonEmpty && !segs.contains("BUILDING"))
    // a disconnected MINUS group is a loud error
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?c WHERE { ?c in_nation ?n . MINUS { ?x brand ?b . } }"))
    assert(e.getMessage.contains("shares no variable"))
  }

  test("multi-var VALUES restricts row-wise, not column-wise") {
    val rows = SparqlQueries.kgSparqlValues(spark, sf)
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    val n3 = 2L * graft.kg.Triples.NS + 3; val n5 = 2L * graft.kg.Triples.NS + 5
    assert(rows.nonEmpty)
    assert(rows.subsetOf(Set((n3, "BUILDING"), (n5, "MACHINERY"))),
      s"row-wise restriction violated: $rows") // (n3,MACHINERY)/(n5,BUILDING) must be absent
    // arity mismatch is loud
    val e = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?a ?b WHERE { ?a in_nation ?b . VALUES (?a ?b) { (1 2) (3) } }"""))
    assert(e.getMessage.contains("arity"))
  }

  test("variable predicates: schema-typed objects, VALUES-restricted scans, IRI aliases") {
    // kg_sparql_pred: every relation whose object is in nation 5
    val df = SparqlQueries.kgSparqlPred(spark, sf)
    assert(df.columns.toSeq == Seq("c", "relation", "v", "vLabel"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // DSL twin: statements whose object is a nation-5 member, any predicate
    val stm = graft.kg.Triples.statements(spark, sf)
    val n5 = 2L * graft.kg.Triples.NS + 5
    val cls = stm.filter(col("p") === "in_nation" && col("o_id") === n5)
      .select(col("s").as("v"))
    val exp = stm.filter(col("o_id").isNotNull)
      .select(col("s").as("c"), col("p").as("relation"), col("o_id").as("v"))
      .join(cls, "v")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(0))).toSet
    val got = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == exp, s"variable-predicate query diverges: ${got.size} vs ${exp.size}")
    // objects in a nation are customers/suppliers; the statements
    // pointing AT them can only be placed_by / supplied_by
    val rels = rows.map(_.getString(1)).distinct.toSet
    assert(rels.subsetOf(Set("placed_by", "supplied_by")), s"unexpected relations: $rels")
    // predicate-VALUES restriction pushes p-isin into the scan
    val pv = SparqlQueries.kgSparqlPredValues(spark, sf)
    val scan = pv.queryExecution.executedPlan.toString
    assert(scan.contains("placed_by") && scan.contains("supplied_by"),
      s"VALUES predicate list did not reach the plan:\n${scan.take(800)}")
    val pvRels = pv.select("rel").distinct().collect().map(_.getString(0)).toSet
    assert(pvRels == Set("placed_by", "supplied_by"))
    // a type-ambiguous object (no VALUES, no other binding site) is loud
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o . }"))
    assert(e.getMessage.contains("type-ambiguous"))
    // IRI constants resolve through the dialect maps (schema:isPartOf shape)
    val st = graft.kg.Triples.statements(spark, sf)
    val nation = st.filter(col("p") === "label" && col("o_val") === "NATION_2")
      .select("s").head().getLong(0)
    val iri = Sparql.run(spark, sf,
      """SELECT ?c WHERE { ?c <https://example.org/in_nation> <https://example.org/N2> . }""",
      predAliases = Map("<https://example.org/in_nation>" -> "in_nation"),
      entityAliases = Map("<https://example.org/N2>" -> nation))
    val expN = st.filter(col("p") === "in_nation" && col("o_id") === nation).count()
    assert(iri.count() == expN)
  }

  test("sitelink reification + BIND(IRI(CONCAT)) run the reference link block on an extended store") {
    val df = SparqlQueries.kgSparqlSitelinks(spark, sf)
    assert(df.columns.toSeq == Seq("item", "itemLabel", "qid", "wd_item"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0) - 3L * graft.kg.Triples.NS
      assert(k % 3 == 0, s"non-wikidata-linked item $k leaked in")
      assert(r.getString(2) == s"Q$k")
      assert(r.getString(3) == s"http://www.wikidata.org/entity/Q$k", "BIND IRI render wrong")
      // the %3 subset all carry de labels and the chain prefers de
      assert(r.getString(1).startsWith("DE "))
    }
    // the IRI literal filter discriminates: a different site matches nothing
    val none = Sparql.runOn(spark, SparqlQueries.sitelinkStatements(spark, sf),
      """SELECT ?link WHERE { ?link schema:isPartOf <https://de.wikipedia.org/> . }""",
      predAliases = Map("schema:isPartOf" -> "schema_ispartof"))
    assert(none.count() == 0)
    // a BIND IRI prefix without a PREFIX declaration is loud
    val e = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?x WHERE { ?s label ?q . BIND(IRI(CONCAT(STR(wd:), ?q)) AS ?x) }"))
    assert(e.getMessage.contains("PREFIX"))
    // a string literal on an entity-valued predicate is loud, not empty
    val e2 = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """SELECT ?c WHERE { ?c in_nation "five" . }"""))
    assert(e2.getMessage.contains("entity-valued"))
  }

  test("MIN/MAX/SAMPLE/GROUP_CONCAT aggregates compile deterministically") {
    val rows = SparqlQueries.kgSparqlGc(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (fst, lst, segs) = (r.getString(2), r.getString(3), r.getString(5))
      assert(fst <= lst, "MIN/MAX inverted")
      val parts = segs.split("\\|").toSeq
      assert(parts == parts.sorted && parts == parts.distinct,
        s"GROUP_CONCAT DISTINCT not the sorted distinct concat: $segs")
      assert(parts.contains(r.getString(4)), "SAMPLE not drawn from the group")
    }
    // rerun-identical (deterministic SAMPLE + sorted concat)
    val again = SparqlQueries.kgSparqlGc(spark, sf).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("directClaim triangle: predicate variable joins the property dictionary") {
    val df = SparqlQueries.kgSparqlDirect(spark, sf)
    assert(df.columns.toSeq == Seq("prop", "rel", "item", "value"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val dict = SparqlQueries.directClaimProps.toMap
    rows.foreach { r =>
      assert(dict.get(r.getLong(0)).contains(r.getString(1)),
        s"prop ${r.getLong(0)} does not map to rel ${r.getString(1)}")
    }
    // same relation set as the plain variable-predicate query
    val expRels = SparqlQueries.kgSparqlPred(spark, sf)
      .select("relation").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(1)).toSet == expRels)
    // entity-vs-string stays a REAL conflict after the predicate relax
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?c WHERE { ?c in_nation ?x . ?c label ?x . }"))
    assert(e.getMessage.contains("type conflict"))
  }

  test("lokale-from-factgrid.rq runs VERBATIM over dialect maps + extended store") {
    // the reference's flagship publishing query, byte-for-byte
    // (data-publishing/factgrid/queries/lokale-from-factgrid.rq) —
    // only the vocabulary binds through the dialect maps. Exercises:
    // label service with "de" only (id-string fallback for the
    // non-de-labeled), a 5-branch UNION with ';' continuations,
    // 7 OPTIONALs incl. the sitelink-reification block with its
    // IRI-literal object and in-OPTIONAL BIND(IRI(CONCAT)) (null-safe
    // hoist), and projected-but-unbound vars (?Notiz — its OPTIONAL
    // is commented out; ?fg_itemDescription/?fg_itemAltLabel — no
    // such relations in this store) as null columns.
    val lokale =
      """#defaultView:Table
        |PREFIX wd: <https://database.factgrid.de/entity/>
        |PREFIX wdt: <https://database.factgrid.de/prop/direct/>
        |SELECT ?fg_item ?fg_itemLabel ?fg_itemDescription ?fg_itemAltLabel ?Address ?AddressLabel ?Geo ?Notiz ?Anfangszeitpunkt ?Endzeitpunkt ?Datum ?wd_item ?Treffpunkt ?TreffpunktLabel ?Zielgruppe WHERE {
        |  SERVICE wikibase:label { bd:serviceParam wikibase:language "de". }
        |  ?fg_item wdt:P2 wd:Q40454.
        |  { ?fg_item wdt:P726 wd:Q399989. }
        |  UNION
        |  {
        |    ?fg_item wdt:P2 wd:Q40454;
        |      wdt:P726 wd:Q399990.
        |  }
        |  UNION
        |  {
        |    ?fg_item wdt:P2 wd:Q40454;
        |      wdt:P726 wd:Q399988.
        |  }
        |  UNION
        |  {
        |    ?fg_item wdt:P2 wd:Q40454;
        |      wdt:P726 wd:Q400014.
        |  }
        |  UNION
        |  {
        |    ?fg_item wdt:P2 wd:Q40454;
        |      wdt:P726 wd:Q137530.
        |  }
        |  OPTIONAL {
        |    ?fg_item wdt:P208 ?Address.
        |    ?Address wdt:P48 ?Geo.
        |  }
        |  #OPTIONAL { ?fg_item wdt:P73 ?Notiz. }
        |  OPTIONAL { ?fg_item wdt:P49 ?Anfangszeitpunkt. }
        |  OPTIONAL { ?fg_item wdt:P50 ?Endzeitpunkt. }
        |  OPTIONAL { ?fg_item wdt:P106 ?Datum. }
        |  OPTIONAL { ?fg_item wdt:P726 ?Treffpunkt. }
        |  OPTIONAL { ?fg_item wdt:P573 ?Zielgruppe.}
        |    OPTIONAL {
        |    # transform wikidata qid in factgrid to wikidata entity iri
        |    ?link schema:about ?fg_item .
        |    ?link schema:isPartOf <https://www.wikidata.org/> .
        |    ?link schema:name ?qid.
        |    BIND(IRI(CONCAT(STR(wd:), ?qid)) AS ?wd_item)
        |  }
        |}""".stripMargin
    val n5 = 2L * graft.kg.Triples.NS + 5
    val df = Sparql.runOn(spark, SparqlQueries.sitelinkStatements(spark, sf), lokale,
      predAliases = Map(
        "wdt:P2" -> "in_nation", "wdt:P726" -> "in_nation",
        "wdt:P208" -> "in_nation", "wdt:P48" -> "label",
        "wdt:P49" -> "label", "wdt:P50" -> "mktsegment",
        "wdt:P106" -> "label", "wdt:P573" -> "mktsegment",
        "schema:about" -> "schema_about", "schema:isPartOf" -> "schema_ispartof",
        "schema:name" -> "schema_name"),
      entityAliases = Map(
        "wd:Q40454" -> n5, "wd:Q399989" -> n5, "wd:Q399990" -> n5,
        "wd:Q399988" -> n5, "wd:Q400014" -> n5, "wd:Q137530" -> n5),
      entityValued = Sparql.defaultEntityPreds + "schema_about")
    assert(df.columns.length == 15, s"lost projection columns: ${df.columns.toSeq}")
    val rows = df.collect()
    assert(rows.nonEmpty, "verbatim lokale produced no rows")
    val st = graft.kg.Triples.statements(spark, sf)
    val members = st
      .filter(col("p") === "in_nation" && col("o_id") === n5)
      .select("s").collect().map(_.getLong(0)).toSet
    // bag semantics: 5 identical union branches × the label fan-out
    // squared (both ?Anfangszeitpunkt and ?Datum map to `label`, so a
    // customer with de+en labels contributes 2×2 rows per branch)
    val nLabels = st.filter(col("p") === "label")
      .groupBy("s").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = 5L * members.toSeq.map(m => nLabels(m) * nLabels(m)).sum
    assert(rows.length == expected, s"${rows.length} vs $expected")
    val byItem = rows.groupBy(_.getLong(0))
    assert(byItem.keySet == members)
    rows.foreach { r =>
      val item = r.getLong(0)
      val lbl = r.getString(1)
      // the "de"-only label chain: de label when it exists, else the
      // Wikibase id-string fallback
      if (item % 3 == 0) assert(lbl.startsWith("DE ")) else assert(lbl == item.toString)
      assert(r.isNullAt(r.fieldIndex("Notiz")), "?Notiz must be an unbound null column")
      val wd = r.get(r.fieldIndex("wd_item"))
      if (item % 3 == 0)
        assert(wd == s"https://database.factgrid.de/entity/Q${item - 3L * graft.kg.Triples.NS}",
          s"wd_item wrong: $wd")
      else assert(wd == null, "wd_item must stay unbound without a wikidata sitelink")
    }
  }

  test("unsupported syntax fails loudly, never silently drops patterns") {
    def fails(q: String, fragment: String): Unit = {
      val e = intercept[IllegalArgumentException](Sparql.run(spark, sf, q))
      assert(e.getMessage.contains(fragment), s"message '${e.getMessage}' lacks '$fragment'")
    }
    fails("SELECT ?x WHERE { ?x knows ?y . FILTER(BOUND(?y)) }", "unsupported FILTER")
    fails("SELECT ?x WHERE { ?x a ?y ?z . }", "unsupported pattern")
    fails("SELECT ?x WHERE { ?x in_nation ?y . ?a label ?b . }", "not connected")
    fails("DESCRIBE <x>", "unsupported query shape")
    // silently-wrong-results class: these would compile to empty frames
    // (?s ?p ?o is now a supported variable-predicate scan, but an
    // object with no typing site must still reject, not guess)
    fails("SELECT ?s ?o WHERE { ?s ?p ?o . }", "type-ambiguous")
    fails("SELECT ?x WHERE { ?x a ?y . }", "rdf:type shorthand")
    // nested SERVICE inside a MINUS body stays out (silently-wrong
    // class: the anti-join would ignore the remote restriction)
    fails("""SELECT ?c WHERE { ?c in_nation ?n . MINUS { ?c label ?l .
            |  SERVICE <https://x/sparql> { ?c mktsegment ?v . } } }""".stripMargin,
      "nested group")
  }

  test("recursive groups: OPTIONAL inside a UNION branch, scoped BIND inside OPTIONAL") {
    val st = graft.kg.Triples.statements(spark, sf)
    import org.apache.spark.sql.functions.col
    // BUILDING rows fan out per label (bag semantics — the en/de
    // label dimension yields two rows for labeled-in-both customers)
    val bld = st.filter(col("p") === "mktsegment" && col("o_val") === "BUILDING")
      .select(col("s"))
      .join(st.filter(col("p") === "label").select(col("s")), Seq("s"), "left_outer")
      .count()
    val mch = st.filter(col("p") === "mktsegment" && col("o_val") === "MACHINERY").count()
    // branch 1 left-joins labels; branch 2 binds no ?l — its rows
    // null-pad (SPARQL UNION does not require aligned variables)
    val u = Sparql.run(spark, sf,
      """SELECT ?c ?l WHERE {
        |  { ?c mktsegment "BUILDING" . OPTIONAL { ?c label ?l . } }
        |  UNION { ?c mktsegment "MACHINERY" . }
        |}""".stripMargin).collect()
    assert(u.length == bld + mch, s"${u.length} != $bld + $mch")
    assert(u.count(_.isNullAt(1)) >= mch, "MACHINERY rows must null-pad ?l")
    // a BIND inside an OPTIONAL scopes to the group: bound only on
    // rows where the group matched (lokale-from-factgrid.rq:43 shape)
    val b = Sparql.run(spark, sf,
      """SELECT ?c ?l ?x WHERE {
        |  ?c in_nation ?n . OPTIONAL { ?c label ?l . BIND("x" AS ?x) }
        |}""".stripMargin).collect()
    assert(b.nonEmpty)
    b.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), "?x must stay unbound when the OPTIONAL missed")
      else assert(r.getString(2) == "x", "?x must carry the branch tag when the OPTIONAL hit")
    }
    assert(b.exists(!_.isNullAt(2)), "some row should hit the OPTIONAL")
  }

  test("parser robustness: late-connecting BGPs, quoted separators, numeric literals") {
    // a connected BGP whose connecting pattern comes LAST still
    // compiles (patterns 1 and 2 share no variable; 3 bridges them)
    val late = Sparql.run(spark, sf,
      """SELECT ?c ?n WHERE {
        |  ?r label "ASIA" .
        |  ?c in_nation ?n .
        |  ?n in_region ?r .
        |}""".stripMargin)
    assert(late.count() > 0)
    // '#' and ';' inside string literals are content, not comment/separator
    val q = Sparql.parse(
      """SELECT ?c WHERE { ?c mktsegment "A#B;C.D" . }""")
    assert(q.body.patterns == Seq(Sparql.Pattern(
      Sparql.V("c"), Sparql.Name("mktsegment"), Sparql.Lit("A#B;C.D"))))
    // numeric object on a LITERAL-valued predicate compares o_val,
    // never the (always-null) o_id
    val num = Sparql.run(spark, sf, "SELECT ?c WHERE { ?c mktsegment 42 . }")
    assert(num.count() == 0) // no such segment — but compiled, not silently o_id-matched
    assert(Sparql.run(spark, sf, "SELECT ?c WHERE { ?c in_nation 2000000000003 . }").count() > 0)
  }

  test("typing rule: object vars that appear as subjects bind ids, others bind literals") {
    val df = Sparql.run(spark, sf,
      "SELECT ?c ?n ?lbl WHERE { ?c in_nation ?n . ?n label ?lbl . }")
    assert(df.schema("n").dataType.typeName == "long")
    assert(df.schema("lbl").dataType.typeName == "string")
  }

  test("SERVICE federation: OPTIONAL body left-joins per outer row; IF verdict null-propagates") {
    val rows = SparqlQueries.kgSparqlService(spark, sf).collect()
    val custNs = 3L * graft.kg.Triples.NS
    assert(rows.nonEmpty)
    // every local mktsegment statement survives (left join), and the
    // verdict follows the remote graph's deterministic drift:
    // %7 → missing remotely (unbound value, unbound verdict — the IF
    // null-propagation), %10 → LEGACY conflict ("false"), else "true"
    rows.foreach { r =>
      val key = r.getLong(0) - custNs
      if (key % 7 == 0) {
        assert(r.isNullAt(2) && r.isNullAt(3),
          s"cust $key missing remotely must have unbound wd_value AND unbound is_same")
      } else if (key % 10 == 0) {
        assert(r.getString(2) == "LEGACY" && r.getString(3) == "false")
      } else {
        assert(r.getString(1) == r.getString(2) && r.getString(3) == "true")
      }
    }
    // required (non-OPTIONAL) body inner-joins: only remotely-known rows
    val fed = SparqlQueries.kgSparqlFederated(spark, sf).collect()
    assert(fed.nonEmpty && fed.forall(r => (r.getLong(0) - custNs) % 7 != 0),
      "inner service body must drop rows the remote graph lacks")
  }

  test("SERVICE federation: loud rejects — unregistered endpoint, cross-graph key type") {
    // endpoint not in the registry
    val e1 = intercept[IllegalArgumentException](
      Sparql.run(spark, sf, SparqlQueries.serviceText,
        predAliases = Map("fgt:P131" -> "mktsegment")))
    assert(e1.getMessage.contains("not registered"))
    // joining an entity-typed outer var against a literal-typed remote
    // binding (the IRI-string round trip) rejects at the type check
    val badText =
      """SELECT ?x ?v WHERE {
        |  ?c label ?x .
        |  SERVICE <https://query.wikidata.org/sparql> { ?x mktsegment ?v . }
        |}""".stripMargin
    val e2 = intercept[IllegalArgumentException](
      Sparql.run(spark, sf, badText,
        graphs = SparqlQueries.serviceGraphs(spark, sf)))
    assert(e2.getMessage.contains("type conflict") ||
      e2.getMessage.contains("entity id space"), e2.getMessage)
    // SERVICE inside a NOT EXISTS group still rejects loudly
    val e3 = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?c WHERE {
        |  ?c in_nation ?n .
        |  FILTER NOT EXISTS { ?c label ?l .
        |    SERVICE <https://query.wikidata.org/sparql> { ?c mktsegment ?v . } }
        |}""".stripMargin))
    assert(e3.getMessage.contains("nested group"), e3.getMessage)
  }

  test("FILTER(LANG) compiles into the binding-site scan; loud without a literal site") {
    val rows = SparqlQueries.kgSparqlLang(spark, sf).collect()
    assert(rows.nonEmpty)
    // autoLang is "de": every surviving label is from the synthetic
    // de subset (custkey % 3, prefixed "DE ")
    rows.foreach(r => assert(r.getString(2).startsWith("DE "),
      s"non-de label passed the LANG filter: ${r.getString(2)}"))
    val st = graft.kg.Triples.statements(spark, sf)
    val exp = st.filter(col("p") === "label" && col("lang") === "de").count()
    assert(rows.length == exp, s"${rows.length} vs $exp de-labels")
    // LANG over a var bound only as an entity rejects loudly
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """SELECT ?c ?n WHERE { ?c in_nation ?n . FILTER(LANG(?n) = "de") }"""))
    assert(e.getMessage.contains("literal object"), e.getMessage)
  }

  test("path alternation/inverse/plus and the 'a' shorthand compile; '?' rejects loudly") {
    val st = graft.kg.Triples.statements(spark, sf)
    // (p|^q): union of the direct arm and the reversed arm
    val alt = SparqlQueries.kgSparqlPathAlt(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val direct = st.filter(col("p") === "in_region")
      .select(col("s").as("n"), col("o_id").as("x"))
    val inverse = st.filter(col("p") === "in_nation")
      .select(col("o_id").as("n"), col("s").as("x"))
    val exp = direct.unionAll(inverse)
      .join(direct.select("n").distinct(), "n")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(alt.sorted.toSeq == exp.sorted.toSeq)
    // p+ excludes the zero-step pairs p* keeps: reach is regions only
    val plus = SparqlQueries.kgSparqlPathPlus(spark, sf).collect()
    val regions = st.filter(col("p") === "in_region").select("o_id")
      .collect().map(_.getLong(0)).toSet
    assert(plus.nonEmpty && plus.forall(r => regions(r.getLong(1))),
      "p+ must land on regions only (nations would mean zero-step leakage)")
    // 'a' resolves through the dialect map; unmapped stays loud
    val a = Sparql.run(spark, sf,
      """SELECT ?c WHERE { ?c a "BUILDING" . }""",
      predAliases = Map("a" -> "mktsegment")).count()
    val aExp = st.filter(col("p") === "mktsegment" && col("o_val") === "BUILDING").count()
    assert(a == aExp)
    val e1 = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """SELECT ?c WHERE { ?c a "BUILDING" . }"""))
    assert(e1.getMessage.contains("dialect map"), e1.getMessage)
    // the '?' + closure-first gated query: both branches populated,
    // the opt branch = direct region edges ∪ the optional-nation hop
    val po = SparqlQueries.kgSparqlPathOpt(spark, sf).collect()
    assert(po.map(_.getAs[String]("form")).toSet == Set("opt", "star_first"))
    val natE = st.filter(col("p") === "in_nation")
      .select(col("s").as("a"), col("o_id").as("b"))
    val regE = st.filter(col("p") === "in_region")
      .select(col("s").as("b"), col("o_id").as("r"))
    val optExp = regE.select(col("b").as("a"), col("r"))
      .unionAll(natE.join(regE, "b").select(col("a"), col("r")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val optGot = po.filter(_.getAs[String]("form") == "opt")
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("r"))).sorted.toSeq
    assert(optGot == optExp, "opt branch must be identity-or-one-step into the region hop")
    // negated property set: exclusion over the typed statements scan
    val neg = Sparql.run(spark, sf,
      """SELECT ?o ?x WHERE { ?o !(has_part|supplied_by) ?x . ?x in_nation ?n . }""")
      .select("o", "x").distinct().count()
    val negExp = st.filter(!col("p").isin("has_part", "supplied_by") &&
        col("o_id").isNotNull)
      .join(st.filter(col("p") === "in_nation").select(col("s").as("o_id")).distinct(), "o_id")
      .select("s", "o_id").distinct().count()
    assert(neg == negExp && neg > 0)
    // a site-free negated-set object is type-ambiguous — loud
    val e3 = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?o ?x WHERE { ?o !(has_part) ?x . }"))
    assert(e3.getMessage.contains("type-ambiguous"), e3.getMessage)
  }

  test("CONSTRUCT/ASK/DESCRIBE text forms compile (all four SPARQL forms from text)") {
    val st = graft.kg.Triples.statements(spark, sf)
    // CONSTRUCT: statement-shaped, set semantics, both object arms
    val cons = SparqlQueries.kgSparqlConstruct(spark, sf)
    assert(cons.columns.toSeq == Seq("s", "p", "o_id", "o_val", "lang"))
    val byP = cons.collect().groupBy(_.getString(1))
    assert(byP.keySet == Set("located_in", "has_segment"))
    assert(byP("located_in").forall(r => !r.isNullAt(2) && r.isNullAt(3)),
      "entity template arm must bind o_id only")
    assert(byP("has_segment").forall(r => r.isNullAt(2) && !r.isNullAt(3)),
      "literal template arm must bind o_val only")
    assert(cons.count() == cons.distinct().count(), "CONSTRUCT is a graph — set semantics")
    // the located_in arm equals the composed hop computed directly
    // (body requires a mktsegment, so suppliers — who also carry
    // in_nation — are excluded)
    val exp = st.filter(col("p") === "in_nation").select(col("s").as("c"), col("o_id").as("n"))
      .join(st.filter(col("p") === "in_region").select(col("s").as("n"), col("o_id").as("r")), "n")
      .join(st.filter(col("p") === "mktsegment").select(col("s").as("c")).distinct(), "c")
      .select("c", "r").distinct().count()
    assert(byP("located_in").length.toLong == exp)
    // ASK: one row, count-backed boolean
    val ask = SparqlQueries.kgSparqlAsk(spark, sf).collect()
    assert(ask.length == 1 && ask.head.getBoolean(0) && ask.head.getLong(1) > 0)
    val askNo = Sparql.run(spark, sf, """ASK { ?c mktsegment "NO_SUCH_SEGMENT" . }""")
      .collect().head
    assert(!askNo.getBoolean(0) && askNo.getLong(1) == 0)
    // DESCRIBE: exactly the statements touching the seed, either side
    val seed = st.filter(col("p") === "label" && col("o_val") === "NATION_5")
      .select("s").head().getLong(0)
    val desc = SparqlQueries.kgSparqlDescribe(spark, sf)
    val expDesc = st.filter(col("s") === seed || col("o_id") === seed).count()
    assert(desc.count() == expDesc && desc.count() > 0)
    // loud rejects: literal-typed template subject / DESCRIBE var
    val e1 = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "CONSTRUCT { ?lbl tagged ?c } WHERE { ?c label ?lbl . }"))
    assert(e1.getMessage.contains("literal-typed"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """DESCRIBE ?lbl WHERE { ?c label ?lbl . }"""))
    assert(e2.getMessage.contains("literal-typed"), e2.getMessage)
  }

  /** DESCRIBE with the seed cap at 0: the semi-join fallback, the
    * data-sized-solution path a production DESCRIBE over an
    * unrestricted WHERE body takes. */
  private def describeFallback(text: String) = Sparql.answer(spark,
    Sparql.ServiceGraph(graft.kg.Triples.statements(spark, sf),
      entityValued = Sparql.defaultEntityPreds),
    Sparql.parse(text), autoLang = "de", graphs = Map.empty, seedCap = 0L)

  test("runDescribe: the semi-join fallback (seeds above cap) is multiset-identical to the isin path") {
    val isin = SparqlQueries.kgSparqlDescribe(spark, sf)
    val fallback = describeFallback(SparqlQueries.describeText)
    assert(fallback.count() == isin.count())
    assert(fallback.exceptAll(isin).isEmpty && isin.exceptAll(fallback).isEmpty,
      "fallback and isin DESCRIBE plans must return the same statement multiset")
    // and the fallback plan really is join-shaped (no giant In predicate)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi-join shape, got:\n$plan")
  }

  test("runDescribe: OPTIONAL-null solutions drop identically in the isin and semi-join paths") {
    // ?x is OPTIONAL-bound: every labeled non-nation subject yields a
    // null ?x row. Unfiltered, the isin path would getLong(0) those
    // into a spurious 0L seed while the semi-join path silently drops
    // them (round-10 ADVICE) — both paths must now equal the describe
    // of exactly the NON-NULL seed set (the in_region objects).
    val text =
      """DESCRIBE ?x WHERE { ?s label ?lbl . OPTIONAL { ?s in_region ?x } }"""
    val isin = Sparql.run(spark, sf, text)
    val fallback = describeFallback(text)
    val st = graft.kg.Triples.statements(spark, sf)
    val seeds = st.filter(col("p") === "in_region")
      .select("o_id").distinct().collect().map(_.getLong(0)).toSet
    assert(seeds.nonEmpty)
    val expected = st.filter(col("s").isin(seeds.toSeq: _*) ||
      col("o_id").isin(seeds.toSeq: _*)).count()
    assert(isin.count() == expected, "isin path must describe only non-null seeds")
    assert(fallback.count() == expected)
    assert(isin.exceptAll(fallback).isEmpty && fallback.exceptAll(isin).isEmpty,
      "null-seed handling must not diverge between the two DESCRIBE plans")
  }

  test("path alternation binds looser than sequence: p/q|r is (p/q)|r, never p/(q|r)") {
    val st = graft.kg.Triples.statements(spark, sf)
    import org.apache.spark.sql.functions._
    // unparenthesized mixed path — SPARQL precedence: (in_nation/in_region)|in_region
    val got = Sparql.run(spark, sf,
      """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
        |SELECT ?a ?x WHERE { ?a fgt:P2/fgt:P3|fgt:P3 ?x . }""".stripMargin,
      predAliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region"))
    val nat = st.filter(col("p") === "in_nation").select(col("s").as("a"), col("o_id").as("m"))
    val reg = st.filter(col("p") === "in_region").select(col("s").as("m"), col("o_id").as("x"))
    val correct = nat.join(reg, "m").select("a", "x")
      .unionAll(st.filter(col("p") === "in_region").select(col("s").as("a"), col("o_id").as("x")))
    assert(got.exceptAll(correct).count() == 0 && correct.exceptAll(got).count() == 0,
      "must compile with SPARQL precedence ((p/q)|r)")
    // and the WRONG precedence really is a different answer on this data
    val wrong = nat.join(
      reg.unionAll(st.filter(col("p") === "in_region")
        .select(col("s").as("m"), col("o_id").as("x"))), "m").select("a", "x")
    assert(got.exceptAll(wrong).count() > 0 || wrong.exceptAll(got).count() > 0,
      "test data must distinguish the two precedences")
  }

  test("inner-nested alternation: a step arm that is itself a sequence, incl. starred") {
    val st = graft.kg.Triples.statements(spark, sf)
    import org.apache.spark.sql.functions._
    val fgt = "PREFIX fgt: <https://database.factgrid.de/prop/direct/>\n"
    val aliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region")
    val nat = st.filter(col("p") === "in_nation").select(col("s").as("a"), col("o_id").as("m"))
    val reg = st.filter(col("p") === "in_region").select(col("s").as("m"), col("o_id").as("x"))
    // ((p/q)|q)/^q — the nested arm inside ONE step of a longer sequence
    val got = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a ((fgt:P2/fgt:P3)|fgt:P3)/^fgt:P3 ?x . }",
      predAliases = aliases)
    val step1 = nat.join(reg, "m").select("a", "x")
      .unionAll(st.filter(col("p") === "in_region").select(col("s").as("a"), col("o_id").as("x")))
    val step2 = st.filter(col("p") === "in_region")
      .select(col("o_id").as("x"), col("s").as("x2")) // reversed in_region
    val expected = step1.join(step2, "x").select(col("a"), col("x2").as("x"))
    assert(got.count() > 0 && got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
    // a STARRED nested sequence: ((p/q))* = identity ∪ (p∘q) here,
    // because the composed relation lands on region nodes, which have
    // no outgoing in_nation edge — closure converges after one step
    val star = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a ((fgt:P2/fgt:P3))* ?x . }",
      predAliases = aliases)
    val nodes = st.select(col("s").as("n"))
      .unionAll(st.filter(col("o_id").isNotNull).select(col("o_id").as("n"))).distinct()
    val starExpected = nodes.select(col("n").as("a"), col("n").as("x"))
      .unionAll(nat.join(reg, "m").select("a", "x").distinct())
    assert(star.exceptAll(starExpected).count() == 0 &&
      starExpected.exceptAll(star).count() == 0,
      "starred nested sequence must be the closure of the composed relation")
    // malformed arms still reject loudly, never loop or mis-plan
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a (fgt:P2|<>) ?x . }",
      predAliases = aliases))
    assert(e.getMessage.contains("unsupported path segment"), e.getMessage)
  }

  test("inverse-of-sequence ^(p/q) desugars to ^q/^p, incl. closures, modifiers, set arms") {
    val st = graft.kg.Triples.statements(spark, sf)
    import org.apache.spark.sql.functions._
    val fgt = "PREFIX fgt: <https://database.factgrid.de/prop/direct/>\n"
    val aliases = Map("fgt:P2" -> "in_nation", "fgt:P3" -> "in_region")
    val nat = st.filter(col("p") === "in_nation").select(col("s").as("a"), col("o_id").as("m"))
    val reg = st.filter(col("p") === "in_region").select(col("s").as("m"), col("o_id").as("x"))
    val comp = nat.join(reg, "m").select("a", "x") // a (P2/P3) x
    // 1. plain inverse-of-sequence: ^(p/q) ≡ the flipped composition
    val invseq = Sparql.run(spark, sf,
      fgt + "SELECT ?r ?c WHERE { ?r ^(fgt:P2/fgt:P3) ?c . }", predAliases = aliases)
    val flipped = comp.select(col("x").as("r"), col("a").as("c"))
    assert(invseq.count() > 0 && invseq.exceptAll(flipped).count() == 0 &&
      flipped.exceptAll(invseq).count() == 0, "^(p/q) must equal flipped p∘q")
    // 2. an inverse arm INSIDE a step alternation now compiles too
    //    (the round-11 loud reject): P3 ∪ flipped(p∘q)
    val altArm = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a (fgt:P3|^(fgt:P2/fgt:P3)) ?x . }", predAliases = aliases)
    val altExp = st.filter(col("p") === "in_region").select(col("s").as("a"), col("o_id").as("x"))
      .unionAll(flipped.toDF("a", "x"))
    assert(altArm.exceptAll(altExp).count() == 0 && altExp.exceptAll(altArm).count() == 0)
    // 3. modifier binds TIGHTER than '^': ^(p/q)* = (^(p/q))* =
    //    identity ∪ flipped(p∘q) — the flipped composite lands on
    //    customer/supplier nodes with no further flipped-composite
    //    edge, so the closure converges after one step
    val modAfter = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a ^(fgt:P2/fgt:P3)* ?x . }", predAliases = aliases)
    val nodes = st.select(col("s").as("n"))
      .unionAll(st.filter(col("o_id").isNotNull).select(col("o_id").as("n"))).distinct()
    val modExp = nodes.select(col("n").as("a"), col("n").as("x"))
      .unionAll(flipped.toDF("a", "x").distinct())
    assert(modAfter.exceptAll(modExp).count() == 0 && modExp.exceptAll(modAfter).count() == 0,
      "^(p/q)* must be the closure of the flipped composite")
    // 4. double inverse cancels: ^(^(p/q)) ≡ p/q
    val dbl = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a ^(^(fgt:P2/fgt:P3)) ?x . }", predAliases = aliases)
    assert(dbl.exceptAll(comp).count() == 0 && comp.exceptAll(dbl).count() == 0)
    // 5. inverse of a negated set flips each arm's direction:
    //    ^(!(p|^q)) ≡ !(^p|q)
    val negInv = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a ^(!(fgt:P2|^fgt:P3)) ?x . ?x fgt:P2 ?n . }",
      predAliases = aliases)
    val negExp = Sparql.run(spark, sf,
      fgt + "SELECT ?a ?x WHERE { ?a !(^fgt:P2|fgt:P3) ?x . ?x fgt:P2 ?n . }",
      predAliases = aliases)
    assert(negInv.count() > 0 && negInv.exceptAll(negExp).count() == 0 &&
      negExp.exceptAll(negInv).count() == 0)
  }

  test("negated set with inverse arm: each direction traversed only where it has arms") {
    val st = graft.kg.Triples.statements(spark, sf)
    import org.apache.spark.sql.functions._
    val got = Sparql.run(spark, sf,
      """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
        |SELECT ?a ?x WHERE { ?a !(fgt:P189|^fgt:P2) ?x . ?x fgt:P3 ?r . }""".stripMargin,
      predAliases = Map("fgt:P189" -> "has_part", "fgt:P2" -> "in_nation",
        "fgt:P3" -> "in_region"))
    val fwd = st.filter(col("p") =!= "has_part" && col("o_id").isNotNull)
      .select(col("s").as("a"), col("o_id").as("x"))
    val inv = st.filter(col("p") =!= "in_nation" && col("o_id").isNotNull)
      .select(col("o_id").as("a"), col("s").as("x"))
    val regiony = st.filter(col("p") === "in_region").select(col("s").as("x"))
    val expected = fwd.unionAll(inv).join(regiony, "x").select("a", "x")
    assert(got.count() == expected.count() && got.count() > 0)
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0)
    // a PURE-forward set must not sprout reverse edges (per spec)
    val fwdOnly = Sparql.run(spark, sf,
      """PREFIX fgt: <https://database.factgrid.de/prop/direct/>
        |SELECT ?a ?x WHERE { ?a !fgt:P189 ?x . ?x fgt:P3 ?r . }""".stripMargin,
      predAliases = Map("fgt:P189" -> "has_part", "fgt:P3" -> "in_region"))
    val fwdExpected = fwd.join(regiony, "x").select("a", "x")
    assert(fwdOnly.exceptAll(fwdExpected).count() == 0 &&
      fwdExpected.exceptAll(fwdOnly).count() == 0)
  }

  test("kg_sparql_nitems: wikibase:statements meta-predicate = per-item statement census") {
    val st = graft.kg.Triples.statements(spark, sf)
    val got = SparqlQueries.kgSparqlNitems(spark, sf).collect()
    assert(got.nonEmpty)
    val cnt = st.groupBy("s").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("statementcount") == cnt(r.getAs[Long]("item")),
        s"count mismatch for item ${r.getAs[Long]("item")}")
    }
    val anchored = st.filter(col("p") === "in_nation" &&
        col("o_id") === (2L * graft.kg.Triples.NS + 3))
      .select("s").collect().map(_.getLong(0)).toSet
    assert(got.map(_.getAs[Long]("item")).toSet == anchored,
      "exactly the anchor class carries a census row")
    // non-variable slots reject loudly
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      """SELECT ?c WHERE { ?c wikibase:statements "5" . }"""))
    assert(e.getMessage.contains("variable subject and object"), e.getMessage)
  }

  test("federation parse: compare-factgrid-wikidata_many_items.rq structure is recognized") {
    // the reference file's exact WHERE-clause shape: sitelink
    // reification, corresponding-property lookup, the SERVICE block
    // whose body is one OPTIONAL group, and the IF verdict
    ReferenceCorpus.assumePresent()
    val q = Sparql.parse(SparqlQueries.referenceText("compare-factgrid-wikidata_many_items.rq"))
    assert(q.body.services.size == 1)
    val sv = q.body.services.head
    assert(sv.endpoint == "https://query.wikidata.org/sparql")
    assert(sv.body.patterns.isEmpty && sv.body.optionals.size == 1,
      "the compare service body is exactly one OPTIONAL group")
    assert(q.body.ifBinds == Seq(Sparql.IfBind(
      "is_same", "wd_value_from_fg", "wd_value_from_wd", "true", "false")))
    assert(q.body.iriBinds.size == 3) // the three qid→IRI transforms
  }

  test("recursive parse: the ENTIRE reference .rq corpus parses structurally (22/22)") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    ReferenceCorpus.assumePresent()
    val dir = ReferenceCorpus.dir
    val files = Files.list(dir).iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".rq"))
    assert(files.size == 22)
    files.foreach { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      Sparql.parse(text) // throws on a structural reject
    }
    // spot structure of the previously-rejecting classes:
    def parseFile(name: String) = Sparql.parse(new String(
      Files.readAllBytes(dir.resolve(name)), "UTF-8"))
    // companions: 5-branch UNION whose branches carry OPTIONALs,
    // SERVICEs, per-branch BINDs and the MINUS-regex exclusion
    val comp = parseFile("companions_and_relations.rq").body
    assert(comp.unions.head.size == 5)
    assert(comp.unions.head.exists(_.optionals.nonEmpty))
    assert(comp.unions.head.exists(b =>
      b.services.nonEmpty || b.optionals.exists(_.services.nonEmpty)))
    assert(comp.unions.head.exists(_.binds.contains("source")) ||
      comp.unions.head.exists(_.optionals.exists(_.binds.contains("source"))))
    // hirschfeld: SERVICE body = required pattern + OPTIONAL group
    // with a MINUS-filter + empty OPTIONAL dropped as a no-op
    val hir = parseFile("companions_hirschfeld.rq").body
    val db = hir.services.find(_.endpoint.contains("dbpedia")).get
    assert(db.body.patterns.nonEmpty && db.body.optionals.nonEmpty)
    assert(db.body.optionals.head.minuses.nonEmpty,
      "the Stefan-Zweig MINUS-regex exclusion must parse inside the OPTIONAL")
    // time-items: blank-node property lists desugar to fresh _b vars
    val ti = parseFile("time-items.rq").body
    val tiVars = ti.patterns.flatMap(p => Seq(p.s, p.o)).collect {
      case Sparql.V(n) if n.startsWith("_b") => n }
    assert(tiVars.distinct.size >= 2, s"expected fresh blank vars, got $tiVars")
    // gnd: dot-less triple termination before BIND keeps the triple
    val gnd = parseFile("get_gnd_from_fg_and_wd.rq").body
    assert(gnd.patterns.exists(p => p.o == Sparql.V("fg_gnd")),
      "?fg_item fgt:P76 ?fg_gnd (no trailing dot) must survive as a pattern")
  }

  test("companions_and_relations.rq runs VERBATIM: 5-branch federated union end-to-end") {
    ReferenceCorpus.assumePresent()
    val out = SparqlQueries.kgSparqlCompanions(spark, sf)
    assert(out.columns.toSeq == Seq("fg_item", "fg_itemLabel", "wd_item", "value",
      "valueLabel", "relation", "relation_stringLabel", "image", "source"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every row carries the single seed root (the sitelinked customer)
    val (ra, _) = SparqlQueries.companionAnchors(spark, sf)
    assert(ra > 0)
    assert(rows.map(_.getAs[Long]("fg_item")).distinct.length == 1)
    // the dbpedia branch (source = wikipedia) survives federation:
    // the root's custkey is divisible by 3, so its sameAs mirror exists
    val sources = rows.map(_.getAs[String]("source")).distinct.toSet
    assert(sources.contains("wikipedia"),
      s"dbpedia wiki-link branch must contribute rows, got sources=$sources")
    // labels are gap-filled: never null in the projected label columns
    assert(rows.forall(r => r.getAs[String]("fg_itemLabel") != null))
  }

  test("network-02/03 run VERBATIM: statement-node class walk + double IRI round trip") {
    // an UNSEEDED disconnected component must stay a loud reject
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?a ?b WHERE { ?a in_nation ?n . ?x in_region ?b . }"))
    assert(e.getMessage.contains("not constant-seeded"))
    ReferenceCorpus.assumePresent()
    val n3 = SparqlQueries.kgSparqlNet3(spark, sf)
    assert(n3.columns.toSeq == Seq("fg_item", "fg_itemLabel", "property1",
      "property1Label", "item1", "item1Label"))
    val r3 = n3.collect()
    assert(r3.nonEmpty)
    // the hop property resolves through the directClaim dictionary
    assert(r3.forall(_.getAs[Long]("property1") >= 8L * 1000000000000L))
    val n2 = SparqlQueries.kgSparqlNet2(spark, sf)
    assert(n2.columns.toSeq == Seq("fg_item", "fg_itemLabel", "property",
      "propertyLabel", "fg_value", "fg_valueLabel", "wd_item", "wd_value"))
    val r2 = n2.collect()
    assert(r2.nonEmpty)
    // the remote SERVICE join survived the double qid→IRI round trip:
    // both endpoints carry wikidata IRIs and the value qid sits in the
    // offset digit space
    assert(r2.forall(_.getAs[String]("wd_item")
      .startsWith("http://www.wikidata.org/entity/Q")))
    assert(r2.forall(_.getAs[String]("wd_value")
      .startsWith("http://www.wikidata.org/entity/Q1")))
  }

  test("EVERY reference .rq file has a byte-for-byte oracle-gated runner") {
    // file → SparkEntry key; the runner reads the file's bytes via
    // referenceText (nothing edited, only dialect maps supplied). The
    // registry half needs no corpus; only the drift check reads it.
    val runners = SparqlQueries.referenceRunners
    runners.values.foreach { key =>
      assert(SparqlQueries.queries.contains(key), s"$key not registered")
      assert(SparqlQueries.oracles.contains(key), s"$key has no oracle")
    }
    ReferenceCorpus.assumePresent()
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = ReferenceCorpus.dir
    val files = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rq")).toSet
    assert(files == runners.keySet,
      s"corpus drift: missing=${files -- runners.keySet} extra=${runners.keySet -- files}")
  }

  test("every referenceText literal in the main sources names a file of Sparql.referenceRunners") {
    // a new corpus-bound runner cannot be missed: the file it reads
    // must be listed, and every listed file must still be read
    val Read = "referenceText\\(\"([^\"]+)\"\\)".r
    val named = MainSources.lines(_.contains("referenceText(\""))
      .flatMap(l => Read.findAllMatchIn(l).map(_.group(1)))
    assert(named.nonEmpty)
    assert(named.toSet == SparqlQueries.referenceRunners.keySet,
      s"unlisted: ${named.toSet -- SparqlQueries.referenceRunners.keySet}, " +
        s"listed but never read: ${SparqlQueries.referenceRunners.keySet -- named}")
  }

  test("Sparql.scala holds only the compiler: no table read, corpus read or registry key") {
    // the query registry lives in SparqlQueries; the compiler file must
    // not grow a runner, a dialect store or a corpus read back
    val leaks = MainSources.linesIn("graft/kg/Sparql.scala")(l =>
      l.contains("Tables.") || l.contains("referenceText(") || l.contains("\"kg_sparql"))
    assert(leaks.isEmpty, s"registry code in the compiler file:\n${leaks.mkString("\n")}")
  }

  test("verbatim network files + the typing rules that make them runnable") {
    // the unreferenced-object rule keeps multiplicity without binding
    val free = Sparql.run(spark, sf, SparqlQueries.predFreeText)
    val st = graft.kg.Triples.statements(spark, sf)
    import org.apache.spark.sql.functions.col
    val cn = st.filter(col("p") === "in_nation").select(col("s"))
    assert(free.count() == st.select("s", "p", "o_id", "o_val").join(cn, "s").count())
    // SAFETY boundary: the rule must NOT fire when the var is used —
    // a projected or re-bound object still rejects as type-ambiguous
    Seq(
      "SELECT ?s ?o WHERE { ?s ?p ?o . ?s in_nation ?n . }",       // projected
      "SELECT ?s WHERE { ?s ?p ?o . FILTER(REGEX(STR(?o), \"x\")) }" // filtered
    ).foreach { q =>
      val e = intercept[IllegalArgumentException](Sparql.run(spark, sf, q))
      assert(e.getMessage.contains("type-ambiguous"), s"'$q' must stay a loud reject")
    }
    // network-00/01 run byte-for-byte through their dialect maps
    ReferenceCorpus.assumePresent()
    val n0 = SparqlQueries.kgSparqlNet0(spark, sf)
    assert(n0.count() > 0)
    assert(n0.columns.toSeq == Seq("root", "rootLabel", "property1Label",
      "item1", "item1Label", "property2Label", "item2", "item2Label"))
    assert(SparqlQueries.kgSparqlNet1(spark, sf).count() > 0)
  }

  test("referenceText: corpus dir is overridable via system property; absent dir fails with pointer") {
    val prop = "graft.reference.queries.dir"
    val saved = System.getProperty(prop)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_rq")
      java.nio.file.Files.write(tmp.resolve("probe.rq"),
        "SELECT ?s WHERE { ?s ?p ?o }".getBytes("UTF-8"))
      System.setProperty(prop, tmp.toString)
      assert(SparqlQueries.referenceText("probe.rq") == "SELECT ?s WHERE { ?s ?p ?o }")
      System.setProperty(prop, tmp.resolve("nope").toString)
      val e = intercept[IllegalArgumentException](SparqlQueries.referenceText("probe.rq"))
      assert(e.getMessage.contains(prop),
        s"missing-corpus error must point at the override property; got ${e.getMessage}")
    } finally {
      if (saved == null) System.clearProperty(prop) else System.setProperty(prop, saved)
    }
  }

  test("store routing: 6 outer fixed-predicate sites build one pruned store, 4 SERVICE sites one endpoint store") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    type Stmt = (Long, String, Option[Long], Option[String], Option[String])
    // checkpoint leaves of a compiled plan, one per RDD (a store read by
    // several sites appears once per site)
    def leaves(df: DataFrame): Seq[LogicalRDD] =
      df.queryExecution.analyzed.collectLeaves()
        .collect { case lr: LogicalRDD => lr }.groupBy(_.rdd.id).values.map(_.head).toSeq
    def bag(rows: Seq[Stmt]): Map[Stmt, Int] = rows.groupBy(identity).map { case (k, v) => k -> v.size }
    // the store's rows equal `want`'s as a multiset (the message names
    // the predicates on each side rather than every row)
    def holdsExactly(lr: LogicalRDD, want: DataFrame, what: String): Unit = {
      val (got, exp) = (bag(leafRows(lr)), bag(frameRows(want)))
      val same = got == exp
      assert(same, s"$what holds predicates ${got.keys.map(_._2).toSeq.distinct.sorted} " +
        s"(${got.values.sum} rows), expected ${exp.keys.map(_._2).toSeq.distinct.sorted} " +
        s"(${exp.values.sum} rows)")
    }
    def leafRows(lr: LogicalRDD): Seq[Stmt] = {
      val Seq(si, pi, ii, vi, li) = Seq("s", "p", "o_id", "o_val", "lang").map(n =>
        lr.output.indexWhere(_.name == n))
      lr.rdd.map { r =>
        (r.getLong(si), r.getUTF8String(pi).toString,
          if (r.isNullAt(ii)) None else Some(r.getLong(ii)),
          if (r.isNullAt(vi)) None else Some(r.getUTF8String(vi).toString),
          if (r.isNullAt(li)) None else Some(r.getUTF8String(li).toString)): Stmt
      }.collect().toSeq
    }
    def frameRows(df: DataFrame): Seq[Stmt] =
      df.select("s", "p", "o_id", "o_val", "lang").collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), Option(r.get(2)).map(_ => r.getLong(2)),
          Option(r.getString(3)), Option(r.getString(4))))
    val st = graft.kg.Triples.statements(spark, sf)
    val sites = Seq("?c in_nation ?n", "?n in_region ?r", "?c mktsegment ?seg",
      "?c label ?cl", "?n label ?nl", "?r label ?rl")
    def outer(n: Int) = Sparql.run(spark, sf,
      s"SELECT ?c ?n WHERE { ${sites.take(n).mkString(" . ")} . }")
    val six = outer(6)
    val sixLeaves = leaves(six)
    assert(sixLeaves.size == 1, s"6 sites must read exactly one pruned store, got ${sixLeaves.size}")
    holdsExactly(sixLeaves.head,
      st.filter(col("p").isin("in_nation", "in_region", "mktsegment", "label")),
      "the pruned store")
    assert(leaves(outer(5)).isEmpty, "5 sites keep the lazy scans")
    graft.util.Checkpoints.freeAll(six)
    // SERVICE sites count per endpoint across blocks, under the
    // endpoint's own dialect (wdt:P131 -> mktsegment)
    val graphs = SparqlQueries.serviceGraphs(spark, sf)
    def svc(second: String) = Sparql.run(spark, sf,
      s"""PREFIX wdt: <http://www.wikidata.org/prop/direct/>
         |SELECT ?c ?s1 WHERE {
         |  ?c in_nation ?n .
         |  SERVICE <https://query.wikidata.org/sparql> { ?c wdt:P131 ?s1 . ?c wdt:P131 ?s2 . }
         |  SERVICE <https://query.wikidata.org/sparql> { $second }
         |}""".stripMargin, graphs = graphs)
    val four = svc("?c wdt:P131 ?s3 . ?c wdt:P131 ?s4 .")
    val fourLeaves = leaves(four)
    assert(fourLeaves.size == 1, s"4 endpoint sites must share one store, got ${fourLeaves.size}")
    holdsExactly(fourLeaves.head, SparqlQueries.remoteStatements(spark, sf), "the endpoint store")
    val three = svc("?c wdt:P131 ?s3 .")
    assert(leaves(three).isEmpty, "3 endpoint sites keep the lazy scans")
    assert(four.count() == three.count() && four.count() > 0)
    graft.util.Checkpoints.freeAll(four)
  }

  test("VALUES over a predicate variable resolves an <IRI> row through predAliases") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val byName = pairs(Sparql.run(spark, sf, "SELECT ?c ?n WHERE { ?c in_nation ?n . }"))
    assert(byName.nonEmpty)
    val byIri = Sparql.run(spark, sf,
      "SELECT ?c ?n WHERE { VALUES ?p { <http://x/P2> } ?c ?p ?n . }",
      predAliases = Map("<http://x/P2>" -> "in_nation"))
    assert(pairs(byIri) == byName)
    // an <IRI> with no alias is a loud reject, never a match-nothing filter
    val e = intercept[IllegalArgumentException](Sparql.run(spark, sf,
      "SELECT ?c ?n WHERE { VALUES ?p { <http://x/P3> } ?c ?p ?n . }",
      predAliases = Map("<http://x/P2>" -> "in_nation")))
    assert(e.getMessage.contains("<http://x/P3> has no alias"), e.getMessage)
  }

  test("BIND constants: a prefixed predicate in a predicate slot, an all-constant pattern") {
    val st = graft.kg.Triples.statements(spark, sf)
    // BIND(fgt:P2 AS ?p) ?c ?p ?n — the compare files' parameterized
    // property: the rows of ?c in_nation ?n, with ?p reading the name
    val viaBind = Sparql.run(spark, sf,
      "PREFIX fgt: <http://x/> SELECT ?c ?p ?n WHERE { BIND(fgt:P2 AS ?p) ?c ?p ?n . }",
      predAliases = Map("fgt:P2" -> "in_nation"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val direct = Sparql.run(spark, sf, "SELECT ?c ?n WHERE { ?c in_nation ?n . }")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(direct.nonEmpty)
    assert(viaBind.map(r => (r._1, r._3)).sorted == direct.sorted)
    assert(viaBind.forall(_._2 == "in_nation"), viaBind.take(3))
    // BIND(fg:N AS ?n) ?c in_nation ?n . ?n in_region fg:R — after
    // substitution the second pattern is all-constant: an existence
    // check that keeps every member when the edge exists, none if not
    val nation = st.filter(col("p") === "in_nation").select("o_id").head().getLong(0)
    val region = st.filter(col("p") === "in_region" && col("s") === nation)
      .select("o_id").head().getLong(0)
    def members(r: Long) = Sparql.run(spark, sf,
      """PREFIX fg: <http://x/e/>
        |SELECT ?c ?n WHERE { BIND(fg:N AS ?n) ?c in_nation ?n . ?n in_region fg:R . }""".stripMargin,
      entityAliases = Map("fg:N" -> nation, "fg:R" -> r))
      .collect().map(_.getLong(0)).toSeq.sorted
    val expected = st.filter(col("p") === "in_nation" && col("o_id") === nation)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(expected.nonEmpty && members(region) == expected)
    assert(members(-1L).isEmpty)
  }

  test("a malformed path fails in parse, before any compile") {
    val empty = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?a ?b WHERE { ?a in_nation//in_region ?b . }"))
    assert(empty.getMessage.contains("unsupported path segment"), empty.getMessage)
    val open = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?a ?b WHERE { ?a ^(in_nation/in_region ?b . }"))
    assert(open.getMessage.contains("unbalanced"), open.getMessage)
  }

  test("a PREFIX declaration may share its line with SELECT") {
    val aliases = Map("fgt:P2" -> "in_nation")
    val twoLines = Sparql.run(spark, sf,
      "PREFIX fgt: <http://x/>\nSELECT ?c ?n WHERE { ?c fgt:P2 ?n . }", predAliases = aliases)
    val oneLine = Sparql.run(spark, sf,
      "PREFIX fgt: <http://x/> SELECT ?c ?n WHERE { ?c fgt:P2 ?n . }", predAliases = aliases)
    assert(oneLine.count() > 0)
    assert(oneLine.exceptAll(twoLines).isEmpty && twoLines.exceptAll(oneLine).isEmpty)
  }

  test("a PREFIX declaration closed by a # comment is stripped with its comment") {
    // the flagship's first line: `PREFIX g: <http://graft.local/>   # accepted and ignored`
    val aliases = Map("fgt:P2" -> "in_nation")
    val commented = Sparql.run(spark, sf,
      "PREFIX fgt: <http://x/>   # the FactGrid vocabulary\nSELECT ?c ?n WHERE { ?c fgt:P2 ?n . }",
      predAliases = aliases)
    val plain = Sparql.run(spark, sf, "SELECT ?c ?n WHERE { ?c in_nation ?n . }")
    assert(commented.count() > 0)
    assert(commented.exceptAll(plain).isEmpty && plain.exceptAll(commented).isEmpty)
  }

  test("every corpus-free kg_sparql key returns the same rows at any shuffle parallelism") {
    val keys = (SparqlQueries.queries.keySet -- ReferenceCorpus.keys).toSeq.sorted
    assert(keys.nonEmpty)
    val settings = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = settings.map(k => k -> spark.conf.get(k))
    // each key's rows as a sorted multiset, under one setting
    def rowsAt(partitions: Int, aqe: Boolean): Map[String, Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      keys.map { k =>
        val df = SparqlQueries.queries(k)(spark, sf)
        val rows = df.collect().map(_.toString).toSeq.sorted
        graft.util.Checkpoints.freeAll(df)
        k -> rows
      }.toMap
    }
    try {
      val serial = rowsAt(1, aqe = false)
      Seq((64, false), (64, true)).foreach { case (n, aqe) =>
        val wide = rowsAt(n, aqe)
        val differ = keys.filter(k => wide(k) != serial(k))
        assert(differ.isEmpty,
          s"rows differ from 1 shuffle partition at $n partitions (AQE $aqe): ${differ.mkString(", ")}")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
