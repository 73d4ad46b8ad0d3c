package graft

import org.apache.spark.sql.functions._
import graft.kg.{KGQueries, TripleStore, Triples}

class TripleStoreSpec extends SparkSpec {

  private lazy val store = TripleStore(spark, sf)

  test("khop DSL matches the fixed kg_khop query") {
    val dsl = store.khop(store.byLabel("ASIA")
        .filter(store.inNamespace(col("node"), Triples.REGION)), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val fixed = KGQueries.kgKhop(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(dsl == fixed)
  }

  test("closure DSL matches a driver-side transitive closure") {
    val dsl = store.closure(Seq("in_nation", "in_region"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent reference: the edges collected to the driver and
    // composed with themselves until no new pair appears
    val edges = store.statements.filter(col("p").isin("in_nation", "in_region"))
      .select(col("s"), col("o_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val succ = edges.groupMap(_._1)(_._2)
    var expected = edges
    var frontier = edges
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { case (a, b) => succ.getOrElse(b, Set.empty[Long]).map(a -> _) } -- expected
      expected ++= frontier
    }
    assert(expected.size > edges.size, "the reference closure must add pairs beyond one step")
    assert(dsl == expected)
  }

  test("label service resolves every placed_by customer") {
    // multi-language labels mean an id can resolve to >1 row; coverage
    // is the invariant: every placed_by edge resolves, none to null
    val placed = store.pattern("placed_by").select(col("s"), col("o_id"))
    val resolved = store.labeled(placed, "o_id")
    assert(resolved.select(col("s")).distinct().count() == placed.count())
    assert(resolved.filter(col("label").isNull).count() == 0)
  }

  test("labeled tolerates an existing id column (qualified join)") {
    val df = store.pattern("placed_by")
      .select(col("o_id").as("id"), col("s").as("order_id"))
    val resolved = store.labeled(df, "id")
    assert(resolved.columns.count(_ == "id") == 1)
    assert(resolved.filter(col("label").isNull).count() == 0)
  }

  test("minus verb equals NOT EXISTS semantics") {
    val inN = store.pattern("in_nation")
      .filter(store.inNamespace(col("s"), Triples.CUSTOMER))
      .select(col("s"), col("o_id"))
    val building = store.pattern("mktsegment")
      .filter(col("o_val") === "BUILDING").select(col("s"))
    val m = store.minus(inN, building, Seq("s"))
    assert(m.count() == inN.count() - inN.join(building, Seq("s"), "left_semi").count())
    assert(m.join(building, Seq("s"), "left_semi").count() == 0)
  }

  test("seq path p/q* includes the zero-step pairs plus extensions") {
    val p = store.path("in_nation", Seq("in_region"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val step = store.pattern("in_nation")
      .select(col("s"), col("o_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(step.subsetOf(p)) // zero closure steps
    assert(p.size > step.size) // at least one in_region extension
  }

  test("values seed set drives khop like byLabel") {
    val seedIds = store.byLabel("ASIA")
      .filter(store.inNamespace(col("node"), Triples.REGION))
      .collect().map(_.getLong(0)).toSeq
    val viaValues = store.khop(store.values(seedIds), k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaLabel = store.khop(store.byLabel("ASIA")
        .filter(store.inNamespace(col("node"), Triples.REGION)), k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(viaValues == viaLabel)
  }

  test("diff classifies an identical copy as all match") {
    val d = store.diff(store.pattern("mktsegment").select(col("s"), col("o_val")), "mktsegment")
    assert(d.filter(col("status") =!= "match").count() == 0)
  }
}
