package graft

import org.apache.spark.sql.functions._
import graft.kg.{KGQueries, Triples}

class KGSpec extends SparkSpec {

  test("every kg query runs, has rows, and a matching oracle") {
    KGQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
      assert(KGQueries.oracles.contains(name), s"$name missing oracle SQL")
    }
  }

  test("statements: ids are namespaced, edges and literals are disjoint") {
    val st = Triples.statements(spark, sf)
    assert(st.filter(col("o_id").isNotNull && col("o_val").isNotNull).count() == 0)
    assert(st.filter(col("o_id").isNull && col("o_val").isNull).count() == 0)
    assert(st.filter(col("s") < Triples.NS).count() == 0)
  }

  test("property path closure: every customer reaches nation and region") {
    val closure = KGQueries.kgPropertyPath(spark, sf)
    val custReach = closure
      .filter(col("s") >= Triples.CUSTOMER * Triples.NS && col("s") < (Triples.CUSTOMER + 1) * Triples.NS)
      .groupBy("s").count()
    // each customer reaches exactly its nation + that nation's region
    assert(custReach.filter(col("count") =!= 2).count() == 0)
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(custReach.count() == nCust)
  }

  test("khop: hop-1 from ASIA is exactly its nations") {
    val hop1 = KGQueries.kgKhop(spark, sf).filter(col("dist") === 1).count()
    val expected = spark.sql(
      s"""SELECT count(*) FROM parquet.`$sf/nation.parquet` n
         |JOIN parquet.`$sf/region.parquet` r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'""".stripMargin).first().getLong(0)
    assert(hop1 == expected)
  }

  test("shortest_path: agrees with khop on dist <= 2 and with an in-memory BFS everywhere") {
    val got = KGQueries.kgShortestPath(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val near = KGQueries.kgKhop(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    near.foreach { case (node, d) =>
      assert(got(node) == d, s"node $node: shortest_path ${got(node)} != khop $d")
    }
    // independent O(V+E) recomputation
    val edges = Triples.statements(spark, sf).filter(col("o_id").isNotNull)
      .select("s", "o_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seed = got.collectFirst { case (n, 0) => n }.get
    val dist = scala.collection.mutable.Map(seed -> 0)
    val q = scala.collection.mutable.Queue(seed)
    while (q.nonEmpty) {
      val u = q.dequeue()
      adj.getOrElse(u, Array.empty[Long]).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; q.enqueue(v) }
      }
    }
    assert(got == dist.toMap)
  }

  test("describe: exactly the statements touching the seed set, each once") {
    val st = Triples.statements(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getLong(2),
        r.getString(3), r.getString(4)))
    val asia = st.filter(r => r._2 == "label" && r._4 == "ASIA").map(_._1).toSet
    val seeds = asia ++ st.filter(r => r._2 == "in_region" && r._3 != null && asia(r._3.asInstanceOf[Long])).map(_._1)
    val expected = st.filter(r => seeds(r._1) ||
      (r._3 != null && seeds(r._3.asInstanceOf[Long])))
    val got = KGQueries.kgDescribe(spark, sf).collect()
    assert(got.length == expected.length) // no double-emit for both-end matches
    val gotSet = got.map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getLong(2), r.getString(3), r.getString(4))).toSet
    assert(gotSet == expected.toSet)
  }

  test("ask: boolean matches the pattern count recomputed from the base tables") {
    val row = KGQueries.kgAsk(spark, sf).collect().head
    val expected = spark.sql(
      s"""SELECT count(*) FROM parquet.`$sf/customer.parquet` c
         |JOIN parquet.`$sf/nation.parquet` n ON c.c_nationkey = n.n_nationkey
         |JOIN parquet.`$sf/region.parquet` r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA' AND c.c_mktsegment = 'BUILDING'""".stripMargin)
      .first().getLong(0)
    assert(row.getAs[Long]("n_matches") == expected)
    assert(row.getAs[Boolean]("ask") == (expected > 0))
  }

  test("construct: one inferred in_region edge per located entity, composable into the store") {
    val out = KGQueries.kgConstruct(spark, sf)
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    val nSupp = spark.read.parquet(s"$sf/supplier.parquet").count()
    assert(out.count() == nCust + nSupp)
    // constructed statements union cleanly back into the statement shape
    val st = Triples.statements(spark, sf).select("s", "p", "o_id")
    val merged = st.unionAll(out)
    assert(merged.count() == st.count() + out.count())
    // and the inferred edge agrees with the 2-step property path
    val viaPath = KGQueries.kgSeqPath(spark, sf)
      .filter(col("reach") >= Triples.REGION * Triples.NS &&
        col("reach") < (Triples.REGION + 1) * Triples.NS)
      .select(col("s"), col("reach").as("o_id"))
    assert(out.select("s", "o_id").exceptAll(viaPath).count() == 0)
  }

  test("degree: DataFrame aggregate equals GraphX g.degrees") {
    val df = KGQueries.kgDegree(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = graft.kg.Graphs.fromStatements(Triples.statements(spark, sf))
    val gx = g.degrees.collect().map { case (id, d) => id -> d.toLong }.toMap
    g.unpersist(blocking = false)
    assert(df == gx)
  }

  test("group_concat: per-customer order list is sorted, complete, and counted") {
    val rows = KGQueries.kgGroupConcat(spark, sf).collect()
    val placed = Triples.statements(spark, sf).filter(col("p") === "placed_by")
      .select("o_id", "s").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = placed.groupBy(_._1).view
      .mapValues(os => (os.length.toLong, os.map(_._2).sorted.mkString(","))).toMap
    val got = rows.map(r =>
      r.getAs[Long]("c") -> ((r.getAs[Long]("n_orders"), r.getAs[String]("orders_concat")))).toMap
    assert(got == expected)
  }

  test("triangles: per-node counts match an in-memory census of the cooccur graph") {
    val e = KGQueries.kgCooccur(spark, sf).select("p1", "p2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val eset = e.toSet
    val expected = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- e; (b2, c) <- e if b2 == b && eset((a, c))) {
      expected(a) += 1; expected(b) += 1; expected(c) += 1
    }
    val got = KGQueries.kgTriangles(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(got == expected.toMap)
  }

  test("minus_regex: excluded set is exactly the regex-matched customers") {
    val kept = KGQueries.kgMinusRegex(spark, sf)
    val matched = Triples.statements(spark, sf)
      .filter(col("p") === "label" && col("o_val").rlike("(0|5)7$"))
      .select(col("s").as("c"))
    // no kept customer matches the exclusion regex…
    assert(kept.join(matched, Seq("c")).count() == 0)
    // …and every in-nation customer is either kept or regex-matched
    val allInN = Triples.statements(spark, sf)
      .filter(col("p") === "in_nation")
      .filter(col("s") >= Triples.CUSTOMER * Triples.NS && col("s") < (Triples.CUSTOMER + 1) * Triples.NS)
      .select(col("s").as("c"))
    assert(allInN.join(kept.select("c").unionAll(matched), Seq("c"), "left_anti").count() == 0)
    assert(kept.count() < allInN.count()) // the regex actually excludes someone
  }

  test("graph diff statuses partition the keyspace") {
    val d = KGQueries.kgGraphDiff(spark, sf)
    val statuses = d.groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.keySet == Set("match", "conflict", "missing_in_a", "missing_in_b"))
  }
}
