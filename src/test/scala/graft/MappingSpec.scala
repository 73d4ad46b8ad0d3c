package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.kg.{Mapping, Triples}

/** The config front-end is exact: a mapping document equivalent to the
  * built-in rules parses to the SAME rules and produces a statements
  * frame identical in content — a reference user porting kg_v1.yml
  * edits config, never Scala, and loses nothing. */
class MappingSpec extends SparkSpec {

  private val yaml =
    """# RML-lite mapping of the test star schema (twin of Triples.rules)
      |namespaces:
      |  region: 1
      |  nation: 2
      |  customer: 3
      |  supplier: 4
      |  part: 5
      |  order: 6
      |
      |mappings:
      |  - table: nation
      |    s: n_nationkey
      |    ns: nation
      |    po:
      |      - {p: in_region, o: n_regionkey, ns: region}
      |      - {p: label, o: n_name}
      |  - table: customer
      |    s: c_custkey
      |    ns: customer
      |    po:
      |      - {p: in_nation, o: c_nationkey, ns: nation}
      |      - {p: label, o: c_name}
      |      - {p: mktsegment, o: c_mktsegment}
      |  - table: supplier
      |    s: s_suppkey
      |    ns: supplier
      |    po:
      |      - {p: in_nation, o: s_nationkey, ns: nation}
      |      - {p: label, o: s_name}
      |  - table: orders
      |    s: o_orderkey
      |    ns: order
      |    po:
      |      - {p: placed_by, o: o_custkey, ns: customer}
      |      - {p: status, o: o_orderstatus}
      |      - {p: priority, o: o_orderpriority}
      |  - table: lineitem
      |    s: l_orderkey
      |    ns: order
      |    po:
      |      - {p: has_part, o: l_partkey, ns: part, distinct: true}
      |      - {p: supplied_by, o: l_suppkey, ns: supplier, distinct: true}
      |  - table: region
      |    s: r_regionkey
      |    ns: region
      |    po:
      |      - {p: label, o: r_name}
      |  - table: part
      |    s: p_partkey
      |    ns: part
      |    po:
      |      - {p: label, o: p_name}
      |      - {p: brand, o: p_brand}
      |      - {p: type, o: p_type}
      |""".stripMargin

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      expr("bit_xor(xxhash64(s, p, coalesce(o_id, -1), coalesce(o_val, '<null>'), coalesce(lang, '<null>')))")).head()
    (r.getLong(0), r.getLong(1))
  }

  test("config parses to the exact built-in rule set (order-independent)") {
    val parsed = Mapping.parse(yaml)
    assert(parsed.toSet == Triples.rules.toSet)
    assert(parsed.size == Triples.rules.size)
  }

  test("config-driven statements are content-identical to the built-in mapping") {
    val fromConfig = Triples.mapped(spark, sf, Mapping.parse(yaml))
    val builtIn = Triples.mapped(spark, sf, Triples.rules)
    assert(checksum(fromConfig) == checksum(builtIn))
  }

  /** (leaf count, distinct relation count) over the `HadoopFsRelation`
    * of every `LogicalRelation` leaf in `df`'s analyzed plan. Relations
    * are told apart by reference: one `Tables.load` is one instance,
    * and the `LogicalRelation` around it may be renewed by analysis. */
  private def reads(df: DataFrame): (Int, Int) = {
    val rels = df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r }
    (rels.size, rels.foldLeft(List.empty[HadoopFsRelation])((seen, r) =>
      if (seen.exists(_ eq r)) seen else r :: seen).size)
  }

  test("statements read each source table once, whatever the rule count") {
    val tables = Triples.rules.map(_.table).distinct.size
    assert(tables == 7)
    // 16 rules + the German-label branch over customer
    assert(reads(Triples.statements(spark, sf)) == ((17, tables)),
      "(leaves, distinct relations) of Triples.statements")
    assert(reads(Triples.mapped(spark, sf, Triples.rules)) == ((16, tables)),
      "(leaves, distinct relations) of Triples.mapped")
  }

  test("malformed configs fail loudly with a line number") {
    def err(s: String): String =
      intercept[IllegalArgumentException](Mapping.parse(s)).getMessage
    assert(err("namespaces:\n  region: x\n").contains("integer"))
    assert(err("namespaces:\n  r: 1\nmappings:\n  - table: t\n    s: k\n    ns: nowhere\n    po:\n      - {p: a, o: b}\n")
      .contains("unknown namespace"))
    assert(err("namespaces:\n  r: 1\nmappings:\n  - table: t\n    s: k\n    ns: r\n")
      .contains("no 'po' entries"))
    assert(err("namespaces:\n  r: 1\nmappings:\n  - table: t\n    s: k\n    ns: r\n    po:\n      - {o: b}\n")
      .contains("missing 'p'"))
    assert(err("stray: line\n").contains("outside a section"))
    // silent-misparse shapes must fail loudly, not drop text
    val prefix = "namespaces:\n  r: 1\nmappings:\n  - table: t\n    s: k\n    ns: r\n    po:\n"
    assert(err(prefix + "      - {p: a, o: b} ns: r\n").contains("end with '}'"))
    assert(err(prefix + "      - {p: a, o: b\n").contains("end with '}'"))
    assert(err(prefix + "      - {p: a, o: b, o: c}\n").contains("duplicate key"))
    assert(err("namespaces:\n  r: 1\n  r: 2\n").contains("declared twice"))
    assert(err("namespaces:\n  r: 1\nmappings:\n  - table: t\n    s: k\n    s: k2\n")
      .contains("set twice"))
  }

  test("a ',' inside a quoted scalar is content, not a field separator") {
    val cfg =
      """namespaces:
        |  r: 1
        |mappings:
        |  - table: t
        |    s: k
        |    ns: r
        |    po:
        |      - {p: label, o: 'a, b'}
        |""".stripMargin
    val rules = Mapping.parse(cfg)
    assert(rules.size == 1)
    assert(rules.head.oCol == "a, b", s"quoted ',' split the scalar: ${rules.head.oCol}")
    // and an unterminated quote fails loudly instead of misparsing
    val bad = cfg.replace("'a, b'", "'a, b")
    val msg = intercept[IllegalArgumentException](Mapping.parse(bad)).getMessage
    assert(msg.contains("unterminated quote"))
  }

  test("empty rule sets fail loudly in the execution half too") {
    val msg = intercept[IllegalArgumentException](
      graft.kg.Triples.mapped(spark, sf, Seq.empty)).getMessage
    assert(msg.contains("at least one rule"))
  }

  test("a '#' inside a quoted scalar is content, not a comment") {
    val cfg =
      """namespaces:
        |  r: 1
        |mappings:
        |  - table: t
        |    s: "col#1"   # this trailing comment IS stripped
        |    ns: r
        |    po:
        |      - {p: label, o: 'x#y'}
        |""".stripMargin
    val rules = Mapping.parse(cfg)
    assert(rules.size == 1)
    assert(rules.head.sKey == "col#1", s"quoted '#' truncated: ${rules.head.sKey}")
    assert(rules.head.oCol == "x#y")
  }
}
