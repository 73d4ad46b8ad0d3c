package graft

import scala.util.{Failure, Success, Try}

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.kg.Sparql

/** Differential test of the SPARQL property-path compiler: random
  * paths over random small entity graphs, compiled by [[Sparql.runOn]],
  * against a naive in-memory evaluator of the SPARQL 1.1 path rules
  * (as distinct row sets — bag multiplicity stays with the
  * oracle-gated path keys). The generator writes the operators with
  * SPARQL precedence and the fewest parentheses, so unparenthesized
  * `a/b|c` shows up, and half the cases spell the predicates as
  * prefixed names resolved through `predAliases`, declared by a
  * PREFIX on the SELECT line. A failure prints the path and the graph.
  */
class SparqlPathPropSpec extends SparkSpec {
  import SparqlPathPropSpec._

  private type Edge = (Int, Int, Int) // (s, predicate index, o)
  private type Rel = Set[(Long, Long)]

  private def name(i: Int, prefixed: Boolean) = if (prefixed) s"fgt:P$i" else s"p$i"

  private def render(p: P, pfx: Boolean): String = {
    def r(x: P): String = render(x, pfx)
    def atom(x: P): String = x match { case N(_) | Grp(_) => r(x); case _ => s"(${r(x)})" }
    def seqPart(x: P): String = x match { case Al(_, _) => s"(${r(x)})"; case _ => r(x) }
    p match {
      case N(i) => name(i, pfx)
      case Inv(x) => "^" + atom(x)
      case Md(x, m) => atom(x) + m
      case Sq(a, b) => seqPart(a) + "/" + seqPart(b)
      case Al(a, b) => r(a) + "|" + r(b)
      case Grp(x) => s"(${r(x)})"
    }
  }

  private val genLeaf: Gen[P] = Gen.choose(0, 2).map(N(_))
  /** At most `depth` operators deep; redundant parentheses, which may
    * wrap any level, do not count. */
  private def genPath(depth: Int): Gen[P] = {
    val op =
      if (depth == 0) genLeaf
      else {
        val sub = Gen.lzy(genPath(depth - 1))
        Gen.frequency(
          2 -> genLeaf,
          2 -> Gen.zip(sub, sub).map { case (a, b) => Sq(a, b) },
          2 -> Gen.zip(sub, sub).map { case (a, b) => Al(a, b) },
          2 -> Gen.zip(sub, Gen.oneOf('*', '+', '?')).map { case (a, m) => Md(a, m) },
          1 -> sub.map(Inv(_)))
      }
    Gen.frequency(4 -> op, 1 -> op.map(Grp(_)))
  }

  private val genGraph: Gen[Seq[Edge]] = for {
    n <- Gen.choose(1, 6)
    m <- Gen.choose(1, 10)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(1, n), Gen.choose(0, 2), Gen.choose(1, n)))
  } yield es.distinct

  /** The evaluator: sequence is composition, alternation union, `*` the
    * closure plus the identity over the graph's nodes, `+` the closure,
    * `?` the identity plus one step. */
  private def eval(p: P, es: Seq[Edge]): Rel = {
    val nodes = es.flatMap { case (s, _, o) => Seq(s.toLong, o.toLong) }.toSet
    val ident: Rel = nodes.map(n => (n, n))
    def compose(a: Rel, b: Rel): Rel =
      for ((x, m) <- a; (m2, y) <- b if m == m2) yield (x, y)
    def closure(r: Rel): Rel = {
      var acc = r; var grown = true
      while (grown) { val next = acc ++ compose(acc, r); grown = next.size > acc.size; acc = next }
      acc
    }
    def go(x: P): Rel = x match {
      case N(i) => es.collect { case (s, `i`, o) => (s.toLong, o.toLong) }.toSet
      case Inv(y) => go(y).map(_.swap)
      case Sq(a, b) => compose(go(a), go(b))
      case Al(a, b) => go(a) ++ go(b)
      case Md(y, '*') => closure(go(y)) ++ ident
      case Md(y, '+') => closure(go(y))
      case Md(y, _) => go(y) ++ ident
      case Grp(y) => go(y)
    }
    go(p)
  }

  /** `!(…)`: forward edges outside the forward arms, reversed edges
    * outside the inverse arms, each direction only when it has arms. */
  private def evalNeg(fwd: Seq[Int], inv: Seq[Int], es: Seq[Edge]): Rel =
    (if (fwd.isEmpty) Set.empty[(Long, Long)]
     else es.collect { case (s, p, o) if !fwd.contains(p) => (s.toLong, o.toLong) }.toSet) ++
      (if (inv.isEmpty) Set.empty[(Long, Long)]
       else es.collect { case (s, p, o) if !inv.contains(p) => (o.toLong, s.toLong) }.toSet)

  private def check(cases: Int, seed: Long, gen: Gen[(Seq[Edge], Boolean, String, Rel)]): Unit = {
    val sess = spark
    import sess.implicits._
    val aliases = (0 to 2).map(i => name(i, prefixed = true) -> name(i, prefixed = false)).toMap
    val prop = Prop.forAllNoShrink(gen) { case (es, pfx, where, expected) =>
      val text = (if (pfx) "PREFIX fgt: <http://x/> " else "") + s"SELECT ?a ?b WHERE { $where }"
      val st = es.map { case (s, p, o) =>
        (s.toLong, s"p$p", Option(o.toLong), Option.empty[String], Option.empty[String])
      }.toDF("s", "p", "o_id", "o_val", "lang")
      val got = Try {
        val df = Sparql.runOn(spark, st, text, predAliases = aliases,
          entityValued = Set("p0", "p1", "p2"))
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        graft.util.Checkpoints.freeAll(df)
        rows
      }
      val graph = es.map { case (s, p, o) => s"$s p$p $o" }.mkString(", ")
      got match {
        case Success(rows) => (rows == expected) :|
          s"$text over [$graph]: got ${rows.toSeq.sorted}, expected ${expected.toSeq.sorted}"
        case Failure(e) => false :| s"$text over [$graph] threw $e"
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases).withInitialSeed(seed), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }

  test("random property paths compile to the evaluator's row sets") {
    check(60, 20261021L, for {
      es <- genGraph
      p <- genPath(3)
      pfx <- Gen.oneOf(true, false)
    } yield (es, pfx, s"?a ${render(p, pfx)} ?b .", eval(p, es)))
  }

  test("a parenthesized alternation with a sequence arm keeps SPARQL precedence when nested") {
    // x/((p/q|r)|s) is x/(((p/q)|r)|s), never x/((p/(q|r))|s)
    val shapes = Seq[P](
      Sq(N(1), Grp(Al(Grp(Al(Sq(N(0), N(1)), N(2))), N(0)))),
      Al(Grp(Al(Sq(N(0), N(1)), N(2))), N(0)),
      Inv(Al(Sq(N(0), N(1)), Grp(Al(Sq(N(1), N(2)), N(0))))))
    check(30, 20261023L, for {
      es <- genGraph
      p <- Gen.oneOf(shapes)
      pfx <- Gen.oneOf(true, false)
    } yield (es, pfx, s"?a ${render(p, pfx)} ?b .", eval(p, es)))
  }

  test("random negated property sets, forward and inverse arms, compile to the evaluator's row sets") {
    val genArm = Gen.zip(Gen.choose(0, 2), Gen.oneOf(true, false))
    check(30, 20261022L, for {
      es <- genGraph
      arms <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, genArm)).map(_.distinct)
      inverted <- Gen.oneOf(true, false)
      pfx <- Gen.oneOf(true, false)
    } yield {
      val armText = arms.map { case (i, inv) => (if (inv) "^" else "") + name(i, pfx) }
      val set = if (armText.size == 1) s"!${armText.head}" else armText.mkString("!(", "|", ")")
      val (fwd, inv) = (arms.collect { case (i, false) => i }, arms.collect { case (i, true) => i })
      // ^(!(…)) flips each arm's direction
      val rel = if (inverted) evalNeg(inv, fwd, es) else evalNeg(fwd, inv, es)
      val typed = es.collect { case (s, 0, _) => s.toLong }.toSet
      (es, pfx, s"?a ${if (inverted) s"^($set)" else set} ?b . ?b ${name(0, pfx)} ?c .",
        rel.filter { case (_, b) => typed(b) })
    })
  }
}

object SparqlPathPropSpec {
  /** A path's parse tree as the generator builds it. */
  private sealed trait P
  private final case class N(i: Int) extends P
  private final case class Inv(p: P) extends P
  private final case class Sq(a: P, b: P) extends P
  private final case class Al(a: P, b: P) extends P
  private final case class Md(p: P, mod: Char) extends P
  /** Redundant parentheses. */
  private final case class Grp(p: P) extends P
}
