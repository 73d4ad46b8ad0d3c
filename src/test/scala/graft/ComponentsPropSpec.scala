package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.kg.Components

/** Property test: DataFrame large-star/small-star connected components
  * agree with a plain in-memory union-find on arbitrary random graphs —
  * not just the test-data match graph. Exercises shapes the fixed specs
  * never hit: self-loops, duplicate and reversed edges, isolated
  * vertices, long chains, everything-connected blobs.
  */
class ComponentsPropSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("connectedComponents equals union-find on random graphs") {
    val sess = spark
    import sess.implicits._
    val gen = for {
      n <- Gen.choose(1, 60)
      m <- Gen.choose(0, 120)
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, edges)
    val prop = Prop.forAllNoShrink(gen) { case (n, edges) =>
      val e = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
      val v = (0 until n).map(_.toLong).toDF("id")
      val got = Components.connectedComponents(e, v)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(n, edges)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15).withInitialSeed(42L), prop)
    assert(result.passed, s"property failed: ${result.status}")
  }
}
