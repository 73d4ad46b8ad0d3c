package graft.tools

import graft.SparkEntry

/** Same-JVM A/B for the [[graft.kg.Graphs]] statements-graph memo
  * (round-12 directive): kg_pagerank and kg_shortest_path — the
  * suite's #1/#2 warm costs in round 11 — both consume the
  * statements→Graph.fromEdges build. With the memo, a session pays
  * the build ONCE; this instrument measures exactly that delta in
  * one JVM (cross-JVM comparisons on this box carry ±4× variance).
  *
  * Protocol, per rep:
  *   A (shared): resetMemo → time(kg_pagerank) → time(kg_shortest_path)
  *      — the second query serves from the memoized graph;
  *   B (isolated): resetMemo between the two — the second query
  *      rebuilds the graph, the round-11 behavior.
  * The B−A difference on kg_shortest_path is the memo's saving.
  *
  * usage: GraphMemoAB [reps] (env GRAFT_SF, default /root/testdata/sf0.1)
  */
object GraphMemoAB {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("GRAFT_SF", "/root/testdata/sf0.1")
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)

    def time(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // JVM warm-up so rep 1 doesn't absorb classloading/codegen
    time("kg_degree"); graft.Bench.sweep(spark)

    val rows = (1 to reps).map { r =>
      graft.Bench.sweep(spark)
      val aPr = time("kg_pagerank")
      val aSp = time("kg_shortest_path") // memo HIT: graph already built
      graft.Bench.sweep(spark)
      val bPr = time("kg_pagerank")
      graft.kg.Graphs.resetMemo() // isolate: force the round-11 rebuild
      val bSp = time("kg_shortest_path")
      println(f"rep $r: shared pagerank $aPr%.2f s, sp(memo-hit) $aSp%.2f s | " +
        f"isolated pagerank $bPr%.2f s, sp(rebuild) $bSp%.2f s | saving ${bSp - aSp}%.2f s")
      (aPr, aSp, bPr, bSp)
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(f"MEDIANS sf=$dir reps=$reps: sp memo-hit ${med(rows.map(_._2))}%.2f s " +
      f"vs rebuild ${med(rows.map(_._4))}%.2f s " +
      f"(pagerank shared ${med(rows.map(_._1))}%.2f / isolated ${med(rows.map(_._3))}%.2f)")
    spark.stop()
  }
}
