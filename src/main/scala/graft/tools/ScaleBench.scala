package graft.tools

import graft.SparkEntry

/** Same-JVM two-scale A/B: run each query on the small sf dir and the
  * 10× [[ScaleUp]] dir in ONE process, report cold + median warm at
  * both scales and the warm scaling ratio. Cross-JVM ratios on this
  * box are meaningless (±4× run-to-run variance, SURVEY §5); this is
  * the instrument behind the round-10 sf0.1→sf1 scaling table.
  *
  * usage: ScaleBench [reps] query…  (env GRAFT_SMALL / GRAFT_BIG) */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    val small = sys.env.getOrElse("GRAFT_SMALL", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("GRAFT_BIG", "/root/repo/scaledata/sf1")
    val (reps, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(r) => (r, args.tail.toSeq)
      case None    => (3, args.toSeq)
    }
    require(names.nonEmpty && names.forall(SparkEntry.queries.contains),
      s"unknown: ${names.filterNot(SparkEntry.queries.contains).mkString(",")}")

    def time(n: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      // checkpoint-backed results from the PREVIOUS rep are garbage the
      // ContextCleaner can only reclaim after a GC; without this the
      // reps measure accumulating storage pressure, not the query
      // (kg_khop at sf1 measured warm 37 s vs cold 13 s before it).
      // Memoized frames stay strongly referenced, so this frees only
      // dropped results.
      System.gc()
      t
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    // one untimed warm-up so the first query doesn't absorb JVM init
    time(names.head, small)
    names.foreach { n =>
      graft.Bench.sweep(spark)
      val sCold = time(n, small)
      val sWarm = median((1 to reps).map(_ => time(n, small)))
      graft.Bench.sweep(spark)
      val bCold = time(n, big)
      val bWarm = median((1 to reps).map(_ => time(n, big)))
      println(f"SCALE $n%-26s small cold=$sCold%7.2f warm=$sWarm%7.2f | " +
        f"big cold=$bCold%7.2f warm=$bWarm%7.2f | warm_ratio=${bWarm / sWarm}%6.2f")
    }
    spark.stop()
  }
}
