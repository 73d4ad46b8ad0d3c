package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query COLD (first run after
  * full storage cleanup) and WARM (median of `reps` immediate re-runs)
  * seconds. Cold and warm are reported separately so a one-off
  * materialization cost (e.g. a graph build) is distinguishable from a
  * plan regression across rounds.
  *
  * Storage hygiene between queries: memoized ER component maps are
  * dropped AND their blocks freed, the SQL cache is cleared, and every
  * persistent RDD still registered with the context (GraphX graphs,
  * fixpoint localCheckpoints awaiting GC) is unpersisted. Without the
  * sweep, late-suite queries run under the accumulated storage of every
  * earlier one — round 2's ER medians read 2.5–5× their standalone
  * cost for exactly this reason.
  */
object Bench {
  /** The storage sweep run before every cold measurement: every memo
    * ([[graft.util.Memo.resetAll]]), the SQL cache, and every persistent
    * RDD still registered with the context. */
  def sweep(spark: SparkSession): Unit = {
    graft.util.Memo.resetAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc() // nudge ContextCleaner for anything only reachable via GC
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // the tuned production session (see Verify — the per-process
    // warehouse dir also keeps this JVM's managed-table writes clear of
    // a previous run's leftovers)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one untimed JVM warm-up (classloading, codegen, shuffle machinery)
    // so the first query's cold number measures the QUERY, not the JVM —
    // without it the suite's first key absorbs ~5 s of one-time init and
    // per-query colds shift with map iteration order across rounds
    import org.apache.spark.sql.functions.{col, count}
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy(col("r_name")).agg(count(col("r_regionkey"))).count()

    var failed = List.empty[String]
    def timed(name: String)(body: => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed ::= name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    }

    // optional args = subset of query names to bench (perf probing a
    // single query without paying for the whole suite)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }

    val detailed = selected.map { case (name, fn) =>
      sweep(spark)
      val cold = timed(name) { fn(spark, sfDir).count() }
      // warm reps reuse whatever the query itself caches/memoizes —
      // that is the definition of warm; the sweep runs only before cold
      val warms = (1 to reps).flatMap(_ => timed(name) { fn(spark, sfDir).count() })
      name -> (cold.getOrElse(0.0), warms)
    }
    val results = detailed.map { case (name, (cold, warms)) =>
      val warmMedian = if (warms.isEmpty) 0.0 else warms.sorted.apply(warms.size / 2)
      name -> (cold, warmMedian)
    }

    // Pin-proof artifact: the driver's round record keeps only a
    // truncated tail of the stdout line, so a disputed number (round
    // 10: kg_import_ttl 38 s driver vs 5.8 s re-run) can't be
    // adjudicated from artifacts. Persist EVERY query's cold + each
    // individual warm rep to a committed file, and surface the
    // heaviest queries per-rep on stderr (stdout stays the driver's
    // one-line contract).
    // Default artifact name carries the CORE COUNT: the driver runs
    // the bench twice (main cpus, then a lower count for scaling), and
    // a fixed name let the second run overwrite the first's per-rep
    // data — the round-12 adjudication gap (the disturbed 32-core run
    // could not be re-examined per-rep). One artifact per core count
    // keeps both runs inspectable.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_full_c$cpus.json")
    // Double.toString on NaN/Infinity is not valid JSON — emit null
    def num(d: Double): String = if (java.lang.Double.isFinite(d)) d.toString else "null"
    def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
    val fullJson = detailed.toSeq.sortBy(-_._2._1).map { case (name, (cold, warms)) =>
      s"""  "$name": {"cold": ${num(cold)}, "warm_reps": ${arr(warms)}}"""
    }.mkString(s"""{\n "sf": "$sfDir", "reps": $reps, "cpus": $cpus,\n "queries": {\n""",
      ",\n", "\n }\n}\n")
    // never let the artifact write take down the stdout contract line
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    detailed.toSeq.sortBy(-_._2._1).take(20).foreach { case (name, (cold, warms)) =>
      System.err.println(f"[bench] $name%-28s cold $cold%8.2f  warm_reps ${arr(warms)}")
    }

    def json(sel: ((Double, Double)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + num(sel(v)) }.mkString("{", ",", "}")
    val totalCold = results.values.map(_._1).sum
    val totalWarm = results.values.map(_._2).sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${num(totalCold)},"unit":"sec","queries":${json(_._1)},"queries_warm":${json(_._2)},"total_warm":${num(totalWarm)},"failed":$failedJson,"reps":$reps,"sf":"$sfDir","full":"$fullPath"}""")
    spark.stop()
  }
}
