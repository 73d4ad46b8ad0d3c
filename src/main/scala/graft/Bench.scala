package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — per-query COLD (first run after [[sweep]]) and WARM
  * (median of `reps` immediate re-runs) seconds. Cold and warm are
  * reported separately so a one-off materialization cost (e.g. a graph
  * build) is distinguishable from a plan regression across rounds.
  *
  * Every cold run is also split by layer: the `fn(spark, dir)` call
  * (construct) against the action, and the Spark jobs, stages, tasks,
  * shuffle bytes and spill it caused. Stdout carries one summary line
  * short enough for a 2,000-character log tail; every per-key figure
  * goes to the `BENCH_full_c<cpus>.json` artifact.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… [SPARK_GRAFT_CPUS=…] [SPARK_GRAFT_REPS=…]
  * [SPARK_GRAFT_BENCH_OUT=…] runMain graft.Bench [key…]` — keys default
  * to the whole registry. A scale comparison is one run per SF dir.
  */
object Bench {
  /** The storage sweep run before every cold measurement: every memo
    * ([[graft.util.Memo.resetAll]]), the SQL cache, and every persistent
    * RDD still registered with the context (GraphX graphs, fixpoint
    * checkpoints awaiting GC). Without it, late-suite queries run under
    * the accumulated storage of every earlier one — round 2's ER medians
    * read 2.5–5× their standalone cost for exactly this reason. */
  def sweep(spark: SparkSession): Unit = {
    graft.util.Memo.resetAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc() // nudge ContextCleaner for anything only reachable via GC
  }

  /** A successful cold run: seconds in the `fn(spark, dir)` call and in
    * the action, and the Spark work submitted between its start and end.
    * `spillBytes` counts bytes spilled to disk. */
  final case class Cold(constructS: Double, actionS: Double, jobs: Int, stages: Int,
      tasks: Int, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def seconds: Double = constructS + actionS
  }

  /** One key's figures; `None` marks a cold run or warm rep that failed. */
  final case class Run(name: String, cold: Option[Cold], warmReps: Seq[Option[Double]]) {
    def failed: Boolean = cold.isEmpty || warmReps.contains(None)
    def warm: Option[Double] = { val ok = warmReps.flatten.sorted; ok.lift(ok.size / 2) }
  }

  /** Records the start time of every job and the figures of every
    * completed stage, for attribution to cold-run windows once the run
    * is over. */
  private final class Recorder extends SparkListener {
    final case class Stage(submitted: Long, tasks: Int, read: Long, write: Long, spill: Long)
    val jobStarts = new ConcurrentLinkedQueue[Long]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    private val marker = "graft.bench.drain"
    private var markerJob = -1
    private val drained = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(marker) != null)) markerJob = e.jobId
      else jobStarts.add(e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) drained.countDown()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      stages.add(Stage(si.submissionTime.getOrElse(-1L), si.numTasks,
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        m.fold(0L)(_.diskBytesSpilled)))
    }

    /** Waits until every event posted before this call has reached the
      * listener: one queue delivers events in order, so the end of a
      * marker job run now comes after them. */
    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(marker, null)
      if (!drained.await(60, TimeUnit.SECONDS))
        System.err.println("[bench] listener bus not drained; stage figures may be short")
    }

    /** A cold run's figures, with the work submitted within `[from, to]`
      * (epoch milliseconds). */
    def cold(constructS: Double, actionS: Double, from: Long, to: Long): Cold = {
      def in(t: Long) = t >= from && t <= to
      val st = stages.asScala.filter(s => in(s.submitted)).toSeq
      Cold(constructS, actionS, jobStarts.asScala.count(in), st.size, st.map(_.tasks).sum,
        st.map(_.read).sum, st.map(_.write).sum, st.map(_.spill).sum)
    }
  }

  /** Runs each query once cold, after [[sweep]], then `reps` times warm.
    * Stages are attributed to a key by their submission time within its
    * cold run, so the listener bus is drained once, after the last key. */
  def measure(spark: SparkSession, dir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)], reps: Int): Seq[Run] = {
    def attempt[A](name: String)(body: => A): Option[A] =
      try Some(body)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    def seconds(from: Long): Double = (System.nanoTime() - from) / 1e9

    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    try {
      val timed = queries.map { case (name, fn) =>
        sweep(spark)
        val from = System.currentTimeMillis()
        val split = attempt(name) {
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          df.count()
          ((t1 - t0) / 1e9, seconds(t1))
        }
        val to = System.currentTimeMillis()
        // warm reps reuse whatever the query itself caches/memoizes —
        // that is the definition of warm; the sweep runs only before cold
        val warms = (1 to reps).map { _ =>
          attempt(name) { val t0 = System.nanoTime(); fn(spark, dir).count(); seconds(t0) }
        }
        (name, split, from, to, warms)
      }
      recorder.drain(spark)
      timed.map { case (name, split, from, to, warms) =>
        Run(name, split.map { case (c, a) => recorder.cold(c, a, from, to) }, warms)
      }
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The stdout line: the cold total, the warm total, and the keys with a
    * failed run. Failed runs count in neither total. */
  def line(runs: Seq[Run], reps: Int, sf: String, full: String): String =
    mapper.writeValueAsString(ListMap(
      "metric" -> "total", "value" -> runs.flatMap(_.cold).map(_.seconds).sum, "unit" -> "sec",
      "total_warm" -> runs.flatMap(_.warm).sum,
      "failed" -> runs.filter(_.failed).map(_.name).sorted,
      "reps" -> reps, "sf" -> sf, "full" -> full))

  /** The artifact: every key's cold figures and warm reps, one key a
    * line, slowest cold first, failed keys last. */
  def artifact(runs: Seq[Run], reps: Int, sf: String, cpus: Int): String =
    runs.sortBy(_.cold.fold(1.0)(-_.seconds)).map { r =>
      val c = r.cold
      "  " + mapper.writeValueAsString(r.name) + ": " + mapper.writeValueAsString(ListMap(
        "cold" -> c.map(_.seconds), "construct_s" -> c.map(_.constructS),
        "action_s" -> c.map(_.actionS), "jobs" -> c.map(_.jobs), "stages" -> c.map(_.stages),
        "tasks" -> c.map(_.tasks), "shuffle_read_bytes" -> c.map(_.shuffleReadBytes),
        "shuffle_write_bytes" -> c.map(_.shuffleWriteBytes), "spill_bytes" -> c.map(_.spillBytes),
        "warm" -> r.warm, "warm_reps" -> r.warmReps))
    }.mkString(s"""{\n "sf": ${mapper.writeValueAsString(sf)}, "reps": $reps, "cpus": $cpus,\n "queries": {\n""",
      ",\n", "\n }\n}\n")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // optional args = subset of query names to bench (perf probing a
    // single query without paying for the whole suite)
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val selected = SparkEntry.queries.toSeq.filter { case (n, _) => args.isEmpty || args.contains(n) }
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

    val runs = measure(spark, sfDir, selected, reps)

    // The artifact carries what a truncated stdout tail cannot, so a
    // disputed number can be adjudicated per key and per rep. Its name
    // carries the core count: the bench runs once per core count, and a
    // fixed name let the second run overwrite the first's.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_full_c$cpus.json")
    // never let the artifact write take down the stdout contract line
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      artifact(runs, reps, sfDir, cpus.toInt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    println(line(runs, reps, sfDir, fullPath))
    spark.stop()
  }
}
