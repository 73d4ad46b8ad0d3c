package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's measuring process: one workload, one SparkSession at
  * `local[cores]`, one operation at a time (a closed loop with one
  * client). After an untimed warm-up query, each round runs every op of
  * the workload as: full sweep (untimed), one cold run, `Workloads.warmReps` warm
  * re-runs. Rounds repeat while the time budget allows; figures are
  * medians over rounds.
  *
  * Arguments: `--workload --seed --seconds --trace 0|1 --data --work
  * --result --detail --spans --expected --t0-ms [--record]`. */
object Main {

  final case class Run(op: String, pass: String, round: Int,
      constructS: Double, actionS: Double, ok: Boolean, error: String,
      rows: Long, hash: String, c: Counters) {
    def wallS: Double = constructS + actionS
  }
  final case class SweepRec(op: String, round: Int, seconds: Double, leftoverBytes: Long,
      leftoverRdds: Int)
  final case class HeldRec(op: String, round: Int, bytes: Long, rdds: Int)
  final case class Expected(rows: Long, hash: String, checkHash: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val t0Ms = a("t0-ms").toDouble
    Workloads.checkInputs(workload, data)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val record = flags("record")
    val ops = Workloads.ops(workload, data, work)
    val warmReps = Workloads.warmReps(workload)
    val expected = if (record) Map.empty[String, Expected] else loadExpected(a("expected"))
    val unchecked = ops.map(_.name).filterNot(expected.contains)
    require(record || unchecked.isEmpty,
      s"no recorded output for ${unchecked.mkString(", ")} in ${a("expected")}")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (Clock.epochMs() - t0Ms) / 1e3

    // untimed warm-up (class loading, codegen, scan, join, shuffle and
    // write set-up), so that the first op's cold run measures the op rather
    // than the JVM
    val w0 = System.nanoTime()
    spark.read.parquet(s"$data/lineitem.parquet")
      .join(spark.read.parquet(s"$data/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)), countDistinct(col("l_partkey")))
      .write.mode("overwrite").parquet(s"$work/warmup")
    val warmupS = (System.nanoTime() - w0) / 1e9
    val probe = if (trace) Some(new Probe(spark)) else None
    val setupS = (Clock.epochMs() - t0Ms) / 1e3
    val runSpan = probe.map(_.open(0, s"run $workload", "")).getOrElse(0L)

    val runs = ArrayBuffer.empty[Run]
    val sweeps = ArrayBuffer.empty[SweepRec]
    val helds = ArrayBuffer.empty[HeldRec]

    def snap(): Counters = probe.map(_.snapshot()).getOrElse(Counters())

    def runOnce(op: Op, pass: String, round: Int, parent: Long): Unit = {
      val before = snap()
      var span = probe.map(_.open(parent, "construct", op.name))
      def closeSpan(): Unit = { span.foreach(probe.get.close(_, parent, op.name)); span = None }
      val t0 = System.nanoTime()
      var t1 = t0; var t2 = t0; var t3 = t0
      val result = try {
        val df = op.construct(spark)
        t1 = System.nanoTime()
        closeSpan()
        span = probe.map(_.open(parent, "action", op.name))
        t2 = System.nanoTime()
        val r = action(df)
        t3 = System.nanoTime()
        closeSpan()
        Right(r)
      } catch { case e: Throwable =>
        closeSpan()
        Left(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      val c = snap() - before
      val run = result match {
        case Right((rows, hash)) =>
          val err = expected.get(op.name) match {
            case Some(x) if x.rows != rows => s"row count $rows, recorded ${x.rows}"
            case Some(x) if x.checkHash && x.hash != hash => s"hash $hash, recorded ${x.hash}"
            case _ => ""
          }
          Run(op.name, pass, round, (t1 - t0) / 1e9, (t3 - t2) / 1e9,
            err.isEmpty, err, rows, hash, c)
        case Left(err) => Run(op.name, pass, round, 0, 0, ok = false, err, -1, "", c)
      }
      if (!run.ok) System.err.println(s"[graftbench] ${op.name} $pass FAILED: ${run.error}")
      runs += run
    }

    val measureStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - measureStart) / 1e9
    var round = 0
    var lastRoundS = 0.0
    while (round == 0 || elapsedS + lastRoundS <= seconds) {
      val r0 = System.nanoTime()
      for (op <- ops) {
        val opSpan = probe.map(_.open(runSpan, s"${op.name} round $round", op.name)).getOrElse(0L)
        val sSpan = probe.map(_.open(opSpan, "sweep", op.name))
        val s0 = System.nanoTime()
        sweep(spark)
        val sweepS = (System.nanoTime() - s0) / 1e9
        sSpan.foreach(probe.get.close(_, opSpan, op.name))
        val (lb, lr) = held(spark)
        sweeps += SweepRec(op.name, round, sweepS, lb, lr)
        runOnce(op, "cold", round, opSpan)
        if (!op.stage) (1 to warmReps).foreach(_ => runOnce(op, "warm", round, opSpan))
        val (hb, hr) = held(spark)
        helds += HeldRec(op.name, round, hb, hr)
        probe.foreach(_.close(opSpan, runSpan, ""))
      }
      lastRoundS = (System.nanoTime() - r0) / 1e9
      round += 1
    }
    probe.foreach(_.close(runSpan, 0, ""))

    val s = Summary(ops, runs.toSeq, sweeps.toSeq, helds.toSeq, cores)
    val e2e = Json.obj("cold_s" -> s.coldS, "warm_s" -> s.warmS, "ok_frac" -> s.okFrac,
      "held_mb" -> s.heldMb)
    val perLayer = probe.map { p =>
      s.perLayer(p.batchDurationsMs) ++ Seq("session.start_s" -> startS,
        "session.warmup_s" -> warmupS, "trace.cold_s" -> s.coldS, "trace.warm_s" -> s.warmS)
    }.getOrElse(Nil)
    write(a("result"), Json.obj(
      "setup_s" -> setupS, "start_s" -> startS, "warmup_s" -> warmupS, "rounds" -> round,
      "attempted" -> runs.size, "failed" -> runs.count(!_.ok),
      "end_to_end" -> e2e, "per_layer" -> Json.obj(perLayer: _*)).s)
    write(a("detail"), Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "rounds" -> round,
      "ops" -> Json.arr(s.opTable: _*),
      "runs" -> Json.arr(runs.map(r => Json.obj("op" -> r.op, "pass" -> r.pass, "round" -> r.round,
        "construct_s" -> r.constructS, "action_s" -> r.actionS, "ok" -> r.ok, "error" -> r.error,
        "rows" -> r.rows, "hash" -> r.hash, "jobs" -> r.c.jobs)).toSeq: _*),
      "sweeps" -> Json.arr(sweeps.map(x => Json.obj("op" -> x.op, "round" -> x.round,
        "sweep_s" -> x.seconds, "leftover_bytes" -> x.leftoverBytes,
        "leftover_rdds" -> x.leftoverRdds)).toSeq: _*)).s)
    probe.foreach(p => write(a("spans"), Spans.json(p.allSpans).s))
    if (record) write(a("expected"), recordExpected(a("expected"), runs.toSeq))
    probe.foreach(_.stop())
    spark.stop()
  }

  /** Every reset hook `graft.Bench` calls between queries, then every
    * persisted RDD unpersisted and waited for. */
  def sweep(spark: SparkSession): Unit = {
    graft.er.ER.resetMemo()
    graft.kg.GraphMetrics.resetMemo()
    graft.kg.Graphs.resetMemo()
    graft.kg.Rdf.resetMemo()
    graft.dedup.Dedup.resetStores()
    graft.queries.Incremental.resetStores()
    graft.streaming.Streaming.resetStaging()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    settle()
  }

  /** Collects garbage and gives the context cleaner a moment to drop the
    * shuffle files, broadcasts and RDDs that became unreachable, so that
    * this clean-up neither runs inside the next timed op nor is missed by
    * a storage reading. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(100)
  }

  /** Memory plus disk bytes of persisted RDD blocks (cached frames and
    * local checkpoints alike), and the number of persisted RDDs. Only
    * what the engine still references counts: without [[settle]] first
    * the figure depends on when the JVM last collected garbage. */
  def held(spark: SparkSession): (Long, Int) = {
    val sc = spark.sparkContext
    settle()
    (sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum, sc.getPersistentRDDs.size)
  }

  /** Doubles are rounded before hashing so that summation order, which
    * varies with task timing, does not change the hash. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** The op's action: one aggregate over every output column, giving the
    * row count and an order-independent hash of the row multiset. */
  def action(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def loadExpected(path: String): Map[String, Expected] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map(_.split('\t'))
      .map(f => f(0) -> Expected(f(1).toLong, f(2), f(3) == "hash")).toMap

  /** Observed outputs merged into the expected-values file: an op whose
    * hash differed between its runs is checked on its row count only. */
  private def recordExpected(path: String, runs: Seq[Run]): String = {
    val old = if (Files.exists(Paths.get(path))) loadExpected(path) else Map.empty[String, Expected]
    val now = runs.filter(_.ok).groupBy(_.op).map { case (op, rs) =>
      val rows = rs.map(_.rows).distinct
      require(rows.size == 1, s"$op: row count differs between runs: ${rows.mkString(", ")}")
      val hashes = rs.map(_.hash).distinct
      op -> Expected(rows.head, hashes.head, hashes.size == 1)
    }
    (old ++ now).toSeq.sortBy(_._1).map { case (op, x) =>
      s"$op\t${x.rows}\t${x.hash}\t${if (x.checkHash) "hash" else "rows"}"
    }.mkString("", "\n", "\n")
  }

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}
