package graftbench

import Main.{HeldRec, Run, SweepRec}

/** Minimal JSON writer for the benchmark's own output files. */
object Json {
  final case class Raw(s: String)

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case other => throw new IllegalArgumentException(s"not a JSON value: $other")
  }

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}"))

  def arr(vs: Any*): Raw = Raw(vs.map(value).mkString("[", ",\n", "]"))
}

/** The trace tree with each span's self time: its duration minus the part
  * of it that its children cover. */
object Spans {
  def json(spans: Seq[Span]): Json.Raw = {
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0; var end = Double.NegativeInfinity
      for ((a, b) <- iv) {
        val from = math.max(a, end)
        if (b > from) { total += b - from; end = b }
      }
      total
    }
    Json.arr(spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - covered(s)))
    }: _*)
  }
}

/** Medians over rounds, summed over the workload's ops. A failed run has
  * no time: it is left out of every median and counted in `okFrac`. */
final case class Summary(ops: Seq[Op], runs: Seq[Run], sweeps: Seq[SweepRec],
    helds: Seq[HeldRec], cores: Int) {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val good = runs.filter(_.ok)
  private def opRuns(op: String, pass: String) = good.filter(r => r.op == op && r.pass == pass)
  /** Σ over `ops` of the median of `f` over that op's runs in `pass`. */
  private def sumMed(ops: Seq[Op], pass: String)(f: Run => Double): Double =
    ops.map(o => median(opRuns(o.name, pass).map(f))).sum

  val coldS: Double = sumMed(ops, "cold")(_.wallS)
  val warmS: Double = sumMed(ops, "warm")(_.wallS)
  val okFrac: Double = good.size.toDouble / runs.size
  val heldMb: Double = ops.map(o => median(helds.filter(_.op == o.name).map(_.bytes.toDouble))).sum / 1e6

  private val mb = 1e6
  private def idleS(r: Run): Double = math.max(0.0, r.wallS - r.c.busyMs / 1e3)

  def perLayer(batchMs: Seq[Long]): Seq[(String, Double)] = {
    val passes = Seq("cold", "warm")
    val modules = Workloads.modules.flatMap { m =>
      val mine = ops.filter(_.module == m)
      passes.flatMap { p =>
        val med = sumMed(mine, p) _
        val wall = med(_.wallS)
        Seq(
          s"$m.construct_s.$p" -> med(_.constructS),
          s"$m.action_s.$p" -> med(_.actionS),
          s"$m.jobs.$p" -> med(_.c.jobs.toDouble),
          s"$m.driver_idle_s.$p" -> med(idleS),
          s"$m.core_util.$p" -> (if (wall > 0) med(_.c.taskMs / 1e3) / (wall * cores) else 0.0))
      }
    }
    val spark = passes.flatMap { p =>
      val med = sumMed(ops, p) _
      Seq(
        s"spark.catalyst_s.$p" -> med(_.c.catalystMs / 1e3),
        s"spark.stages.$p" -> med(_.c.stages.toDouble),
        s"spark.tasks.$p" -> med(_.c.tasks.toDouble),
        s"spark.task_s.$p" -> med(_.c.taskMs / 1e3),
        s"spark.gc_s.$p" -> med(_.c.gcMs / 1e3),
        s"spark.shuffle_write_mb.$p" -> med(_.c.shuffleWrite / mb),
        s"spark.shuffle_read_mb.$p" -> med(_.c.shuffleRead / mb),
        s"spark.spill_mb.$p" -> med(_.c.spill / mb),
        s"spark.input_mb.$p" -> med(_.c.input / mb),
        s"spark.output_mb.$p" -> med(_.c.output / mb))
    }
    val memo = Seq(
      "memo.sweep_s" -> ops.map(o => median(sweeps.filter(_.op == o.name).map(_.seconds))).sum,
      "memo.block_write_mb.cold" -> sumMed(ops, "cold")(_.c.blockWrite / mb),
      "memo.block_write_mb.warm" -> sumMed(ops, "warm")(_.c.blockWrite / mb),
      "memo.held_mb" -> heldMb,
      "memo.live_rdds" -> ops.map(o => median(helds.filter(_.op == o.name).map(_.rdds.toDouble))).sum,
      "memo.leftover_mb" -> sweeps.map(_.leftoverBytes).maxOption.getOrElse(0L) / mb,
      "memo.leftover_rdds" -> sweeps.map(_.leftoverRdds).maxOption.getOrElse(0).toDouble)
    def stage(op: String, f: Run => Double): Double = median(opRuns(op, "cold").map(f))
    val pipeline = Seq(
      "sources.csv_write_s" -> stage("csv_write", _.wallS),
      "sources.ingest_s" -> stage("ingest", _.wallS),
      "triples.build_s" -> stage("triples_build", _.wallS),
      "triples.rows" -> stage("triples_build", _.rows.toDouble),
      "rdf.render_write_s" -> stage("render_write", _.wallS),
      "rdf.parse_s" -> stage("parse", _.wallS),
      "rdf.lines" -> stage("render_write", _.rows.toDouble))
    val all = good.groupBy(_.op).values.toSeq
    val streaming = Seq(
      "streaming.batches" -> all.map(rs => median(rs.map(_.c.batches.toDouble))).sum,
      "streaming.batch_p50_ms" -> median(batchMs.map(_.toDouble)),
      "streaming.rows_in" -> all.map(rs => median(rs.map(_.c.rowsIn.toDouble))).sum)
    modules ++ spark ++ memo ++ pipeline ++ streaming
  }

  /** One row per op for the detail file. */
  def opTable: Seq[Json.Raw] = ops.map { o =>
    val all = runs.filter(_.op == o.name)
    Json.obj("op" -> o.name, "module" -> o.module,
      "cold_s" -> median(opRuns(o.name, "cold").map(_.wallS)),
      "warm_s" -> median(opRuns(o.name, "warm").map(_.wallS)),
      "construct_s_warm" -> median(opRuns(o.name, "warm").map(_.constructS)),
      "jobs_cold" -> median(opRuns(o.name, "cold").map(_.c.jobs.toDouble)),
      "jobs_warm" -> median(opRuns(o.name, "warm").map(_.c.jobs.toDouble)),
      "held_mb" -> median(helds.filter(_.op == o.name).map(_.bytes.toDouble)) / 1e6,
      "attempted" -> all.size, "failed" -> all.count(!_.ok))
  }
}
