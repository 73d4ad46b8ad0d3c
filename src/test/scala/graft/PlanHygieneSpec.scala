package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SpecBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

class PlanHygieneSpec extends SparkSpec {

  private type Query = (SparkSession, String) => DataFrame

  // The registry keys both gates check. Without the reference .rq
  // corpus its runners cannot build a plan at all, so exactly those
  // keys are left out, and each must fail on that missing corpus and
  // on nothing else: the list can neither miss a corpus-bound key (the
  // gate would fail on its file) nor hide another key's failure. With
  // the corpus present every key is checked.
  private lazy val gated: Seq[(String, Query)] = {
    val all = SparkEntry.queries.toSeq
    if (ReferenceCorpus.present) all
    else {
      val (corpusBound, rest) = all.partition { case (name, _) => ReferenceCorpus.keys(name) }
      corpusBound.foreach { case (name, fn) =>
        val outcome =
          try { fn(spark, sf); "built a plan" }
          catch { case NonFatal(e) => s"failed with: ${e.getMessage}" }
        assert(outcome.contains("reference query corpus not found"),
          s"$name is listed as corpus-bound, but without the corpus it $outcome")
      }
      rest
    }
  }

  private def gatedQueries(): Seq[(String, Query)] = {
    if (!ReferenceCorpus.present)
      info(s"reference .rq corpus absent at '${ReferenceCorpus.dir}': left out " +
        s"${ReferenceCorpus.keys.size} keys that read it: " +
        ReferenceCorpus.keys.toSeq.sorted.mkString(", "))
    gated
  }

  /** The key's final plan, plus every plan a QueryExecutionListener
    * saw executed while the key built its frame: eager checkpoints and
    * driver-side collects run whole plans during construct that the
    * final plan only references as a scan. */
  private def planOf(name: String, fn: Query): (SparkPlan, Seq[SparkPlan]) = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val recorder = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    SpecBus.drain(spark.sparkContext)
    spark.listenerManager.register(recorder)
    try {
      val plan =
        try fn(spark, sf).queryExecution.executedPlan
        catch { case NonFatal(e) => fail(s"$name: no plan: ${e.getMessage}", e) }
      SpecBus.drain(spark.sparkContext)
      (plan, ran.asScala.toList)
    } finally spark.listenerManager.unregister(recorder)
  }

  // Queries whose nested-loop join is INTENDED and bounded: either an
  // exact all-pairs baseline (documented — the scale path is the
  // bucketed/LSH variant) or a broadcast of a query-/1-row-sized frame
  // under a non-equi condition. Everything else must plan equi-joins.
  private val boundedNestedLoop: Map[String, String] = Map(
    "dedup_embedding"     -> "exact all-pairs baseline (scale path: sim_ann_lsh)",
    "sim_topk_bruteforce" -> "query-set × table exact baseline (broadcast queries)",
    "sim_topk_int8"       -> "query-set × table quantized scan (broadcast queries)",
    "sim_rerank"          -> "stage 1 is the bounded quantized scan",
    "sim_ann_ivf"         -> "query-batch × k centroids (bounded)",
    "sim_ann_pq"          -> "query-set × code column ADC scan (broadcast queries)",
    "search_bm25"         -> "1-row corpus-stats broadcast",
    "search_vocab"        -> "1-row total broadcast",
    "corpus_mix"          -> "1-row corpus-total broadcast into the langs census",
    "corpus_stats"        -> "1-row corpus token total broadcast into the census",
    "sketch_bloom"        -> "1-row filter-sizing stats (n_build, m_bits) broadcast",
    "kg_having"           -> "1-row aggregate-subquery threshold broadcast",
    "text_bpe_train"      -> "1-row best-pair broadcast into each merge step's replace",
    "text_bpe_encode"     -> "retrains with text_bpe_train's 1-row best-pair broadcasts",
    "text_keywords"       -> "1-row corpus-size broadcast into the tf/df join",
    "q_gap_fill"          -> "calendar axis × type dictionary (both bounded)",
    "kg_sparql_net0"      -> "1-row label lookup broadcast for the BIND-constant root",
    "kg_sparql_companions" -> ("UNION-branch products over the 1-row seed-bound " +
      "sitelink root (a SPARQL-legal product; each branch multiplies one row)"),
    "kg_sparql_net2"      -> ("BGP components bridged only by the substituted root " +
      "constant — each component is constant-seeded, product of bounded lookups"),
    "kg_sparql_net3"      -> ("BGP components bridged only by the substituted root " +
      "constant — each component is constant-seeded, product of bounded lookups"),
    "kg_sparql_cmp1"      -> ("1-row root + 1-row dictionary-constant components " +
      "(constant-seeded broadcast products)"),
    "kg_sparql_cmp"       -> ("the dictionary-constant corr-code lookup is a 1-row " +
      "constant-seeded component broadcast into every item row"),
    "kg_sparql_hirschfeld" -> ("per-row OPTIONAL-SERVICE left join over the 1-row " +
      "seed-bound root"),
    "kg_sparql_family"    -> ("UNION-branch products over the 1-row seed-bound root " +
      "(each branch multiplies one row)"),
    "kg_sparql_time"      -> ("1-row root + existence-check marker + dictionary-constant " +
      "components (constant-seeded broadcast products)"),
    "kg_sparql_test"      -> ("UNION-branch products over the 1-row seed-bound root " +
      "(each branch multiplies one row)"),
    "kg_sparql_noconst"   -> ("UNION-branch products over the 1-row seed-bound root " +
      "(each branch multiplies one row)"))

  // Queries whose UNPARTITIONED window is intended: a global total
  // order over a frame that is aggregate-sized by construction (never
  // the data stream). Everything else must partition its windows —
  // "No Partition Defined for Window" means the whole input serializes
  // onto one task (the round-9 text_pdf_segments lesson; its fill now
  // rides the distributed Scale.fillDown instead).
  private val boundedGlobalWindow: Map[String, String] = Map(
    "kg_geo_near" -> ("rank window over the TakeOrderedAndProject top-50 " +
      "result — input is 50 rows by construction (orderBy+limit), never the box"),
    "search_vocab" -> ("rank window over the top-100 terms inside its eager " +
      "checkpoint — input is 100 rows by construction (orderBy+limit)"))

  test("no cartesian products, no unbounded nested loops, no single-partition windows") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // collectWithSubqueries: a single-partition window hiding inside a
    // scalar/IN subquery plan must not slip past the gate; an executed
    // adaptive plan holds its operators inside (leaf) query stages
    def collectAll[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] =
      p.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(f)
        case q: QueryStageExec        => collectAll(q.plan)(f)
        case n if f.isDefinedAt(n)    => Seq(f(n))
      }.flatten
    val offenders = scala.collection.mutable.ListBuffer[String]()
    gatedQueries().foreach { case (name, fn) =>
      val (physical, ran) = planOf(name, fn)
      // an eager checkpoint runs its plan during construct, where the
      // final plan shows only the checkpoint's scan: gate both
      val plans = physical +: ran
      val text = plans.map(_.toString)
      if (text.exists(_.contains("CartesianProduct")))
        offenders += s"$name: CartesianProduct"
      if (text.exists(_.contains("BroadcastNestedLoopJoin")) && !boundedNestedLoop.contains(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      val globalWindows = plans.flatMap(p => collectAll(p) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      })
      if (globalWindows.nonEmpty && !boundedGlobalWindow.contains(name))
        offenders += s"$name: ${globalWindows.size} unpartitioned Window (single-partition sort)"
    }
    assert(offenders.isEmpty,
      s"plan hygiene violations:\n  ${offenders.mkString("\n  ")}")
  }

  // Whole-stage codegen fallback is SILENT in green runs: janino's
  // "Code grows beyond 64 KB" (or a method over hugeMethodLimit) just
  // logs and drops the stage to interpreted execution — round 8's
  // er_link_cascade shipped that way. This test does what the executor
  // does at runtime — generate and COMPILE every stage's code — and
  // fails loudly where the runtime would silently fall back.
  test("every whole-stage codegen stage compiles under the JVM method limit") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{ApplyColumnarRulesAndInsertTransitions, CollapseCodegenStages, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val limit = spark.sessionState.conf.hugeMethodLimit
    // ROUND-11 BLIND-SPOT FIX: an UNEXECUTED AdaptiveSparkPlanExec
    // carries NO WholeStageCodegenExec nodes at all — AQE applies
    // CollapseCodegenStages per query stage at materialization time,
    // so `a.executedPlan` pre-execution is codegen-free and the old
    // gate silently compiled ZERO stages for every shuffling query
    // (measured: q1_agg, kg_bgp_join, er_fingerprint, dedup_minhash_lsh
    // all reported 0 stages). Apply the same postStageCreationRules
    // AQE would (columnar transitions FIRST — a collapsed stage over a
    // bare columnar scan generates row-reader code that explodes at
    // subquery execution), so the gate sees what executors compile.
    def collapse(p: SparkPlan): SparkPlan =
      CollapseCodegenStages()(ApplyColumnarRulesAndInsertTransitions(
        spark.sessionState.columnarRules, outputsColumnar = false)(p))
    def stages(p: SparkPlan): Seq[WholeStageCodegenExec] = p.collectWithSubqueries {
      case w: WholeStageCodegenExec => Seq(w)
      case a: AdaptiveSparkPlanExec => stages(collapse(a.executedPlan))
    }.flatten
    val offenders = scala.collection.mutable.ListBuffer[String]()
    var totalStages = 0
    val queries = gatedQueries()
    queries.foreach { case (name, fn) =>
      val found = stages(planOf(name, fn)._1)
      totalStages += found.size
      found.foreach { w =>
        try {
          val (_, source) = w.doCodeGen()
          val (_, byteStats) = CodeGenerator.compile(source)
          if (byteStats.maxMethodCodeSize > limit)
            offenders += s"$name: stage ${w.codegenStageId} max method " +
              s"${byteStats.maxMethodCodeSize} B > hugeMethodLimit $limit"
        } catch { case e: Exception =>
          offenders += s"$name: stage ${w.codegenStageId} would fall back: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(160)
        }
      }
    }
    // the no-op regression guard: if a Spark upgrade moves the codegen
    // hook again, fail loudly instead of green-compiling nothing
    assert(totalStages > queries.size,
      s"gate saw only $totalStages codegen stages across ${queries.size} " +
        "queries — the stage-collection hook has gone blind again")
    info(s"compiled $totalStages codegen stages across ${queries.size} keys")
    assert(offenders.isEmpty,
      s"silent codegen fallback would fire for:\n  ${offenders.mkString("\n  ")}")
  }

  test("no runtime codegen compile failure was logged by any suite so far") {
    SparkSpec.assertNoCodegenFallback("PlanHygieneSpec")
  }
}
