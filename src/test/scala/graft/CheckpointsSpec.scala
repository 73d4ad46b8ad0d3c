package graft

import org.apache.spark.sql.functions._

import graft.kg.{Components, GraphMetrics, KGQueries, TripleStore}
import graft.util.Checkpoints

/** Checkpoint lifecycle: the fixpoint loops (closure / property path /
  * connected components / k-core) unpersist superseded round checkpoints, so a
  * long-running session issuing many closures keeps a bounded set of
  * live RDD blocks instead of accumulating one per round per call. */
class CheckpointsSpec extends SparkSpec {

  private def live: Int = spark.sparkContext.getPersistentRDDs.size

  // compared as RDD id sets, not counts: at any GC during the calls the
  // ContextCleaner may unpersist earlier suites' garbage, which hides a
  // leak from a count (one leaked edge set per kgKcore call moved the
  // count by 1 over 3 calls) and made the census case fail at random
  private def liveIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("repeated closure calls keep persistent RDD blocks bounded") {
    val store = TripleStore(spark, sf)
    def once(): Long = {
      val r = store.closure(Seq("in_nation", "in_region"))
      val n = r.count()
      Checkpoints.freeAll(r) // caller frees the result once consumed
      n
    }
    val first = once() // settle any lazy one-time state
    val baseline = liveIds
    val counts = (1 to 4).map(_ => once())
    assert(counts.forall(_ == first))
    assert((liveIds -- baseline).isEmpty,
      s"closures left persistent RDDs: ${liveIds -- baseline}")
  }

  test("repeated property-path and CC calls keep blocks bounded") {
    def path(): Unit = Checkpoints.freeAll(
      { val r = KGQueries.kgPropertyPath(spark, sf); r.count(); r })
    def cc(): Unit = {
      val st = TripleStore(spark, sf)
      val e = st.edges.filter(col("a") % 7 === 0)
      val r = Components.connectedComponents(e, e.select(col("a").as("id")).distinct())
      r.count()
      Checkpoints.freeAll(r) // frees the final fixpoint edge checkpoint
    }
    def kcore(): Unit = Checkpoints.freeAll(
      { val r = GraphMetrics.kgKcore(spark, sf); r.count(); r })
    path(); cc(); kcore()
    val baseline = liveIds
    (1 to 3).foreach { _ => path(); cc(); kcore() }
    assert((liveIds -- baseline).isEmpty,
      s"path/CC/k-core calls left persistent RDDs: ${liveIds -- baseline}")
  }

  test("repeated census/betweenness calls share one memoized sweep; resetMemo frees it") {
    GraphMetrics.resetMemo()
    val baseline0 = liveIds
    val c1 = GraphMetrics.kgSpCensus(spark, sf).count()
    val afterFirst = liveIds
    val sweep = afterFirst -- baseline0
    assert(sweep.nonEmpty, "first census must materialize the sweep")
    // second call and the betweenness consumer reuse the memo — no new
    // sweep checkpoints appear however many times either runs
    val c2 = GraphMetrics.kgSpCensus(spark, sf).count()
    assert(c1 == c2)
    assert((liveIds -- afterFirst).isEmpty && sweep.subsetOf(liveIds),
      "second census call created new sweep blocks")
    val eb = GraphMetrics.kgEdgeBetweenness(spark, sf)
    eb.count()
    Checkpoints.freeAll(eb) // frees the per-call contrib checkpoints
    assert((liveIds -- afterFirst).isEmpty,
      s"betweenness leaked per-call blocks: ${liveIds -- afterFirst}")
    GraphMetrics.resetMemo()
    assert((liveIds -- baseline0).isEmpty,
      s"resetMemo left sweep blocks live: ${liveIds -- baseline0}")
  }

  test("freeAll skips memo-pinned leaves; unpin releases them") {
    val sess = spark; import sess.implicits._
    val memoCp = (1 to 50).toDF("x").localCheckpoint(eager = true)
    Checkpoints.pin(memoCp)
    val derived = memoCp.select((col("x") * 2).as("y")).localCheckpoint(eager = true)
    // the consumer convention: drain a derived result, freeAll it —
    // this must free the derived checkpoint but NOT the pinned memo
    Checkpoints.freeAll(derived.select(col("y") + 1))
    assert(memoCp.count() == 50, "pinned memo checkpoint must survive freeAll")
    // the round-10 footgun shape: freeAll over a plan READING the memo
    Checkpoints.freeAll(memoCp.select(col("x") * 3))
    assert(memoCp.count() == 50, "memo must survive freeAll through a derived reader")
    Checkpoints.unpin(memoCp)
    val before = live
    Checkpoints.free(memoCp)
    assert(live == before - 1, "unpinned memo checkpoint frees normally")
  }

  test("rdf import memo survives a consumer's freeAll; resetMemo still reclaims") {
    import graft.kg.Rdf
    Rdf.resetMemo()
    val imp = Rdf.kgImportTtl(spark, sf)
    val n = imp.count()
    // the documented consumer convention on a drained result
    Checkpoints.freeAll(imp)
    // the memoized lines must still be readable by the next import
    assert(Rdf.kgImportTtl(spark, sf).count() == n,
      "second import in the same session must reuse live memo blocks")
    Rdf.resetMemo()
  }

  test("Memo.resetAll reclaims every memo's blocks, tables and staging dirs") {
    import org.apache.spark.graphx.Graph
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.DataFrame
    import graft.util.Memo
    // one entry in every memo of the seven owners
    def buildAll(): Unit = {
      er.ER.erConnectedComponents(spark, sf).count() // component map + match edges
      er.ER.erLinkCascade(spark, sf).count()
      er.ER.erIncremental(spark, sf).count() // registry table
      kg.GraphMetrics.kgClusteringCoeff(spark, sf).count() // co-occurrence edges
      kg.GraphMetrics.kgSpCensus(spark, sf).count()
      kg.KGQueries.kgKhop(spark, sf).count() // statement edges
      kg.Graphs.statementsGraph(spark, sf)
      kg.Rdf.kgExportNt(spark, sf).count()
      dedup.Dedup.dedupIncremental(spark, sf).count() // shingles + stores
      queries.Incremental.qIncrementalAgg(spark, sf).count()
      streaming.Streaming.streamWindowAgg(spark, sf).count()
      streaming.Streaming.streamQuality(spark, sf).count()
      streaming.Streaming.streamCdc(spark, sf).count()
    }
    Memo.resetAll()
    buildAll()
    val memos = Memo.registered
    assert(memos.map(_.owner).distinct.size == 7, s"owners: ${memos.map(_.owner).distinct}")
    memos.foreach(m => assert(m.values.nonEmpty, s"a ${m.owner} memo holds no entry"))

    // what each entry holds: the persistent RDDs first reached from its
    // frames and graphs, its table names, its staging dirs
    val persistent = spark.sparkContext.getPersistentRDDs.keySet
    def roots(r: RDD[_]): Set[Int] =
      if (persistent(r.id)) Set(r.id) else r.dependencies.flatMap(d => roots(d.rdd)).toSet
    def held(v: Any): Seq[Any] = v match {
      case df: DataFrame     => roots(df.rdd).toSeq
      case g: Graph[_, _]    => (roots(g.vertices) ++ roots(g.edges)).toSeq
      case d: String if new java.io.File(d).isAbsolute => Seq(new java.io.File(d))
      case t: String         => Seq(t)
      case p: Product        => p.productIterator.flatMap(held).toSeq
      case _                 => Nil
    }
    val before = memos.map(m => m -> m.values).toMap
    val all = before.values.flatten.flatMap(held).toSeq
    before.foreach { case (m, vs) => vs.foreach(v =>
      assert(held(v).nonEmpty, s"a ${m.owner} memo entry holds nothing to reclaim: $v")) }
    val rdds = all.collect { case id: Int => id }
    val tables = all.collect { case t: String => t }
    val dirs = all.collect { case d: java.io.File => d }
    assert(dirs.forall(_.isDirectory), s"staging dirs missing before reset: $dirs")
    assert(tables.forall(t => spark.catalog.tableExists(t)), s"memo tables missing: $tables")

    Memo.resetAll()
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(rdds.filter(left).isEmpty, s"memo RDDs still persisted: ${rdds.filter(left)}")
    assert(tables.filter(t => spark.catalog.tableExists(t)).isEmpty, "memo tables not dropped")
    assert(dirs.filter(d => d.exists || new java.io.File(d.getPath + "_sent").exists).isEmpty,
      "staging dirs not deleted")

    // the next call rebuilds rather than returning the released value
    buildAll()
    memos.foreach { m =>
      val olds = before(m)
      m.values.foreach(v => assert(!olds.exists(_.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef]),
        s"a ${m.owner} memo returned a released value"))
    }
    assert(tables.forall(t => spark.catalog.tableExists(t)), "memo tables not rebuilt")
    Memo.resetAll()
  }

  test("free is a no-op on derived frames and only frees checkpoint roots") {
    val sess = spark; import sess.implicits._
    val cp = (1 to 100).toDF("x").localCheckpoint(eager = true)
    val before = live
    Checkpoints.free(cp.select(col("x") * 2)) // derived — must not free cp
    assert(live == before)
    assert(cp.count() == 100) // still readable
    Checkpoints.free(cp)
    assert(live == before - 1)
  }
}
