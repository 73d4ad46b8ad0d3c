package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.Tables
import graft.util.Exact._
import graft.util.Memo

/** Structured Streaming (SURVEY §2.E): tumbling-window aggregation
  * with a watermark and custom sessionization state, replayed
  * deterministically through a FILE source so the DuckDB batch oracle
  * can check the result.
  *
  * Replay shape (the production shape, shrunk): the input table is
  * staged once to a parquet directory with a distributed write (the
  * driver never holds the data), together with ONE late sentinel row
  * whose event time lies 3 h past the newest real event (+100 h on the
  * CDC log's synthetic clock). `spark.readStream` tails that directory
  * and a single `processAllAvailable` drives two micro-batches: the
  * data batch reads the events and the sentinel together, which
  * advances the watermark past every real window/session/timeout; then
  * Spark's own no-data batch runs under that watermark and emits
  * everything sealed. Results land in a parquet file SINK read back
  * lazily. File source → transforms → file sink IS the deployed
  * topology (swap the directories for Kafka topics at will). Round 1
  * fed the stream by `collect()`ing the whole table into a
  * MemoryStream and read results from a driver-memory sink — both
  * directions held the data on the driver (7–8 MiB task binaries in
  * the logs, OOM at any real scale); nothing here touches the driver
  * now beyond a one-row max(ts) aggregate.
  *
  * Each replay runs on a CLONED SparkSession (`spark.newSession()` —
  * same SparkContext, separate SQLConf/catalog), so the replay's
  * shuffle-partition count never leaks into concurrently-running batch
  * queries on the caller's session.
  *
  * Scale notes: tumbling windows + watermark = bounded state (only
  * unsealed windows are held); the aggregation shuffles once on
  * (window, event_type). Money math is exact DECIMAL / micro-unit
  * longs, so emitted rows are identical at any parallelism. State
  * store cost ∝ partitions × micro-batches, so a replay runs
  * [[replayParts]] state partitions over as many staged part files:
  * the core count, capped at 8 for the tiny replay (size to key
  * cardinality in prod).
  */
object Streaming {

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Open-session state: (session index, start µs, last µs, n events,
    * value sum in micro-units — scaled long reproduces the
    * DECIMAL(18,6) exact-sum semantics of [[graft.util.Exact]]). */
  type SessState = (Long, Long, Long, Long, Long)
  final case class SessOut(user_id: Long, session_id: Long, n_events: Long,
      session_start: String, session_value: Double)

  // object-level (reached via the static module from executor closures —
  // DateTimeFormatter is not Serializable, so it must not be captured)
  /** Session gap in MICROseconds: events.ts is µs-grained, and the
    * batch oracle compares gaps in epoch_us — millisecond truncation
    * here would silently merge sessions split by a gap in
    * (1800000000, 1800000999] µs. */
  private val sessGapUs = 1800000000L
  /** Event time in epoch µs (Timestamp.getTime is ms-truncated; the
    * sub-ms component lives in getNanos). */
  private def evMicros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  private def sessFmt(us: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(Math.floorDiv(us, 1000L)))
  private def micros(v: Double): Long =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(6).longValueExact()

  private def sessEmit(userId: Long, events: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[SessState]): Iterator[SessOut] = {
    def out(s: SessState) =
      SessOut(userId, s._1, s._4, sessFmt(s._2),
        BigDecimal(BigInt(s._5), 6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    if (!events.hasNext) { // event-time timeout: seal the open session
      val closed = state.getOption.map(out).toList
      state.remove()
      return closed.iterator
    }
    val sorted = events.toSeq.sortBy(e => (evMicros(e.ts), e.event_id))
    var sessions = List.empty[SessOut]
    var cur = state.getOption
    for (e <- sorted) {
      val t = evMicros(e.ts)
      cur match {
        case Some(s) if t - s._3 <= sessGapUs =>
          cur = Some((s._1, s._2, t, s._4 + 1, s._5 + micros(e.value)))
        case Some(s) =>
          sessions ::= out(s)
          cur = Some((s._1 + 1, t, t, 1L, micros(e.value)))
        case None =>
          cur = Some((1L, t, t, 1L, micros(e.value)))
      }
    }
    state.update(cur.get)
    // GroupState timeouts are millisecond-granular: round UP so the
    // timeout never fires a µs-hair early (late sealing is harmless)
    state.setTimeoutTimestamp(Math.floorDiv(cur.get._3 + sessGapUs + 999L, 1000L))
    sessions.reverse.iterator
  }

  private val evSchema = Encoders.product[Ev].schema

  /** State partitions of every replay and part files of every staging
    * dir: the core count, capped at 8. The file source parallelizes by
    * FILE (a 1-file staging ran every replay's data batch map side in
    * ONE task — 1.1 s serial in stream_topk's first batch), and every
    * state partition costs a state-store load and commit per
    * micro-batch, so neither gains from outnumbering the cores. */
  private def replayParts(spark: SparkSession): Int =
    math.min(8, spark.sparkContext.defaultParallelism)

  /** Sink directories outlive their replay (the returned DataFrame
    * reads them lazily), so they cannot be deleted in the replay's
    * finally block. Instead, each query key holds at most ONE live
    * sink dir: starting a new replay of the same query reaps the
    * previous replay's dir (invalidating any still-unread DataFrame
    * from it — last-results-only is the contract), and a JVM exit
    * hook reaps whatever is left. /tmp usage is bounded by one sink
    * per distinct query, not one per replay.
    *
    * Concurrency: last-results-only is safe SINGLE-THREADED per query
    * key (Bench/Verify/the test suites run queries sequentially —
    * build.sbt forks one test JVM). Two concurrent replays of the SAME
    * key would let one delete a sink dir the other's returned
    * DataFrame is still lazily reading (FileNotFoundException); if
    * parallel replays are ever needed, key sinkDirs by (session,
    * query) and reap per session instead. */
  private val sinkDirs = new java.util.concurrent.ConcurrentHashMap[String, Path]()
  private lazy val sinkReaper: Unit = {
    sys.addShutdownHook {
      sinkDirs.values.forEach(p => deleteRecursively(p))
      resetStaging()
    }
    ()
  }

  /** Staged SOURCE directories per dataset dir, shared by every replay
    * over the same input — the production analogue: the source topic
    * exists once; a replay subscribes to it rather than re-publishing
    * it. Each is paid once per (dataset, JVM); [[graft.Bench]]'s sweep
    * calls [[resetStaging]] so COLD timings still include the staging
    * cost. A staging dir is WRITE-ONCE: its sentinel row is part of
    * the staged data, every replay reads it from a fresh checkpoint,
    * and nothing is added to or removed from the dir until it is
    * reaped. Sentinel rows are output-neutral (user_id / key = -1,
    * filtered by every query; their event times are deterministic). */
  private val stagedSrc = Memo[String, String](this)((_, st) => deleteRecursively(Paths.get(st)))
  /** Staged documents dir per dataset (the [[streamQuality]] source —
    * stateless ingest needs no watermark, so no sentinel). */
  private val stagedDocs = Memo[String, String](this)((_, st) => deleteRecursively(Paths.get(st)))
  private val stagedCdcLog = Memo[String, String](this)((_, st) => deleteRecursively(Paths.get(st)))

  /** Drop all memoized staging dirs (next replay re-stages). */
  def resetStaging(): Unit = Memo.reset(this)

  /** Write `rows` to a fresh staging dir as [[replayParts]] part files.
    * A failed write must not orphan the half-written dir: a memo build
    * that throws stores nothing, so resetStaging could never reap it. */
  private def writeStaging(prefix: String, rows: DataFrame): String = {
    val st = Files.createTempDirectory(prefix)
    try rows.repartition(replayParts(rows.sparkSession)).write.mode("append").parquet(st.toString)
    catch { case e: Throwable => deleteRecursively(st); throw e }
    st.toString
  }

  /** The events table staged with its sentinel row at max(ts) + 3 h.
    * The data batch's watermark (1 h delay) then ends at max(ts) + 2 h,
    * past the end of every real window and every session/gap timeout,
    * so Spark's no-data batch seals and emits them all; the sentinel's
    * own window and timeout lie beyond it and never emit. */
  private def stagedEvents(spark: SparkSession, dir: String): String = stagedSrc(dir) {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    // one-row aggregate — the only thing the driver ever holds
    val mx = events.agg(max(col("ts"))).head().getTimestamp(0)
    writeStaging("graft_stream_src", events.union(spark.createDataFrame(Seq(
      Ev(-1L, new Timestamp(mx.getTime + 3 * 3600L * 1000L), -1L, "sentinel", 0.0)))))
  }

  /** One replay: stream the staged dir `stage` returns (read with
    * `schema`) through `build` into a fresh parquet sink, on a cloned
    * session with [[replayParts]] state partitions, and return a lazy
    * reader over the sink. Spark's no-data micro-batches stay on: the
    * one data batch advances the watermark, and the no-data batch
    * `processAllAvailable` waits for is the emission. */
  private def replay(outer: SparkSession, key: String, schema: StructType)(
      stage: SparkSession => String)(build: DataFrame => DataFrame): DataFrame = {
    val spark = outer.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", replayParts(spark).toString)
    val staging = stage(spark)
    val checkpoint = Files.createTempDirectory("graft_stream_ckpt")
    val sinkDir = Files.createTempDirectory("graft_stream_sink")
    sinkReaper
    val prev = sinkDirs.put(key, sinkDir)
    if (prev != null) deleteRecursively(prev)
    val q = build(spark.readStream.schema(schema).parquet(staging))
      .writeStream.format("parquet")
      .option("path", sinkDir.toString)
      .option("checkpointLocation", checkpoint.toString)
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable()
    finally {
      q.stop()
      deleteRecursively(checkpoint)
      // staging is memoized (reaped by resetStaging / the exit hook);
      // sinkDir stays for the lazy reader, reaped on the next replay
    }
    Tables.parquet(spark, sinkDir.toString)
  }

  /** A replay of the staged events: `build` maps the streaming
    * Dataset to its output. */
  private def fileReplay(outer: SparkSession, dir: String, key: String)(
      build: Dataset[Ev] => DataFrame): DataFrame =
    replay(outer, key, evSchema)(stagedEvents(_, dir))(src => build(src.as(Encoders.product[Ev])))

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(c => deleteRecursively(c)) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  /** stream_window_agg — 1-hour tumbling windows per event_type. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    fileReplay(spark, dir, "stream_window_agg") { source =>
      source.toDF()
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(money(col("value"))).as("sum_value_dec"))
    }
      .filter(col("event_type") =!= "sentinel")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"),
        col("n_events"),
        exactDouble(col("sum_value_dec")).as("sum_value"))

  /** stream_enrich — stream-static enrichment join + windowed agg:
    * the canonical production topology (facts stream in; a
    * slowly-changing dimension sits in the lake). The customer
    * dimension is read as a plain batch DataFrame on the replay's
    * cloned session and joined into every micro-batch — Spark plans a
    * broadcast for the dimension-sized side, so the stream never
    * shuffles for the join, only for the windowed aggregation.
    * Sentinel rows (user_id = -1) fall out of the inner join but still
    * advance the watermark (watermarks track ingested event times, not
    * join survivors), which is exactly what seals the windows. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame =
    fileReplay(spark, dir, "stream_enrich") { source =>
      val dim = Tables.customer(source.sparkSession, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      source.toDF()
        .withWatermark("ts", "1 hour")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour"), col("segment"))
        .agg(count(lit(1)).as("n_events"), sum(money(col("value"))).as("sum_value_dec"))
    }
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("segment"),
        col("n_events"),
        exactDouble(col("sum_value_dec")).as("sum_value"))

  /** stream_sessionize — custom per-key state via
    * flatMapGroupsWithState: 30-minute-gap sessions per user, emitted
    * when the event-time timeout seals them. Exactly reproduces the
    * batch sessionization (same oracle as q_sessionize's logic), so
    * the custom-state path is hash-checked, not just smoke-tested.
    *
    * State per user = the open session only (bounded); sessions close
    * either when a later event arrives past the gap or when the
    * watermark passes the gap timeout — the production pattern for
    * sessionization over an unbounded stream.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    fileReplay(spark, dir, "stream_sessionize") { source =>
      source
        .withWatermark("ts", "1 hour")
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sessEmit _)(
          Encoders.product[SessState], Encoders.product[SessOut])
        .toDF()
    }.filter(col("user_id") >= 0)
  }

  /** stream_dedup — exactly-once aggregation over an at-least-once
    * stream: a deterministic subset of events (event_id % 7 = 0) is
    * re-published as byte-identical copies (a self-union of the file
    * source — the redelivery a real broker produces), and
    * `dropDuplicates` keyed on (event_id, event-time) collapses them
    * before the windowed aggregate. Keying the dedup on the
    * WATERMARKED event-time column is what bounds the state store: a
    * key is evicted once the watermark passes its event time — dedup
    * state is delivery-window-sized, never stream-lifetime-sized.
    * Redelivered rows are identical bytes, so the deduped result is
    * independent of arrival order (what makes it hash-checkable).
    * The oracle is the plain batch aggregate over the ORIGINAL events:
    * equality holds only if every duplicate was dropped (DedupSpec
    * asserts the un-deduped count is actually larger). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    fileReplay(spark, dir, "stream_dedup") { source =>
      val redelivered = source.toDF().filter(col("event_id") % 7 === 0)
      source.toDF().unionAll(redelivered)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id", "ts")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(money(col("value"))).as("sum_value_dec"))
    }
      .filter(col("event_type") =!= "sentinel")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"),
        col("n_events"),
        exactDouble(col("sum_value_dec")).as("sum_value"))

  /** stream_stream_join — watermarked stream-stream interval join:
    * click→purchase attribution within one hour, both sides streaming
    * (the streaming twin of q_range_join). The event-time range
    * condition on two watermarked columns is what lets Spark evict
    * join state (a click older than watermark − 1 h can never match
    * again); without it, stream-stream join state grows unboundedly.
    * Inner joins emit on match, so results don't wait on the
    * watermark — the sentinels (filtered out by the event_type
    * predicates) only matter for state cleanup, not output. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    fileReplay(spark, dir, "stream_stream_join") { source =>
      val clicks = source.toDF().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = source.toDF().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    }

  final case class CdcEv(key: Long, name: String, seq: Long, op: String, ts: Timestamp)
  /** Latest op seen for a key: (seq, op, name, max event µs seen). */
  type CdcState = (Long, String, String, Long)
  final case class CdcOut(key: Long, name: String, last_seq: Long, last_op: String)

  /** Deterministic event-time base for the CDC log replay (epoch µs);
    * op at sequence s carries ts = base + s hours. */
  private val cdcBaseUs = 1700000000000000L
  private val cdcSchema = Encoders.product[CdcEv].schema

  /** The CDC log staged with its sentinel row at base + 100 h: the data
    * batch's watermark ends at base + 99 h, past every real key's
    * timeout (newest op + 1 h), so Spark's no-data batch seals them. */
  private def stagedCdc(spark: SparkSession, dir: String): String = stagedCdcLog(dir) {
    writeStaging("graft_stream_cdclog", graft.queries.Incremental.cdcLog(spark, dir)
      .withColumn("ts", timestamp_micros(lit(cdcBaseUs) + col("seq") * lit(3600000000L)))
      .select("key", "name", "seq", "op", "ts")
      .union(spark.createDataFrame(Seq(CdcEv(-1L, "sentinel", -1L, "S",
        new Timestamp(cdcBaseUs / 1000L + 100 * 3600L * 1000L))))))
  }

  private def cdcEmit(key: Long, evs: Iterator[CdcEv],
      state: org.apache.spark.sql.streaming.GroupState[CdcState]): Iterator[CdcOut] = {
    if (!evs.hasNext) { // event-time timeout: the log for this key is sealed
      val out = state.getOption.toList.collect {
        case (seq, op, name, _) if op != "D" => CdcOut(key, name, seq, op)
      }
      state.remove()
      return out.iterator
    }
    var cur = state.getOption
    var maxUs = cur.map(_._4).getOrElse(Long.MinValue)
    evs.foreach { e =>
      val t = evMicros(e.ts)
      if (t > maxUs) maxUs = t
      if (cur.isEmpty || e.seq > cur.get._1) cur = Some((e.seq, e.op, e.name, t))
    }
    cur = cur.map(c => (c._1, c._2, c._3, maxUs))
    state.update(cur.get)
    // seal once the watermark passes one hour past the newest op
    // (ms-granular timeout: round UP so it never fires a µs early)
    state.setTimeoutTimestamp(Math.floorDiv(maxUs + 3600000000L + 999L, 1000L))
    Iterator.empty
  }

  /** stream_cdc — STREAMING change-data-capture apply: the op log
    * (inserts/updates/deletes with sequence numbers — the SAME
    * synthesized log [[graft.queries.Incremental.cdcLog]] that
    * q_cdc_merge applies in batch) arrives as a stream, per-key state
    * holds only the LATEST op (bounded: one tuple per live key, the
    * Delta/Paimon changelog-compaction shape), and a key's final row
    * emits when the event-time timeout seals it — deletes emit
    * nothing. The oracle is q_cdc_merge's batch MERGE SQL verbatim:
    * the streaming apply must land byte-identical to the batch
    * snapshot or the hash gate fails. */
  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    replay(spark, "stream_cdc", cdcSchema)(stagedCdc(_, dir)) { source =>
      source.as(Encoders.product[CdcEv])
        .withWatermark("ts", "1 hour")
        .groupByKey(_.key)(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(cdcEmit _)(
          Encoders.product[CdcState], Encoders.product[CdcOut])
        .toDF().filter(col("key") >= 0)
    }
  }

  /** stream_quality — the streaming INGEST gate of a training-data
    * pipeline: documents are quality-scored AS THEY ARRIVE, with the
    * batch gate's exact projection ([[graft.dedup.Text.qualityCols]] —
    * shared code, not a re-implementation), so batch and stream can
    * never drift. Stateless per-row scoring needs no watermark, no
    * state store, and no sentinel: every micro-batch emits
    * immediately, which is also the 100 TB shape — a scoring stage
    * that keeps NO state scales by adding partitions, full stop.
    * File source → codegen'd projection → file sink; the oracle is the
    * batch text_quality SQL (same columns), so the stream path is
    * hash-checked against the batch semantics. */
  def streamQuality(spark: SparkSession, dir: String): DataFrame =
    replay(spark, "stream_quality",
      StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")) {
      sess => stagedDocs(dir) {
        // the quality battery is compute-dense per row and the file
        // source parallelizes by file (see replayParts)
        writeStaging("graft_stream_docs", Tables.documents(sess, dir)
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
      }
    }(graft.dedup.Text.qualityCols)

  /** stream_cardinality — streaming HLL distinct-user estimate per
    * (1 h window, event_type): the register state
    * ([[graft.dedup.Sketch.hllParts]] — the BATCH sketch's exact code,
    * drift impossible) aggregates under the watermark as
    * `(window, event_type, bucket) → max(rho)` and seals with the
    * windows; the register→sketch-state fold
    * ([[graft.dedup.Sketch.hllSummary]]) runs as a BATCH readout over
    * the sealed sink (streaming allows one aggregation per query — and
    * the readout input is registers-per-window, not events, so the
    * batch step is census-sized at any stream volume). This is how a
    * production pipeline keeps live per-window cardinalities: max(rho)
    * is associative, so state per window is m registers, never the
    * user-id set — the exact-distinct alternative holds every key in
    * state. Oracle replays registers AND fold from the raw events. */
  def streamCardinality(spark: SparkSession, dir: String): DataFrame = {
    val sealedRegs = fileReplay(spark, dir, "stream_cardinality") { source =>
      graft.functions.GraftFunctions.registerAll(source.sparkSession)
      graft.dedup.Sketch.hllParts(
        source.toDF().withColumn("h", expr("md5_p60(CAST(user_id AS STRING))")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("bucket"))
        .agg(max(col("rho")).as("reg"))
    }
    graft.dedup.Sketch.hllSummary(
      sealedRegs.filter(col("event_type") =!= "sentinel")
        .withColumn("wstart", date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")),
      Seq("wstart", "event_type"))
  }

  /** stream_topk — streaming HEAVY-HITTER accounting per (1 h window,
    * event_type): the count-min grid ([[graft.dedup.Sketch
    * .cmsPositions]] — the BATCH sketch's exact hash family, drift
    * impossible) aggregates under the watermark as
    * `(window, event_type, j, pos) → count` and seals with the
    * windows; the probe — exact top-5 users per sealed window,
    * deterministic (count desc, user_id) tie-break — runs as a BATCH
    * readout against the sealed grid, the stream_cardinality pattern
    * (one streaming aggregation per query; the readout input is
    * d×w cells per window, never the event stream). Emits estimate
    * vs exact with the one-sided CMS overcount. State per window =
    * occupied cells ≤ d×w, never the user-id set — the
    * heavy-hitter-accounting production shape. */
  def streamTopk(spark: SparkSession, dir: String): DataFrame = {
    val sealedGrid = fileReplay(spark, dir, "stream_topk") { source =>
      graft.functions.GraftFunctions.registerAll(source.sparkSession)
      graft.dedup.Sketch.cmsPositions(
        source.toDF().withColumn("term", col("user_id").cast("string")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("j"), col("pos"))
        .agg(count(lit(1)).as("c"))
    }
    graft.functions.GraftFunctions.registerAll(spark)
    val grid = sealedGrid.filter(col("event_type") =!= "sentinel")
    val ev = Tables.events(spark, dir)
    val exact = ev
      .groupBy(window(col("ts"), "1 hour").as("window"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window"), col("event_type"))
      .orderBy(col("n_exact").desc, col("user_id"))
    val probes = exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .drop("rk")
    graft.dedup.Sketch.cmsPositions(probes.withColumn("term", col("user_id").cast("string")))
      .join(grid, Seq("window", "event_type", "j", "pos"))
      .groupBy(col("window"), col("event_type"), col("user_id"), col("n_exact"))
      .agg(min(col("c")).as("cms_est"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("user_id"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"))
  }

  /** Per-user gap-detector state: the last WATERMARK-SEALED event
    * (`sealedUs`/`sealedId`, valid iff `hasSealed`) plus the unsealed
    * tail `buf` — events newer than the watermark, which a later
    * micro-batch may still interleave. `buf` is bounded by the
    * watermark delay (1 h of events), never by stream length. */
  final case class GapState(sealedUs: Long, sealedId: Long, hasSealed: Boolean,
      buf: List[(Long, Long)])
  final case class GapOut(user_id: Long, gap_start_us: Long, gap_end_us: Long, gap_s: Long)

  /** Inactivity threshold for [[streamGapDetect]] (24 h — ~p90 of the
    * synthetic per-user event spacing, so the detector fires without
    * flagging everything). */
  private val gapThresholdUs = 86400000000L

  /** Buffer-until-sealed gap emission: gaps are emitted only between
    * consecutive events the WATERMARK has made final. An event with
    * ts < watermark can never arrive anymore (the stateful operator
    * drops late rows), so the sorted prefix of the buffer below the
    * watermark is in its FINAL order — pairs there are safe to emit
    * even when a later micro-batch delivered an earlier (but
    * within-watermark) timestamp, the cross-batch interleaving the
    * round-8 newest-event-only state got wrong. The unsealed tail
    * waits in state; the event-time timeout re-invokes the group as
    * the watermark advances until everything seals. The sealed anchor
    * then PERSISTS (parked on [[QuietAnchorMs]]): it is the lag()
    * cursor, and a returning user always forms a real gap pair with
    * it, so eviction would silently lose cross-batch gaps. The
    * trailing OPEN gap (anchor → nothing yet) never emits, per lag
    * semantics. */
  private[graft] def gapEmit(userId: Long, events: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[GapState]): Iterator[GapOut] =
    gapEmitCore(None)(userId, events, state)

  /** The OPT-IN anchor-TTL variant (round-9 ADVICE: exact lag
    * semantics park one sealed anchor per user forever, so the state
    * store grows with the stream's lifetime distinct-user count). With
    * a TTL, a fully-sealed anchor whose user has been silent longer
    * than `ttlUs` (by event time, judged at its timeout) is EVICTED:
    * state is bounded by users ACTIVE within the TTL window, and the
    * accepted approximation is precisely that a user returning after
    * more than the TTL starts a fresh anchor — the gap pair spanning
    * the quiet period is not emitted. Exact semantics (the gated
    * query) remain the default [[gapEmit]]. */
  private[graft] def gapEmitTtl(ttlUs: Long)(userId: Long, events: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[GapState]): Iterator[GapOut] =
    gapEmitCore(Some(ttlUs))(userId, events, state)

  private def gapEmitCore(anchorTtlUs: Option[Long])(userId: Long, events: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[GapState]): Iterator[GapOut] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val prev = state.getOption.getOrElse(GapState(0L, 0L, hasSealed = false, Nil))
    val buf = (prev.buf ++ events.map(e => (evMicros(e.ts), e.event_id))).sorted
    val (ripe, open) = buf.partition(_._1 < wmUs)
    var out = List.empty[GapOut]
    var last = if (prev.hasSealed) Some((prev.sealedUs, prev.sealedId)) else None
    for ((t, id) <- ripe) {
      last match {
        case Some((lt, lid)) =>
          if (t - lt > gapThresholdUs)
            out ::= GapOut(userId, lt, t, (t - lt) / 1000000L)
          if (t > lt || (t == lt && id > lid)) last = Some((t, id))
        case None => last = Some((t, id))
      }
    }
    val anchorExpired = anchorTtlUs.exists(ttl =>
      open.isEmpty && last.exists(wmUs - _._1 > ttl))
    if (open.isEmpty && state.hasTimedOut && (last.isEmpty || anchorExpired)) {
      // never-sealed with nothing buffered (nothing a future event
      // could pair with — in practice unreachable, kept as a guard),
      // or a TTL-expired sealed anchor (the opt-in approximation)
      state.remove()
    } else {
      state.update(GapState(last.map(_._1).getOrElse(0L), last.map(_._2).getOrElse(0L),
        last.isDefined, open))
      // wake again once the watermark can seal more of the tail. Under
      // EXACT semantics a FULLY-SEALED state must NOT be evicted: the
      // sealed anchor is the lag() cursor, and a user returning after
      // ANY absence longer than the threshold forms a real gap pair
      // with it (the batch lag-window oracle emits that pair no matter
      // how long the quiet period — dropping the anchor on a timeout
      // silently lost exactly those gaps when the return arrived in a
      // later micro-batch). Park it on a far-future timestamp instead
      // of leaving the fired timeout in the state store, which would
      // re-invoke the group every batch forever. With the opt-in TTL
      // the park target is the anchor's expiry instead, so the store
      // sheds quiet users as the watermark passes them.
      val park = (anchorTtlUs, last) match {
        case (Some(ttl), Some((lt, _))) =>
          Math.max(Math.floorDiv(lt + ttl, 1000L) + 1L, state.getCurrentWatermarkMs() + 1000L)
        case _ => QuietAnchorMs
      }
      val target = open.headOption.map(o => Math.max(o._1 + 1000L, wmUs + 2000L))
        .map(t => Math.floorDiv(t + 999L, 1000L))
        .getOrElse(park)
      state.setTimeoutTimestamp(target)
    }
    out.reverse.iterator
  }

  /** Far-future event-time timeout for a fully-sealed gap-detector
    * anchor — "no wakeup": the one-tuple state stays resident (the
    * price of exact lag semantics on an unbounded stream) without the
    * group being re-invoked on every batch. */
  private val QuietAnchorMs = Long.MaxValue / 2

  /** stream_gap_detect — inactivity-gap detection (the
    * missing-heartbeat monitor): per user, emit one row per
    * consecutive-event gap exceeding 24 h, sealed by the WATERMARK
    * (see [[gapEmit]] — pairs emit only once no earlier event can
    * interleave, so delivery across micro-batches in any
    * within-watermark order converges to the same output). State per
    * user = the last sealed event plus at most the watermark delay's
    * worth of unsealed tail — bounded by the 1 h delay, not stream
    * length. The one-tuple sealed anchor persists for the stream's
    * lifetime (lag() needs its cursor — see [[gapEmit]]); only the
    * unsealed tail is transient.
    * The oracle is the batch lag-window over the same events, so the
    * stateful path is hash-checked against exact batch semantics. */
  def streamGapDetect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    fileReplay(spark, dir, "stream_gap_detect") { source =>
      source
        .withWatermark("ts", "1 hour")
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(gapEmit _)(
          Encoders.product[GapState], Encoders.product[GapOut])
        .toDF()
    }.filter(col("user_id") >= 0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_gap_detect"  -> (streamGapDetect _),
    "stream_cdc"         -> (streamCdc _),
    "stream_topk"        -> (streamTopk _),
    "stream_cardinality" -> (streamCardinality _),
    "stream_quality"     -> (streamQuality _),
    "stream_window_agg"  -> (streamWindowAgg _),
    "stream_enrich"      -> (streamEnrich _),
    "stream_sessionize"  -> (streamSessionize _),
    "stream_dedup"       -> (streamDedup _),
    "stream_stream_join" -> (streamStreamJoin _))

  val oracles: Map[String, String] = Map(
    "stream_gap_detect" ->
      s"""WITH g AS (SELECT user_id,
         |    epoch_us(ts) AS t,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events WHERE user_id >= 0)
         |SELECT user_id, prev AS gap_start_us, t AS gap_end_us,
         |  (t - prev) // 1000000 AS gap_s
         |FROM g WHERE t - prev > $gapThresholdUs""".stripMargin,
    // registers AND fold replayed from the raw events — if the stream
    // dropped, duplicated, or mis-sealed a window, a register (and so
    // the integer sketch state) would differ
    "stream_cardinality" -> {
      import graft.dedup.{Md5Bits, Sketch}
      val (fb, fp, m) = (Sketch.FieldBits, Sketch.FieldPow, Sketch.HllM)
      s"""WITH h AS (
         |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w, event_type,
         |    ${Md5Bits.p60Sql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |f AS (SELECT w, event_type, h // $fp AS bucket, h % $fp AS rest FROM h),
         |r AS (SELECT w, event_type, bucket,
         |        CASE WHEN rest = 0 THEN ${fb + 1} ELSE ${fb + 1} - length(bin(rest)) END AS rho
         |      FROM f),
         |regs AS (SELECT w, event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2, 3)
         |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
         |  CAST($m AS INTEGER) AS m, count(*) AS occupied,
         |  (sum((1::BIGINT << (${fb + 1} - reg))) + ($m - count(*)) * (1::BIGINT << ${fb + 1}))::BIGINT AS sum_scaled
         |FROM regs GROUP BY w, event_type""".stripMargin
    },
    // grid AND probe replayed from the raw events with the batch CMS
    // hash family — a dropped/duplicated event or a mis-sealed window
    // shifts a counter and the hash catches it
    "stream_topk" -> {
      import graft.dedup.{Md5Bits, Sketch}
      s"""WITH h AS (
         |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w, event_type,
         |    user_id, CAST(user_id AS VARCHAR) AS term
         |  FROM events),
         |pos AS (
         |  SELECT w, event_type, term, j,
         |    ((${Md5Bits.hi32Sql("term")}) + j * (${Md5Bits.lo32Sql("term")})) % ${Sketch.CmsW} AS pos
         |  FROM h, range(0, ${Sketch.CmsD}) r(j)),
         |grid AS (SELECT w, event_type, j, pos, count(*) AS c FROM pos GROUP BY 1, 2, 3, 4),
         |exact AS (SELECT w, event_type, user_id, term, count(*) AS n_exact
         |          FROM h GROUP BY 1, 2, 3, 4),
         |probes AS (
         |  SELECT w, event_type, user_id, term, n_exact FROM (
         |    SELECT exact.*, row_number() OVER (
         |      PARTITION BY w, event_type ORDER BY n_exact DESC, user_id) AS rk
         |    FROM exact) WHERE rk <= 5),
         |est AS (
         |  SELECT p.w, p.event_type, p.user_id, p.n_exact, min(g.c) AS cms_est
         |  FROM probes p, range(0, ${Sketch.CmsD}) r(j)
         |  JOIN grid g ON g.w = p.w AND g.event_type = p.event_type AND g.j = r.j
         |   AND g.pos = ((${Md5Bits.hi32Sql("p.term")}) + r.j * (${Md5Bits.lo32Sql("p.term")})) % ${Sketch.CmsW}
         |  GROUP BY 1, 2, 3, 4)
         |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS wstart, event_type, user_id,
         |  n_exact, cms_est::BIGINT AS cms_est, (cms_est - n_exact)::BIGINT AS overcount
         |FROM est""".stripMargin
    },
    // the batch gate's oracle verbatim: stream and batch share the
    // projection CODE, so they share the oracle too — drift impossible
    // the streaming CDC apply must land byte-identical to the batch
    // MERGE snapshot — same oracle SQL, so drift between the two
    // apply paths is a hash failure
    "stream_cdc" -> graft.queries.Incremental.oracles("q_cdc_merge"),
    "stream_quality" -> graft.dedup.Text.oracles("text_quality"),
    "stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(25,4)) AS DOUBLE) AS session_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "stream_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(25,4)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_enrich" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(e.ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  c.c_mktsegment AS segment, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DECIMAL(25,4)) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,
    // equality vs the ORIGINAL events is the dedup check: any surviving
    // redelivered copy would inflate a window's n_events
    "stream_dedup" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(25,4)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR""".stripMargin)
}
