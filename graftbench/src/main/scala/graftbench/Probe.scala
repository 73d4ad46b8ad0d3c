package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative listener counters; a phase's figures are the difference
  * of two snapshots taken at its boundaries. Byte fields are bytes,
  * time fields milliseconds. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    input: Long = 0, output: Long = 0, blockWrite: Long = 0, busyMs: Long = 0,
    catalystMs: Long = 0, batches: Long = 0, rowsIn: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
    input - o.input, output - o.output, blockWrite - o.blockWrite, busyMs - o.busyMs,
    catalystMs - o.catalystMs, batches - o.batches, rowsIn - o.rowsIn)
}

/** A node of the trace tree: run → op/pass → {sweep, construct, action}
  * → job → stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startMs: Double, endMs: Double)

/** Everything the traced run measures from outside the engine: a Spark
  * listener (jobs, stages, tasks, block writes), a query-execution
  * listener (Catalyst phase times of every SQL execution) and the
  * streaming progress events on the listener bus (micro-batches). Spans
  * are kept in memory and written out when the run ends. */
final class Probe(spark: SparkSession) {
  private var c = Counters()
  private var active = 0
  private var busySince = 0L
  private val spans = ArrayBuffer.empty[Span]
  private val openJobs = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Long]
  private val batchMs = ArrayBuffer.empty[Long]
  private var nextId = 1L
  @volatile private var phase: (Long, String) = (0L, "")

  private def newId(): Long = synchronized { nextId += 1; nextId }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      c = c.copy(jobs = c.jobs + 1)
      if (active == 0) busySince = e.time
      active += 1
      val id = newId()
      val (parent, op) = phase
      openJobs(e.jobId) = id
      e.stageIds.foreach(stageJob(_) = id)
      spans += Span(id, parent, s"job ${e.jobId}", op, e.time.toDouble, Double.NaN)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      active -= 1
      if (active == 0) c = c.copy(busyMs = c.busyMs + (e.time - busySince))
      openJobs.remove(e.jobId).foreach { id =>
        val i = spans.lastIndexWhere(_.id == id)
        if (i >= 0) spans(i) = spans(i).copy(endMs = e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      c = c.copy(stages = c.stages + 1)
      val info = e.stageInfo
      for (start <- info.submissionTime; end <- info.completionTime) {
        val parent = stageJob.getOrElse(info.stageId, phase._1)
        spans += Span(newId(), parent, s"stage ${info.stageId}", phase._2, start.toDouble, end.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
        tasks = c.tasks + 1,
        taskMs = c.taskMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.diskBytesSpilled,
        input = c.input + m.inputMetrics.bytesRead,
        output = c.output + m.outputMetrics.bytesWritten)
    }
    // Streaming progress arrives here rather than through a
    // StreamingQueryListener: the engine runs each replay on a session of
    // its own, whose listeners this harness cannot reach.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => Probe.this.synchronized {
        c = c.copy(batches = c.batches + 1, rowsIn = c.rowsIn + p.progress.numInputRows)
        batchMs += p.progress.batchDuration
      }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Probe.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        c = c.copy(blockWrite = c.blockWrite + b.memSize + b.diskSize)
    }
  }

  private val catalystListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      val ms = qe.tracker.phases.collect {
        case (p, s) if Set("analysis", "optimization", "planning")(p) => s.durationMs
      }.sum
      c = c.copy(catalystMs = c.catalystMs + ms)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(catalystListener)

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    GraftbenchBus.drain(spark.sparkContext)
    synchronized {
      if (active > 0) c.copy(busyMs = c.busyMs + (System.currentTimeMillis() - busySince)) else c
    }
  }

  /** Opens a span of the benchmark's own; jobs started meanwhile become
    * its children. Returns the id to pass to [[close]]. */
  def open(parent: Long, name: String, op: String): Long = {
    val id = newId()
    synchronized { spans += Span(id, parent, name, op, Clock.epochMs(), Double.NaN) }
    phase = (id, op)
    id
  }

  def close(id: Long, parentAfter: Long, opAfter: String): Unit = {
    GraftbenchBus.drain(spark.sparkContext)
    val end = Clock.epochMs()
    synchronized {
      val i = spans.lastIndexWhere(_.id == id)
      spans(i) = spans(i).copy(endMs = end)
    }
    phase = (parentAfter, opAfter)
  }

  def batchDurationsMs: Seq[Long] = synchronized(batchMs.toList)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(catalystListener)
  }
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * scale as Spark's listener event times. */
  def epochMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6
}
