package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.streaming.Streaming
import graft.util.Memo

/** The replay protocol of [[Streaming]]: every watermarked replay is one
  * data micro-batch (events and the staged sentinel together) plus
  * Spark's no-data emission batch, over a staging dir that no replay
  * writes to. */
class StreamingReplaySpec extends SparkSpec {

  private val replays = Seq("stream_window_agg", "stream_sessionize", "stream_cdc")

  /** Distinct micro-batch ids per streaming query run while `body`
    * runs, read from the jobs' `spark.job.description`, which
    * Structured Streaming sets to "…runId = <uuid>\nbatch = <id>". */
  private def batchesPerRun(body: => Unit): Map[String, Set[Long]] = {
    val Desc = """(?s).*runId = (\S+)\s+batch = (\d+).*""".r
    val seen = mutable.Map.empty[String, Set[Long]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach {
            case Desc(run, batch) =>
              seen.synchronized(seen(run) = seen.getOrElse(run, Set.empty) + batch.toLong)
            case _ =>
          }
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; SpecBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    seen.synchronized(seen.toMap)
  }

  /** Every file under the memoized staging dirs, with its file key and
    * modification time, so a file deleted and written again under the
    * same name still shows as a change. */
  private def stagingListing(): Map[String, String] = {
    val roots = Memo.registered.filter(_.owner eq Streaming).flatMap(_.values)
      .collect { case d: String => Paths.get(d) }
    assert(roots.nonEmpty, "no staging dir is memoized")
    roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        f.toString -> s"${a.fileKey} ${a.lastModifiedTime.toMillis} ${a.size}"
      }.toList
      finally walk.close()
    }.toMap
  }

  test("a watermarked replay runs two micro-batches over a write-once staging dir") {
    Streaming.resetStaging()
    def runAll(): Unit = replays.foreach(k => assert(Streaming.queries(k)(spark, sf).count() > 0, k))
    runAll() // builds the staging dirs
    val staged = stagingListing()
    val perReplay = replays.map(k => k -> batchesPerRun(Streaming.queries(k)(spark, sf).count()))
    runAll()
    perReplay.foreach { case (k, runs) =>
      assert(runs.size == 1, s"$k: expected one streaming run, saw ${runs.keySet}")
      assert(runs.values.head.size == 2, s"$k ran micro-batches ${runs.values.head.toSeq.sorted}")
    }
    val after = stagingListing()
    val changed = (staged.keySet ++ after.keySet).filter(f => staged.get(f) != after.get(f))
    assert(changed.isEmpty, s"a replay changed its staging dir: ${changed.toSeq.sorted.mkString(", ")}")
  }
}
