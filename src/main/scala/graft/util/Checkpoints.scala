package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle helper for `localCheckpoint`ed DataFrames. Spark never
  * frees the RDD blocks behind a local checkpoint on its own, so
  * whoever makes one frees it: [[Fixpoint]] its round frames, [[Memo]]
  * its shared frames, a query the checkpoints it owns.
  */
object Checkpoints {

  /** `localCheckpoint` with SERIALIZED storage. The default
    * (deserialized MEMORY_AND_DISK) caches the physical UnsafeRows
    * as-is, and rows produced by a sort/join stage point INTO their
    * task's shared 8 MB page — caching even a 31k-row edge frame
    * pinned 32 pages ≈ 256 MB of heap (measured: er_confirmed_merges'
    * machine-edge checkpoint held 262 MB for ~0.5 MB of data).
    * Serialized storage copies rows into compact buffers instead, at
    * the cost of a deserialization on each read — the right trade for
    * the SMALL frames the fixpoint loops and memo extracts checkpoint
    * (loop states, edge lists, result frames), which are written once
    * and read a handful of times. Every SPARQL checkpoint goes through
    * here too, including the pruned stores that each pattern site of a
    * query re-reads; whether deserialized storage would serve those
    * better is unmeasured. */
  def compact(df: DataFrame, eager: Boolean): DataFrame =
    df.localCheckpoint(eager,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** RDD ids whose checkpoint blocks are owned by a MEMO (e.g.
    * [[graft.kg.Rdf]]'s rendered-lines cache): a consumer following
    * the freeAll-after-draining convention must not free them through
    * a derived plan, or the next memo hit returns a frame over dead
    * blocks (round-10 ADVICE). Pinning is advisory ownership — the
    * owner unpins (and frees) in its own reset hook. */
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private def rootRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _              => None
    }

  /** Mark a bare checkpoint root as memo-owned: [[free]]/[[freeAll]]
    * skip it until [[unpin]]. */
  def pin(df: DataFrame): Unit = rootRdd(df).foreach(r => pinned.add(r.id))

  /** Release memo ownership (does NOT unpersist — the owner's reset
    * hook decides that). */
  def unpin(df: DataFrame): Unit = rootRdd(df).foreach(r => pinned.remove(r.id))

  /** Unpersist the blocks behind a DataFrame returned by
    * `localCheckpoint`. Intentionally a no-op for anything that is not
    * a bare checkpoint root (a derived plan may share `LogicalRDD`
    * leaves — e.g. a still-live upstream checkpoint — that must not be
    * freed from under other consumers). */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD if !pinned.contains(lr.rdd.id) =>
      lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Unpersist EVERY checkpoint block a frame's plan reads — for
    * freeing a consumed result whose plan the caller wholly owns
    * (e.g. `closure(...)` returns a projection over its final
    * checkpoint). Unsafe if the plan shares a checkpoint with another
    * still-live frame — use [[free]] for those. Memo-[[pin]]ned
    * leaves are skipped: their lifetime belongs to the memo owner. */
  def freeAll(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD if !pinned.contains(lr.rdd.id) =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
