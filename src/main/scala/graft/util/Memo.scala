package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** One memoized cache of expensive intermediate results (a component
  * map, an edge set, a staged dir, a bucketed table), owned by the
  * object that declares it. `release` frees what one entry holds;
  * [[reset]] drops every entry and releases it, so the next call
  * rebuilds. Every memo registers with the companion at construction:
  * [[Memo.resetAll]] clears all of them (Bench's sweep before every
  * cold measurement), [[Memo.reset]] those of one owner.
  *
  * Each cache is its own map: a build may call ANOTHER memo (the
  * component map reads the match-edge memo, the dedup stores read the
  * shingle memo), and a nested `computeIfAbsent` on one shared
  * `ConcurrentHashMap` throws `Recursive update`. */
final class Memo[K, V] private (val owner: AnyRef, seal: V => V, release: (K, V) => Unit) {
  private val entries = new java.util.concurrent.ConcurrentHashMap[K, V]()

  /** The value memoized under `key`, built on first use. A build that
    * throws stores nothing (the next call builds again). */
  def apply(key: K)(build: => V): V = entries.computeIfAbsent(key, _ => seal(build))

  /** Drop every entry and release what it holds. */
  def reset(): Unit = entries.keySet.forEach { k =>
    val v = entries.remove(k)
    if (v != null) release(k, v)
  }

  /** The live entries' values (for reclaim specs). */
  private[graft] def values: Seq[V] = entries.values.asScala.toSeq
}

object Memo {
  private val all = new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]()

  private def register[K, V](m: Memo[K, V]): Memo[K, V] = { all.add(m); m }

  /** A memo whose entries are freed by `release`. */
  def apply[K, V](owner: AnyRef)(release: (K, V) => Unit): Memo[K, V] =
    register(new Memo(owner, identity[V], release))

  /** The common frame memo: each built frame is stored as an EAGER
    * compact checkpoint ([[Checkpoints.compact]]) and [[Checkpoints.pin]]ned,
    * so a consumer's free()/freeAll() never reaps memo-owned blocks;
    * release unpins and frees it. Eager means the build runs in full on
    * the first call, even for a caller that only plans a query. */
  def frames[K](owner: AnyRef): Memo[K, DataFrame] =
    register(new Memo[K, DataFrame](owner,
      df => { val cp = Checkpoints.compact(df, eager = true); Checkpoints.pin(cp); cp },
      (_, cp) => { Checkpoints.unpin(cp); Checkpoints.free(cp) }))

  /** Reset every memo `owner` declared. */
  def reset(owner: AnyRef): Unit = all.forEach(m => if (m.owner eq owner) m.reset())

  /** Reset every memo of every owner. */
  def resetAll(): Unit = all.forEach(_.reset())

  /** Every registered memo (for reclaim specs). */
  private[graft] def registered: Seq[Memo[_, _]] = all.asScala.toSeq
}
