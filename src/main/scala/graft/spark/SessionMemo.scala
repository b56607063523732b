package graft.spark

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Session-scoped memo for expensive artifacts an operator family
  * builds once per (session, corpus) and reuses across queries — the
  * persisted signature/token/statistics indexes, component labels,
  * checkpointed word tables, and on-disk index segments.
  *
  * Every memo self-registers, so [[SessionMemo.evictAll]] can drop a
  * session's entries across ALL families and run each value's release
  * action (unpersist / checkpoint-release / scratch-dir wipe). The
  * harness never needs this — its sessions die with the JVM — but a
  * long-lived multi-tenant service would otherwise accumulate one
  * index set per session forever; eviction is its session-teardown
  * hook. Entries are keyed by the session itself, which compares by
  * reference (an identity hash is not unique among live objects, so
  * two sessions keyed by it could serve each other's entries): eviction
  * of one session never touches another's entries.
  *
  * Concurrency: TrieMap.getOrElseUpdate may race two builders for the
  * same key (last write wins, both values valid — the pre-existing
  * behavior of every call site this replaces); evict-vs-build races
  * can strand one freshly-built value's storage until the next evict,
  * which is the same bound the caller had without eviction at all. */
final class SessionMemo[K, V](val name: String)(release: V => Unit) {
  private val map = TrieMap.empty[(SparkSession, K), V]
  SessionMemo.registry.add(this)

  def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V =
    map.getOrElseUpdate((spark, key), build)

  /** Entries currently held (all sessions) — spec observability. */
  def size: Int = map.size

  private[spark] def evict(spark: SparkSession): Int = {
    val ks = map.keys.filter(_._1 == spark).toList
    ks.count(k => map.remove(k).exists { v => release(v); true })
  }
}

object SessionMemo {
  private val registry =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SessionMemo[_, _]]()

  /** Drop every memoized artifact belonging to `spark` across all
    * operator families, releasing each one's storage. Returns the
    * number of entries evicted. */
  def evictAll(spark: SparkSession): Int =
    registry.asScala.toSeq.map(_.evict(spark)).sum
}
