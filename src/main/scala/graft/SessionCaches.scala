package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Central lifecycle owner for the engine's session-keyed stores: the
  * plan-keyed [[Memo]] (shingle sets, pair frames, indexes, fitted models)
  * and the path-keyed ones (table relations, zone-map manifests).
  *
  * Why it exists: those stores are static maps strong-keyed by
  * `SparkSession`. Release functions exist and well-behaved callers (Bench,
  * specs) invoke them, but a long-lived multi-session JVM that forgets to
  * would leak sessions and cached plans forever. Every [[SessionKeyedCache]]
  * self-registers here, and the first population under a context installs a
  * `SparkListener` whose application-end event drains every entry of that
  * context's sessions — the structural backstop. `release(session)` remains
  * the explicit, deterministic path (e.g. between corpora).
  */
object SessionCaches {
  private val caches = new CopyOnWriteArrayList[SessionKeyedCache[_, _]]()
  private val hookedContexts = ConcurrentHashMap.newKeySet[SparkContext]()

  private[graft] def registerCache(c: SessionKeyedCache[_, _]): Unit = {
    caches.add(c); ()
  }

  /** Idempotently hook `spark`'s context: when the application ends, every
    * cache entry keyed by any of the context's sessions is dropped. */
  private[graft] def hook(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (hookedContexts.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          releaseContext(sc)
      })
  }

  /** Drop every cache entry held for `spark`, running each cache's onDrop
    * (unpersist etc.) on the evicted values. */
  def release(spark: SparkSession): Unit =
    caches.forEach(_.purgeSession(Some(spark), None))

  /** Drop every cache entry whose session runs on `sc`. Called by the
    * application-end listener; onDrop still runs (best-effort — unpersist
    * on a stopping context is a no-op, not an error). */
  def releaseContext(sc: SparkContext): Unit =
    caches.forEach(_.purgeSession(None, Some(sc)))

  /** Total entries held for `spark` across all registered caches. */
  def entriesFor(spark: SparkSession): Int = {
    var n = 0
    caches.forEach(c => n += c.sizeFor(spark))
    n
  }
}

/** A concurrent memo keyed by (session, K) that [[SessionCaches]] can drain
  * by session or by context. `onDrop` runs once per evicted value — the
  * hook for persisted-DataFrame caches to unpersist. */
final class SessionKeyedCache[K, V](onDrop: V => Unit = (_: V) => ()) {
  private val m = new ConcurrentHashMap[(SparkSession, K), V]()
  SessionCaches.registerCache(this)

  def getOrElseUpdate(spark: SparkSession, key: K)(mk: => V): V = {
    SessionCaches.hook(spark)
    m.computeIfAbsent((spark, key), _ => mk)
  }

  /** Insert/replace, returning the previous value (null semantics of the
    * underlying map wrapped as Option). */
  def put(spark: SparkSession, key: K, value: V): Option[V] = {
    SessionCaches.hook(spark)
    Option(m.put((spark, key), value))
  }

  /** Drop the entry only while it still maps to `value`; onDrop is the
    * caller's to run. */
  def remove(spark: SparkSession, key: K, value: V): Boolean =
    m.remove((spark, key), value)

  /** The memoized value if present — a pure read that never populates
    * (the consult path for layers that must not trigger the builder,
    * e.g. transparent pruning peeking at membership memos). */
  def peek(spark: SparkSession, key: K): Option[V] =
    Option(m.get((spark, key)))

  /** Atomically replace the entry of `key` with `f` of it (None reads as
    * absent and drops it); `f` must not block. onDrop does not run — the
    * caller owns the replaced value. */
  def update(spark: SparkSession, key: K)(f: Option[V] => Option[V]): Unit = {
    SessionCaches.hook(spark)
    m.compute((spark, key), (_, v) => f(Option(v)).getOrElse(null.asInstanceOf[V]))
    ()
  }

  def sizeFor(spark: SparkSession): Int = {
    var n = 0
    m.forEach((k, _) => if (k._1 eq spark) n += 1)
    n
  }

  /** Drop entries matching the session (or any session of the context). */
  private[graft] def purgeSession(spark: Option[SparkSession],
                                  sc: Option[SparkContext]): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val hit = spark.exists(_ eq e.getKey._1) ||
        sc.exists(_ eq e.getKey._1.sparkContext)
      if (hit) {
        try onDrop(e.getValue) catch { case NonFatal(_) => () }
        it.remove()
      }
    }
  }
}
