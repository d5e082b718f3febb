package graft

import graft.sources.ZoneMapFileIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import scala.annotation.tailrec
import scala.util.Try

/** The engine's plan-keyed session memo: shingle sets, pair frames, ANN
  * indexes and fitted models are built once per (session, input) and
  * reused by every later consumer.
  *
  * The key is (session, name, the input's canonicalized analyzed plan,
  * params). Equality of canonicalized plans is Catalyst's `sameResult`, so
  * two inputs that merely share a `semanticHash` never share an entry.
  * Each entry also records the files under the input's file-source leaves
  * (path, size, mtime, from each index's existing listing): a re-read of a
  * directory that gained or changed files keys the same plan, so a lookup
  * whose listing differs unpersists the stale entry and rebuilds.
  *
  * Builds run outside the map call, so a build may consult another memo,
  * and a build that throws leaves no entry. Entries drain with the other
  * session stores through [[SessionCaches]]; [[release]] drops only these.
  */
object Memo {
  private type Listing = Set[(String, Long, Long)]

  private final case class Key(name: String, plan: LogicalPlan, params: Seq[Any])

  /** A once-only build, forced outside the map's own update. */
  private final class Entry(val listing: Listing, build: () => AnyRef,
                            onDrop: AnyRef => Unit) {
    @volatile private var result: Try[AnyRef] = _
    def get: AnyRef = {
      if (result == null) synchronized { if (result == null) result = Try(build()) }
      result.get
    }
    def drop(): Unit = if (result != null) result.foreach(onDrop)
  }

  private val entries = new SessionKeyedCache[Key, Entry](_.drop())

  /** `build`'s frame, persisted once per key; eviction unpersists it. */
  def frame(name: String, input: DataFrame, params: Any*)(build: => DataFrame): DataFrame =
    lookup(name, input, params, () => build.persist(),
      _.asInstanceOf[DataFrame].unpersist(blocking = false)).asInstanceOf[DataFrame]

  /** `build`'s value kept as is (fitted models, selections, checkpointed
    * frames). */
  def value[V](name: String, input: DataFrame, params: Any*)(build: => V): V =
    lookup(name, input, params, () => build.asInstanceOf[AnyRef], _ => ()).asInstanceOf[V]

  /** Drop (and unpersist) every memo entry of `spark`, leaving the
    * path-keyed stores alone: the reset specs use to force a rebuild.
    * [[SessionCaches.release]] drops everything of a session. */
  private[graft] def release(spark: SparkSession): Unit = entries.purgeSession(Some(spark), None)

  private def lookup(name: String, input: DataFrame, params: Seq[Any],
                     build: () => AnyRef, onDrop: AnyRef => Unit): AnyRef = {
    val spark = input.sparkSession
    val plan = input.queryExecution.analyzed
    val key = Key(name, plan.canonicalized, params)
    val entry = current(spark, key, listing(plan), build, onDrop)
    try entry.get
    catch { case e: Throwable => entries.remove(spark, key, entry); throw e }
  }

  @tailrec private def current(spark: SparkSession, key: Key, files: Listing,
                               build: () => AnyRef, onDrop: AnyRef => Unit): Entry = {
    val e = entries.getOrElseUpdate(spark, key)(new Entry(files, build, onDrop))
    if (e.listing == files) e
    else {
      if (entries.remove(spark, key, e)) e.drop()
      current(spark, key, files, build, onDrop)
    }
  }

  private def listing(plan: LogicalPlan): Listing =
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .flatMap {
        case r: HadoopFsRelation => files(r.location)
        case _ => Nil
      }.toSet

  private def files(index: FileIndex): Seq[(String, Long, Long)] = index match {
    case i: PartitioningAwareFileIndex =>
      i.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    case z: ZoneMapFileIndex => files(z.underlying)
    case _ => Nil
  }
}
