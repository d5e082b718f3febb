package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener

/** Post-execution degeneracy watch for [[RewriteLowCardWindow]]'s bucket
  * scan — a `QueryExecutionListener` the session installs.
  *
  * The rule's bucket function is range-free, so it can degenerate in one
  * case only: a leading order key with a handful of distinct values
  * yields that many buckets, leaving the rewrite correct but no more
  * parallel than the naive window — plus an extra scan's cost. The
  * optimizer cannot see this without column stats, but the EXECUTED plan
  * can: the rewrite's partials aggregate (grouping on `_gsw_bkt`)
  * reports its actual output rows in SQL metrics, and that count IS
  * NDV(partition) × #buckets. When it comes back at-or-below
  * [[warnRowsKey]] (default 4 — so at most a handful of buckets per
  * partition value however the product splits), the degradation gets a
  * `logWarning` naming the cause instead of passing silently.
  *
  * Metrics read AFTER execution are free — this never runs a job. The
  * reference has no analytic engine to compare (ref `doc/README.md`);
  * the pattern follows Spark's own AQE, which reads runtime statistics
  * off finished stages to re-plan.
  */
object ScanWindowWatch extends QueryExecutionListener with Logging {

  val warnRowsKey = "spark.graft.scanWindowRewrite.warnBuckets"

  /** Every physical node, descending through AQE wrappers (adaptive
    * plans re-root under AdaptiveSparkPlanExec / QueryStageExec, which
    * `children` does not traverse). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** The degeneracy findings of one executed query — one message per
    * rewritten window whose partials table resolved to ≤ warnBuckets
    * rows. Pure metric read; safe to call any time after an action. */
  def check(qe: QueryExecution): Seq[String] = {
    // read the conf from the query's OWN session state: the listener bus
    // thread has no active session, so SQLConf.get there would silently
    // fall back to defaults and ignore a user's warnBuckets override
    val conf = try qe.sparkSession.sessionState.conf
    catch { case _: Exception => SQLConf.get }
    val ceiling = try conf.getConfString(warnRowsKey, "4").toLong
    catch { case _: Exception => 4L }
    allNodes(qe.executedPlan).collect {
      // the rewrite's FINAL partials aggregate: grouped on _gsw_bkt,
      // emitting _gsw_ps_* partials (partial-mode twins emit pre-merge
      // counts — requiring the merged output keeps the read exact)
      case agg: BaseAggregateExec
        if agg.groupingExpressions.exists(_.name == "_gsw_bkt") &&
          agg.output.exists(_.name.startsWith("_gsw_ps_")) &&
          agg.aggregateExpressions.forall(ae =>
            ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final ||
            ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete) =>
        agg.metrics.get("numOutputRows").map(_.value)
    }.flatten.filter(rows => rows > 0 && rows <= ceiling).map { rows =>
      s"scan-window rewrite degenerated: the partials table has only $rows " +
        s"row(s) = NDV(partition) x buckets, so the two-level scan is no " +
        s"more parallel than the naive window (the leading ORDER BY key " +
        s"has that few distinct values; put a finer key first)"
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    // the walk is node-count linear with no string rendering — cheap
    // enough to run on every finished query
    check(qe).foreach(logWarning(_))

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
