package graft.plans

import org.apache.spark.sql.DataFrame

/** The engine's operator-level stats routing, generalized from d38
  * (`graft.dedup.Dedup.embeddingDupAuto`): a baseline/scale operator pair
  * asks the PLANNER which route is affordable, so the quadratic (or
  * all-pairs, or full-broadcast) exact baseline can only ever run on an
  * input that is PROVABLY small.
  *
  * The rule, shared by every auto operator (d38/d39/d40/s32):
  *   - `optimizedPlan.stats.sizeInBytes` ≤ the conf'd ceiling (default
  *     32 MB): the exact baseline — its superlinear cost is affordable and
  *     exactness is free;
  *   - larger or UNKNOWN: the scale route. An RDD-backed or otherwise
  *     unsizable frame reports the conf'd `defaultSizeInBytes`
  *     (Long.MaxValue), so unknown ALWAYS routes to scale — at 100 TB the
  *     one unacceptable failure is a quadratic path firing on an input the
  *     planner couldn't size.
  * Every auto operator emits a `route` column so the decision is auditable
  * in the result itself (and pinnable by the oracle: at test SF the
  * parquet-backed corpora are provably small, so the routed rows are the
  * exact baseline's verbatim plus the pinned literal).
  *
  * The reference has no optimizer — its one placement heuristic is the
  * static chief-minimum-data guard (`AM/ApplicationMaster.java:987-1008`);
  * this is the Spark-native generalization: route off catalog/scan
  * statistics the session already maintains ([[graft.GraftSession.analyzeForStats]]). */
object StatsRoute {

  val ceilingKey = "spark.graft.route.maxExactBytes"

  /** Planner-visible size of `df` — Long.MaxValue when unknown. */
  def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True iff the plan PROVES the input under the exact-route ceiling. */
  def exactAffordable(df: DataFrame, default: Long = 32L << 20): Boolean =
    planBytes(df) <= BigInt(df.sparkSession.conf.getOption(ceilingKey)
      .map(_.toLong).getOrElse(default))

  /** Scale-route partition count grown from measured bytes — the
    * "cells ∝ corpus" prescription (d38's sizing rule): one cell/bucket
    * per 4 MB of input, clamped to [10, 65536]. */
  def grownCells(df: DataFrame): Int =
    (planBytes(df) / BigInt(4L << 20)).min(BigInt(65536)).max(BigInt(10)).toInt
}
