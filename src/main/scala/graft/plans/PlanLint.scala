package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LeafNode, LogicalPlan, Window => LWindow}

/** Scale-shape lint over optimized plans — the engine's plan gates as a
  * user-callable API.
  *
  * Round 9 ran these three audits over every registered query inside the
  * test suite; this object promotes them to engine capability so a user
  * can lint their OWN queries before a 100 TB run (`PlanLint.lint(df)`)
  * and the suite's full-surface gates dogfood the same code. Each finding
  * names a shape that is fine at test scale and a cluster-wide ceiling at
  * 100×:
  *
  *  - `low-card-window`: a window partitioned by nothing or by a known
  *    3-5-value key whose input is unbounded — everything funnels through
  *    ≤ NDV(partition) reducers. [[RewriteLowCardWindow]] auto-rewrites
  *    the supported shapes; this lint catches the rest (running fp
  *    sums, value-offset RANGE frames, lead) that need a declared
  *    exception.
  *  - `non-equi-join`: a join with no equality conjunct multiplies its
  *    inputs, acceptable only when one side is provably bounded (an
  *    aggregate / tiny leaf — the plan-borne-bound idiom).
  *  - `scala-udf`: a ScalaUDF breaks whole-stage codegen and hides from
  *    every optimizer rule; the engine's extension points are native
  *    codegen Expressions instead.
  */
object PlanLint {

  /** One lint finding: the rule that fired and a plan-located detail. */
  final case class Finding(rule: String, detail: String)

  /** Bounded input for the window lint: an Aggregate reached without
    * crossing a Join, or a join ALL of whose inputs are bounded
    * (histogram ⨯ totals joins) — shared with [[RewriteLowCardWindow]]. */
  def aggregateBounded(p: LogicalPlan): Boolean =
    RewriteLowCardWindow.boundedBelow(p)

  /** Bounded side for the join lint: aggregates, tiny/local leaves, or
    * joins of bounded inputs; `maxRows` covers plan-borne limits. */
  def joinSideBounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case l: LeafNode => l.maxRows.exists(_ <= 10000) ||
      l.getClass.getSimpleName.contains("LocalRelation") ||
      l.getClass.getSimpleName.contains("OneRowRelation")
    case j: Join => j.children.forall(joinSideBounded)
    case other if other.maxRows.exists(_ <= 10000) => true
    case other => other.children.exists(joinSideBounded)
  }

  def lowCardWindows(plan: LogicalPlan): Seq[Finding] =
    plan.collect { case w: LWindow => w }.flatMap { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      val suspect = parts.isEmpty ||
        parts.subsetOf(RewriteLowCardWindow.lowCardKeys)
      // a window the rewrite left naive ONLY because the input is provably
      // below the crossover is scale-safe: the same query over production
      // stats stops being provably small and the rule fires — lint-clean
      if (suspect && !aggregateBounded(w.child) &&
          !RewriteLowCardWindow.smallInputBypassed(w))
        Some(Finding("low-card-window",
          s"window over [${parts.mkString(",")}] with unbounded input"))
      else None
    }

  def unboundedNonEquiJoins(plan: LogicalPlan): Seq[Finding] =
    plan.collect { case j: Join => j }.flatMap { j =>
      // null-safe <=> plans as a shuffled equi join too (the window
      // rewrite's offset joins emit it) — both count as equality conjuncts
      val hasEqui = j.condition.exists(c =>
        c.collectFirst { case _: EqualTo => (); case _: EqualNullSafe => () }
          .nonEmpty)
      if (!hasEqui && !j.children.exists(joinSideBounded))
        Some(Finding("non-equi-join",
          s"${j.joinType} join with no equality and two unbounded sides"))
      else None
    }

  /** A scan of a [[graft.sources.ZoneMapFileIndex.enable]]-registered
    * prepared table whose FileIndex is NOT the manifest-backed one — the
    * transparent-pruning rule ([[ApplyZoneMapIndex]]) silently not firing.
    * At 100 TB this is the difference between a metadata consult and a
    * full file listing+scan of ~10⁵ files the ingest recipe already paid
    * to make skippable. Needs the frame (not just the plan) for the
    * session the registry is keyed by. */
  def unprunedPreparedScans(df: DataFrame): Seq[Finding] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation
          if !hfs.location.isInstanceOf[graft.sources.ZoneMapFileIndex] &&
            graft.sources.ZoneMapFileIndex
              .registeredFor(df.sparkSession, hfs.location).isDefined =>
          Seq(Finding("unpruned-prepared-scan",
            s"scan of prepared dir ${hfs.location.rootPaths.mkString(",")} " +
              "bypasses the zone-map FileIndex"))
        case _ => Nil
      }
    }.flatten
  }

  /** A scan of a registered prepared table whose directory has SERVED
    * STALE at least once (transparent `listFiles` met directory files the
    * manifest did not know and kept them unpruned — correct, but the
    * pruning the ingest recipe paid for is partially off). The per-dir
    * counters ([[graft.sources.ZoneMapFileIndex.staleServesFor]]) make the
    * audit table-scoped instead of the process-global number: lint a query
    * and learn WHICH of its tables needs its manifest folded forward. */
  def staleServedScans(df: DataFrame): Seq[Finding] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation =>
          graft.sources.ZoneMapFileIndex
            .registeredFor(df.sparkSession, hfs.location).toSeq
            .filter(reg =>
              graft.sources.ZoneMapFileIndex.staleServesFor(reg.dir) > 0)
            .map(reg => Finding("stale-served-scan",
              s"prepared dir ${reg.dir} served " +
                s"${graft.sources.ZoneMapFileIndex.staleServesFor(reg.dir)} " +
                "stale scan(s) — fold the manifest forward " +
                "(ZoneMaps.incrementalBuild / prepareTable) to restore pruning"))
        case _ => Nil
      }
    }.flatten
  }

  def scalaUdfs(plan: LogicalPlan): Seq[Finding] = {
    val n = plan.collect { case p =>
      p.expressions.map(e => e.collect { case u: ScalaUDF => u }.size).sum
    }.sum
    if (n > 0) Seq(Finding("scala-udf", s"$n ScalaUDF call(s)")) else Nil
  }

  /** All lints over a frame's optimized plan (what a user calls). */
  def lint(df: DataFrame): Seq[Finding] = {
    val plan = df.queryExecution.optimizedPlan
    lowCardWindows(plan) ++ unboundedNonEquiJoins(plan) ++ scalaUdfs(plan) ++
      unprunedPreparedScans(df) ++ staleServedScans(df)
  }
}
