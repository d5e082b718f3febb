package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.ZoneMapFileIndex

/** Swap a prepared table's file listing for the manifest-backed one — the
  * rule that makes zone-map/membership pruning PLANNER-TRANSPARENT: any
  * scan whose single root path is registered via
  * [[graft.sources.ZoneMapFileIndex.enable]] (which
  * [[graft.GraftSession.prepareTable]] calls as part of the ingest recipe)
  * gets its [[org.apache.spark.sql.execution.datasources.FileIndex]]
  * replaced by [[ZoneMapFileIndex]]. The rule itself extracts NO
  * predicates and changes NO semantics: Spark's own scan planning hands
  * the pushed-down data filters to `listFiles` at physical planning, and
  * the index prunes files there (misunderstood filter shapes prune
  * nothing; survivors still run the full predicate). Idempotent — an
  * already-swapped relation is left alone — so it is safe under the
  * optimizer's fixed-point batches, and a raw `spark.table(name)` / SQL
  * text query over the prepared table opens exactly the files
  * `ZoneMaps.pruneFiles` keeps (spec-pinned equal survivor sets). This is
  * the engine's only zone-map read path.
  *
  * This is the round-10 [[RewriteLowCardWindow]] precedent applied to the
  * metadata layer: an engine capability a user had to call by name,
  * promoted to something the planner applies whenever it provably helps. */
object ApplyZoneMapIndex extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lr: LogicalRelation => lr.relation match {
      case hfs: HadoopFsRelation if !hfs.location.isInstanceOf[ZoneMapFileIndex] =>
        ZoneMapFileIndex.registeredFor(hfs.sparkSession, hfs.location) match {
          case Some(reg) =>
            val zm = new ZoneMapFileIndex(
              hfs.sparkSession, hfs.location, reg.dir, reg.zoneCols, reg.bloomCols)
            lr.copy(relation = hfs.copy(location = zm)(hfs.sparkSession))
          case None => lr
        }
      case _ => lr
    }
  }
}
