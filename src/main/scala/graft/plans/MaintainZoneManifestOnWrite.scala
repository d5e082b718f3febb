package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{FileFormat,
  InsertIntoHadoopFsRelationCommand, V1WriteCommand}

import graft.sources.{ZoneMapFileIndex, ZoneMaps}

/** WRITE-SIDE transparency for prepared tables — the other half of
  * [[ApplyZoneMapIndex]]: a plain SQL `INSERT INTO` (or
  * `df.write.mode("append")` / `insertInto`) against a
  * [[graft.GraftSession.prepareTable]]-registered directory folds the
  * zone-map manifest forward as part of the command itself, so the very
  * next raw-SQL query prunes INCLUDING the new files — no
  * `ZoneMaps.incrementalBuild` call in sight. Without this, only the
  * named maintenance paths kept a prepared table's manifest current, and
  * an in-session append left later scans riding the stale-manifest guard
  * (correct but unpruned). This is the table-format write path one rung
  * below a DSv2 `SupportsWrite`: Delta/Iceberg fold their log forward in
  * the commit; here the fold is the batch-incremental manifest merge
  * ([[graft.sources.ZoneMaps.incrementalBuild]] — reads ONLY the files
  * the standing manifest has not seen, cost ∝ the insert, never the
  * standing table) plus a #files-row rewrite of the persisted manifest
  * when the registration carries one.
  *
  * The rule only wraps FLAT (non-partitioned, non-bucketed) inserts —
  * prepared zone-map directories are flat by construction, and the flat
  * case has no `V1Writes` required ordering, so wrapping commutes with
  * the write-planning batches regardless of rule order. Idempotent: the
  * wrapper is its own node class and the match only fires on a bare
  * [[InsertIntoHadoopFsRelationCommand]]. */
object MaintainZoneManifestOnWrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case i: InsertIntoHadoopFsRelationCommand
        if i.partitionColumns.isEmpty && i.bucketSpec.isEmpty =>
      SparkSession.getActiveSession
        .flatMap(s => ZoneMapFileIndex.registeredForDir(s, i.outputPath.toString))
        .map(reg => MaintainZoneManifestInsert(i, reg))
        .getOrElse(i)
  }
}

/** The wrapped insert: delegate the write verbatim, then — only after it
  * committed — fold the directory's session record forward and rewrite
  * the persisted manifest if the registration names one. A failed
  * write throws out of `run` before the fold, so the manifest never
  * indexes an uncommitted insert.
  *
  * Implements [[V1WriteCommand]] (all members delegated) because the
  * write-planning machinery keys on it structurally: `InsertAdaptiveSparkPlan`
  * keeps the `WriteFilesExec` node ABOVE the adaptive wrapper only for
  * V1 write commands, and `FileFormatWriter.executeWrite` needs it there
  * (a `WriteFilesExec` buried inside an `AdaptiveSparkPlanExec` leaf is
  * invisible to `getWriteFilesOpt` and `execute()`s into the
  * does-not-support-doExecute internal error). */
final case class MaintainZoneManifestInsert(
    delegate: InsertIntoHadoopFsRelationCommand,
    reg: ZoneMapFileIndex.Registration) extends V1WriteCommand {

  override def query: LogicalPlan = delegate.query
  override def outputColumnNames: Seq[String] = delegate.outputColumnNames
  override def fileFormat: FileFormat = delegate.fileFormat
  override def partitionColumns: Seq[Attribute] = delegate.partitionColumns
  override def staticPartitions: Map[String, String] = delegate.staticPartitions
  override def bucketSpec: Option[BucketSpec] = delegate.bucketSpec
  override def options: Map[String, String] = delegate.options
  override def requiredOrdering: Seq[SortOrder] = delegate.requiredOrdering

  override def run(spark: org.apache.spark.sql.classic.SparkSession,
                   child: SparkPlan): Seq[Row] = {
    val res = delegate.run(spark, child)
    // the write is COMMITTED at this point: a fold failure must not make
    // the statement look failed (a caller's retry would duplicate the
    // inserted rows). The stale-manifest guard keeps every later scan
    // correct without the fold — degrade to unpruned, loudly.
    try ZoneMaps.foldManifestForward(spark, reg)
    catch { case scala.util.control.NonFatal(e) =>
      logWarning(s"zone-map manifest fold after INSERT into ${reg.dir} " +
        s"failed — the insert itself committed; pruning is degraded (the " +
        s"stale-manifest guard keeps results correct) until the next " +
        s"maintenance call (ZoneMaps.incrementalBuild / prepareTable): $e")
    }
    res
  }

  override protected def withNewChildInternal(
      newChild: LogicalPlan): MaintainZoneManifestInsert =
    copy(delegate = delegate.copy(query = newChild))
}
