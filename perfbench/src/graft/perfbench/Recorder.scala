package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call totals of what Spark reported for the jobs of one job group. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
    stageSpans ++= o.stageSpans; jobSpans ++= o.jobSpans
  }
  /** [submitted, completed] wall-clock intervals of the group's stages. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (name, start, end) of every job, for the span tree. */
  val jobSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
}

/** One planned query seen by the query-execution listener. */
final case class QueryRecord(startMs: Long, analysisMs: Long, optimizerMs: Long,
                             planningMs: Long, filesRead: Long, filesTotal: Long)

/** Traced-run recorder: a Spark listener scoped by job group plus a
  * query-execution listener for `QueryExecution.tracker` phases and file
  * scan counts. Every timed call runs under its own job group, so the
  * scheduler events fold into that call; a query record folds into the
  * call whose wall-clock window holds its analysis start (calls are issued
  * one at a time). Lives only in the benchmark; the engine is unchanged. */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val queries = mutable.ArrayBuffer.empty[QueryRecord]

  def stats(group: String): GroupStats = synchronized(groups.getOrElse(group, new GroupStats))
  def queryRecords: Seq[QueryRecord] = synchronized(queries.toList)

  private def g(group: String) = groups.getOrElseUpdate(group, new GroupStats)

  /** Start times of jobs submitted outside every call's group: a streaming
    * query's micro-batches run on the stream's own thread, under the
    * query's own job group (its run id). They fold into the call whose
    * window holds their start. */
  private val foreign = mutable.ArrayBuffer.empty[(Long, String)]

  def foreignIn(startMs: Long, endMs: Long): Seq[GroupStats] = synchronized {
    foreign.collect { case (t, g) if t >= startMs && t <= endMs => groups(g) }.toList
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(Recorder.isCallGroup).getOrElse {
        val g = s"@job${e.jobId}"
        foreign += ((e.time, g))
        g
      }
    jobGroup(e.jobId) = group
    jobStart(e.jobId) = e.time
    g(group).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { group =>
      val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
      g(group).jobSpans += ((s"job ${e.jobId}", t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { group =>
      val s = g(group)
      s.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime) s.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { group =>
      val s = g(group)
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        val info = e.taskInfo
        // the UI's scheduler delay: task duration not spent deserializing,
        // running, serializing the result or fetching it
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val scans: Seq[FileSourceScanExec] = try {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    } catch { case _: Throwable => Nil }
    def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val read = scans.map(metric(_, "numFiles")).sum
    val total = scans.map(s => try s.relation.location.inputFiles.length.toLong
      catch { case _: Throwable => 0L }).sum
    val rec = QueryRecord(start, ms("analysis"), ms("optimization"), ms("planning"),
      read, total)
    synchronized(queries += rec)
  }
}

object Recorder {
  private val CallPrefix = "perfbench-call-"

  /** The job group of the `seq`-th timed call. */
  def callGroup(seq: Int): String = f"$CallPrefix$seq%05d"

  def isCallGroup(group: String): Boolean = group.startsWith(CallPrefix)
}
