package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(8)
  val sf: String = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sf)

  /** Every FileSourceScanExec in the FINAL adaptive plan (descending into
    * materialized stages). */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(s.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(fileScans)
  }

  /** The Spark jobs `body` ran: its jobs run under job group `group`,
    * counted once a marker job submitted after them has been observed (the
    * status tracker learns of jobs asynchronously). */
  def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", group)
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty,
      "marker job never observed")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Are `a` and `b` the same manifest rows in any order: the same
    * schema, and per field the same value of the same class? */
  def sameManifest(a: Array[org.apache.spark.sql.Row],
                   b: Array[org.apache.spark.sql.Row]): Boolean = {
    def canon(rs: Array[org.apache.spark.sql.Row]) =
      rs.sortBy(_.getAs[String]("file")).toSeq.map(r => (r.schema,
        r.toSeq.map {
          case null => null
          case bs: Array[Byte] => bs.toSeq
          case v => (v.getClass, v)
        }))
    canon(a) == canon(b)
  }

  /** Runs `df`, then sums the plan's `numFiles` scan metric: the files the
    * query really opened (0 when the optimizer removed every scan). */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    fileScans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  /** Does every file scan of `df` ride the manifest-backed index? */
  def ridesIndex(df: org.apache.spark.sql.DataFrame): Boolean = {
    val scans = fileScans(df.queryExecution.executedPlan)
    scans.nonEmpty && scans.forall(
      _.relation.location.isInstanceOf[graft.sources.ZoneMapFileIndex])
  }

  /** Register `dir` for transparent zone-map pruning on `cols` (blooms on
    * `bloomCols`, which the directory's session record must already
    * serve) and return it. */
  def registered(dir: String, cols: Seq[String],
                 bloomCols: Seq[String] = Nil): String = {
    graft.sources.ZoneMapFileIndex.enable(spark, dir, cols, bloomCols)
    GraftSession.ensureOptimizations(spark)
    dir
  }

  /** The FINAL adaptive plan as a string, with every `== Initial Plan ==`
    * section removed — including NESTED ones: a cached relation embeds its
    * own AdaptiveSparkPlan, so the old `split("== Initial Plan ==")(0)`
    * idiom truncated the OUTER final tree at the inner marker and plan-shape
    * assertions silently stopped seeing the subtree below it (e.g. the
    * broadcast side of a join). Sections are removed by indentation: a
    * marker at indent I owns every following line indented deeper than I. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    val lines = df.queryExecution.executedPlan.toString.split("\n", -1)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    def indentOf(s: String): Int = s.indexWhere(!_.isWhitespace) match {
      case -1 => Int.MaxValue
      case i => i
    }
    var skipDeeperThan = -1 // not skipping
    for (line <- lines) {
      val marker = line.contains("== Initial Plan ==")
      val ind = indentOf(line)
      if (skipDeeperThan >= 0 && ind <= skipDeeperThan && !marker) skipDeeperThan = -1
      if (marker && (skipDeeperThan < 0 || ind <= skipDeeperThan)) skipDeeperThan = ind
      else if (skipDeeperThan < 0) out += line
    }
    out.mkString("\n")
  }
}
