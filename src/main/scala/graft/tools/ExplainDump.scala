package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Write `.explain("formatted")` for named queries to files — the
  * plan-evidence artifact the optimization rounds commit
  * (`plans/r15/<query>_<tag>.txt`) — and print each query's hash
  * exchanges, broadcast exchanges and sort-merge joins, the quickest
  * audit of its scale shape. The counts read the physical plan before
  * execution (AQE may still turn a sort-merge join into a broadcast).
  * Usage:
  *   ExplainDump <sfDir> <outDir> <tag> <queryName> [queryName...]
  * Pass `all` as the single query name to dump every registered query.
  *
  * `SPARK_GRAFT_EXPLAIN_CONF="k=v;k=v"` sets session conf before any
  * query is built. Size-routed operators pick their route from the input
  * size, so over a small input this dumps the small route; to dump the
  * scale route without a big corpus, set
  * `SPARK_GRAFT_EXPLAIN_CONF=spark.graft.scanWindowRewrite.minChildBytes=0`
  * (the window rewrite then takes its two-level form over any non-empty
  * input).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val tag = args(2)
    val names =
      if (args.length == 4 && args(3) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ => ()
      }
    })
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          formatted.getBytes(StandardCharsets.UTF_8))
        val p = df.queryExecution.executedPlan.toString
        def n(node: String) = node.r.findAllIn(p).size
        println(s"wrote $name: ${n("Exchange hashpartitioning")} hash " +
          s"exchanges, ${n("BroadcastExchange")} broadcast exchanges, " +
          s"${n("SortMergeJoin")} sort-merge joins")
      } catch { case e: Throwable => System.err.println(s"SKIP $name: $e") }
    }
    spark.stop()
  }
}
