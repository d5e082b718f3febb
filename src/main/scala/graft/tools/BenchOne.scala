package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Bench, GraftSession, SessionCaches, SparkEntry}

/** Replicates graft.Bench's harness (session conf, warmup, count() action)
  * for an explicit list of queries — for isolating per-query regressions.
  * Each query runs `$SPARK_GRAFT_REPS` times (default 1), every rep cold:
  * the session's memos are released and Spark's cache cleared before it.
  * Usage: BenchOne <sfDir> <query> [query...]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup pinned to q01_agg, exactly as graft.Bench does (Map iteration
    // order is arbitrary — headOption would make the warmup nondeterministic)
    try SparkEntry.queries("q01_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // the _shared_* pseudo entries resolve from graft.Bench's list, so a
    // shared materialization can be timed (and warmed) in isolation here
    def run(name: String): Long = Bench.sharedBuilds.get(name) match {
      case Some(build) => build(spark, sfDir)
      case None => SparkEntry.queries(name)(spark, sfDir).count()
    }
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt)
    for (name <- args.drop(1); rep <- 1 to reps) {
      SessionCaches.release(spark)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = run(name)
      println(f"$name%s rep$rep%d n=$n%d ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
