package graft.perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SessionCaches, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.similarity.Knn

/** The engine side of the benchmark: one workload in one engine process.
  *
  * `run.py` launches it once per run with the generated inputs; it sets up
  * the session several times, issues the workload's calls (see
  * [[Workloads]]) in a closed loop (one call at a time) for a fixed number
  * of passes, checks every call's result outside the timed region and
  * writes one JSON record of raw samples, which `run.py` folds into metrics.
  *
  * Each timed call fully materializes its result (`collect`, or `count` of
  * a persisted memo frame) — never a bare `count()` of a plan, which lets
  * the optimizer prune the projection away. */
object Main {

  /** What a timed call hands back for checking outside the timed region. */
  sealed trait Outcome
  final case class Rows(schema: StructType, rows: Array[Row]) extends Outcome
  /** A persisted memo frame already materialized by the call (`n` rows). */
  final case class Built(df: DataFrame, n: Long) extends Outcome
  /** A call whose answer is one number (the recorder's probe job). */
  final case class Value(n: Long) extends Outcome
  /** A write: checked by the footer row counts of the parquet files the
    * call added under its `Call.writesUnder` directory. */
  case object Wrote extends Outcome

  /** Cores of the engine's `local[n]` master, and its shuffle partitions. */
  val Cores = 4
  /** Session set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** `rounds`: how many times a measured pass issues its calls after its
    * builds; `warmup`: pass 0 is a warm-up, which issues them once. */
  final case class Opts(workload: String, inputs: String, work: String,
                        out: String, expected: Option[String], passes: Int,
                        rounds: Int, warmup: Boolean,
                        trace: Boolean, pin: Option[String], selftest: Boolean,
                        only: Option[Set[String]])

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Non-hidden parquet files under `root`: what a reader of it sees. */
  private def parquetFiles(root: File): Seq[File] =
    Option(root.listFiles).getOrElse(Array.empty[File]).toSeq
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }

  /** Row count of parquet files, read from their footers. */
  private def footerRows(files: Seq[File]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  // ---- session --------------------------------------------------------------

  def newSession(o: Opts): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[$Cores]").appName(s"perfbench-${o.workload}"), Cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${o.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.ensureOptimizations(s)
    s
  }

  /** Resolve every table and run one query, so lazy set-up is paid here. */
  def warm(s: SparkSession, dir: String): Unit = {
    val t = Tables(s, dir)
    Tables.names.foreach(n => t.table(n).schema)
    t.registerViews()
    SparkEntry.queries("q01_agg")(s, dir).collect()
  }

  // ---- runner ---------------------------------------------------------------

  final case class Sample(pass: Int, seq: Int, call: Call, startMs: Long, sec: Double,
                          ok: Boolean, check: String, rows: Long, hash: String,
                          trace: Option[Map[String, Any]])

  final class Runner(o: Opts, expected: Map[String, (Long, String)]) {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val pinned = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var recorder: Option[Recorder] = None
    private var seq = 0

    /** Fingerprint and compare one outcome. `full` = hash the rows too;
      * `before` = the parquet files under the call's write directory
      * before the call. */
    private def check(call: Call, out: Outcome, full: Boolean,
                      before: Set[String]): (Boolean, String, Long, String) = {
      val fp = out match {
        case Wrote => ResultHash.Fingerprint(footerRows(
          parquetFiles(call.writesUnder.get).filterNot(f => before(f.getPath))), "")
        case Rows(schema, rows) => ResultHash.of(schema, rows)
        case Built(df, n) =>
          if (full) ResultHash.of(df.schema, df.collect()) else ResultHash.Fingerprint(n, "")
        case Value(n) => ResultHash.Fingerprint(n, "")
      }
      if (o.pin.isDefined && !pinned.contains(call.name))
        pinned(call.name) = Map("rows" -> fp.rows, "hash" -> fp.hash)
      expected.get(call.name) match {
        case None => (o.pin.isDefined, "unchecked", fp.rows, fp.hash)
        case Some((rows, hash)) =>
          val rowsOk = rows == fp.rows
          val hashOk = hash.isEmpty || fp.hash.isEmpty || hash == fp.hash
          (rowsOk && hashOk, if (!rowsOk) "rows" else if (!hashOk) "hash" else "ok",
            fp.rows, fp.hash)
      }
    }

    def run(s: SparkSession, pass: Int, call: Call): Unit = {
      seq += 1
      val group = Recorder.callGroup(seq)
      val sc = s.sparkContext
      sc.setJobGroup(group, call.name, interruptOnCancel = false)
      val memoBefore = if (recorder.isDefined) SessionCaches.entriesFor(s) else 0
      val before = call.writesUnder.map(parquetFiles(_).map(_.getPath).toSet)
        .getOrElse(Set.empty[String])
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = try Right(call.body(s)) catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      val trackerJobs = sc.statusTracker.getJobIdsForGroup(group).length
      val memoAfter = if (recorder.isDefined) SessionCaches.entriesFor(s) else 0
      val (ok, what, rows, hash) = result match {
        case Right(out) =>
          try check(call, out, full = pass == 0, before)
          catch { case e: Throwable => (false, s"check: $e", -1L, "") }
        case Left(e) =>
          System.err.println(s"perfbench: ${call.name} failed: $e")
          (false, s"error: ${e.toString.take(200)}", -1L, "")
      }
      val trace = recorder.map(_ => Map[String, Any](
        "group" -> group, "end_ms" -> endMs, "tracker_jobs" -> trackerJobs,
        "memo_before" -> memoBefore, "memo_after" -> memoAfter))
      samples += Sample(pass, seq, call, startMs, sec, ok, what, rows, hash, trace)
    }
  }

  // ---- traced-run folding ---------------------------------------------------

  /** Length of the union of [a, b] intervals. */
  def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Fold recorder state into each traced sample and emit its span tree. */
  def foldTrace(s: SparkSession, runner: Runner, rec: Recorder): Seq[Sample] = {
    org.apache.spark.perfbench.Bus.drain(s.sparkContext)
    val queries = rec.queryRecords
    runner.samples.toSeq.map { smp =>
      val t = smp.trace.get
      val group = t("group").toString
      val endMs = t("end_ms").asInstanceOf[Long]
      val st = new GroupStats
      st.add(rec.stats(group))
      rec.foreignIn(smp.startMs, endMs).foreach(st.add)
      val qs = queries.filter(q => q.startMs >= smp.startMs && q.startMs <= endMs)
      val wallMs = smp.sec * 1000.0
      val critical = covered(st.stageSpans.toSeq)
      val avgDelay = if (st.tasks > 0) st.schedDelayMs.toDouble / st.tasks else 0.0
      // time not covered by any running stage, plus the mean per-task
      // scheduler delay once per stage (the delay before a stage's tasks run)
      val dispatchMs = math.max(0.0, wallMs - critical) + avgDelay * st.stages
      val name = smp.call.name
      runner.spans += ListMap("span" -> name, "call" -> smp.seq, "parent" -> None,
        "layer" -> smp.call.layer, "start_ms" -> smp.startMs, "end_ms" -> endMs)
      st.jobSpans.foreach { case (job, a, b) =>
        runner.spans += ListMap("span" -> job, "call" -> smp.seq, "parent" -> name,
          "layer" -> "runtime", "start_ms" -> a, "end_ms" -> b)
      }
      qs.foreach { q =>
        runner.spans += ListMap("span" -> "plan", "call" -> smp.seq, "parent" -> name,
          "layer" -> "plans", "start_ms" -> q.startMs, "analysis_ms" -> q.analysisMs,
          "optimizer_ms" -> q.optimizerMs, "planning_ms" -> q.planningMs)
      }
      smp.copy(trace = Some(t ++ Map(
        "jobs" -> st.jobs, "group_jobs" -> rec.stats(group).jobs, "stages" -> st.stages,
        "tasks" -> st.tasks, "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs,
        "sched_delay_ms" -> st.schedDelayMs, "critical_ms" -> critical,
        "dispatch_ms" -> dispatchMs,
        "shuffle_write" -> st.shuffleWrite, "shuffle_read" -> st.shuffleRead,
        "spill" -> st.spill, "input" -> st.input,
        "analysis_ms" -> qs.map(_.analysisMs).sum, "optimizer_ms" -> qs.map(_.optimizerMs).sum,
        "planning_ms" -> qs.map(_.planningMs).sum,
        "files_read" -> qs.map(_.filesRead).sum, "files_total" -> qs.map(_.filesTotal).sum)))
    }
  }

  /** Quality ratios of the approximate layers, measured outside the timed
    * calls: LSH pairs found among the exact jaccard pairs, and IVF
    * neighbours found among the brute-force top-k. */
  def qualityRatios(s: SparkSession, dir: String): Map[String, Any] = {
    val docs = Tables(s, dir).documents
    val emb = Tables(s, dir).embeddings
    def pairs(df: DataFrame): Set[(Long, Long)] = df.select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).map { case (a, b) => (a min b, a max b) }.toSet
    val exact = pairs(Dedup.ngramJaccardPairs(docs))
    val lsh = pairs(Dedup.minHashLshPairs(docs))
    val q = "vec_id < 50"
    def nn(df: DataFrame): Set[(Long, Long)] = df.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = nn(Knn.bruteForce(emb, q, 10))
    val ivf = nn(Knn.ivf(emb, q, 10))
    Map("lsh_recall" -> (if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size),
      "exact_pairs" -> exact.size,
      "recall_at_k" -> (if (brute.isEmpty) 1.0 else (ivf & brute).size.toDouble / brute.size),
      "knn_pairs" -> brute.size)
  }

  // ---- main -----------------------------------------------------------------

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("inputs"), m("work"), m("out"), m.get("expected"),
      m.getOrElse("passes", "1").toInt, m.getOrElse("rounds", "1").toInt,
      m.getOrElse("warmup", "0") == "1", m.getOrElse("trace", "0") == "1",
      m.get("pin"), m.getOrElse("selftest", "0") == "1",
      m.get("only").map(_.split(",").toSet))
  }

  def loadExpected(path: Option[String]): Map[String, (Long, String)] = path match {
    case Some(p) if new File(p).exists =>
      json.readTree(new File(p)).properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, Option(e.getValue.get("hash"))
          .map(_.asText).getOrElse(""))
      }.toMap
    case _ => Map.empty
  }

  val probeTasks = 7

  /** Collect the heap, then wait (at most 5 s) until the JIT has finished
    * no compilation for 300 ms: a pass then pays neither for the garbage
    * nor for the compile queue the one before it left. */
  def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      json.writeValue(new File(args(1)), Map(
        "entries" -> Workloads.names.map(w => w -> Workloads.entries(w)).toMap,
        "sql" -> SparkEntry.oracleSql))
      return
    }
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val plan = json.readTree(new File(s"${o.inputs}/plan.json"))
    val expected = loadExpected(o.expected)
    // set-up: the first from process launch, the rest from a stopped session
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = newSession(o)
    warm(spark, o.inputs)
    setups += (System.currentTimeMillis() - jvmStart) / 1000.0
    (2 to Setups).foreach { _ =>
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = newSession(o)
      warm(spark, o.inputs)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val s = spark
    val runner = new Runner(o, expected)
    if (o.trace) {
      val rec = new Recorder
      s.sparkContext.addSparkListener(rec)
      s.listenerManager.register(rec)
      runner.recorder = Some(rec)
    }
    // recorder self-test probe: one job of exactly `probeTasks` tasks
    if (o.selftest) runner.run(s, 0, Call("_probe", "runtime", "probe", ss =>
      Value(ss.sparkContext.parallelize(0 until 1000, probeTasks).map(_ * 2L).reduce(_ + _))))
    def issue(pass: Int)(c: Call): Unit = if (o.only.forall(_(c.name))) runner.run(s, pass, c)
    val passesWall = mutable.ArrayBuffer.empty[Double]
    // every pass starts from released memos and a quiet JVM: it builds the
    // shared state, then serves its calls from it, `rounds` times over
    for (pass <- 0 until o.passes) {
      SessionCaches.release(s)
      quiesce()
      val t0 = System.nanoTime()
      val seed = plan.get("order_seed").asLong * 1000003L + pass
      val (builds, calls) = Workloads.passCalls(o.workload, o.inputs, seed)
      builds.foreach(issue(pass))
      val rounds = if (pass == 0 && o.warmup) 1 else o.rounds
      (1 to rounds).foreach(_ => calls.foreach(issue(pass)))
      if (o.workload == "ingest")
        Workloads.ingestStream(s, o.inputs, s"${o.work}/stream-p$pass", plan)(issue(pass))
      passesWall += (System.nanoTime() - t0) / 1e9
    }
    val peakRss = Rss.peak()
    val samples = runner.recorder match {
      case Some(rec) => foldTrace(s, runner, rec)
      case None => runner.samples.toSeq
    }
    val extra: Map[String, Any] =
      if (o.trace && o.workload == "dedup_search" && o.only.isEmpty) qualityRatios(s, o.inputs)
      else Map.empty
    if (o.trace) java.nio.file.Files.write(java.nio.file.Paths.get(s"${o.work}/spans.jsonl"),
      runner.spans.map(json.writeValueAsString).asJava)
    o.pin.foreach(p => json.writeValue(new File(p), runner.pinned))
    val sampleJs = samples.map { x =>
      val base = Map[String, Any]("pass" -> x.pass, "seq" -> x.seq, "name" -> x.call.name,
        "layer" -> x.call.layer, "kind" -> x.call.kind,
        "input" -> x.call.input.map { case (t, n) => Map("table" -> t, "copies" -> n) },
        "sec" -> x.sec, "ok" -> x.ok, "check" -> x.check, "rows" -> x.rows, "hash" -> x.hash)
      x.trace.fold(base)(t => base + ("trace" -> (t - "end_ms")))
    }
    json.writeValue(new File(o.out), Map("workload" -> o.workload, "setups" -> setups.toSeq,
      "passes_wall" -> passesWall.toSeq, "peak_rss_mb" -> peakRss / 1048576.0,
      "extra" -> extra, "samples" -> sampleJs))
    s.stop()
  }
}

/** Peak resident set size of this process (`VmHWM`), from /proc. */
object Rss {
  def peak(): Long = try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong * 1024L
  } catch { case _: Throwable => 0L }
}
