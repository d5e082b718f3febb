package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.{SparkEntry, Tables}
import graft.dedup.Dedup
import graft.operators.TextQueries
import graft.similarity.{GraphSearch, Knn, Srp}
import graft.sources.{ZoneMapFileIndex, ZoneMaps}
import graft.streaming.EventStreams

import Main.{Built, Outcome, Rows, Wrote}

/** One timed call. `input` = (input file, copies) the call consumes, for
  * `ingest_mb_per_s`; `writesUnder` = the directory whose new parquet files
  * the call writes, checked by their footer row counts. */
final case class Call(name: String, layer: String, kind: String,
                      body: SparkSession => Outcome,
                      input: Option[(String, Int)] = None,
                      writesUnder: Option[File] = None)

/** The calls each workload issues per pass: its shared builds, then its
  * registry entries in seeded order (then, for ingest, the streamed
  * appends and their reads).
  *
  * A run has to fit the benchmark's time budget (see BENCHMARK.md), so the
  * query families are sampled with a fixed stride over their sorted names:
  * every run of a workload issues the same calls, only their order follows
  * the seed. */
object Workloads {

  val names: Seq[String] = Seq("analytics", "dedup_search", "ingest")

  val analyticsStride = 40
  val dedupStride = 24

  def zoneMapEntry(n: String): Boolean = n.startsWith("q") &&
    scala.util.Try(n.drop(1).takeWhile(_.isDigit).toInt).toOption.exists(i => i >= 133 && i <= 146)

  /** Declared exact baselines: never part of a production serve path. */
  val exactBaselines: Set[String] = Set("d02_ngram_jaccard", "d05_embedding_dup")

  private def registry = SparkEntry.queries.keys.toSeq.sorted

  /** The q family without the zone-map entries (ingest's reads), plus the
    * t and p families. */
  def analytics: Seq[String] = every(registry.filter { n =>
    (n.startsWith("q") && !zoneMapEntry(n)) || n.startsWith("t") || n.startsWith("p")
  }, analyticsStride)

  /** The d, s and m families without the exact baselines. */
  def dedupSearch: Seq[String] = every(registry.filter(n =>
    (n.startsWith("d") || n.startsWith("s") || n.startsWith("m")) && !exactBaselines(n)),
    dedupStride)

  def ingestReads: Seq[String] = registry.filter(zoneMapEntry)

  def entries(workload: String): Seq[String] = workload match {
    case "analytics" => analytics
    case "dedup_search" => dedupSearch
    case "ingest" => ingestReads
  }

  private def every(xs: Seq[String], stride: Int): Seq[String] =
    xs.zipWithIndex.collect { case (x, i) if i % stride == 0 => x }

  private def docs(s: SparkSession, dir: String) = Tables(s, dir).documents
  private def emb(s: SparkSession, dir: String) = Tables(s, dir).embeddings

  private def built(df: DataFrame): Outcome = Built(df, df.count())

  private def docsBuild(name: String, layer: String, f: DataFrame => DataFrame, dir: String) =
    Call(name, layer, "build", s => built(f(docs(s, dir))), Some(("documents", 1)))

  private def embBuild(name: String, f: DataFrame => DataFrame, dir: String) =
    Call(name, "similarity", "build", s => built(f(emb(s, dir))), Some(("embeddings", 1)))

  /** Shared state the analytics queries read: the token and shingle memos
    * of the text and pipeline families. */
  def analyticsBuilds(dir: String): Seq[Call] = Seq(
    docsBuild("_shared_shingles", "dedup", d => Dedup.sharedShingles(d), dir),
    docsBuild("_shared_tokens", "operators", d => TextQueries.sharedTokens(d), dir))

  /** The shared builds of the dedup / search recipe that fit a run, in
    * dependency order: the shingle set, the LSH and exact jaccard pair
    * frames, the IVF index, the kNN graph and the SRP pairs. */
  def dedupBuilds(dir: String): Seq[Call] = Seq(
    docsBuild("_shared_shingles", "dedup", d => Dedup.sharedShingles(d), dir),
    docsBuild("_shared_lsh_pairs", "dedup", d => Dedup.minHashLshPairs(d), dir),
    docsBuild("_shared_jaccard_pairs", "dedup", d => Dedup.sharedJaccardPairs(d), dir),
    embBuild("_shared_ivf_index", e => Knn.ivfIndex(e), dir),
    embBuild("_shared_knn_graph", e => GraphSearch.sharedEdges(e), dir),
    embBuild("_shared_srp_pairs", e => Srp.srpPairs(e), dir))

  private def tmpDir = new File(System.getProperty("java.io.tmpdir"))

  /** Zone-map layout and manifest writes of the ingest recipe, under the
    * JVM temp directory: range clustered (three keys, three copies of
    * lineitem), z2, z3, insert-maintained plus null layouts (two copies),
    * then their manifests (which read the layouts, not the input). */
  def ingestBuilds(dir: String): Seq[Call] = {
    def layout(name: String, copies: Int, f: (SparkSession, String) => Long) =
      Call(name, "sources", "build", s => { f(s, dir); Wrote },
        Some(("lineitem", copies)), Some(tmpDir))
    Seq(
      layout("_shared_zonemap_layout_r", 3, ZoneMaps.warmDemoLayoutsRange(_, _)),
      layout("_shared_zonemap_layout_z2", 1, ZoneMaps.warmDemoLayoutsZ2(_, _)),
      layout("_shared_zonemap_layout_z3", 1, ZoneMaps.warmDemoLayoutsZ3(_, _)),
      layout("_shared_zonemap_layout_w", 2, ZoneMaps.warmDemoLayoutsWrite(_, _)),
      Call("_shared_zonemap_manifest", "sources", "manifest",
        s => { ZoneMaps.warmDemoManifests(s, dir); Wrote }, None, Some(tmpDir)))
  }

  def layerOf(entry: String): String = entry.head match {
    case 'q' => if (zoneMapEntry(entry)) "sources" else "operators.relational"
    case 't' => "operators.text"
    case 'p' => "operators.pipeline"
    case 'd' => "dedup"
    case 's' => "similarity"
    case 'm' => "multimodal"
    case _ => "other"
  }

  private val entryKind = Map("analytics" -> "query", "dedup_search" -> "serve",
    "ingest" -> "read")

  def entryCall(name: String, dir: String, kind: String): Call =
    Call(name, layerOf(name), kind, s => {
      val df = SparkEntry.queries(name)(s, dir)
      Rows(df.schema, df.collect())
    })

  /** A pass's builds, then its registry calls shuffled by `seed`. */
  def passCalls(workload: String, dir: String, seed: Long): (Seq[Call], Seq[Call]) = {
    val builds = workload match {
      case "analytics" => analyticsBuilds(dir)
      case "dedup_search" => dedupBuilds(dir)
      case "ingest" => ingestBuilds(dir)
    }
    val calls = entries(workload).map(entryCall(_, dir, entryKind(workload)))
    (builds, new scala.util.Random(seed).shuffle(calls))
  }

  /** Ingest's streamed part: appends the seeded micro-batches through the
    * zone-map maintaining stream, each followed by its seeded range / point
    * reads over the transparent `ZoneMapFileIndex`. `run` issues one call. */
  def ingestStream(s: SparkSession, inputs: String, streamDir: String, plan: JsonNode)
                  (run: Call => Unit): Unit = {
    val dir = s"$streamDir/table"
    val cols = Seq("l_orderkey")
    ZoneMapFileIndex.enable(s, dir, cols, bloomCols = Seq("l_orderkey"))
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val mem = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val q = EventStreams.maintainZoneMapStream(
      mem.toDF().toDF("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"),
      dir, cols, (_, _) => (), bloomCols = Seq("l_orderkey"))
      .option("checkpointLocation", s"$streamDir/checkpoint")
      .start()
    try {
      val reads = plan.get("reads").elements().asScala.toSeq.zipWithIndex
      (0 until plan.get("batches").asInt).foreach { b =>
        val rows = s.read.parquet(s"$inputs/batch$b.parquet")
          .as[(Long, Long, Double, java.sql.Timestamp)].collect()
        run(Call(s"append_b$b", "streaming", "append", _ => {
          mem.addData(rows.toSeq)
          q.processAllAvailable()
          Wrote
        }, Some((s"batch$b", 1)), Some(new File(dir))))
        reads.filter(_._1.get("after_batch").asInt == b).foreach { case (r, i) =>
          val pred = r.get("kind").asText match {
            case "range" => s"l_orderkey BETWEEN ${r.get("lo").asLong} AND ${r.get("hi").asLong}"
            case _ => s"l_orderkey = ${r.get("key").asLong}"
          }
          run(Call(s"read_$i", "sources", "read", ss => {
            val df = ss.read.parquet(dir).where(pred)
              .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
            Rows(df.schema, df.collect())
          }))
        }
      }
    } finally q.stop()
  }
}
