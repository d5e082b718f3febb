package graft.operators

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning — the composition the LLM-pipeline
  * operators exist for: quality floor → language filter → exact dedup →
  * near-dup removal. Every stage is the already-verified operator; the
  * composition itself is oracle-checked (p01).
  *
  * Scale shape: the metrics projection is scan-local; exact dedup is one
  * exchange on the content hash; near-dup pairs come from
  * Dedup.minHashLshPairs — the 100 TB path (fixed-size signatures, banded
  * bucket join, candidates-only verification). The exact-Jaccard d02 path
  * produces the identical pair set (both are oracle-proven against the same
  * SQL) but is superlinear on hot shingles, so it stays a correctness
  * baseline only. The final keep/drop sets join back as semi/anti joins on
  * doc_id.
  */
object CorpusPipeline {

  /** p01: cleaned corpus — English, quality ≥ `qualityMin`, one survivor per
    * exact-duplicate group, near-duplicates CLUSTER-resolved: the LSH pair
    * graph is closed under transitivity (d07 connected components) and only
    * each cluster's minimum doc_id survives. Dropping each pair's larger id
    * instead would be correct only when every follower is directly paired
    * with its keeper — A~C and B~C with no A~B pair would leave BOTH A and
    * B in the corpus. */
  def cleanCorpus(t: Tables, qualityMin: Double = 0.5): DataFrame = {
    val docs = t.documents
    // bound metric columns (see TextFns: HOF lambdas must read attributes)
    val m = docs
      .select(col("doc_id"), col("lang"),
        TextFns.tokenCount(col("text")).as("nt"),
        TextFns.alphaRatio(col("text")).as("ar"),
        TextFns.stopwordHits(col("text"), TextFns.stopEn).as("c_en"),
        TextFns.stopwordHits(col("text"), TextFns.stopDe).as("c_de"),
        TextFns.stopwordHits(col("text"), TextFns.stopEs).as("c_es"),
        TextFns.stopwordHits(col("text"), TextFns.stopFr).as("c_fr"))
      .select(col("doc_id"), col("lang"), col("nt").as("n_tokens"),
        TextFns.qualityScoreOf(
          col("nt").cast("double"), col("ar"),
          col("c_en").cast("double") / col("nt").cast("double")).as("quality"),
        TextFns.langGuessOfCounts(
          col("c_en"), col("c_de"), col("c_es"), col("c_fr")).as("guess"))
    val exactKeepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    // explicit about the shared-cache contract: the shingle set comes from
    // the session memo (one persisted copy shared with d02/d03), released
    // by the session owner via Memo.release
    val pairs = Dedup.minHashLshPairs(docs) // session pair memo: shared with d03/d07
      .select(col("d1"), col("d2"))
    // transitive closure over the pair graph; everything but each cluster's
    // minimum id is dropped. The label table holds only paired docs — a
    // small fraction of the corpus — so the CC rounds never touch the scan.
    // sharedComponents: d07 closes the same graph this session — one run.
    val nearDupNonKeepers = graft.dedup.Clusters.sharedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    m.filter(col("quality") >= qualityMin && col("guess") === "en")
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(nearDupNonKeepers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("guess"), col("n_tokens"), col("quality"))
  }

  /** p28: quality propagation over the near-dup graph — blend each
    * document's t03 quality score with its near-dup neighbors' over
    * `iters` rounds of s ← α·s + (1−α)·avg(neighbor s). The
    * guilt-by-association signal: a spam page's mirror copies inherit its
    * low score even when their own surface metrics pass (template spam
    * mutates exactly the tokens the gates measure), and conversely a
    * high-quality page vouches for its syndicated copies. This is the
    * label/score-smoothing member of the graph family (d07 closes the
    * graph's components; p28 diffuses a signal over its edges) — the same
    * fixed-point shape as PageRank/label propagation, truncated at a fixed
    * iteration count so the result is a deterministic relational function.
    *
    * Float discipline: the init scores are bit-exact projections (t03's
    * rule); each round rounds the neighbor average at 6 dp BEFORE the
    * blend and the blended score after it, so both engines walk identical
    * doubles through every round. Isolated documents pass through the
    * same rounding (score = round(s, 6)) for one uniform output domain.
    *
    * Scale shape: the corpus is NEVER shuffled — the pair graph is tiny
    * (∝ actual duplication, the dedup premise), so each round broadcasts
    * the edge frame onto the score frame, aggregates the pair-bounded
    * neighbor table, and broadcasts the (equally pair-bounded) averages
    * back onto the scan. iters·3 broadcast joins total, zero corpus
    * exchanges; at 100 TB the score frame is a column you carry, not a
    * table you move. */
  /** p29: the curation LEDGER — every document's pipeline verdict in one
    * frame: the FIRST stage that drops it (in pipeline order:
    * eval-holdout carve-out → quality floor → language filter → exact
    * dedup → cluster-resolved near-dup removal → decontamination) or
    * 'kept' with its deterministic p03 split. p01 emits the survivors; a
    * production pipeline also has to ANSWER for the drops — per-stage
    * counts for the data card, per-doc reasons for review queues and
    * re-admission after a threshold change — and "first failing stage"
    * is the semantics of a sequential pipeline (a non-English doc never
    * reaches the dedup stage, so charging it to dedup would misstate
    * every downstream stage's real reject rate).
    *
    * Every stage predicate is the already-oracle-proven operator (p01's
    * quality/lang/exact/near-dup sets, p02's contamination set, p03's
    * split hash); the ledger is their composition under CASE precedence,
    * exact-oracled end-to-end as nested CTEs.
    *
    * Scale shape: metrics are scan-local; the drop sets are each ∝ their
    * phenomenon (dup groups, pair clusters, contaminated docs), never
    * corpus-sized, and join back as broadcast/semi joins; the split hash
    * is projection work. One corpus scan, no corpus-wide shuffle. */
  def curationLedger(t: Tables, qualityMin: Double = 0.5): DataFrame = {
    val docs = t.documents
    val isEval = col("doc_id") % 10 === 0
    val m = docs
      .select(col("doc_id"), col("source"),
        TextFns.tokenCount(col("text")).as("nt"),
        TextFns.alphaRatio(col("text")).as("ar"),
        TextFns.stopwordHits(col("text"), TextFns.stopEn).as("c_en"),
        TextFns.stopwordHits(col("text"), TextFns.stopDe).as("c_de"),
        TextFns.stopwordHits(col("text"), TextFns.stopEs).as("c_es"),
        TextFns.stopwordHits(col("text"), TextFns.stopFr).as("c_fr"))
      .select(col("doc_id"), col("source"),
        TextFns.qualityScoreOf(
          col("nt").cast("double"), col("ar"),
          col("c_en").cast("double") / col("nt").cast("double")).as("quality"),
        TextFns.langGuessOfCounts(
          col("c_en"), col("c_de"), col("c_es"), col("c_fr")).as("guess"))
    val exactKeepers = Dedup.exact(docs)
      .select(col("keep_id").as("doc_id"), lit(true).as("is_keeper"))
    val ndNonKeepers = graft.dedup.Clusters
      .sharedComponents(Dedup.minHashLshPairs(docs).select(col("d1"), col("d2")))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"), lit(true).as("is_nd_drop"))
    // p02's contamination set: training docs sharing any 8-gram with the
    // eval slice (eval shingles broadcast — the p02 regime)
    val sh = Dedup.sharedShingles(docs, 8)
    val evalIds = docs.where(isEval).select("doc_id")
    val evalShingles = sh.join(evalIds, Seq("doc_id"), "left_semi")
      .select("shingle").distinct()
    val contaminated = sh.join(evalIds, Seq("doc_id"), "left_anti")
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select("doc_id").distinct().withColumn("is_contam", lit(true))
    val bucket = pmod(Dedup.md5Hash60(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100L)).cast("int")
    m.join(exactKeepers, Seq("doc_id"), "left")
      .join(ndNonKeepers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(isEval, "eval_holdout")
          .when(col("quality") < qualityMin, "quality")
          .when(col("guess") =!= "en", "lang")
          .when(not(coalesce(col("is_keeper"), lit(false))), "exact_dup")
          .when(coalesce(col("is_nd_drop"), lit(false)), "near_dup")
          .when(coalesce(col("is_contam"), lit(false)), "contaminated")
          .otherwise("kept").as("stage"))
      .select(col("doc_id"), col("source"), col("stage"),
        when(col("stage") === "kept",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
          .as("split"))
  }

  def propagateQuality(docs: DataFrame, threshold: Double = 0.8,
                       iters: Int = 2, alpha: Double = 0.5): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val q0 = docs.select(col("doc_id"),
      TextFns.tokenCount(col("text")).cast("double").as("nt"),
      TextFns.alphaRatio(col("text")).as("ar"),
      TextFns.stopwordRatio(col("text")).as("sr"))
      .select(col("doc_id"),
        TextFns.qualityScoreOf(col("nt"), col("ar"), col("sr")).as("s"))
    val pairs = Dedup.sharedJaccardPairs(docs, threshold).select(col("d1"), col("d2"))
    val edges = pairs.unionByName(
      pairs.select(col("d2").as("d1"), col("d1").as("d2")))
    var s = q0
    for (_ <- 1 to iters) {
      val nbrAvg = s.join(broadcast(edges.select(col("d1"), col("d2").as("doc_id"))),
          Seq("doc_id"))
        .groupBy(col("d1")).agg(round(avg(col("s")), 6).as("na"))
      s = s.join(broadcast(nbrAvg.select(col("d1").as("doc_id"), col("na"))),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(coalesce(lit(alpha) * col("s") + lit(1 - alpha) * col("na"),
            col("s")), 6).as("s"))
    }
    q0.select(col("doc_id"), col("s").as("quality"))
      .join(s.select(col("doc_id"), col("s").as("propagated")), Seq("doc_id"))
      .withColumn("delta", round(col("propagated") - round(col("quality"), 6), 6))
  }
}
