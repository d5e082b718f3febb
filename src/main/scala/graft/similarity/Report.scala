package graft.similarity

import graft.functions.VectorFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** s18: ANN-method recall report — the evaluation harness a pipeline runs
  * before trusting a sketch family on a new corpus: for each
  * deterministic candidate method (s13 SRP at the default banding, s14
  * multi-probe SRP at the corpus-sized banding), its pair count, the
  * exact pair count, their overlap, and recall/precision against the
  * exact all-pairs baseline — d20's method-agreement move lifted to the
  * vector modality, with the baseline INSIDE the query so the report is
  * self-contained.
  *
  * Every constituent is deterministic (SRP's integer signatures, the
  * round(cos,8) verify rule), so unlike a trained-ANN recall spec this
  * whole report is exactly replayable: the oracle nests the s13/s14
  * pipelines and the brute-force baseline as CTEs and re-derives the same
  * six columns. Precision is 1 by construction (both methods verify
  * candidates with the baseline's own rule — asserted by the oracle, not
  * assumed).
  *
  * Cost honesty: the baseline is O(n²/2) cosines — an EVALUATION operator
  * (the d02/d05 class), run on samples or small corpora to pick (bands,
  * rows), never on the full 100 TB corpus; the methods it scores are the
  * scale paths. */
object Report {

  /** Exact all-pairs baseline under the s13 rule: round(cos, 8) ≥ τ,
    * through [[graft.Memo]] — the report references it from four plan
    * branches (two methods × semi-join + count), and at O(n²/2) cosines it
    * is exactly what must never recompute per branch. */
  private def exactPairs(emb: DataFrame, threshold: Double): DataFrame =
    graft.Memo.frame("Report.exactPairs", emb, threshold) {
      val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      v.select(col("vec_id").as("d1"), col("v").as("v1"))
        .join(v.select(col("vec_id").as("d2"), col("v").as("v2")), col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          round(VectorFns.cosine(col("v1"), col("v2")), 8).as("cos"))
        .where(col("cos") >= threshold)
        .select(col("d1"), col("d2"))
    }

  /** s18: (method, n_pairs, n_exact, n_common, recall, precision).
    * Construction launches no jobs (every scalar is an in-plan 1-row
    * aggregate, the q33 shape). */
  def methodRecall(emb: DataFrame, threshold: Double = 0.45): DataFrame = {
    val exact = exactPairs(emb, threshold)
    val exactAgg = exact.agg(count(lit(1)).as("n_exact"))
    val methods = Seq(
      "srp" -> Srp.srpPairs(emb, threshold),
      "srp_multiprobe" -> Srp.srpPairsMultiProbe(emb, threshold, nBands = 8, rowsPerBand = 8))
    methods.map { case (name, pairs) =>
      val p = pairs.select(col("d1"), col("d2"))
      val common = p.join(exact, Seq("d1", "d2"), "left_semi")
      p.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(common.agg(count(lit(1)).as("n_common")))
        .crossJoin(exactAgg)
        .select(lit(name).as("method"), col("n_pairs"), col("n_exact"),
          col("n_common"),
          (col("n_common").cast("double") / col("n_exact").cast("double"))
            .as("recall"),
          (col("n_common").cast("double") / col("n_pairs").cast("double"))
            .as("precision"))
    }.reduce(_ unionByName _)
  }

  /** s21: similarity-distribution histogram — the threshold-picking
    * diagnostic for the cosine family (d18's move for jaccard): the
    * distribution of pairwise cosines over a DETERMINISTIC vector sample
    * (q72's md5 rule — keep iff u mod `mod` = 0), bucketed at 0.05. Where
    * to put τ for d05/d09/s13 is an empirical question about THIS
    * corpus's similarity landscape; eyeballing this histogram (mass near
    * 1.0 = true dup clusters; the bulk = background similarity) answers
    * it before any expensive pair run.
    *
    * Exactness: sample membership is a pure key function; cosines are
    * the proven round(cos, 8) rule; the bucket is one integer floor of
    * (rounded cos)·20 — all replayed by the oracle. Scale shape: the
    * quadratic lives on the SAMPLE (n/mod vectors → (n/mod)²/2 pairs,
    * mod² smaller than the corpus quadratic); the histogram is one tiny
    * aggregation. mod is the knob: pick it so the sample is
    * broadcast-sized at any corpus scale. */
  def simHistogram(emb: DataFrame, mod: Int = 4): DataFrame = {
    val u = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val s = emb.where(pmod(u, lit(mod.toLong)) === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = s.select(col("vec_id").as("d1"), col("v").as("v1"))
      .join(s.select(col("vec_id").as("d2"), col("v").as("v2")), col("d1") < col("d2"))
      .select(round(VectorFns.cosine(col("v1"), col("v2")), 8).as("cos"))
    pairs
      .select(floor(col("cos") * 20).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .select((col("bucket").cast("double") / 20.0).as("cos_lo"), col("n_pairs"))
  }

  /** s24: nearest-neighbor margin — per vector, its top-2 exact
    * neighbors' cosines and their gap (cos₁ − cos₂): the hubness/
    * ambiguity diagnostic retrieval QA runs before trusting an ANN
    * index (a corpus whose margins concentrate near 0 has ambiguous
    * neighborhoods — IVF/PQ recall targets must tighten; wide margins
    * mean cheap indexes suffice). One s08 graph at k=2 (broadcast
    * queries, map-side TopK clip), pivoted by one query-keyed
    * aggregation. Exact: cosines are round(·,8) doubles, the margin a
    * difference of those exact doubles re-rounded, tiebreaks total —
    * fully hash-checkable. */
  def knnMargin(emb: DataFrame): DataFrame =
    Knn.knnGraph(emb, 2)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("rank") === 1, col("neighbor_id"))).as("nn1"),
        max(when(col("rank") === 1, col("cos"))).as("cos1"),
        max(when(col("rank") === 2, col("cos"))).as("cos2"))
      .select(col("query_id"), col("nn1"), col("cos1"), col("cos2"),
        (round(col("cos1") - col("cos2"), 8) + lit(0.0)).as("margin"))

  /** The s24 replay: the s08 oracle at k = 2 pivoted the same way. */
  def knnMarginOracleSql(): String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |  round(list_cosine_similarity(q.v, n.v), 8) AS cos
      | FROM e q JOIN e n ON n.vec_id <> q.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cos,
      | row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
      | FROM scored),
      |p AS (
      | SELECT query_id,
      |  max(CASE WHEN rnk = 1 THEN neighbor_id END) AS nn1,
      |  max(CASE WHEN rnk = 1 THEN cos END) AS cos1,
      |  max(CASE WHEN rnk = 2 THEN cos END) AS cos2
      | FROM ranked WHERE rnk <= 2 GROUP BY query_id)
      |SELECT query_id, nn1, cos1, cos2, round(cos1 - cos2, 8) + 0.0 AS margin
      |FROM p""".stripMargin

  /** s26: embedding drift monitor — per dimension, the mean activation of
    * two deterministic corpus halves (vec_id parity — in production: last
    * week's batch vs this week's) and their difference: the
    * representation-drift check run before mixing corpora embedded by
    * possibly-different model versions (p22 watches QUALITY drift; s26
    * watches the embedding SPACE itself — a re-embedded source shifts
    * per-dim means long before retrieval metrics notice). One posexplode
    * + one dim-keyed aggregation; output = |dims| rows at any corpus
    * scale. Means round at 6 dp (aggregation-order noise ~1e-12 on O(1)
    * activations — the q52 argument); the diff subtracts the ROUNDED
    * means, so it is exact given them. */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val half = when(col("vec_id") % 2 === 0, "a").otherwise("b")
    emb
      .select(half.as("half"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(
        (round(avg(when(col("half") === "a", col("x"))), 6) + lit(0.0)).as("mean_a"),
        (round(avg(when(col("half") === "b", col("x"))), 6) + lit(0.0)).as("mean_b"))
      .select(col("dim"), col("mean_a"), col("mean_b"),
        (round(col("mean_b") - col("mean_a"), 6) + lit(0.0)).as("drift"))
  }

  /** s27: sample-diversity audit — pairwise-distance statistics of s12's
    * farthest-point selection against a same-size md5-uniform pick: the
    * check that a "diverse" coreset actually spreads (k-center should
    * dominate uniform on MIN pairwise distance — its objective — and the
    * audit prices by how much, before the sample anchors s16 routing or
    * d26 review queues). Both selections are deterministic, both
    * pairwise sets are k(k−1)/2-sized regardless of corpus scale, and
    * distances follow s12's round(√l2,6) discipline, so the whole audit
    * is exact; the mean re-rounds at 6 dp (the q52 sum-order argument). */
  def sampleDiversity(emb: DataFrame, k: Int = 8): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fps = Knn.farthestPointSample(emb, k).select(col("vec_id"))
    val uni = emb.select(col("vec_id"),
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("u"))
      .orderBy(col("u"), col("vec_id")).limit(k).select(col("vec_id"))
    def stats(ids: DataFrame, name: String): DataFrame = {
      val s = ids.join(v, "vec_id")
      s.as("a").join(s.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(round(sqrt(VectorFns.l2Sq(col("a.v"), col("b.v"))), 6).as("d"))
        .agg(count(lit(1)).as("n_pairs"),
          (round(avg(col("d")), 6) + lit(0.0)).as("mean_dist"),
          min(col("d")).as("min_dist"), max(col("d")).as("max_dist"))
        .select(lit(name).as("method"), col("n_pairs"), col("mean_dist"),
          col("min_dist"), col("max_dist"))
    }
    stats(fps, "farthest_point").unionByName(stats(uni, "md5_uniform"))
  }

  /** The s21 replay: same md5 sample rule, same rounded cosine, same
    * ×20 floor bucketing. */
  def simHistogramOracleSql(mod: Int = 4): String =
    s"""WITH s AS (
       | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       | WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % $mod = 0),
       |p AS (
       | SELECT round(list_cosine_similarity(a.v, b.v), 8) AS cos
       | FROM s a JOIN s b ON a.vec_id < b.vec_id),
       |h AS (SELECT CAST(floor(cos * 20) AS BIGINT) AS bucket FROM p)
       |SELECT CAST(bucket AS DOUBLE) / 20.0 AS cos_lo,
       | CAST(count(*) AS BIGINT) AS n_pairs
       |FROM h GROUP BY bucket""".stripMargin

  /** The DuckDB replay: baseline + both SRP pipelines as CTE-nested
    * subqueries, the same six columns per method. */
  def oracleSql(threshold: Double = 0.45): String = {
    val srp = Srp.oracleSql(threshold)
    val mp = Srp.multiProbeOracleSql(threshold, 8, 8)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |exact AS (
       | SELECT a.vec_id AS d1, b.vec_id AS d2
       | FROM e a JOIN e b ON a.vec_id < b.vec_id
       | WHERE round(list_cosine_similarity(a.v, b.v), 8) >= $threshold),
       |m1 AS (SELECT d1, d2 FROM ($srp)),
       |m2 AS (SELECT d1, d2 FROM ($mp)),
       |stats AS (
       | SELECT 'srp' AS method,
       |  (SELECT CAST(count(*) AS BIGINT) FROM m1) AS n_pairs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM m1 JOIN exact USING (d1, d2)) AS n_common
       | UNION ALL
       | SELECT 'srp_multiprobe',
       |  (SELECT CAST(count(*) AS BIGINT) FROM m2),
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact),
       |  (SELECT CAST(count(*) AS BIGINT) FROM m2 JOIN exact USING (d1, d2)))
       |SELECT method, n_pairs, n_exact, n_common,
       | CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall,
       | CAST(n_common AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS precision
       |FROM stats""".stripMargin
  }
}
