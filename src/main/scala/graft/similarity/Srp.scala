package graft.similarity

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** s13: sign-random-projection (random hyperplane) LSH for cosine
  * near-dup pairs — the data-INDEPENDENT member of the cosine ANN
  * family. s02/s06 prune with trained structures (KMeans cells, PQ
  * codebooks) and are therefore rows-only approximations whose recall is
  * spec-verified; SRP needs no training pass at all (Charikar 2002: for
  * random hyperplane h, P[sign(h·a) = sign(h·b)] = 1 − θ(a,b)/π), which
  * makes it the bucketing of choice when the corpus distribution shifts
  * faster than retraining cadence — and, here, the one cosine-LSH whose
  * full pipeline an independent SQL engine can replay EXACTLY.
  *
  * Exactness discipline (what makes this oracle-checkable when d14's CWS
  * sketch is not): every signature bit is INTEGER arithmetic end to end.
  * The hyperplanes are fixed ±1 sign patterns (a Rademacher projection —
  * the standard cheap SRP variant) generated from a seeded SplitMix64
  * stream and injected as literals into BOTH engines' plans, and the
  * projected value is Σᵢ sgn[j][i]·qᵢ over s03's int8-quantized vector —
  * whose bytes are bit-identical across engines (floor(x/scale+0.5), the
  * s03 IEEE-floor rule). An integer sum has no summation-order hazard, so
  * the sign test `≥ 0` can never flip between engines — the failure mode
  * that rules out float dot products for portable sign bits. Candidates
  * then verify with the exact rounded cosine over the ORIGINAL doubles
  * (round(cos, 8) ≥ τ — the s01 rule, hash-parity proven since round 6),
  * so precision is 1 by construction and the emitted pair set is a pure
  * deterministic function of the data: rows + schema + hash checkable.
  *
  * Quantization cost honesty: the sign is taken over the quantized
  * vector, so a true near-dup pair whose projections sit within the
  * quantization error of a hyperplane can land in different buckets —
  * that risk is part of the (deterministic) bucketing, bounded by the
  * same scale/2 per-element error s03's spec prices, and the planted
  * KnnSpec recall check vs d05's exact pairs covers it empirically.
  *
  * Scale shape: signature computation is a pure scan-local projection
  * (whole-stage codegen, zero shuffle — 16 integer folds per row); the
  * only exchange is the (band, bucket) grouping of d03's banded-LSH
  * shape; verification touches candidate pairs only, joining the vector
  * frame by id twice (broadcast at dim-table sizes, shuffle-hash at
  * corpus scale). Banding 4 bands × 4 bits: P[band hit] = (1 − θ/π)⁴,
  * any-band ≈ 0.95 at cos 0.9, tuned like d03's 16×4 for its τ.
  *
  * Reference prior art: the reference has no similarity search; this is
  * the engine's LLM-pipeline surface (SURVEY §2.3), sibling to
  * s01–s12 and the d03/d14 LSH family.
  */
object Srp {

  /** Default banding: 4 bands × 4 bits = 16 buckets per band — sized for
    * the oracle-checked test corpora (hundreds to thousands of vectors).
    * SIZE THE BUCKET SPACE TO THE CORPUS: per-band occupancy is
    * n / 2^rowsPerBand, and candidate volume grows with occupancy², so a
    * 100 TB corpus wants rowsPerBand 16–24 (64 K – 16 M buckets/band)
    * with more bands and/or the s14 probe ring buying the recall back —
    * the (bands, rows) trade [[graft.dedup.Dedup.lshPlanCurve]] (d23)
    * tabulates. Every entry point takes (bands, rowsPerBand); the plane
    * family is a pure function of the bit index, so any prefix of it is
    * the same planes. */
  val Bands = 4
  val RowsPerBand = 4
  val Bits = Bands * RowsPerBand
  val Dims = 64

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The fixed Rademacher planes: signsFor(n)(j)(i) ∈ {−1, +1} for bit j
    * over dim i, a pure function of (j, i) — the same array renders into
    * the Spark plan and the DuckDB oracle text, and a wider banding's
    * planes extend a narrower one's (prefix property). */
  def signsFor(nBits: Int): Array[Array[Int]] =
    Array.tabulate(nBits, Dims)((j, i) =>
      if ((splitmix64(j.toLong * 1024L + i) & 1L) == 0L) 1 else -1)

  /** The default 16-plane family (the registered queries' banding). */
  lazy val signs: Array[Array[Int]] = signsFor(Bits)

  /** One signature bit: sign of the projection of qvec on plane j,
    * computed by the NATIVE codegen dot kernel over integer-VALUED
    * doubles — every term is an integer of magnitude ≤ 127 and the sum
    * ≤ 127·Dims ≪ 2⁵³, where IEEE doubles are exact, so the `≥ 0` test
    * is bit-identical to pure integer arithmetic (the determinism the
    * oracle relies on) while staying inside whole-stage codegen. (The
    * HOF form `aggregate(zip_with(...))` computes the same sum
    * interpreted — measured ~10× the whole query at 64 bits.) */
  private def bitCol(j: Int, sg: Array[Array[Int]]): Column =
    (VectorFns.dot(col("qd"), lit(sg(j).map(_.toDouble))) >= 0).cast("int")

  /** The signature frame: (vec_id, b0…b{n−1}) — quantize, cast ONCE to
    * array<double>, then one native dot per bit. */
  private def sigFrame(emb: DataFrame, sg: Array[Array[Int]], nBits: Int): DataFrame =
    Quantize.quantized(emb)
      .select(col("vec_id"), col("qvec").cast("array<double>").as("qd"))
      .select(col("vec_id") +: (0 until nBits).map(j => bitCol(j, sg).as(s"b$j")): _*)

  /** Per-band bucket expression over a [[sigFrame]]'s bit columns. */
  private def bucketCol(b: Int, rowsPerBand: Int): Column =
    (0 until rowsPerBand).map { r =>
      col(s"b${b * rowsPerBand + r}") * lit(1 << (rowsPerBand - 1 - r))
    }.reduce(_ + _)

  /** (vec_id → `idCol`, band, bucket) rows: ALL bands emitted from one
    * explode over one evaluation of the signature projection — a
    * per-band unionAll re-evaluates the whole signature subtree once
    * per branch (measured: the dominant cost at 8 bands). */
  private def bandRows(sig: DataFrame, idCol: String,
                       nBands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("vec_id").as(idCol),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), bucketCol(b, rowsPerBand).as("bucket"))): _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"), col("e.bucket").as("bucket"))

  /** s13: all pairs with round(cos, 8) ≥ `threshold` among SRP bucket
    * collisions. Output (d1, d2, cos), d1 < d2. Both verified pair frames
    * go through [[graft.Memo]]: s13, s14, s18 (which consumes BOTH
    * pipelines in two plan branches each: pair count + exact semi-join)
    * and d24's standing side all close over the same tiny verified frames
    * (∝ near-dup pairs, not corpus), so rebuilding the
    * signature/bucket/verify pipeline per consumer branch is pure waste. */
  def srpPairs(emb: DataFrame, threshold: Double = 0.45,
               nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame =
    graft.Memo.frame("Srp.pairs", emb, threshold, nBands, rowsPerBand)(
      srpPairsUncached(emb, threshold, nBands, rowsPerBand))

  private def srpPairsUncached(emb: DataFrame, threshold: Double,
                               nBands: Int, rowsPerBand: Int): DataFrame = {
    val sg = signsFor(nBands * rowsPerBand)
    val sig = sigFrame(emb, sg, nBands * rowsPerBand)
    // per band: bucket = the band's bits packed into an int
    val bands = bandRows(sig, "vec_id", nBands, rowsPerBand)
    val cand = bands.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x AS d1, y AS d2))))"
      )).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    cand
      .join(v.select(col("vec_id").as("d1"), col("v").as("v1")), "d1")
      .join(v.select(col("vec_id").as("d2"), col("v").as("v2")), "d2")
      .select(col("d1"), col("d2"),
        round(VectorFns.cosine(col("v1"), col("v2")), 8).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** s14: multi-probe SRP pairs — [[srpPairs]]'s candidate generation
    * widened by ONE-BIT probes (Lv et al. 2007, "Multi-Probe LSH"),
    * QUERY-SIDE as in the paper: the index stores each vector once per
    * band (its own bucket, s13's frame exactly), and each vector PROBES
    * its own bucket plus the `rowsPerBand` buckets at Hamming distance 1.
    * A true near-dup pair whose projections straddle a single hyperplane
    * within one band lands one bit apart and is invisible to s13's
    * exact-bucket join; the probe catches every such pair BY CONSTRUCTION
    * (if a band's signatures differ in exactly one bit, each side's probe
    * ring contains the other's home bucket), so the candidate set is
    * precisely the pairs at per-band Hamming ≤ 1 — trading
    * (1 + rowsPerBand)× probe rows for recall instead of more bands, the
    * standard memory/recall lever when signatures are fixed. (Indexing
    * every vector into its whole ring — the symmetric variant — buys only
    * incidental Hamming-2 collisions for (1 + r)²× the per-bucket
    * candidate volume; measured 2.4× the whole query at sf0.1, so the
    * asymmetric form is both the published design and the scale shape.)
    *
    * Still fully deterministic (the probe set is a pure function of the
    * signature), so the whole widened pipeline exact-oracles like s13 —
    * this is the multi-probe variant's proof advantage over trained ANN:
    * widening the probe ring changes RESULTS reproducibly, not just
    * statistically. Verification is unchanged (exact rounded cosine ≥ τ,
    * precision 1); the emitted pair set is a superset of s13's
    * (spec-pinned), and both are subsets of the exact d05-style scan.
    *
    * Scale shape: the home index carries s13's rows exactly; the probe
    * side carries (1 + rowsPerBand)× — still fixed per vector,
    * independent of corpus size — and verification still touches
    * candidate pairs only. */
  def srpPairsMultiProbe(emb: DataFrame, threshold: Double = 0.45,
                         nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame =
    graft.Memo.frame("Srp.multiProbePairs", emb, threshold, nBands, rowsPerBand)(
      srpPairsMultiProbeUncached(emb, threshold, nBands, rowsPerBand))

  private def srpPairsMultiProbeUncached(emb: DataFrame, threshold: Double,
                                         nBands: Int, rowsPerBand: Int): DataFrame = {
    val sg = signsFor(nBands * rowsPerBand)
    val sig = sigFrame(emb, sg, nBands * rowsPerBand)
    // home index: one row per (vec, band) — s13's frame
    val home = bandRows(sig, "hid", nBands, rowsPerBand)
    // probe side: own bucket + the rowsPerBand one-bit-flip probes, all
    // bands in ONE explode over one signature evaluation
    val probeEntries = (0 until nBands).flatMap { b =>
      val bucket = bucketCol(b, rowsPerBand)
      val ring = bucket +: (0 until rowsPerBand).map(r =>
        // flipping bit r toggles the 2^(rowsPerBand-1-r) term
        bucket + (lit(1) - lit(2) * col(s"b${b * rowsPerBand + r}")) * lit(1 << (rowsPerBand - 1 - r)))
      ring.map(bk => struct(lit(b).as("band"), bk.as("bucket")))
    }
    val probe = sig.select(col("vec_id").as("pid"),
      explode(array(probeEntries: _*)).as("e"))
      .select(col("pid"), col("e.band").as("band"), col("e.bucket").as("bucket"))
    val cand = home.join(probe, Seq("band", "bucket"))
      .where(col("hid") =!= col("pid"))
      .select(least(col("hid"), col("pid")).as("d1"),
        greatest(col("hid"), col("pid")).as("d2"))
      .distinct()
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    cand
      .join(v.select(col("vec_id").as("d1"), col("v").as("v1")), "d1")
      .join(v.select(col("vec_id").as("d2"), col("v").as("v2")), "d2")
      .select(col("d1"), col("d2"),
        round(VectorFns.cosine(col("v1"), col("v2")), 8).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** d24: incremental EMBEDDING admission — the d08/d10/d21 batch-
    * ingestion contract for the vector modality: admit from an incoming
    * batch only the vectors with NO standing cosine near-dup (round 8 dp
    * ≥ τ among SRP bucket collisions). Completes the admission family
    * across content types — d08 exact text, d10 shingle-Jaccard, d21
    * edit-distance short text, d24 embeddings — so a nightly multimodal
    * ingest can gate every modality with the same decision shape.
    *
    * Because SRP bucketing is data-independent AND deterministic, the
    * admission verdict is a pure function of the two frames — exactly
    * oracle-checkable, where an IVF-based admission would inherit s02's
    * trained-cells rows-only status. Cross-side only, by the d10
    * contract: batch-INTERNAL near-dups are both admitted (resolving
    * them is s13+d07's job on the admitted set, spec-planted there).
    *
    * Scale shape: signatures are scan-local on both sides; the only
    * exchange is the (band, bucket) join keyed on fixed-size signature
    * pieces; verification touches candidates only; the final decision is
    * one anti-join on the batch. The standing side's signature scan is
    * the per-batch price — at 100 TB the standing signatures would be
    * materialized once (the s11 index rule) since they never change. */
  def admitEmbeddings(existing: DataFrame, incoming: DataFrame,
                      threshold: Double = 0.45,
                      nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val sg = signsFor(nBands * rowsPerBand)
    def bandsOf(emb: DataFrame, side: String): DataFrame =
      bandRows(sigFrame(emb, sg, nBands * rowsPerBand), side, nBands, rowsPerBand)
    val cand = bandsOf(incoming, "din").join(bandsOf(existing, "dex"), Seq("band", "bucket"))
      .select(col("din"), col("dex")).distinct()
    val vIn = incoming.select(col("vec_id").as("din"), col("embedding").cast("array<double>").as("v1"))
    val vEx = existing.select(col("vec_id").as("dex"), col("embedding").cast("array<double>").as("v2"))
    val dupped = cand.join(vIn, "din").join(vEx, "dex")
      .where(round(VectorFns.cosine(col("v1"), col("v2")), 8) >= threshold)
      .select(col("din").as("vec_id")).distinct()
    incoming.select(col("vec_id")).join(dupped, Seq("vec_id"), "left_anti")
  }

  /** The DuckDB oracle for [[admitEmbeddings]] — both sides' signatures
    * from the same rendered planes, the cross bucket join, the exact
    * cosine verify, the anti-join. */
  def admitOracleSql(threshold: Double, standingPred: String, incomingPred: String,
                     nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): String = {
    val bandCols = (0 until nBands).map { b =>
      val bucket = (0 until rowsPerBand).map { r =>
        s"b${b * rowsPerBand + r} * ${1 << (rowsPerBand - 1 - r)}"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bucket AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v,
       |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS scale
       |  FROM e),
       |q AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
       |  FROM s),
       |sig AS (SELECT vec_id,
       |  ${bitExprSql(nBands * rowsPerBand)}
       |  FROM q),
       |bands AS (
       |  $bandCols),
       |cand AS (SELECT DISTINCT a.vec_id AS din, b.vec_id AS dex
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.vec_id IN (SELECT vec_id FROM e WHERE $incomingPred)
       |    AND b.vec_id IN (SELECT vec_id FROM e WHERE $standingPred)),
       |dup AS (SELECT DISTINCT din AS vec_id
       |  FROM cand
       |  JOIN e e1 ON e1.vec_id = din
       |  JOIN e e2 ON e2.vec_id = dex
       |  WHERE round(list_cosine_similarity(e1.v, e2.v), 8) >= $threshold)
       |SELECT vec_id FROM e WHERE $incomingPred
       |  AND vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin
  }

  /** The DuckDB oracle for [[srpPairsMultiProbe]] — s13's home-bucket
    * index joined against the probe ring (own bucket + the one-bit
    * flips), the asymmetric Lv et al. shape the engine runs. */
  def multiProbeOracleSql(threshold: Double,
                          nBands: Int = Bands, rowsPerBand: Int = RowsPerBand): String = {
    val homeSelects = (0 until nBands).map { b =>
      val bucket = (0 until rowsPerBand).map { r =>
        s"b${b * rowsPerBand + r} * ${1 << (rowsPerBand - 1 - r)}"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bucket AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    val probeSelects = (0 until nBands).flatMap { b =>
      val bucket = (0 until rowsPerBand).map { r =>
        s"b${b * rowsPerBand + r} * ${1 << (rowsPerBand - 1 - r)}"
      }.mkString(" + ")
      val own = s"SELECT vec_id, $b AS band, $bucket AS bucket FROM sig"
      val flips = (0 until rowsPerBand).map { r =>
        s"SELECT vec_id, $b AS band, ($bucket) + (1 - 2 * b${b * rowsPerBand + r}) * ${1 << (rowsPerBand - 1 - r)} AS bucket FROM sig"
      }
      own +: flips
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v,
       |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS scale
       |  FROM e),
       |q AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
       |  FROM s),
       |sig AS (SELECT vec_id,
       |  ${bitExprSql(nBands * rowsPerBand)}
       |  FROM q),
       |home AS (
       |  $homeSelects),
       |probe AS (
       |  $probeSelects),
       |cand AS (SELECT DISTINCT least(h.vec_id, p.vec_id) AS d1,
       |    greatest(h.vec_id, p.vec_id) AS d2
       |  FROM home h JOIN probe p
       |    ON h.band = p.band AND h.bucket = p.bucket AND h.vec_id <> p.vec_id)
       |SELECT d1, d2, round(list_cosine_similarity(e1.v, e2.v), 8) AS cos
       |FROM cand
       |JOIN e e1 ON e1.vec_id = d1
       |JOIN e e2 ON e2.vec_id = d2
       |WHERE round(list_cosine_similarity(e1.v, e2.v), 8) >= $threshold""".stripMargin
  }

  /** The DuckDB oracle for [[srpPairs]] — the SAME planes rendered as SQL
    * text, the s03 quantization CTE, explicit per-bit integer sums
    * (±qv[i] terms generated from [[signs]]), d03's band-bucket pair
    * generation and the s01 cosine verify. */
  def oracleSql(threshold: Double): String = {
    val bandSelects = (0 until Bands).map { b =>
      val bucket = (0 until RowsPerBand).map { r =>
        s"b${b * RowsPerBand + r} * ${1 << (RowsPerBand - 1 - r)}"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bucket AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    oracleBody(bitExprSql(), bandSelects, threshold)
  }

  /** The signature-bit CASE expressions over qv, from [[signsFor]]. */
  private def bitExprSql(nBits: Int = Bits): String = {
    val sg = signsFor(nBits)
    (0 until nBits).map { j =>
      val terms = sg(j).zipWithIndex.map { case (s, i) =>
        val ix = i + 1
        if (s > 0) s"+qv[$ix]" else s"-qv[$ix]"
      }.mkString
      val sumExpr = if (terms.startsWith("+")) terms.drop(1) else terms
      s"(CASE WHEN $sumExpr >= 0 THEN 1 ELSE 0 END) AS b$j"
    }.mkString(",\n  ")
  }

  /** Shared oracle scaffold: quantize → signature bits → the caller's
    * band/bucket rows → distinct ordered pairs → exact cosine verify. */
  private def oracleBody(bitExprs: String, bandSelects: String, threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v,
       |  greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS scale
       |  FROM e),
       |q AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
       |  FROM s),
       |sig AS (SELECT vec_id,
       |  $bitExprs
       |  FROM q),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT d1, d2, round(list_cosine_similarity(e1.v, e2.v), 8) AS cos
       |FROM cand
       |JOIN e e1 ON e1.vec_id = d1
       |JOIN e e2 ON e2.vec_id = d2
       |WHERE round(list_cosine_similarity(e1.v, e2.v), 8) >= $threshold""".stripMargin
}
