package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Symmetric int8 scalar quantization of the embedding column — the
  * standard memory lever for ANN at scale: 8 bytes/dim (double) → 1 byte
  * (tinyint), an 8× smaller corpus footprint, at a bounded per-element
  * error of scale/2 = max|x|/254.
  *
  * Both directions are pure Column expression trees (whole-stage codegen,
  * zero shuffle, scan-speed at 100 TB) and engine-portable: rounding is
  * floor(x/scale + 0.5) because IEEE floor is bit-identical everywhere,
  * while round()'s half-way rule differs by engine — so the s03 oracle can
  * hash-match the quantized bytes exactly.
  *
  * Composition: quantize at ingest, store qvec+scale; serve kNN over
  * [[dequantized]] vectors (QuantizeSpec pins the recall cost vs exact) or
  * feed them to the IVF path — the centroids see dequantized values, so
  * Knn.ivfServeIndexed works unchanged. The composed search is registered as
  * `s04_knn_quantized` and — because quantization is deterministic, unlike
  * IVF's trained cells — is fully hash-checked against a DuckDB oracle
  * that dequantizes the same way.
  */
object Quantize {

  private def quantCols(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        // symmetric range: max|x| maps to ±127; the 1e-30 floor keeps a
        // zero vector from dividing by zero (its qvec is all zeros)
        (greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-30))
          / lit(127.0)).as("scale"))

  /** s03: (vec_id, scale, qvec: array<tinyint>). */
  def quantized(emb: DataFrame): DataFrame =
    quantCols(emb).select(col("vec_id"), col("scale"),
      transform(col("v"),
        x => floor(x / col("scale") + lit(0.5)).cast("tinyint")).as("qvec"))

  /** Reconstructed vectors (vec_id, embedding: array<double>) — the lossy
    * round-trip the serving path scores against. */
  def dequantized(emb: DataFrame): DataFrame =
    quantized(emb).select(col("vec_id"),
      transform(col("qvec"), q => q.cast("double") * col("scale")).as("embedding"))

  /** [[dequantized]] at an arbitrary symmetric level count: max|x| maps to
    * ±maxq (maxq = 127 is the int8 path; 7 ≈ 4-bit; 1 ≈ 2-bit ternary).
    * Same floor(x/scale + 0.5) portable rounding, same expression-tree
    * zero-shuffle shape — the s29 ladder's knob. */
  def dequantizedAt(emb: DataFrame, maxq: Int): DataFrame = {
    require(maxq >= 1, s"maxq=$maxq must be >= 1")
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        (greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-30))
          / lit(maxq.toDouble)).as("scale"))
      .select(col("vec_id"),
        transform(col("v"),
          x => floor(x / col("scale") + lit(0.5)) * col("scale")).as("embedding"))
  }

  /** s19: vector-hygiene audit — t03's quality gate for the embedding
    * modality: per vector its dimensionality, squared norm, zero-element
    * count, non-finite count, and a degenerate flag (zero vector,
    * NaN/Inf anywhere, or off-spec dimensionality). Embedding corpora
    * accumulate exactly these defects (failed encoder batches emit
    * zeros; overflowed fp16 exports emit Inf; concatenation bugs change
    * dims) and every downstream consumer — cosine dedup, IVF training,
    * SRP routing — silently misbehaves on them (a zero vector has
    * cosine NaN against everything), so the gate runs at ingest.
    *
    * Exactness: counts are exact integers off scan-local HOFs; norm2 is
    * the sequential fold both engines compute, rounded at 6 dp — its
    * O(1e-13) association noise against a ~1e-6 rounding boundary makes
    * a flip ~1e-7-improbable (the q52 magnitude discipline; round-8's
    * q73 showed round-6 does NOT cover noise at ~1e-9, hence this
    * explicit ratio argument). The flag reads the UNROUNDED fold only
    * through `= 0`, which noise cannot cross for a genuinely zero
    * vector (every term is exactly 0). Zero shuffle — the t01 class. */
  def vectorQuality(emb: DataFrame, dims: Int = 64): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val norm2 = aggregate(v, lit(0.0), (acc, x) => acc + x * x)
    val nonfinite = size(filter(v, x =>
      isnan(x) || abs(x) === lit(Double.PositiveInfinity)))
    emb.select(col("vec_id"),
      size(v).as("dim"),
      (round(norm2, 6) + lit(0.0)).as("norm2"),
      size(filter(v, x => x === lit(0.0))).cast("long").as("n_zero"),
      nonfinite.cast("long").as("n_nonfinite"),
      (norm2 === lit(0.0) || nonfinite > 0 || size(v) =!= dims)
        .as("degenerate"))
  }
}
