package graft.functions

import graft.plans.{VecDot, VecL2Sq, VecNormSq}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Vector column functions over `array<float|double>` embedding columns.
  *
  * The public surface routes through the native codegen'd kernels
  * ([[graft.plans.VectorKernels]]): one primitive loop per row inside the
  * generated stage. The higher-order-function forms below (`hof*`) are the
  * semantic reference — accumulation is sequential left-to-right with a
  * double accumulator, matching DuckDB's list_* kernels for oracle parity —
  * and VectorExprsSpec pins the native kernels bit-for-bit against them.
  */
object VectorFns {

  /** To the kernels' input type; an already-array<double> input leaves no
    * cast in the optimized plan (SimplifyCasts). */
  private def asD(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ColumnBridge.toExpression(c.cast("array<double>"))

  private def native2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                          org.apache.spark.sql.catalyst.expressions.Expression) =>
                         org.apache.spark.sql.catalyst.expressions.Expression)
                     (a: Column, b: Column): Column =
    ColumnBridge.toColumn(f(asD(a), asD(b)))

  /** Σ aᵢ·bᵢ with a double accumulator. */
  def dot(a: Column, b: Column): Column = native2(VecDot)(a, b)

  /** Σ aᵢ² (squared L2 norm). */
  def normSq(a: Column): Column =
    ColumnBridge.toColumn(VecNormSq(asD(a)))

  /** a / ‖a‖ — unit-normalized embedding (zero vectors pass through
    * unchanged rather than dividing by zero). After normalization, cosine
    * ranking and L2 ranking agree, which is what lets the L2-space ANN
    * paths (IVF cells, PQ codebooks) serve cosine workloads. Native kernel:
    * a `transform(a, x => x / sqrt(normSq(a)))` re-evaluates the captured norm
    * PER ELEMENT (the HOF pitfall TextFns documents). */
  def l2Normalize(a: Column): Column =
    ColumnBridge.toColumn(graft.plans.VecL2Normalize(asD(a)))

  /** Cosine similarity, dot/(√‖a‖²·√‖b‖²) — the same association DuckDB's
    * list_cosine_similarity uses. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Squared euclidean distance. */
  def l2Sq(a: Column, b: Column): Column = native2(VecL2Sq)(a, b)

  /** Squared euclidean distance to a driver-side constant vector (a model
    * artifact such as a KMeans center), embedded as an array literal. */
  def l2SqLit(a: Column, c: Array[Double]): Column =
    l2Sq(a, array(c.toIndexedSeq.map(lit(_)): _*))

  // ---- higher-order-function reference forms (semantic spec; interpreted) --

  private[graft] def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private[graft] def hofNormSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  private[graft] def hofCosine(a: Column, b: Column): Column =
    hofDot(a, b) / (sqrt(hofNormSq(a)) * sqrt(hofNormSq(b)))

  private[graft] def hofL2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
}
