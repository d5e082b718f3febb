package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}

/** The engine's per-key bounded top-k as a first-class physical operator —
  * the whole-operator rung of the custom-Catalyst ladder (native
  * expressions → optimizer rule → LogicalPlan + Strategy + SparkPlan).
  *
  * Semantics (identical to [[graft.similarity.TopKAgg]], which remains the
  * reference implementation the spec pins against): group the input
  * (query_id, neighbor_id, cos) by query_id, keep the k best rows by
  * (cos DESC, neighbor_id ASC) — boundary ties resolve to the smaller id —
  * and emit (query_id, rank, neighbor_id, cos) with rank 1..k.
  *
  * Why a physical operator when an Aggregator expresses this: the udaf
  * route runs through ObjectHashAggregateExec, which pays per input row an
  * encoder round-trip (InternalRow → (Double, Long) tuple) and an
  * immutable-List buffer update; on |Q|·|corpus| scored pairs that
  * bookkeeping dominates the actual comparisons. The exec below keeps the
  * same two-phase shape — [[TopKLocalExec]] clips every partition to ≤ k
  * rows per key BEFORE the exchange (the property that makes top-k scale:
  * the shuffle carries |keys|·k·partitions rows, never |input|), then
  * [[TopKFinalExec]] merges per key after a hash exchange that
  * EnsureRequirements inserts for its required distribution — but the heap
  * is primitive double/long arrays in a hash map, no per-row allocation at
  * steady state (a candidate that cannot displace the current k-th best
  * touches two array cells and leaves).
  *
  * The node is opaque to the optimizer on purpose: `references` pins every
  * child column (nothing to prune) and no predicate may cross it — a
  * filter on `cos` pushed below the ranking would renumber ranks.
  */
case class TopKPerKeyNode(k: Int, outputAttrs: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = outputAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
  // pin all child columns: column pruning must not touch the operator input
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyNode {
  /** Input contract: exactly (query_id: long|string, neighbor_id: long,
    * cos: double) — the shapes the engine's similarity/holdout family
    * produces. Callers with other shapes use the Aggregator route. */
  def supports(plan: LogicalPlan): Boolean = {
    val out = plan.output
    out.length == 3 &&
      (out(0).dataType == LongType || out(0).dataType == StringType) &&
      out(1).dataType == LongType && out(2).dataType == DoubleType
  }

  def apply(k: Int, child: LogicalPlan): TopKPerKeyNode = {
    require(supports(child), s"TopKPerKeyNode: unsupported input ${child.output}")
    val key = child.output.head
    val attrs = Seq(
      AttributeReference(key.name, key.dataType, key.nullable)(),
      AttributeReference("rank", IntegerType, nullable = false)(),
      AttributeReference(child.output(1).name, LongType, child.output(1).nullable)(),
      AttributeReference(child.output(2).name, DoubleType, child.output(2).nullable)())
    TopKPerKeyNode(k, attrs, child)
  }
}

/** Plans [[TopKPerKeyNode]] as local-clip → (exchange) → final-merge. */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, out, child) =>
      TopKFinalExec(k, out, TopKLocalExec(k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** One bounded best-first buffer: parallel primitive arrays kept sorted by
  * (score DESC, id ASC). Insert is O(k) shifts worst case and O(1) —
  * compare against the current k-th, no allocation — for the common
  * can't-qualify candidate. */
private[graft] final class BoundedTopK(k: Int) {
  // capacity grows geometrically toward k: callers may ask for a huge k
  // as an "unbounded" top (the s07-vs-s01 equivalence runs k = 10⁶), and
  // eagerly allocating 2k cells PER KEY would be an OOM by construction
  var scores = new Array[Double](math.min(k, 16))
  var ids = new Array[Long](math.min(k, 16))
  var size = 0

  @inline private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  private def grow(): Unit = {
    val cap = math.min(k.toLong, scores.length * 2L).toInt
    scores = java.util.Arrays.copyOf(scores, cap)
    ids = java.util.Arrays.copyOf(ids, cap)
  }

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !better(s, id, scores(size - 1), ids(size - 1))) return
    if (size == scores.length && size < k) grow()
    var i = if (size == k) size - 1 else size
    while (i > 0 && better(s, id, scores(i - 1), ids(i - 1))) {
      if (i < scores.length) { scores(i) = scores(i - 1); ids(i) = ids(i - 1) }
      i -= 1
    }
    scores(i) = s
    ids(i) = id
    if (size < k) size += 1
  }
}

private[plans] object TopKHeaps {
  /** Drain a partition into per-key heaps. Keys are boxed; UTF8String keys
    * are copied (the unsafe row buffer is reused across iterator steps).
    * Null key/id/score rows are dropped (the scoring joins never emit
    * them; the Aggregator's tuple encoder would reject them the same). */
  def build(iter: Iterator[InternalRow], keyType: DataType, k: Int)
      : java.util.LinkedHashMap[AnyRef, BoundedTopK] = {
    val heaps = new java.util.LinkedHashMap[AnyRef, BoundedTopK]()
    while (iter.hasNext) {
      val row = iter.next()
      if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2)) {
        val key: AnyRef = keyType match {
          case LongType => java.lang.Long.valueOf(row.getLong(0))
          case _        => row.getUTF8String(0).copy()
        }
        var heap = heaps.get(key)
        if (heap == null) { heap = new BoundedTopK(k); heaps.put(key, heap) }
        heap.insert(row.getDouble(2), row.getLong(1))
      }
    }
    heaps
  }
}

/** Phase 1: clip each partition to ≤ k rows per key; same schema out. */
case class TopKLocalExec(k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = {
    val keyType = child.output.head.dataType
    val schema = child.output.map(_.dataType).toArray
    child.execute().mapPartitions({ iter =>
      val heaps = TopKHeaps.build(iter, keyType, k)
      val proj = UnsafeProjection.create(schema)
      val out = new GenericInternalRow(3)
      val entries = heaps.entrySet().iterator()
      new Iterator[InternalRow] {
        private var heap: BoundedTopK = _
        private var key: AnyRef = _
        private var i = 0
        def hasNext: Boolean = (heap != null && i < heap.size) || entries.hasNext
        def next(): InternalRow = {
          if (heap == null || i >= heap.size) {
            val e = entries.next(); key = e.getKey; heap = e.getValue; i = 0
          }
          out.update(0, key)
          out.update(1, heap.ids(i))
          out.update(2, heap.scores(i))
          i += 1
          proj(out)
        }
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKLocalExec =
    copy(child = newChild)
}

/** Phase 2: merge per key (EnsureRequirements inserts the hash exchange
  * for the clustered distribution) and emit ranked rows. */
case class TopKFinalExec(k: Int, outputAttrs: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = outputAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output.head)) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val keyType = child.output.head.dataType
    val schema = outputAttrs.map(_.dataType).toArray
    child.execute().mapPartitions({ iter =>
      val heaps = TopKHeaps.build(iter, keyType, k)
      val proj = UnsafeProjection.create(schema)
      val out = new GenericInternalRow(4)
      val entries = heaps.entrySet().iterator()
      new Iterator[InternalRow] {
        private var heap: BoundedTopK = _
        private var key: AnyRef = _
        private var i = 0
        def hasNext: Boolean = (heap != null && i < heap.size) || entries.hasNext
        def next(): InternalRow = {
          if (heap == null || i >= heap.size) {
            val e = entries.next(); key = e.getKey; heap = e.getValue; i = 0
          }
          out.update(0, key)
          out.update(1, i + 1)
          out.update(2, heap.ids(i))
          out.update(3, heap.scores(i))
          i += 1
          proj(out)
        }
      }
    }, preservesPartitioning = false)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}

object TopKPlans {
  /** The operator as a DataFrame transform (callers: Knn.topKPerKey). */
  def topKPerKey(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    graft.GraftSession.ensureOptimizations(spark)
    DatasetBridge.ofRows(spark, TopKPerKeyNode(k, scored.queryExecution.analyzed))
  }

  def supports(scored: DataFrame): Boolean =
    TopKPerKeyNode.supports(scored.queryExecution.analyzed)
}
