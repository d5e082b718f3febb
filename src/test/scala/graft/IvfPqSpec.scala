package graft

import graft.functions.VectorFns
import graft.similarity.{IvfPq, Knn, Pq}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ: residual-encoding identities on a planted model, recall vs the
  * exact-L2 ranking, registry determinism, and the cell-pruned /
  * broadcast-probe plan shape. */
class IvfPqSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val emb = tables.embeddings

  test("encode: cell is the nearest coarse centroid and codes quantize the residual") {
    // 2 coarse cells far apart; 1 subspace, 2 codes on the residual axis
    val centers = Array(Array(0.0, 0.0), Array(100.0, 100.0))
    val cb: Pq.Codebooks = Array(Array(Array(0.0, 0.0), Array(3.0, 3.0)))
    val vecs = Seq(
      (1L, Seq(2.9, 3.1)),     // cell 0, residual ≈ (2.9, 3.1) → code 1
      (2L, Seq(100.2, 99.9)),  // cell 1, residual ≈ (0.2, -0.1) → code 0
      (3L, Seq(0.1, -0.2))     // cell 0, residual ≈ 0 → code 0
    ).toDF("vec_id", "embedding")
    val got = IvfPq.encodeRefine(vecs, centers, cb)
      .select("vec_id", "cell", "codes").as[(Long, Int, Seq[Byte])].collect().sortBy(_._1)
    assert(got(0) === ((1L, 0, Seq(1.toByte))))
    assert(got(1) === ((2L, 1, Seq(0.toByte))))
    assert(got(2) === ((3L, 0, Seq(0.toByte))))
  }

  test("recall@5 vs exact L2 clears the cell+codebook bound on this corpus") {
    Memo.release(spark)
    val k = 5
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = v.filter("vec_id < 10").select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = Knn.topKPerKey(
      v.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (-round(VectorFns.l2Sq(col("qv"), col("v")), 8)).as("cos")), k)
    val truth = exact.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = IvfPq.ivfPq(emb, k = k).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet === truth.keySet)
    val recall = got.map { case (qid, ns) => (ns & truth(qid)).size.toDouble / k }.sum / got.size
    // bounded below by the IVF cell-probe recall times shortlist survival;
    // on this corpus the observed value sits well above the floor
    assert(recall >= 0.5, f"IVF-PQ recall@5 = $recall%.2f below floor")
  }

  test("registry: repeated calls are deterministic (train-at-most-once)") {
    Memo.release(spark)
    val a = IvfPq.ivfPq(emb).collect()
    val b = IvfPq.ivfPq(emb).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("serving index is materialized once: second serve reads the in-memory index") {
    Memo.release(spark)
    val first = IvfPq.ivfPq(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val df2 = IvfPq.ivfPq(emb)
    val plan = df2.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"second serve must read the cached encoded index, not re-encode:\n$plan")
    assert(df2.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet === first)
  }

  test("plan: corpus cell-pruned and unshuffled; probes broadcast; two top-k exchanges") {
    val (centers, cb) = IvfPq.train(emb)
    val df = IvfPq.searchEncoded(IvfPq.encodeRefine(emb, centers, cb), centers, cb)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"), s"probe set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"only the shortlist and final top-k aggs may shuffle:\n$p")
    val encPlan = IvfPq.encodeRefine(emb, centers, cb).queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange hashpartitioning") && !encPlan.contains("Exchange rangepartitioning"),
      s"index build must be map-side (no keyed exchange):\n$encPlan")
  }
}
