package graft

import graft.ml.MlOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MLlib-native LSH paths (MinHashLSH, BucketedRandomProjectionLSH) — the
  * library counterparts of the hand-rolled banded implementations in
  * graft.dedup / graft.similarity. */
class MlLshSpec extends AnyFunSuite {
  import SparkTestSession._

  test("MinHashLSH candidates cover the exact n-gram Jaccard near-dup pairs") {
    val exact = graft.dedup.Dedup.ngramJaccardPairs(tables.documents, threshold = 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val ml = MlOps.mlMinHashNearDups(tables.documents, maxDistance = 0.25)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // OR-amplified over 8 tables: miss probability per j>=0.8 pair ~ (0.2)^8
    assert(exact.subsetOf(ml),
      s"MLlib path missed exact pairs: ${exact.diff(ml).take(5)}")
  }

  test("Word2Vec: seed-pinned fit is deterministic; vocabulary and synonyms behave") {
    val model = MlOps.word2vecModel(tables.documents, vectorSize = 16, minCount = 2)
    val vecs = model.getVectors.collect().map(r => r.getString(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray.toSeq).toMap
    assert(vecs.nonEmpty, "vocabulary must be non-empty")
    assert(vecs.values.forall(_.length === 16))
    // minCount: every vocab word occurs at least twice in the tokenized corpus
    val counts = tables.documents
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vecs.keys.forall(w => counts.getOrElse(w, 0L) >= 2L),
      "vocab must respect minCount")
    // determinism: a second fit reproduces the vectors bit-for-bit
    val again = MlOps.word2vecModel(tables.documents, vectorSize = 16, minCount = 2)
      .getVectors.collect().map(r => r.getString(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray.toSeq).toMap
    assert(again === vecs, "seed-pinned single-partition fit must be deterministic")
    // synonym query: n rows, best-first, never echoing the query token
    val probe = vecs.keys.min // deterministic vocab member
    val syn = model.findSynonyms(probe, 5).collect()
    assert(syn.length === 5)
    assert(syn.forall(_.getString(0) != probe))
    val sims = syn.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "best-first order")
  }

  test("BucketedRandomProjectionLSH pairs report true euclidean distances") {
    val pairs = MlOps.mlEuclideanNearDups(spark, tables.embeddings, radius = 4.0)
    val got = pairs.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getDouble(2) <= 4.0))
    // recompute one distance exactly from the source embeddings
    val r = got.head
    val vecs = tables.embeddings
      .filter(col("vec_id").isin(r.getLong(0), r.getLong(1)))
      .select("vec_id", "embedding").collect()
      .map(x => x.getLong(0) -> x.getSeq[Float](1).toArray).toMap
    val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
    val d = math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
    assert(math.abs(d - r.getDouble(2)) < 1e-4)
  }
}
