package graft

import graft.similarity.{GraphSearch, Knn}
import org.scalatest.funsuite.AnyFunSuite

/** s22 compensating spec (rows-only in the driver check — greedy graph
  * navigation is not SQL-expressible, the s02/t08 class): recall vs the
  * exact s01 baseline, score exactness, the seed-improvement law, and
  * partitioning invariance. */
class GraphSearchSpec extends AnyFunSuite {
  import SparkTestSession._

  private val queryPred = "vec_id < 10"

  test("s22: every reported score is the exactly-computed cosine (precision 1)") {
    Memo.release(spark)
    val got = GraphSearch.search(tables.embeddings, queryPred, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // unbounded exact ranking reproduces every (query, neighbor) score
    val exact = Knn.bruteForce(tables.embeddings, queryPred, k = 1000000).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (q, n, c) =>
      assert(exact((q, n)) === c, s"score for ($q,$n) is not the exact cosine")
    }
  }

  test("s22: recall@5 vs exact top-5 clears the navigation floor") {
    Memo.release(spark)
    val exact = Knn.bruteForce(tables.embeddings, queryPred, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = GraphSearch.search(tables.embeddings, queryPred, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // near-random embeddings are the hard case for graph navigation
    // (no cluster structure to walk along); 3 hops of beam 8 over the
    // k=8 graph still has to land well above the seed-only baseline
    assert(recall >= 0.5, s"recall $recall fell below the floor")
  }

  test("s22: more iterations never lose neighbors (best-seen is monotone)") {
    Memo.release(spark)
    def bestPerQuery(iters: Int): Map[Long, Double] =
      GraphSearch.search(tables.embeddings, queryPred, k = 1, beam = 8,
        iters = iters).collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val seedOnly = bestPerQuery(0)
    val walked = bestPerQuery(3)
    assert(seedOnly.keySet === walked.keySet)
    walked.foreach { case (q, c) =>
      assert(c >= seedOnly(q), s"query $q: walk lost ground vs the seed set")
    }
    assert(walked.exists { case (q, c) => c > seedOnly(q) },
      "3 hops somewhere beat the bare seed set (the walk does something)")
  }

  test("s22: per-hop lineage truncation does not change the answer") {
    Memo.release(spark)
    val a = GraphSearch.search(tables.embeddings, queryPred, k = 5, beam = 8,
      iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val b = GraphSearch.walkNoTruncate(tables.embeddings, queryPred,
      k = 5, beam = 8, iters = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a === b)
  }

  test("s25: topology profile replays a JVM graph walk over the s08 edges") {
    val edges = graft.similarity.Knn.knnGraph(tables.embeddings, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val und = (edges ++ edges.map(e => (e._2, e._1))).toSet
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = GraphSearch.graphProfile(tables.embeddings).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))).toMap
    assert(got.keySet === adj.keySet)
    adj.foreach { case (v, ns) =>
      val deg = ns.size.toLong
      val nbrSeq = ns.toSeq.sorted
      val closed = (for {
        i <- nbrSeq.indices; j <- (i + 1) until nbrSeq.length
        if und((nbrSeq(i), nbrSeq(j)))
      } yield 1).size.toLong
      val pairs = deg * (deg - 1) / 2
      val twoHop = (ns ++ ns.flatMap(adj(_)) - v).size.toLong
      val cc = if (deg < 2) None else Some(closed * 1000000L / pairs)
      assert(got(v) === ((deg, closed, pairs, cc, twoHop)), s"vertex $v")
    }
    // corpus-level sanity: embeddings of natural structure show SOME closure
    assert(got.values.exists(_._2 > 0), "at least one closed triangle exists")
  }

  test("s22: result is invariant to input partitioning") {
    Memo.release(spark)
    val a = GraphSearch.search(tables.embeddings, queryPred, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    Memo.release(spark)
    val b = GraphSearch.search(tables.embeddings.repartition(7), queryPred, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a === b)
    Memo.release(spark)
  }
}
