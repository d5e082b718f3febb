package graft

import graft.dedup.{Clusters, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClustersSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("connected components close a planted A~B~C chain transitively") {
    // no direct A~C edge: only transitivity can put all three in one cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val got = Clusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pointer jumping converges in <= ceil(log2 diameter) + 1 rounds on a path graph") {
    // path 0-1-…-15: diameter 15, the worst shape for pure min-propagation
    // (15 rounds); compression must close it in ceil(log2 15) + 1 = 5
    val path = (0L until 15L).map(i => (i, i + 1)).toDF("d1", "d2")
    // smallGraphEdges = 0 forces the distributed loop this test measures
    val (labels, rounds) = Clusters.connectedComponentsWithRounds(path, smallGraphEdges = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 16)
    assert(got.forall(_._2 == 0L), s"not all labels reached the minimum: ${got.toSeq}")
    assert(rounds <= 5, s"pointer jumping regressed: $rounds rounds for diameter 15")
  }

  test("non-convergence throws instead of returning wrong clusters") {
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      Clusters.connectedComponentsWithRounds(path, maxIter = 1, smallGraphEdges = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("small-graph union-find and the distributed loop label identically") {
    // seeded random graph: mixed component sizes, shuffled ids
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 120L).toVector)
    val edges = (1 to 300).map { _ =>
      (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
    }.filter { case (a, b) => a != b }.toDF("d1", "d2")
    val viaUnionFind = Clusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Clusters.connectedComponents(edges, smallGraphEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUnionFind === viaLoop)
    assert(viaUnionFind.nonEmpty)
  }

  test("d32: local and distributed power iterations are value-identical") {
    // seeded random graph with chains AND a clique so degrees vary; the
    // integer ppb recurrence must agree digit for digit between the
    // driver fast path and the localCheckpoint loop
    val rnd = new scala.util.Random(13)
    val ids = rnd.shuffle((0L until 60L).toVector)
    val raw = (1 to 120).map { _ =>
      (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val pairs = raw.toDF("d1", "d2")
    val local = Clusters.powerRanksLocal(pairs, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Clusters.powerRanksDistributed(pairs, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    assert(local.nonEmpty)
  }

  test("empty pair set yields empty clusters without running the loop") {
    val none = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Clusters.connectedComponents(none).count() === 0L)
  }

  test("d15: incremental merge equals the full recompute, including cross-component merges") {
    // standing: {1,2,3} and {10,11}; the batch bridges both standing
    // components through a NEW doc (20) and starts a fresh one {30,31}
    val standingPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val batch = Seq((3L, 20L), (20L, 10L), (30L, 31L)).toDF("d1", "d2")
    val standing = Clusters.connectedComponents(standingPairs)
    val merged = Clusters.mergeClusters(standing, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Clusters.connectedComponents(standingPairs.unionByName(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === full)
    assert(merged(20L) === 1L && merged(10L) === 1L,
      "bridge doc must pull both standing components to the global minimum")
    assert(merged(31L) === 30L)
  }

  test("d15: an empty batch leaves the standing labels unchanged") {
    val standingPairs = Seq((5L, 6L), (6L, 7L)).toDF("d1", "d2")
    val standing = Clusters.connectedComponents(standingPairs)
    val merged = Clusters.mergeClusters(
      standing, Seq.empty[(Long, Long)].toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("d07 over the corpus: canonical keeper = min id, sizes consistent, pairs covered") {
    val clusters = Clusters.dupClusters(tables.documents).collect()
    assert(clusters.nonEmpty, "test corpus should contain planted near-dups")
    val byCluster = clusters.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      val ids = members.map(_.getAs[Long]("doc_id"))
      assert(ids.min === cid, s"cluster $cid: keeper is not the min id")
      assert(members.forall(_.getAs[Long]("cluster_size") === ids.length.toLong))
      // exactly one keeper per cluster, and it is the cluster id
      val keepers = members.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id"))
      assert(keepers.toSeq === Seq(cid))
      assert(ids.length >= 2, s"cluster $cid: a clustered doc must have a near-dup")
    }
    // every LSH pair's endpoints share a cluster (closure covers the pairs)
    val comp = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    Dedup.minHashLshPairs(tables.documents).select("d1", "d2").collect()
      .foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(comp(a) === comp(b), s"pair ($a,$b) split across clusters")
      }
  }

  test("d09: embedding clusters carry the dupClusters contract over the d06 pair family") {
    val clusters = Clusters.embeddingClusters(tables.embeddings).collect()
    assert(clusters.nonEmpty, "corpus must contain embedding near-dups at this threshold")
    clusters.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, members) =>
      val ids = members.map(_.getAs[Long]("vec_id"))
      assert(ids.min === cid, s"cluster $cid keeper is not the min id")
      assert(members.count(_.getAs[Boolean]("keep")) === 1)
      assert(members.forall(_.getAs[Long]("cluster_size") === ids.length.toLong))
      assert(ids.length >= 2)
    }
    // every d06 pair's endpoints land in one cluster
    val comp = clusters.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    Dedup.embeddingDupPairsIvf(tables.embeddings).select("d1", "d2").collect()
      .foreach { r =>
        assert(comp(r.getLong(0)) === comp(r.getLong(1)),
          s"pair (${r.getLong(0)},${r.getLong(1)}) split across clusters")
      }
  }

  test("d22: edit clusters close a planted edit chain transitively, keeper = min id") {
    import spark.implicits._
    // kitten–sitten dist 1, sitten–sittin dist 1, kitten–sittin dist 2:
    // at maxDist = 1 only transitivity can unite all three
    val docs = Seq(
      (5L, "kitten"), (6L, "sitten"), (7L, "sittin"),
      (9L, "a wholly unrelated document string")
    ).toDF("doc_id", "text")
    val got = Clusters.editClusters(docs, maxDist = 1).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet === Set(5L, 6L, 7L), "unpaired doc must not appear")
    assert(got(5L) === ((5L, 3L, true)))
    assert(got(6L) === ((5L, 3L, false)))
    assert(got(7L) === ((5L, 3L, false)))
  }

  test("d26: cluster sample keeps exactly ceil(sqrt(size)) per cluster, singletons whole") {
    def ceilSqrt(n: Long): Long = {
      val c = math.sqrt(n.toDouble).toLong
      if (c * c < n) c + 1 else c
    }
    val docs = SparkTestSession.tables.documents
    val clusters = Clusters.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val nDocs = docs.count()
    val got = Clusters.clusterSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // membership and size agree with d07 for clustered docs; singletons
    // self-cluster at size 1
    got.foreach { case (id, cid, size, rank) =>
      clusters.get(id) match {
        case Some((c, s)) => assert(cid === c && size === s)
        case None => assert(cid === id && size === 1L && rank === 1L)
      }
    }
    // per-cluster quota: exactly min(size, ceil(sqrt(size))) rows, ranks 1..q
    val perCluster = got.groupBy(_._2)
    perCluster.foreach { case (cid, rows) =>
      val size = rows.head._3
      val q = math.min(size, ceilSqrt(size))
      assert(rows.length.toLong === q, s"cluster $cid quota")
      assert(rows.map(_._4).sorted.toSeq === (1L to q), s"cluster $cid ranks")
    }
    // total = sum of quotas over clusters + all singletons
    val clusteredIds = clusters.keySet
    val clusterSizes = clusters.values.groupBy(_._1).view.mapValues(_.head._2).toMap
    val expected = clusterSizes.values.map(ceilSqrt).sum + (nDocs - clusteredIds.size)
    assert(got.length.toLong === expected)
    // sublinear but non-trivial: strictly fewer than the corpus (there ARE
    // clusters), strictly more than keep-one when some cluster has size >= 4
    assert(got.length < nDocs)
    val keepOne = (nDocs - clusteredIds.size) + clusterSizes.size
    if (clusterSizes.values.exists(_ >= 4))
      assert(got.length.toLong > keepOne, "sqrt retention must exceed keep-one")
  }

  test("d27: census equals a JVM recount of the d07 closure; conservation laws hold") {
    val docs = SparkTestSession.tables.documents
    val nDocs = docs.count()
    val clusters = Clusters.dupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rows = Clusters.duplicationCensus(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    // JVM recount: cluster sizes from labels, singletons at size 1
    val bySize = clusters.groupBy(_._2).map(_._2.length.toLong)
      .groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    val nSingles = nDocs - clusters.length
    val expected = (bySize + (1L -> (bySize.getOrElse(1L, 0L) + nSingles)))
      .filter(_._2 > 0)
    assert(rows.keySet === expected.keySet)
    expected.foreach { case (size, nc) =>
      val (gotNc, gotDocs, share, excess) = rows(size)
      assert(gotNc === nc, s"size $size cluster count")
      assert(gotDocs === nc * size)
      assert(share === gotDocs.toDouble / nDocs)
      assert(excess === gotDocs - gotNc)
    }
    // conservation: every document counted exactly once
    assert(rows.values.map(_._2).sum === nDocs)
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-12)
  }

  test("d31: audit separates the planted clique from the planted chain") {
    import SparkTestSession.spark.implicits._
    val base = (1 to 20).map(i => s"w$i")
    // clique: three identical docs (all 3 edges, density 1e6, J = 1)
    // chain: 1–2 and 2–3 similar, 1–3 below τ (the d30 fixture) → one
    // 3-doc cluster with 2 of 3 possible edges
    val clique = (1 to 20).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (101L, clique),
      (102L, clique),
      (103L, clique),
      (201L, base.mkString(" ")),
      (202L, (base.take(19) :+ "xx").mkString(" ")),
      (203L, (Seq("z1", "z2") ++ base.slice(2, 19) :+ "xx").mkString(" "))
    ).toDF("doc_id", "text")
    graft.Memo.release(spark)
    val got = graft.dedup.Clusters.clusterAudit(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getDouble(6), r.getDouble(7)))).toMap
    graft.Memo.release(spark)
    val (cn, ce, cp, cd, cq, cmin, _) = got(101L)
    assert((cn, ce, cp, cd, cq) === ((3L, 3L, 3L, 1000000L, true)), "clique cluster")
    assert(cmin === 1.0, "identical docs edge at J = 1")
    val (hn, he, hp, hd, hq, hmin, hmax) = got(201L)
    assert((hn, he, hp, hq) === ((3L, 2L, 3L, false)), "chain cluster misses an edge")
    assert(hd === 2000000L / 3L, "density 2/3 in ppm")
    assert(hmin <= hmax && hmin >= 0.8, "edges carry their exact jaccards")
  }

  test("d32: centrality canonical picks the chain middle, ties to min id") {
    import SparkTestSession.spark.implicits._
    val base = (1 to 20).map(i => s"w$i")
    val clique = (1 to 20).map(i => s"v$i").mkString(" ")
    // the d31 fixture: a 3-clique (all ranks equal by symmetry) and a
    // 3-chain whose middle doc 202 is the only one similar to both ends
    val docs = Seq(
      (101L, clique), (102L, clique), (103L, clique),
      (201L, base.mkString(" ")),
      (202L, (base.take(19) :+ "xx").mkString(" ")),
      (203L, (Seq("z1", "z2") ++ base.slice(2, 19) :+ "xx").mkString(" "))
    ).toDF("doc_id", "text")
    graft.Memo.release(spark)
    val got = graft.dedup.Clusters.rankCanonical(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    graft.Memo.release(spark)
    assert(got.keySet === Set(101L, 102L, 103L, 201L, 202L, 203L))
    // clique: perfect symmetry → identical ranks, canonical = min doc_id
    val cliqueRanks = Seq(101L, 102L, 103L).map(got(_)._2).distinct
    assert(cliqueRanks.size === 1, "clique ranks identical by symmetry")
    assert(got(101L)._3 && !got(102L)._3 && !got(103L)._3)
    // chain: the middle doc receives both endpoints' full shares and must
    // out-rank them — canonical by centrality, NOT by min doc_id
    assert(got(202L)._2 > got(201L)._2 && got(202L)._2 > got(203L)._2)
    assert(got(202L)._3 && !got(201L)._3 && !got(203L)._3)
    // hand-computed round-1..3 invariant: endpoints stay symmetric
    assert(got(201L)._2 === got(203L)._2, "endpoint symmetry")
    // every doc carries its d07 cluster id
    assert(got(201L)._1 === got(202L)._1 && got(202L)._1 === got(203L)._1)
  }

  test("d35: each disagreement family lands in its own counter") {
    import SparkTestSession.spark.implicits._
    val a = (1 to 20).map(i => s"aa$i")
    val b = (1 to 20).map(i => s"bb$i")
    val e = (1 to 20).map(i => s"ee$i")
    val f = (1 to 20).map(i => s"ff$i")
    val c = (1 to 40).map(i => s"cc$i")
    val docs = Seq(
      // both methods: exact copies (J = 1, edit 0)
      (1L, (a ++ b).mkString(" ")),
      (2L, (a ++ b).mkString(" ")),
      // jaccard only: block swap — shingle set survives (J = 0.9), the
      // 20-token move blows the 32-char edit budget
      (3L, (e ++ f).mkString(" ")),
      (4L, (f ++ e).mkString(" ")),
      // edit only: 8 scattered 1-char substitutions (edit 8) each kill 3
      // shingles (J ≈ 0.22)
      (5L, c.mkString(" ")),
      (6L, c.zipWithIndex.map { case (w, i) =>
        if (i % 5 == 0) "dd" + w.drop(2) else w }.mkString(" "))
    ).toDF("doc_id", "text")
    graft.Memo.release(spark)
    val r = graft.dedup.Clusters.methodClusterAgreement(docs).collect().head
    graft.Memo.release(spark)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((6L, 4L, 4L)),
      "six paired docs; each method sees two singletons from the other family")
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((1L, 1L, 1L)),
      "exact pair in both; block swap jaccard-only; scattered subs edit-only")
    assert(r.getLong(6) === 333333L, "1 of 3 co-clustered pairs shared, exact ppm")
  }

  test("d36: triangle edges corroborate, the lone pair does not") {
    import SparkTestSession.spark.implicits._
    val a = (1 to 24).map(i => s"ga$i").mkString(" ")
    val b = (1 to 24).map(i => s"gb$i").mkString(" ")
    // {1,2,3} an exact trio (3 edges, each witnessed by the third doc);
    // {4,5} an isolated pair (no witness)
    val docs = Seq((1L, a), (2L, a), (3L, a), (4L, b), (5L, b))
      .toDF("doc_id", "text")
    graft.Memo.release(spark)
    val got = graft.dedup.Clusters.pairSupport(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    graft.Memo.release(spark)
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    assert(got((1L, 2L)) === ((1L, true)), "doc 3 witnesses 1-2")
    assert(got((1L, 3L)) === ((1L, true)) && got((2L, 3L)) === ((1L, true)))
    assert(got((4L, 5L)) === ((0L, false)), "the lone pair is uncorroborated")
  }

  test("d37: drop counts land in the right quality decile and conserve") {
    import SparkTestSession.spark.implicits._
    val rich = (1 to 80).map(i => s"the of and a w$i").mkString(" ") // high score
    val junk = "zzz qqq xxx" // short, low score
    val docs = Seq(
      (1L, rich), (2L, rich),     // high-decile dup pair -> one dropped
      (3L, junk), (4L, junk),     // low-decile dup pair -> one dropped
      (5L, (1 to 40).map(i => s"solo$i").mkString(" ")) // unpaired
    ).toDF("doc_id", "text")
    graft.Memo.release(spark)
    val got = graft.dedup.Clusters.dropProfile(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    graft.Memo.release(spark)
    assert(got.values.map(_._1).sum === 5L, "every doc in exactly one bucket")
    assert(got.values.map(_._2).sum === 2L, "one drop per planted pair")
    val (loB, hiB) = (got.filter(_._2._2 > 0).keys.min, got.filter(_._2._2 > 0).keys.max)
    assert(loB < hiB, "drops land in two distinct deciles")
    got.foreach { case (_, (n, d, ppm)) =>
      assert(ppm === d * 1000000L / n, "ppm identity")
    }
  }

  test("d34: strict threshold splits the weak member, stability counts it") {
    import SparkTestSession.spark.implicits._
    val base = (1 to 24).map(i => s"w$i")
    // A ≡ B (J = 1, survives τ = 0.9); C differs in the last two tokens
    // (J = 20/24 ≈ 0.833 — loose member, strict split)
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, base.mkString(" ")),
      (3L, (base.take(22) ++ Seq("xx", "yy")).mkString(" "))
    ).toDF("doc_id", "text")
    graft.Memo.release(spark)
    val r = graft.dedup.Clusters.thresholdStability(docs).collect().head
    graft.Memo.release(spark)
    val (nDocs, nLo, nHi) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (both, split, stab) = (r.getLong(3), r.getLong(4), r.getLong(5))
    assert((nDocs, nLo, nHi) === ((3L, 1L, 2L)), "loose {A,B,C}; strict {A,B},{C}")
    assert((both, split) === ((1L, 2L)), "A–B survives; A–C and B–C split")
    assert(stab === 333333L, "1 of 3 loose pairs survives, exact ppm")
  }
}
