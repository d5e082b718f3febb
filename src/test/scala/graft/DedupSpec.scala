package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  test("minhash-LSH reproduces the exact n-gram-Jaccard pair set") {
    val exact = Dedup.ngramJaccardPairs(tables.documents).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(tables.documents).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
  }

  test("d10: near-dup admission drops corpus near-dups, keeps fresh and batch-internal-only dups") {
    import spark.implicits._
    // shingles are 3-grams; docs 1/2 are the standing corpus
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val existing = Seq(
      (1L, base),
      (2L, "completely different standing text about other things entirely here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                                        // exact dup of 1 → dropped
      (11L, (1 to 11).map(i => s"w$i").mkString(" ")),    // near-dup of 1 (J = 9/10) → dropped
      (12L, "a fresh incoming document sharing nothing with the corpus at all"),
      (13L, "a fresh incoming document sharing nothing with the corpus at all x")
      // 12/13 are near-dups of EACH OTHER only → both admitted (batch-
      // internal resolution is d03+d07's job, the documented contract)
    ).toDF("doc_id", "text")
    val docs = existing.unionByName(incoming)
    val admitted = Dedup.admitted(docs, Dedup.minHashLshPairs(docs), _ >= 10L)
      .as[Long].collect().toSet
    assert(admitted === Set(12L, 13L))
  }

  test("d19: edit-distance pairs match a JVM brute force, including across bucket boundaries") {
    import spark.implicits._
    val texts = Map(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat", // dist 3
      3L -> "a completely different sentence with other words entirely",
      4L -> "ab", 5L -> "",                                 // dist 2, sim 0
      6L -> "x" * 9, 7L -> "x" * 13)                        // buckets 1 vs 2 at width 5
    val maxDist = 4
    val got = Dedup.editDistancePairs(texts.toSeq.toDF("doc_id", "text"), maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3)))).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      dist = lev(texts(a), texts(b)) if dist <= maxDist
    } yield (a, b) -> ((dist,
      1.0 - dist.toDouble / math.max(texts(a).length, texts(b).length)))).toMap
    assert(got === want)
    // the boundary pair (len 9 vs 13 lands in adjacent length buckets at
    // width maxDist+1) must survive the block join — blocking is exact
    assert(got.contains((6L, 7L)), "cross-bucket pair lost by blocking")
    assert(got((4L, 5L)) === ((2, 0.0)), "empty-vs-short normalizes to sim 0")
  }

  test("d21: edit admission drops standing edit-dups, keeps fresh and batch-internal-only dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val existing = Seq(
      (1L, base),
      (2L, "completely different standing text about other things entirely here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                       // exact copy of 1 → dropped
      (11L, base.replace("dog", "cat")), // 3 edits from 1 → dropped at maxDist 4
      (12L, "a fresh incoming document sharing nothing with the corpus"),
      (13L, "a fresh incoming document sharing nothing with the corpuX")
      // 12/13 are 1 edit apart from EACH OTHER only → both admitted
      // (batch-internal resolution is downstream's job, the d10 contract)
    ).toDF("doc_id", "text")
    val docs = existing.unionByName(incoming)
    val admitted = Dedup.admitted(docs, Dedup.editDistancePairs(docs, maxDist = 4), _ >= 10L)
      .as[Long].collect().toSet
    assert(admitted === Set(12L, 13L))
  }

  test("d20: agreement matrix honors the subset laws and the diagonal") {
    val rows = Dedup.methodAgreement(tables.documents).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows.size === 15, "5 methods => 15 upper-triangle rows")
    def row(a: String, b: String) = rows(if (a <= b) (a, b) else (b, a))
    val nExact = row("exact", "exact")._1
    assert(row("jaccard", "jaccard")._1 > 0,
      "test corpus should contain near-dups (it has no exact dups — d01 is 1:1 here)")
    // byte-identical docs are NFC-identical, jaccard-1, mutually contained
    // and edit-distance-0 — so every method's flag set contains exact's
    for (m <- Seq("unicode", "jaccard", "containment", "edit")) {
      val (_, _, nBoth, _) = row("exact", m)
      assert(nBoth === nExact, s"exact set must be a subset of $m")
    }
    // diagonal: a set agrees with itself perfectly
    rows.foreach { case ((a, b), (na, nb, nBoth, agree)) =>
      if (a == b) {
        assert(na === nb && nBoth === na)
        assert(agree === (if (na == 0) 0.0 else 1.0))
      } else {
        assert(nBoth <= math.min(na, nb), s"overlap bounded: $a/$b")
      }
    }
  }

  test("d20: planted identical pair is flagged by all five methods") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, "an entirely unrelated document with its own words only here")
    ).toDF("doc_id", "text")
    Memo.release(spark)
    val rows = Dedup.methodAgreement(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    Memo.release(spark)
    // docs 1/2 are flagged by every method; doc 3 by none → every cell of
    // the matrix is (2, 2, 2, 1.0)
    rows.foreach { case ((a, b), v) =>
      assert(v === ((2L, 2L, 2L, 1.0)), s"$a/$b")
    }
  }

  test("d10 plan: banded probe join, no cartesian, no all-pairs") {
    val df = SparkEntry.queries("d10_incremental_neardup")(spark, sf)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the (band, bucket) probe join, never all-pairs:\n$p")
  }

  test("prefix filter keeps the boundary pair at exactly jaccard = threshold") {
    // n1=10, n2=8 shingles, 8 common → J = 8/(10+8−8) = 0.8 exactly.
    // ceil(0.8·10) must be 8 (integer arithmetic), not 9 (double ceil of
    // 8.000000000000002) — the latter shrinks the prefix and can drop this
    // pair. Also the d02 path must agree with a driver-style exact check.
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 12).map(i => s"t$i").mkString(" ")), // shingles t1t2t3 … t10t11t12
      (2L, (1 to 10).map(i => s"t$i").mkString(" "))  // its first 8 shingles
    ).toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, threshold = 0.8).collect()
    assert(pairs.length === 1, s"boundary pair dropped: ${pairs.toSeq}")
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getDouble(2) === 0.8)
  }

  test("non-/1e6-representable threshold is rejected, not silently quantized") {
    // 1/3 is representable to 4.7e-8 as a double but NOT as num/1e6; the
    // prefix filter's exactness claim rests on t == num/1e6, so substituting
    // the nearest rational silently shifts the boundary — reject instead
    import spark.implicits._
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, threshold = 1.0 / 3)
    }
    assert(e.getMessage.contains("/1e6 rational"))
    // representable 6-decimal thresholds still pass (0.333333 = 333333/1e6)
    Dedup.ngramJaccardPairs(docs, threshold = 0.333333).count()
  }

  test("d11: keeper is the longest copy; length ties break to the smallest doc_id") {
    import spark.implicits._
    // docs 1/2/3 share a normalized fingerprint ("alpha  beta" collapses);
    // doc 2's RAW text is longest, so it is the keeper. docs 5/6 tie on
    // length → smallest id (5) wins.
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha  beta"), (3L, "alpha beta"),
      (5L, "gamma delta"), (6L, "gamma delta")).toDF("doc_id", "text")
    val got = Dedup.keepBest(docs).collect()
      .map(r => r.getLong(2) -> ((r.getInt(1), r.getLong(3)))).toMap
    assert(got === Map(2L -> ((11, 3L)), 5L -> ((11, 2L))))
  }

  test("d11 plan: the keeper is a partial aggregate, never a per-group window sort") {
    val plan = Dedup.keepBest(tables.documents).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "keep-best must not window-sort hot fingerprints")
    // struct buffers sort-aggregate, but the property that matters at scale
    // holds: hot fingerprints combine map-side BEFORE the exchange
    assert(plan.contains("partial_max"), "keeper must partial-aggregate map-side")
  }

  test("d12: containment finds the embedded quote that Jaccard misses, directed") {
    import spark.implicits._
    // doc 1's shingles {abc, bcd, cde} are fully inside doc 2's 7-shingle
    // set → containment(1→2) = 1; containment(2→1) = 3/7; jaccard = 3/7 —
    // below any near-dup threshold, the structural blind spot d12 closes
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e x y z w"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    Memo.release(spark)
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 1.0)), "only the contained→container direction")
    val j = Dedup.ngramJaccardPairs(docs).collect()
    assert(j.isEmpty, "jaccard at 0.8 must miss the quote pair")
    Memo.release(spark)
  }

  test("d12: exact duplicates contain each other in both directions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w x y z w x"), (2L, "w x y z w x"), (3L, "totally other text here")
    ).toDF("doc_id", "text")
    Memo.release(spark)
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 1.0), (2L, 1L, 1.0)))
    Memo.release(spark)
  }

  test("d13: weighting separates rare-content overlap from chrome-only overlap") {
    import spark.implicits._
    // (1,2) share a rare 5-token run; (3,4) share a 5-token chrome run that
    // six filler docs also carry (df=8 → weight 125k vs 500k). Both pairs
    // have IDENTICAL plain Jaccard (3 shared / 9 union = 1/3) — count-based
    // d02 cannot rank them apart; the weighted score can: 0.2 vs ~0.059.
    val docs = (Seq(
      (1L, "q w e r t a1 a2 a3"),
      (2L, "q w e r t b1 b2 b3"),
      (3L, "k l m n o c1 c2 c3"),
      (4L, "k l m n o d1 d2 d3")) ++
      (10L to 15L).map(i => (i, s"k l m n o f$i g$i h$i"))).toDF("doc_id", "text")
    Memo.release(spark)
    val got = Dedup.weightedJaccardPairs(docs, threshold = 0.125)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)),
      s"rare-content pair qualifies at 0.125, chrome-only pairs must not: $got")
    Memo.release(spark)
  }

  test("d13: prefix-filtered result equals the brute-force weighted Jaccard") {
    // all-pairs brute force over the real corpus (no prefix filter, no
    // candidate pruning) — the operator's pair set AND scores must match
    // exactly, which proves the weighted prefix filter drops nothing
    val docs = tables.documents
    Memo.release(spark)
    val sh = Dedup.shingleSets(docs)
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wsh = sh.join(freq, "shingle")
      .select(col("doc_id"), col("shingle"), expr("1000000L div df").as("w"))
      .where(col("w") > 0)
    val tw = wsh.groupBy(col("doc_id")).agg(sum(col("w")).as("tw"))
    val brute = wsh.select(col("doc_id").as("d1"), col("shingle"), col("w"))
      .join(wsh.select(col("doc_id").as("d2"), col("shingle")), Seq("shingle"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(sum(col("w")).as("common_w"))
      .join(tw.select(col("doc_id").as("d1"), col("tw").as("w1")), "d1")
      .join(tw.select(col("doc_id").as("d2"), col("tw").as("w2")), "d2")
      .where(expr("common_w * 1000000L >= 500000L * (w1 + w2 - common_w)"))
      .select(col("d1"), col("d2"),
        (col("common_w").cast("double") /
          (col("w1") + col("w2") - col("common_w")).cast("double")).as("wjaccard"))
    val exp = brute.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.weightedJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exp.nonEmpty, "the corpus must contain at least one weighted near-dup pair")
    assert(got === exp)
    Memo.release(spark)
  }

  test("d14: CWS sketch pairs are a subset of d13 with exact scores and high recall") {
    SessionCaches.release(spark)
    val exact = Dedup.weightedJaccardPairs(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sketch = Dedup.weightedMinHashLshPairs(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    SessionCaches.release(spark)
    assert(exact.nonEmpty)
    // precision 1: every sketch pair is exact-verified, score identical
    sketch.foreach { case (p, s) =>
      assert(exact.get(p).contains(s), s"sketch pair $p must carry d13's exact score") }
    // recall: banding bound is ~0.9999 at j=0.5 and higher above; allow a
    // small deterministic shortfall on borderline pairs
    val recall = sketch.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${sketch.size}/${exact.size})")
  }

  test("d13 plan: candidates from the prefix probe join — no cartesian, no all-pairs") {
    Memo.release(spark)
    val df = Dedup.weightedJaccardPairs(tables.documents)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the shingle-keyed prefix probe, never all-pairs:\n$p")
    Memo.release(spark)
  }

  test("d17: evidence lists the rarest shared shingles first, corpus-wide chrome last") {
    import spark.implicits._
    // docs 1/2 share their whole text (J = 1); the "k l m" chrome shingle
    // also appears in 4 filler docs (df = 6) while "a b c"/"b c k" are
    // df = 2 — the evidence must lead with the rare ones
    val docs = (Seq(
      (1L, "a b c k l m"),
      (2L, "a b c k l m")) ++
      (10L to 13L).map(i => (i, s"k l m x$i y$i z$i"))).toDF("doc_id", "text")
    Memo.release(spark)
    val rows = Dedup.pairEvidence(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getString(3)))).toMap
    Memo.release(spark)
    assert(rows.keySet === Set((1L, 2L)))
    val (j, ev) = rows((1L, 2L))
    assert(j === 1.0)
    assert(ev === "a b c|b c k|c k l",
      s"df-2 shingles rank before the df-6 chrome, ties by shingle text: $ev")
  }

  test("d17: the size-routed df restriction yields identical evidence rows") {
    val docs = tables.documents
    Memo.release(spark)
    // the pair-incident doc restriction is itself a LeftSemi on BOTH
    // routes — the routed plan must carry one MORE (the df restriction)
    def semiJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.length
    val baseDf = Dedup.pairEvidence(docs)
    val baseSemis = semiJoins(baseDf)
    val base = baseDf.orderBy("d1", "d2").collect()
    // force the BIG route (plan size above the exact ceiling): the document-
    // frequency aggregation's input is semi-joined down to the candidates'
    // shingle hashes BEFORE the exchange — counts per surviving hash are
    // untouched (the semi-join drops whole groups, never rows in a group),
    // so the evidence rows must be byte-identical
    spark.conf.set(graft.plans.StatsRoute.ceilingKey, "1")
    try {
      val routed = Dedup.pairEvidence(docs)
      // +2: the restriction's own semi-join on the candidate hashes, plus
      // the candidate frame re-referencing `sh` (which carries the
      // pair-incident doc semi-join in its lineage)
      assert(semiJoins(routed) == baseSemis + 2,
        "the big route must restrict the df aggregate with the extra semi-join")
      assert(routed.orderBy("d1", "d2").collect().sameElements(base),
        "both document-frequency routes must produce identical evidence")
    } finally spark.conf.unset(graft.plans.StatsRoute.ceilingKey)
  }

  test("d29: nearest dup picks each doc's max-jaccard neighbor with the id tiebreak") {
    import spark.implicits._
    // 1 and 2 are identical (J = 1); 3 overlaps both at a lower J; ties
    // between equal-J neighbors resolve to the smaller id
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h i k"),
      (9L, "entirely different content here now")).toDF("doc_id", "text")
    Memo.release(spark)
    val got = Dedup.nearestDup(docs, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    Memo.release(spark)
    // brute-force from the full pair frame
    val pairs = Dedup.ngramJaccardPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val best = (pairs.map(p => (p._1, p._2, p._3)) ++ pairs.map(p => (p._2, p._1, p._3)))
      .groupBy(_._1).view.mapValues(_.minBy(x => (-x._3, x._2))).toMap
    assert(got.keySet === best.keySet)
    got.foreach { case (d, (n, j)) =>
      assert((n, j) === ((best(d)._2, best(d)._3)), s"doc $d")
    }
    assert(got(1L)._1 === 2L && got(2L)._1 === 1L, "identical pair points at each other")
    assert(!got.contains(9L), "isolated docs have no nearest dup")
  }

  test("d30: gap audit counts the planted open chain and replays the corpus") {
    import spark.implicits._
    // a~b and b~c clear τ; a vs c falls below it ⇒ one two-path pair that
    // is NOT closed — chain-only merge, gap 1/1. With 20-token docs and
    // 3-shingles: J(1,2) = 17/19 ≈ .895, J(2,3) = 16/20 = .8 (inclusive),
    // J(1,3) = 15/21 ≈ .714
    val base = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.take(19) :+ "xx").mkString(" ")),
      (3L, (Seq("z1", "z2") ++ base.slice(2, 19) :+ "xx").mkString(" "))
    ).toDF("doc_id", "text")
    Memo.release(spark)
    val r = Dedup.transitivityGap(docs).collect().head
    Memo.release(spark)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 1L, 0L, 1L)), "2 pairs, 1 two-path, 0 closed, 1 chain-only")
    assert(r.getLong(4) === 1000000L, "fully open gap")
    // corpus replay off the same pair frame
    val pairs = Dedup.sharedJaccardPairs(tables.documents).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val sym = pairs ++ pairs.map(p => (p._2, p._1))
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val twoPath = (for {
      (a, ms) <- adj.toSeq; m <- ms; c <- adj(m) if a < c
    } yield (a, c)).toSet
    val closed = twoPath.count(pairs.contains).toLong
    val g = Dedup.transitivityGap(tables.documents).collect().head
    assert((g.getLong(1), g.getLong(2)) === ((twoPath.size.toLong, closed)))
  }

  test("d18: curve is non-increasing in the threshold and counts the planted cliff") {
    import spark.implicits._
    // two exact dups (J = 1 survives every threshold) and one borderline
    // pair at J = 0.8 exactly (drops out above 0.8)
    val docs = Seq(
      (1L, "p q r s t u"), (2L, "p q r s t u"),
      (3L, (1 to 12).map(i => s"t$i").mkString(" ")),
      (4L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    Memo.release(spark)
    val curve = Dedup.thresholdCurve(docs).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    Memo.release(spark)
    assert(curve(0.7) === 2L && curve(0.75) === 2L && curve(0.8) === 2L,
      s"both pairs live at tau <= 0.8: $curve")
    assert(curve(0.85) === 1L && curve(0.9) === 1L && curve(0.95) === 1L,
      s"only the exact dup survives past the 0.8 cliff: $curve")
    val sorted = curve.toSeq.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b }, "monotone")
  }

  test("d14 plan: CWS signatures hash-aggregate (plain double mins, no struct SortAggregate)") {
    SessionCaches.release(spark)
    val df = Dedup.weightedMinHashLshPairs(tables.documents)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // the min(a)-IS-the-sketch design exists exactly so the signature agg
    // runs as HashAggregate partials; a min(struct(...)) would appear as
    // a SortAggregate over signature-width buffers
    assert(!p.contains("SortAggregate"),
      s"CWS signature aggregation must be hash-based:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the (band, bucket) join, never all-pairs:\n$p")
    SessionCaches.release(spark)
  }

  test("d08 incremental: existing dupes dropped, batch-internal first wins, fresh admitted") {
    import spark.implicits._
    val existing = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "ALPHA   beta"),   // normalizes to an existing fingerprint → dropped
      (11L, "fresh words"),    // new → admitted
      (12L, "fresh  WORDS"),   // same normalized content as 11 → batch dupe, dropped
      (13L, "another one")     // new → admitted
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.incrementalExact(existing, incoming)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(11L, 13L))
    // idempotence: re-admitting the admitted batch against existing+admitted
    // yields nothing
    val admitted = incoming.where(col("doc_id").isin(11L, 13L))
    val again = graft.dedup.Dedup.incrementalExact(
      existing.unionByName(admitted), admitted)
    assert(again.count() === 0L)
  }

  test("d08 plan: batch aggregates to distinct fingerprints before the anti-join") {
    val docs = tables.documents
    val df = graft.dedup.Dedup.incrementalExact(
      docs.where(col("doc_id") % 3 =!= 0), docs.where(col("doc_id") % 3 === 0))
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"batch side must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact dedup: fingerprints count matches distinct normalized texts") {
    val n = Dedup.exact(tables.documents).count()
    val d = tables.documents
      .select(trim(regexp_replace(lower(col("text")), "\\s+", " "))).distinct().count()
    assert(n === d)
  }

  test("d16: composed and decomposed encodings unify; d01 is blind to them") {
    import spark.implicits._
    // "café" composed (U+00E9) vs decomposed ("e" + U+0301) — same visible
    // text, different bytes; plus a genuinely different doc
    val composed = "caf\u00e9 au lait"
    val decomposed = "cafe\u0301 au lait"
    val docs = Seq((1L, composed), (2L, decomposed), (3L, "entirely different"))
      .toDF("doc_id", "text")
    val d16 = Dedup.exactUnicode(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d16 === Map(1L -> 2L, 3L -> 1L),
      "NFC dedup must group the two encodings under the smaller doc_id")
    assert(Dedup.exact(docs).count() === 3L,
      "byte-keyed d01 sees three distinct fingerprints — the gap d16 closes")
  }

  test("d25: re-punctuated / re-numbered / re-spaced variants unify; d01 and d16 are blind") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Release v1.2: Hello, World!"),
      (2L, "release   v9.74 — hello\tworld"), // digits, punct, whitespace all differ
      (3L, "release v hello world"),          // missing the digit slot -> distinct
      (4L, "entirely different text")
    ).toDF("doc_id", "text")
    val d25 = Dedup.exactCanonical(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d25 === Map(1L -> 2L, 3L -> 1L, 4L -> 1L),
      "canonical dedup must group 1 and 2 under doc 1")
    assert(Dedup.exact(docs).count() === 4L, "d01 sees four distinct docs")
    assert(Dedup.exactUnicode(docs).count() === 4L, "d16 (pure NFC) is also blind here")
  }

  test("d25 law: every d01 duplicate group is contained in a d25 group (corpus-wide)") {
    // canon is a pure function of the bytes, so byte-equal docs are
    // canon-equal — d25's duplicate count per group dominates d01's
    val d01 = Dedup.exact(tables.documents)
      .where(col("n_copies") > 1)
      .agg(coalesce(sum(col("n_copies")), lit(0L))).collect()(0).getLong(0)
    val d25 = Dedup.exactCanonical(tables.documents)
      .where(col("n_copies") > 1)
      .agg(coalesce(sum(col("n_copies")), lit(0L))).collect()(0).getLong(0)
    assert(d25 >= d01,
      s"canonical dedup must flag at least the exact-dup mass ($d25 < $d01)")
  }

  test("d16 codegen: NfcNormalize stays inside whole-stage codegen on the scan") {
    val df = tables.documents
      .select(graft.plans.NfcNormalize.nfcCol(col("text")).as("t"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "graft_nfc fell out of whole-stage codegen")
  }

  test("simhash: near-dup pairs (jaccard>=0.8) sit at small hamming distance") {
    val nearDups = Dedup.ngramJaccardPairs(tables.documents, 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sh = Dedup.simHash(tables.documents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    nearDups.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(ham <= 8, s"near-dup pair ($a,$b) has hamming $ham")
    }
  }

  test("simhash pairs are symmetric-free and under the hamming cap") {
    val rows = Dedup.simHashPairs(tables.documents).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 3)
    }
  }

  test("embedding dup pairs respect the threshold") {
    val rows = Dedup.embeddingDupPairs(tables.embeddings, 0.45).collect()
    rows.foreach(r => assert(r.getDouble(2) >= 0.45))
  }

  test("IVF embedding dedup: exact-verified subset with recall above the cell bound") {
    val exact = Dedup.embeddingDupPairs(tables.embeddings, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = Dedup.embeddingDupPairsIvf(tables.embeddings, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // precision 1 by construction: every emitted pair is exact-verified with
    // identical rounding, so it must appear verbatim in the exact baseline
    assert(ivf.subsetOf(exact), s"false positives: ${ivf -- exact}")
    // recall: pair survives iff the two vectors share ≥1 of their nProbe=2
    // cells; on near-random synthetic data the information bound is
    // ~1-(1-nProbe/nCells)² ≈ 0.36 — assert we're at or above the single-
    // probe floor (on clustered real embeddings recall approaches 1)
    if (exact.nonEmpty) {
      val recall = (exact intersect ivf).size.toDouble / exact.size
      assert(recall >= 0.2, s"recall=$recall below the cell-probe floor")
    }
  }

  test("d06 parity frame: kernel's probed cells equal the Catalyst replay on every vector") {
    val got = SparkEntry.queries("d06_embedding_dup_ivf")(spark, sf).collect()
    assert(got.length == tables.embeddings.count(),
      "every corpus vector exactly once (full-outer pins drops AND dupes)")
    assert(got.forall(r => !r.isNullAt(1) && r.getAs[Boolean]("probe_match")),
      "the JVM bucketing kernel and the expression replay must agree bit-for-bit")
  }

  test("d38: stats routing — provably-small exact, large-or-unknown IVF, conf-driven flip") {
    import org.apache.spark.sql.functions.col
    // parquet-backed test corpus: stats prove it under the 32 MB ceiling
    val auto = Dedup.embeddingDupAuto(tables.embeddings, 0.45)
    val rows = auto.collect()
    assert(rows.forall(_.getAs[String]("route") == "exact"))
    val exact = Dedup.embeddingDupPairs(tables.embeddings, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == exact, "small route must be the exact baseline verbatim")
    // conf flip: a zero ceiling makes the same corpus route IVF, and the
    // routed pairs obey the subset law vs exact
    val key = graft.plans.StatsRoute.ceilingKey
    spark.conf.set(key, "0")
    try {
      val ivf = Dedup.embeddingDupAuto(tables.embeddings, 0.45)
      val ivfRows = ivf.collect()
      assert(ivfRows.forall(_.getAs[String]("route") == "ivf"))
      assert(ivfRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet.subsetOf(exact))
    } finally spark.conf.unset(key)
    // UNKNOWN stats (RDD-backed frame reports defaultSizeInBytes) must
    // route to scale — the load-bearing safety default
    val rddBacked = spark.createDataFrame(
      tables.embeddings.select(col("vec_id"), col("embedding")).rdd,
      tables.embeddings.select(col("vec_id"), col("embedding")).schema)
    val unknown = Dedup.embeddingDupAuto(rddBacked, 0.45)
    assert(unknown.collect().forall(_.getAs[String]("route") == "ivf"),
      "unknown-size input must take the IVF route")
  }

  test("clean-corpus pipeline composes its stage invariants") {
    val cleaned = graft.operators.CorpusPipeline.cleanCorpus(tables).collect()
    assert(cleaned.nonEmpty && cleaned.length < tables.documents.count())
    // every survivor satisfies each stage's predicate
    assert(cleaned.forall(_.getAs[String]("guess") == "en"))
    assert(cleaned.forall(_.getAs[Double]("quality") >= 0.5))
    val ids = cleaned.map(_.getAs[Long]("doc_id")).toSet
    // near-dup removal is CLUSTER-resolved: every clustered doc except each
    // component's minimum is gone (a strict superset of the pairwise
    // followers — a doc paired only with larger ids still drops unless it
    // is the component min)
    val nonKeepers = graft.dedup.Clusters
      .connectedComponents(
        Dedup.ngramJaccardPairs(tables.documents).select("d1", "d2"))
      .filter(org.apache.spark.sql.functions.col("id") =!=
        org.apache.spark.sql.functions.col("comp"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.intersect(nonKeepers).isEmpty, "cluster non-keepers must be dropped")
    val keepers = Dedup.exact(tables.documents)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepers), "only exact-dup group keepers may survive")
  }

  test("d39/d40: stats routing — small exact, conf-flip to the banded route, subset law") {
    val docs = tables.documents
    // parquet-backed corpus: provably small → exact routes, verbatim
    val d39 = Dedup.jaccardAuto(docs).collect()
    assert(d39.forall(_.getAs[String]("route") == "exact"))
    val exactJ = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d39.map(r => (r.getLong(0), r.getLong(1))).toSet == exactJ)
    val d40 = Dedup.weightedJaccardAuto(docs).collect()
    assert(d40.forall(_.getAs[String]("route") == "exact"))
    val exactW = Dedup.weightedJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d40.map(r => (r.getLong(0), r.getLong(1))).toSet == exactW)
    // conf flip: zero ceiling routes both to the banded sketches, whose
    // verified pairs are a subset of exact (precision 1 by construction)
    spark.conf.set(graft.plans.StatsRoute.ceilingKey, "0")
    try {
      val lsh = Dedup.jaccardAuto(docs).collect()
      assert(lsh.forall(_.getAs[String]("route") == "lsh"))
      assert(lsh.map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(exactJ))
      val cws = Dedup.weightedJaccardAuto(docs).collect()
      assert(cws.forall(_.getAs[String]("route") == "cws"))
      assert(cws.map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(exactW))
    } finally spark.conf.unset(graft.plans.StatsRoute.ceilingKey)
  }

  test("d41/d42: containment + edit stats routing — small exact, conf-flip to LSH, subset law") {
    val docs = tables.documents
    // provably-small corpus: both autos are the exact baselines verbatim
    val d41 = Dedup.containmentAuto(docs).collect()
    assert(d41.nonEmpty && d41.forall(_.getAs[String]("route") == "exact"))
    val exactC = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(d41.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == exactC)
    val d42 = Dedup.editAuto(docs).collect()
    assert(d42.nonEmpty && d42.forall(_.getAs[String]("route") == "exact"))
    val exactE = Dedup.editDistancePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(d42.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      == exactE)
    // conf flip: the banded routes verify with the SAME exact kernels, so
    // every emitted row is a verbatim member of the exact set (precision
    // 1); recall is the banding's (spec'd by presence of the planted dups)
    spark.conf.set(graft.plans.StatsRoute.ceilingKey, "0")
    try {
      val lshC = Dedup.containmentAuto(docs).collect()
      assert(lshC.forall(_.getAs[String]("route") == "lsh"))
      assert(lshC.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet.subsetOf(exactC), "banded containment must be a subset of exact")
      assert(lshC.nonEmpty, "the planted near-dups must survive banding")
      val lshE = Dedup.editAuto(docs).collect()
      assert(lshE.forall(_.getAs[String]("route") == "lsh"))
      assert(lshE.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet.subsetOf(exactE), "banded edit pairs must be a subset of exact")
    } finally spark.conf.unset(graft.plans.StatsRoute.ceilingKey)
    // unknown-size inputs route to scale (the load-bearing default)
    val src = docs.select(col("doc_id"), col("text"))
    val rddBacked = spark.createDataFrame(src.rdd, src.schema)
    assert(Dedup.containmentAuto(rddBacked).collect()
      .forall(_.getAs[String]("route") == "lsh"))
  }

  test("d23: S-curve values match the JVM multiplication chains; curve laws hold") {
    val rows = Dedup.lshPlanCurve(spark).collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getDouble(2)),
        (r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rows.size === 5 * 19)
    // exact JVM mirror: same left-associative chains over the same
    // literal-parsed doubles
    def p(b: Int, r: Int, s: Double): Double = {
      var sr = s; var i = 1
      while (i < r) { sr *= s; i += 1 }
      val u = 1.0 - sr
      var ub = u; i = 1
      while (i < b) { ub *= u; i += 1 }
      1.0 - ub
    }
    for (((b, r, s), (pc, _, _)) <- rows)
      assert(pc === p(b, r, s), s"p mismatch at ($b, $r, $s)")
    // monotone non-decreasing in s for each config
    for ((b, r) <- Seq((32, 2), (16, 4), (8, 8), (16, 2), (64, 1))) {
      val curve = rows.collect { case ((`b`, `r`, s), (pc, _, _)) => (s, pc) }
        .toSeq.sortBy(_._1).map(_._2)
      assert(curve === curve.sorted, s"S-curve must be monotone for ($b, $r)")
    }
    // d03's 16x4 at tau 0.8 admits fewer sub-threshold candidates than the
    // aggressive 16x2 — the decision the planner exists to surface
    val fp16x4 = rows((16, 4, 0.5))._2
    val fp16x2 = rows((16, 2, 0.5))._2
    assert(fp16x4 < fp16x2, "more rows per band must cut false-positive mass")
  }

  test("d28: edit curve is monotone, tops out at the full pair set, matches a JVM recount") {
    import org.apache.spark.sql.functions.col
    val docs = SparkTestSession.tables.documents
    val got = Dedup.editThresholdCurve(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(4, 8, 16, 24, 32))
    // monotone in both series
    assert(got.map(_._2).toSeq === got.map(_._2).sorted.toSeq)
    assert(got.map(_._3).toSeq === got.map(_._3).sorted.toSeq)
    // JVM recount off the shared pair frame (one d19 run feeds all cuts)
    val pairs = Dedup.sharedEditPairs(docs, 32).select(col("d1"), col("d2"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got.foreach { case (cut, nPairs, nDocs) =>
      val in = pairs.filter(_._3 <= cut)
      assert(nPairs === in.length.toLong, s"pairs at cut $cut")
      assert(nDocs === in.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong,
        s"docs at cut $cut")
    }
    assert(got.last._2 === pairs.length.toLong, "the top cut is the whole pair set")
  }

  test("d33: calibration matches a JVM replay; identical docs estimate 1.0") {
    import SparkTestSession.spark.implicits._
    def md5Hash60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def shingles(text: String): Set[String] =
      text.toLowerCase.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def sig(text: String): IndexedSeq[Long] = (0 until 16).map(i =>
      shingles(text).map(sh => md5Hash60(s"mh$i:$sh")).min)
    val base = (1 to 24).map(i => s"w$i")
    val tIdent = base.mkString(" ")
    val tNear = (base.take(23) :+ "xx").mkString(" ")
    val docs = Seq((1L, tIdent), (2L, tIdent), (3L, tNear))
      .toDF("doc_id", "text")
    graft.Memo.release(spark)
    val got = graft.dedup.Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    graft.Memo.release(spark)
    // identical docs: every component ties → est 1.0, err = 1 - 1 = 0
    val (j12, m12, e12, err12) = got((1L, 2L))
    assert((j12, m12, e12, err12) === ((1.0, 16L, 1.0, 0.0)))
    // near pair: the engine's matches equal the JVM signature replay
    val expected = (sig(tIdent) zip sig(tNear)).count { case (a, b) => a == b }.toLong
    for (p <- Seq((1L, 3L), (2L, 3L))) {
      val (j, m, e, err) = got(p)
      assert(m === expected, s"pair $p matches")
      assert(e === m.toDouble / 16.0 && err === math.abs(e - j))
    }
  }
}
