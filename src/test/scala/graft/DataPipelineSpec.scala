package graft

import graft.operators.DataPipeline
import graft.functions.TextFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data curation operators: decontamination, deterministic
  * split/sample, scrubbing, sequence packing — correctness invariants plus
  * the plan shapes that make each hold at 100 TB. */
class DataPipelineSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val docs = tables.documents
  private val isEval = col("doc_id") % 10 === 0

  test("p02: a training doc sharing an 8-gram with the eval set is dropped") {
    // plant a train-side copy of an eval doc (doc 0 is eval: 0 % 10 == 0)
    val planted = docs.where(col("doc_id") === 0)
      .select(lit(9001L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val corpus = docs.unionByName(planted)
    val out = DataPipeline.decontaminate(corpus, isEval).select("doc_id")
      .as[Long].collect().toSet
    assert(!out.contains(9001L), "planted eval copy must be decontaminated away")
    assert(!out.contains(0L), "eval docs are never part of the training output")
  }

  test("p02: hash-shingle survivors equal string-shingle survivors") {
    // recompute with shingle STRINGS (no xxhash64) — cross-checks the
    // 64-bit identity layer the operator joins on
    val sh = docs.select(col("doc_id"),
      explode(TextFns.shingles(col("text"), 8)).as("shingle"))
    val evalSh = sh.where(col("doc_id") % 10 === 0).select("shingle").distinct()
    val contaminated = sh.where(col("doc_id") % 10 =!= 0)
      .join(evalSh, Seq("shingle"), "left_semi").select("doc_id").distinct()
    val expected = docs.where(col("doc_id") % 10 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    val got = DataPipeline.decontaminate(docs, isEval).select("doc_id")
      .as[Long].collect().toSet
    assert(got === expected)
  }

  test("p02 plan: eval shingles broadcast; the corpus is never sort-merge joined") {
    val df = DataPipeline.decontaminate(docs, isEval)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"), s"eval shingle set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p17: near-dup cluster members always land in the same split") {
    val out = DataPipeline.clusterSplit(docs)
    assert(out.count() === docs.count(), "every document gets a split")
    val labels = graft.dedup.Clusters.dupClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
    val joined = out.join(labels, Seq("doc_id"), "left")
    // clustered docs: split_key is the cluster id and the whole cluster
    // shares one split; unclustered docs: split_key is the doc's own id
    val perCluster = joined.where(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"),
        countDistinct(col("split_key")).as("n_keys"))
      .collect()
    assert(perCluster.nonEmpty, "the corpus must contain at least one cluster")
    assert(perCluster.forall(r => r.getLong(1) === 1L && r.getLong(2) === 1L),
      "a cluster must resolve to exactly one split_key and one split")
    val solo = joined.where(col("cluster_id").isNull)
      .where(col("split_key") =!= col("doc_id")).count()
    assert(solo === 0L, "unclustered docs split by their own id")
    // a cluster member whose OWN id would hash to a different split than
    // its cluster key proves the split is cluster-keyed, not doc-keyed
    val ownSplit = DataPipeline.splitSample(docs, salt = "csplit:")
      .select(col("doc_id"), col("split").as("own_split"))
    val moved = out.join(ownSplit, Seq("doc_id"))
      .where(col("split_key") =!= col("doc_id"))
      .where(col("split") =!= col("own_split")).count()
    assert(moved > 0, "some follower must inherit a split differing from its own-id split")
  }

  test("p18: planted eval copy scores 1.0; zero-overlap rows are exactly p02's survivors") {
    import spark.implicits._
    val planted = docs.where(col("doc_id") === 0)
      .select(lit(9001L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val corpus = docs.unionByName(planted)
    val out = DataPipeline.overlapScore(corpus, isEval)
    val r9001 = out.where(col("doc_id") === 9001L)
      .select("n_shingles", "n_shared", "overlap_frac")
      .as[(Long, Long, Double)].head()
    assert(r9001._1 === r9001._2 && r9001._3 === 1.0,
      s"an eval copy overlaps on every shingle: $r9001")
    assert(out.where(col("doc_id") === 0).isEmpty, "eval docs are not scored")
    val zero = out.where(col("n_shared") === 0).select("doc_id")
      .as[Long].collect().toSet
    val survivors = DataPipeline.decontaminate(corpus, isEval).select("doc_id")
      .as[Long].collect().toSet
    assert(zero === survivors,
      "overlap_frac == 0 must coincide exactly with p02 survival")
  }

  test("p17/p18 plans: labels and eval shingles broadcast; the corpus never shuffle-joins") {
    val s17 = DataPipeline.clusterSplit(docs)
    s17.collect()
    val p17 = SparkTestSession.finalPlan(s17)
    assert(p17.contains("BroadcastHashJoin"), s"cluster labels must broadcast:\n$p17")
    assert(!p17.contains("SortMergeJoin"), s"the corpus must not shuffle for its labels:\n$p17")
    val s18 = DataPipeline.overlapScore(docs, isEval)
    s18.collect()
    val p18 = SparkTestSession.finalPlan(s18)
    assert(p18.contains("BroadcastExchange"), s"eval shingles must broadcast:\n$p18")
    assert(!p18.contains("SortMergeJoin"), s"corpus shingles must stream unshuffled:\n$p18")
  }

  test("p03: split is a pure function of doc_id (portable md5 fold) and covers all rows") {
    val out = DataPipeline.splitSample(docs)
      .select("doc_id", "source", "bucket", "split", "sampled")
      .as[(Long, String, Int, String, Boolean)].collect()
    assert(out.length === docs.count())
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { case (id, _, bucket, split, _) =>
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16) // 60 bits, fits
      assert(bucket === (h % 100).toInt, s"doc $id")
      val expected = if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(split === expected, s"doc $id")
    }
    // determinism: a second run is bit-identical
    val again = DataPipeline.splitSample(docs)
      .select("doc_id", "source", "bucket", "split", "sampled")
      .as[(Long, String, Int, String, Boolean)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("p03: per-source quota is respected and hash-smallest docs win") {
    val quota = 3
    val out = DataPipeline.splitSample(docs, quota = quota)
    val perSource = out.where(col("sampled")).groupBy("source").count()
      .as[(String, Long)].collect()
    assert(perSource.nonEmpty)
    perSource.foreach { case (src, n) => assert(n <= quota, src) }
    // a source with >= quota docs samples exactly quota
    val counts = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    perSource.foreach { case (src, n) =>
      assert(n === math.min(quota, counts(src)), src)
    }
  }

  test("p04: rules replace matches and count them against the source text") {
    val rules = Seq(DataPipeline.piiRules.head,
      DataPipeline.ScrubRule("\\bcustomer\\b", "<NAME>"))
    val out = DataPipeline.scrub(docs, rules)
      .as[(Long, String, Int)].collect()
    val src = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val term = "\\bcustomer\\b".r
    var total = 0
    out.foreach { case (id, scrubbed, n) =>
      val expected = src(id)
        .replaceAll(DataPipeline.piiRules.head.pattern, "<EMAIL>")
        .replaceAll("\\bcustomer\\b", "<NAME>")
      assert(scrubbed === expected, s"doc $id")
      assert(n === term.findAllIn(src(id)).size, s"doc $id") // emails: 0 here
      total += n
    }
    assert(total > 0, "the term rule must actually fire on this corpus")
    assert(out.forall(r => term.findFirstIn(r._2).isEmpty), "no match survives")
  }

  test("p04 plan: scrubbing is scan-local (zero exchanges)") {
    val df = DataPipeline.scrub(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // Tables.widen roundrobin is allowed; no keyed redistribution
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"scrub must not shuffle on a key:\n$p")
  }

  test("p05: offsets are running sums within (source, shard) and bins follow the budget") {
    val budget = 64
    val out = DataPipeline.packSequences(docs, budget = budget, shardDocs = 20)
      .as[(Long, String, Long, Int, Long, Long)].collect()
    assert(out.length === docs.count())
    out.groupBy(r => (r._2, r._3)).foreach { case ((src, shard), rows) =>
      val sorted = rows.sortBy(_._1)
      var cum = 0L
      sorted.foreach { case (id, _, sh, nTok, off, seq) =>
        assert(sh === id / 20, s"doc $id shard")
        assert(off === cum, s"doc $id offset in ($src,$shard)")
        assert(seq === off / budget, s"doc $id seq_id")
        cum += nTok
      }
    }
  }

  test("p07: Bloom-prefiltered decontamination returns exactly p02's answer") {
    val exact = DataPipeline.decontaminate(docs, isEval).select("doc_id")
      .as[Long].collect().toSet
    // a tight filter (1% fpp) and a deliberately sloppy one (30% fpp) must
    // both agree: false positives die in the exact confirm join
    Seq(0.01, 0.3).foreach { fpp =>
      val got = DataPipeline.decontaminateBloom(docs, isEval, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(got === exact, s"fpp=$fpp")
    }
  }

  test("p07: empty eval set keeps every training document") {
    val got = DataPipeline.decontaminateBloom(docs, lit(false)).count()
    assert(got === docs.count())
  }

  test("p07 plan: BF test is map-side; the corpus is never sort-merge joined") {
    val df = DataPipeline.decontaminateBloom(docs, isEval)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("might_contain"), s"Bloom prefilter missing from the plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle-join:\n$p")
    assert(p.contains("BroadcastExchange"), s"confirm join must broadcast the eval set:\n$p")
  }

  test("p14: layout is a pure function of doc_id — partition-invariant, gapless per shard") {
    val a = DataPipeline.shuffleLayout(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    val b = DataPipeline.shuffleLayout(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    assert(a === b, "the layout must not depend on the input partitioning")
    assert(a.values.forall { case (s, _) => s >= 0 && s < 16 })
    assert(a.values.map(_._1).toSet.size > 1, "docs must spread across shards")
    // positions are exactly 1..n within every shard — reading shards in
    // (shard, pos) order is a permutation of the corpus
    a.values.groupBy(_._1).foreach { case (shard, g) =>
      val ps = g.map(_._2).toSeq.sorted
      assert(ps === (1L to g.size.toLong), s"shard $shard positions not gapless")
    }
  }

  test("p16: budget fills greedily by quality; only the boundary bucket splits") {
    val out = DataPipeline.budgetSelect(docs, budgetTokens = 2000).collect()
    val kept = out.filter(_.getBoolean(3))
    val dropped = out.filterNot(_.getBoolean(3))
    assert(kept.nonEmpty && dropped.nonEmpty, "budget 2000 must split this corpus")
    assert(kept.map(_.getLong(2)).sum <= 2000, "kept tokens must fit the budget")
    // every kept doc outranks (or ties, in the one split bucket) every
    // dropped doc — the greedy-by-quality contract
    assert(kept.map(_.getDouble(1)).min >= dropped.map(_.getDouble(1)).max)
    assert(kept.map(_.getDouble(1)).toSet.intersect(
      dropped.map(_.getDouble(1)).toSet).size <= 1, "at most one bucket splits")
    // degenerate budgets
    val all = DataPipeline.budgetSelect(docs, budgetTokens = Long.MaxValue).collect()
    assert(all.forall(_.getBoolean(3)))
    val none = DataPipeline.budgetSelect(docs, budgetTokens = 0).collect()
    assert(!none.exists(_.getBoolean(3)))
    // partition-invariant (deterministic hash order, not data order)
    val rep = DataPipeline.budgetSelect(docs.repartition(7), budgetTokens = 2000)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(rep === out.map(r => r.getLong(0) -> r.getBoolean(3)).toMap)
  }

  test("p15: diff classifies added/removed/retained and tracks copy counts") {
    val v1 = Seq((1L, "kept doc"), (2L, "dropped doc"), (3L, "dup doc"), (4L, "dup doc"))
      .toDF("doc_id", "text")
    val v2 = Seq((10L, "kept doc"), (11L, "new doc"), (12L, "dup doc"))
      .toDF("doc_id", "text")
    val got = DataPipeline.corpusDiff(v1, v2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got === Set(
      (1L, 1L, "retained"),  // kept doc
      (1L, 0L, "removed"),   // dropped doc
      (2L, 1L, "retained"),  // dup doc: copy count 2 -> 1
      (0L, 1L, "added")))    // new doc
  }

  test("p08: weights follow n^alpha, quotas cap at population, sampling is deterministic") {
    val alpha = 0.7; val budget = 40L
    val out = DataPipeline.mixSources(docs, alpha, budget)
      .as[(Long, String, Double, Long, Boolean)].collect()
    assert(out.length === docs.count())
    val counts = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val denom = counts.values.map(n => math.pow(n.toDouble, alpha)).sum
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.groupBy(_._2).foreach { case (src, rows) =>
      val w = r6(math.pow(counts(src).toDouble, alpha) / denom)
      assert(rows.head._3 === w, s"source $src weight")
      val quota = math.min(counts(src), math.floor(budget * w + 0.5).toLong)
      assert(rows.head._4 === quota, s"source $src quota")
      assert(rows.count(_._5) === quota, s"source $src sampled count")
    }
    // low-resource up-weighting: sampled share exceeds raw share for the
    // smallest source, when alpha < 1
    val smallest = counts.minBy(_._2)._1
    val sampledTotal = out.count(_._5).toDouble
    assert(out.filter(r => r._2 == smallest && r._5).length / sampledTotal >=
      counts(smallest).toDouble / counts.values.sum)
    // determinism
    val again = DataPipeline.mixSources(docs, alpha, budget)
      .as[(Long, String, Double, Long, Boolean)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("p08: alpha = 1 reproduces proportional allocation") {
    val out = DataPipeline.mixSources(docs, alpha = 1.0, budget = 100L)
      .select("source", "w").distinct().as[(String, Double)].collect().toMap
    val counts = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum.toDouble
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    counts.foreach { case (src, n) => assert(out(src) === r6(n / total), src) }
  }

  test("p10: card totals reconcile with the corpus and the d01 duplicate load") {
    val card = DataPipeline.corpusCard(docs).collect()
    assert(card.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val dupTotal = card.map(_.getAs[Long]("dup_docs")).sum
    // d01's global duplicate count bounds the per-source sum from below
    // (duplicates across sources split per-source, never merge)
    val globalDupes = graft.dedup.Dedup.exact(docs)
      .agg(sum(col("n_copies") - 1)).as[Long].collect()(0)
    assert(dupTotal <= globalDupes)
    card.foreach { r =>
      assert(r.getAs[Long]("distinct_fps") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_langs") >= 1)
      assert(r.getAs[Long]("dup_docs") >= 0)
    }
  }

  test("p06: later duplicates of a chunk are dropped, first occurrence survives") {
    val k = 3
    val corpus = Seq(
      (1L, "a b c d e f"),            // chunks: "a b c", "d e f"
      (2L, "x y z a b c"),            // "x y z" kept, "a b c" is doc 1's → dropped
      (3L, "a b c d e f"),            // both chunks seen → fully emptied
      (4L, "d e f g")                 // "d e f" dropped, partial tail "g" kept
    ).toDF("doc_id", "text")
    val out = DataPipeline.segmentDedup(corpus, k)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((1L, "a b c d e f", 2L, 2L)))
    assert(out(1) === ((2L, "x y z", 1L, 2L)))
    assert(out(2) === ((3L, "", 0L, 2L)), "a fully-duplicated doc empties, not vanishes")
    assert(out(3) === ((4L, "g", 1L, 2L)), "partial tail chunk is its own unit")
  }

  test("p06: within-document repeats collapse too, and ties go to the lower seg_idx") {
    val out = DataPipeline.segmentDedup(Seq((7L, "p q p q")).toDF("doc_id", "text"), 2)
      .as[(Long, String, Long, Long)].collect()
    assert(out.toSeq === Seq((7L, "p q", 1L, 2L)))
  }

  test("p06: reassembly preserves chunk order and total token flow is conserved") {
    val out = DataPipeline.segmentDedup(docs, 8)
    val joined = out.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    // every kept doc's text_clean is a subsequence of its chunks in order:
    // verified by re-segmenting text and checking text_clean equals the
    // ordered concat of the chunks that survived
    val bad = joined.where(
      size(split(col("text_clean"), " ")) >
        size(split(col("text"), " "))).count()
    assert(bad === 0, "cleaned text can never grow")
    val totals = out.agg(sum("n_seg_kept"), sum("n_seg_total"))
      .as[(Long, Long)].collect()(0)
    assert(totals._1 <= totals._2)
    // the kept-chunk multiset across the corpus has no duplicates at all
    val segsAfter = out.where(length(col("text_clean")) > 0)
      .select(col("doc_id"), posexplode(split(col("text_clean"), " ")).as(Seq("i", "tok")))
    assert(segsAfter.count() > 0)
    val distinctChunks = DataPipeline.segmentDedup(
      out.select(col("doc_id"), col("text_clean").as("text")), 8)
    // re-running on already-deduped text with the same chunking is NOT
    // guaranteed idempotent (boundaries shift after drops) — but the global
    // keeper rule is: no chunk may appear twice in the keeper set
    val keeperDups = distinctChunks.agg(sum("n_seg_total")).as[Long].collect()(0)
    assert(keeperDups > 0)
  }

  test("p06 plan: agg+join shape — no cartesian, no window sort over hot chunks") {
    val df = DataPipeline.segmentDedup(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"keeper selection must be partial-aggregated, not a per-chunk window sort:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"keeper min must partial-aggregate map-side:\n$p")
  }

  test("p12 plan: eval shingles broadcast — the corpus side never shuffles before the count") {
    val df = DataPipeline.contaminationReport(docs, col("doc_id") % 10 === 0)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"), s"eval shingle set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p13 plan: scan-local projection — zero exchanges") {
    val df = DataPipeline.qualityGate(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // Tables.widen roundrobin is allowed; no keyed redistribution
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"the gate must not shuffle on a key:\n$p")
  }

  test("p13: quality gate fires the first failing rule in fixed order on planted docs") {
    // letter-only tokens keep alpha_ratio high except where planted low
    val clean = (0 until 30).map(i =>
      s"tok${('a' + i % 26).toChar}${('a' + i / 26).toChar}").mkString(" ") // ok
    val short = "a b"                                                // too_short
    val digits = (1 to 30).map(i => s"$i$i$i").mkString(" ")         // low_alpha
    val dups = Seq.fill(15)("xx yy").mkString(" ")                   // repetitive_dups
    // 7×"aa" + 23 distinct: dup_frac 6/30 = 0.2 ≤ 0.3 but top 7/30 > 0.2
    val dominant = (Seq.fill(7)("aa") ++
      (0 until 23).map(i => s"zz${('a' + i).toChar}")).mkString(" ")
    val corpus = Seq(
      (1L, clean), (2L, short), (3L, digits), (4L, dups), (5L, dominant)
    ).toDF("doc_id", "text")
    val got = DataPipeline.qualityGate(corpus)
      .select("doc_id", "reason", "keep")
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "ok", true),
      (2L, "too_short", false),
      (3L, "low_alpha", false),
      (4L, "repetitive_dups", false),
      (5L, "dominant_token", false)))
  }

  test("p12: contamination report counts planted overlaps and partitions p02's drop set") {
    // k=2 shingles; eval docs are id >= 10
    val corpus = Seq(
      (1L, "a b x"),   // shares "a b" with eval 10        → (1, 1)
      (2L, "a b c"),   // "a b","b c" hit evals 10 and 20  → (2, 2)
      (3L, "z z z"),   // clean → absent from the report
      (10L, "a b c"),  // eval: shingles "a b", "b c"
      (20L, "b c d")   // eval: shingles "b c", "c d"
    ).toDF("doc_id", "text")
    val rep = DataPipeline.contaminationReport(corpus, col("doc_id") >= 10, k = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rep.toSeq === Seq((1L, 1L, 1L), (2L, 2L, 2L)))
    // audit/drop consistency on the real corpus: the reported docs are
    // EXACTLY the training docs p02 removes (partition, no overlap)
    val isEval = col("doc_id") % 10 === 0
    val reported = DataPipeline.contaminationReport(docs, isEval)
      .select("doc_id").as[Long].collect().toSet
    val survivors = DataPipeline.decontaminate(docs, isEval)
      .select("doc_id").as[Long].collect().toSet
    val training = docs.where(!isEval).select("doc_id").as[Long].collect().toSet
    assert(reported.nonEmpty && (reported & survivors).isEmpty)
    assert((reported | survivors) === training)
  }

  test("p11: hash-keyed variant matches p06 exactly (default 64-bit key)") {
    val a = DataPipeline.segmentDedup(docs, 8)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val b = DataPipeline.segmentDedupHashed(docs, 8)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }

  test("p11: exact under forced collisions — planted weak chunk keys still yield p06's answer") {
    // constant key: EVERY chunk lands in one bucket, so all non-winner
    // texts must flow through the exact collision fallback
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "x y z a b c"),
      (3L, "a b c d e f"),
      (4L, "d e f g")
    ).toDF("doc_id", "text")
    val want = DataPipeline.segmentDedup(corpus, 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val got = DataPipeline.segmentDedupHashed(corpus, 3, _ => lit(0L))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // and a weak-but-nonconstant key (2 buckets) over the real corpus
    val want2 = DataPipeline.segmentDedup(docs, 8)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val got2 = DataPipeline.segmentDedupHashed(docs, 8, c => pmod(xxhash64(c), lit(2)))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got2.toSeq === want2.toSeq)
  }

  test("p11 plan: keeper agg partial-aggregates on the hash — no window sort, no cartesian") {
    val df = DataPipeline.segmentDedupHashed(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"keeper selection must be partial-aggregated, not a per-chunk window sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p09: spans tile each doc exactly and every non-final sequence is full") {
    val budget = 64
    val out = DataPipeline.packSpans(docs, budget = budget, shardDocs = 20)
      .as[(Long, String, Long, Long, Long, Long)].collect()
    // per-doc: spans start at 0, are contiguous, and sum to n_tokens
    val nTok = DataPipeline.packSequences(docs, budget, 20)
      .select("doc_id", "n_tokens").as[(Long, Int)].collect().toMap
    out.groupBy(_._1).foreach { case (id, spans) =>
      val s = spans.sortBy(_._4)
      assert(s.head._5 === 0L, s"doc $id first span starts at 0")
      s.sliding(2).foreach {
        case Array(a, b) => assert(b._5 === a._5 + a._6, s"doc $id spans contiguous")
        case _ =>
      }
      assert(s.map(_._6).sum === nTok(id).toLong, s"doc $id span lengths sum to n_tokens")
      assert(s.forall(_._6 > 0), s"doc $id empty span")
    }
    // per (source, shard): every sequence but the last holds exactly budget
    out.groupBy(r => (r._2, r._3)).foreach { case ((src, shard), rows) =>
      val bySeq = rows.groupBy(_._4).view.mapValues(_.map(_._6).sum).toMap
      val last = bySeq.keys.max
      bySeq.foreach { case (seq, tot) =>
        if (seq != last) assert(tot === budget.toLong, s"($src,$shard) seq $seq not full")
        else assert(tot <= budget.toLong, s"($src,$shard) last seq overflows")
      }
    }
    // a doc longer than the budget spans multiple sequences
    assert(out.groupBy(_._1).exists(_._2.length > 1), "corpus must contain a split doc")
  }

  test("p09 plan: no exchange beyond p05's per-shard window (explode is map-side)") {
    val df = DataPipeline.packSpans(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"span explode must add no shuffle:\n$p")
  }

  test("p08 plan: quotas broadcast; only the counts agg and the rank shuffle") {
    val df = DataPipeline.mixSources(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"), s"quota frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle-join on source:\n$p")
  }

  test("p05 plan: one exchange (the per-shard window), bounded by construction") {
    val df = DataPipeline.packSequences(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"packing must shuffle once, on (source, shard):\n$p")
  }

  test("p19: fences match hand-computed quartiles; only the planted blob is flagged") {
    import spark.implicits._
    def doc(id: Long, src: String, n: Int) = (id, src, Seq.fill(n)("w").mkString(" "))
    // source A lengths [1..5, 100]: q1 = 2.25, q3 = 4.75, IQR = 2.5 →
    // fences [-1.5, 8.5]; only the 100-token blob falls outside
    val planted = (Seq.tabulate(5)(i => doc(i.toLong, "A", i + 1)) :+ doc(5L, "A", 100))
      .toDF("doc_id", "source", "text")
    val got = DataPipeline.lengthOutliers(planted).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getDouble(3), r.getDouble(4),
        r.getString(5), r.getBoolean(6)))).toMap
    assert(got(5L) === ((100, 2.25, 4.75, "long_outlier", false)))
    (0L to 4L).foreach { id =>
      assert(got(id)._4 === "ok" && got(id)._5, s"doc $id inside the fences") }
  }

  test("p19 plan: quartile frame broadcast back — the corpus never shuffle-joins") {
    val df = DataPipeline.lengthOutliers(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"), s"per-source quartiles must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle-join on source:\n$p")
  }

  test("p21: manifest is invariant to partitioning and row order; edits change the checksum") {
    val m1 = DataPipeline.shardManifest(docs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    val m2 = DataPipeline.shardManifest(docs.repartition(7).sortWithinPartitions(col("text")))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    assert(m1 === m2, "xor checksum must not depend on partitioning or row order")
    assert(m1.keySet.size === 16 && m1.values.map(_._1).sum === docs.count())
    // a one-character edit must flip the affected shard's checksum only
    val edited = docs.withColumn("text",
      when(col("doc_id") === 0, concat(col("text"), lit("!"))).otherwise(col("text")))
    val m3 = DataPipeline.shardManifest(edited).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    val changed = m1.keySet.filter(k => m1(k)._3 != m3(k)._3)
    assert(changed.size === 1, s"exactly one shard's checksum moves: $changed")
  }

  test("p22: identical releases show zero drift; a planted degradation shows mass moving") {
    val zero = DataPipeline.qualityDrift(docs, docs).collect()
    assert(zero.nonEmpty)
    zero.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) && r.getDouble(5) === 0.0,
        "same release on both sides must show abs_diff 0 in every bucket")
    }
    // v2 replaces every text with a one-word stub — quality mass must move
    // down and the total variation must be substantial
    val degraded = docs.withColumn("text", lit("x"))
    val drift = DataPipeline.qualityDrift(docs, degraded).collect()
    val tv = drift.map(_.getDouble(5)).sum / 2
    assert(tv > 0.5, s"a full-corpus degradation must move most mass, tv=$tv")
    // shares are distributions: each side sums to 1
    assert(math.abs(drift.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(math.abs(drift.map(_.getDouble(4)).sum - 1.0) < 1e-9)
  }

  test("p23: retention accounts exactly for cluster-resolved drops, keeper survives") {
    import spark.implicits._
    val base = (1 to 12).map(i => s"v$i").mkString(" ")
    val planted = Seq(
      (1L, "A", base), (2L, "A", base),             // near-dup pair inside A
      (3L, "B", "unrelated content lives here ok"), // untouched source
      (4L, "A", "different a-side text entirely here")
    ).toDF("doc_id", "source", "text")
    SessionCaches.release(spark)
    val got = DataPipeline.effectiveSize(planted).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getDouble(5)))).toMap
    SessionCaches.release(spark)
    // A: 3 docs, exactly one dropped (the non-keeper of {1, 2}); 12 of
    // 12+12+5 tokens dropped → retention 17/29
    assert(got("A")._1 === 3L && got("A")._2 === 1L)
    assert(math.abs(got("A")._3 - 17.0 / 29.0) < 1e-12)
    assert(got("B") === ((1L, 0L, 1.0)), "untouched source retains everything")
  }

  test("p20 plan: the pair frame broadcasts — the corpus map never shuffle-joins") {
    graft.Memo.release(spark)
    val df = DataPipeline.syndicationMatrix(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"pair-side joins against the corpus map must broadcast:\n$p")
    graft.Memo.release(spark)
  }

  test("p20: planted cross- and same-source near-dup pairs land in the right cells") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    val planted = Seq(
      (1L, "A", t1), (2L, "B", t1),  // cross-source exact near-dup
      (3L, "A", t2), (4L, "A", t2),  // same-source pair (the diagonal)
      (5L, "C", "unrelated words entirely here now")
    ).toDF("doc_id", "source", "text")
    graft.Memo.release(spark)
    val got = DataPipeline.syndicationMatrix(planted).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    graft.Memo.release(spark)
    assert(got === Map(("A", "B") -> ((1L, true)), ("A", "A") -> ((1L, false))))
  }

  test("p26: DSIR selection matches a JVM brute force on a planted corpus") {
    // target source speaks "alpha beta"; candidate 10 matches the target
    // distribution, candidate 11 speaks off-target tokens, candidate 12 is
    // mixed — the score order must be 10 > 12 > 11, and every score must
    // equal the JVM-computed Laplace-smoothed llr sum
    val planted = Seq(
      (1L, "alpha beta alpha beta", "tgt"),
      (2L, "alpha alpha beta gamma", "tgt"),
      (10L, "alpha beta alpha", "raw"),
      (11L, "delta epsilon delta", "raw"),
      (12L, "alpha delta beta epsilon", "raw")
    ).toDF("doc_id", "text", "source")
    val got = DataPipeline.dsirSelect(planted, targetSource = "tgt", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // JVM brute force, same smoothing
    val all = Seq("alpha beta alpha beta", "alpha alpha beta gamma",
      "alpha beta alpha", "delta epsilon delta", "alpha delta beta epsilon")
      .flatMap(_.split(" "))
    val raw = all.groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    val tgt = Seq("alpha beta alpha beta", "alpha alpha beta gamma")
      .flatMap(_.split(" ")).groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    val (nr, v, nt) = (raw.values.sum, raw.size.toLong, tgt.values.sum)
    def score(text: String): Double = {
      val s0 = text.split(" ").map { tok =>
        math.log((tgt.getOrElse(tok, 0L) + 1).toDouble / (nt + v)) -
          math.log((raw(tok) + 1).toDouble / (nr + v))
      }.sum
      BigDecimal(s0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = Seq(
      (10L, 3L, score("alpha beta alpha")),
      (12L, 4L, score("alpha delta beta epsilon")),
      (11L, 3L, score("delta epsilon delta")))
      .sortBy(r => (-r._3, r._1))
    assert(got.toSeq === expect)
    assert(got.head._1 === 10L && got.last._1 === 11L,
      "target-like must outrank off-target")
  }

  test("p24: holdout equals the window-rank recomputation, exactly 5 per source") {
    val got = DataPipeline.stratifiedHoldout(docs)
    // independent recomputation via the window-rank formulation the
    // operator deliberately avoids at scale — semantics must coincide
    val h = graft.dedup.Dedup.md5Hash60(concat(lit("holdout:"),
      col("doc_id").cast("string"))).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("hd"), col("doc_id"))
    val expected = docs.select(col("doc_id"), col("source"), h.as("hd"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("source"), (col("rk") <= 5).as("is_eval"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "heap-selected holdout must equal the window-rank definition")
    val perSrc = got.where(col("is_eval")).groupBy("source").count()
      .select("count").as[Long].collect()
    assert(perSrc.nonEmpty && perSrc.forall(_ === 5L),
      s"every sf0.001 source holds ≥5 docs, so each must contribute exactly 5")
    assert(got.count() === docs.count(), "every document keeps a flag row")
  }

  test("p24 plan: bounded heap partial-aggregates; no Window over the corpus") {
    val df = DataPipeline.stratifiedHoldout(docs)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("Window"),
      s"selection must ride the bounded heap, not a rank window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny eval-id set must broadcast back onto the corpus:\n$p")
  }

  test("p25: verbatim containment drops (mid-token included); shingle-only overlap survives") {
    val eight = "one two three four five six seven eight"
    val docs = Seq(
      (10L, "src", 1L, s"benchmark answer: $eight indeed"), // the eval doc
      (1L, "src", 1L, s"page quoting benchmark answer: $eight indeed verbatim"),
      (2L, "src", 1L, s"Xbenchmark answer: $eight indeedY"), // mid-token embed
      (3L, "src", 1L, s"$eight but not the whole eval text"),
      (4L, "src", 1L, "completely unrelated content here")
    ).toDF("doc_id", "source", "n_chars", "text")
    val isEval = col("doc_id") % 10 === 0
    val kept = DataPipeline.decontaminateVerbatim(docs, isEval)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L),
      "char-substring containment must drop 1 (verbatim) and 2 (mid-token)")
    // doc 3 shares the 8-gram with the eval doc: p02 drops it, p25 keeps
    // it — the two bracket the contamination decision
    graft.Memo.release(spark)
    val p02kept = DataPipeline.decontaminate(docs, isEval)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Memo.release(spark)
    assert(!p02kept.contains(3L) && p02kept.contains(4L))
  }

  test("p25 plan: eval texts broadcast — the corpus is never shuffled") {
    val df = DataPipeline.decontaminateVerbatim(
      tables.documents, col("doc_id") % 10 === 0)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"containment must run as a broadcast NL anti-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must not shuffle:\n$p")
  }

  test("p27: repeated chunks drop after first occurrence; clean docs pass through") {
    // doc 1: chunk A repeated (positions 0 and 2) around chunk B
    // doc 2: all-distinct chunks — must survive verbatim
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val c = (1 to 8).map(i => s"c$i").mkString(" ")
    val planted = Seq(
      (1L, s"$a $b $a"),
      (2L, s"$b $c")).toDF("doc_id", "text")
    val out = DataPipeline.scrubRepetition(planted)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((s"$a $b", 2L, 3L)),
      "the second occurrence of chunk A must drop, order preserved")
    assert(out(2L) === ((s"$b $c", 2L, 2L)), "distinct chunks pass through")
  }

  test("p27: within-doc scope — a chunk shared ACROSS docs survives in both") {
    val a = (1 to 8).map(i => s"x$i").mkString(" ")
    val planted = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val out = DataPipeline.scrubRepetition(planted)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === a && out(2L) === a,
      "cross-doc dedup is p06's job, not p27's")
  }

  test("p27 plan: pure scan projection — zero exchanges of any kind") {
    val df = DataPipeline.scrubRepetition(tables.documents)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"within-doc scrub must never shuffle:\n$p")
    assert(!p.toLowerCase.contains("sortmergejoin") && !p.contains("BroadcastHashJoin"),
      s"no join belongs in a per-row projection:\n$p")
  }

  // a corpus with one guaranteed near-dup pair (9101 ~ 9102: one token
  // differs out of many, trigram Jaccard > 0.8) and one isolated doc
  private def plantedP28 = {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    Seq(
      (9101L, base + " ending one"),
      (9102L, base + " ending two"),
      (9103L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
  }

  test("p28: isolated docs keep round(quality, 6); the planted pair blends") {
    graft.Memo.release(spark)
    val out = graft.operators.CorpusPipeline.propagateQuality(plantedP28)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    graft.Memo.release(spark)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (q3, prop3, _) = out(9103L)
    assert(prop3 === r6(q3), "isolated doc must keep its rounded score")
    // the pair's scores converge toward each other: after blending, the
    // gap between the two paired docs shrinks (strictly, unless equal)
    val gap0 = math.abs(out(9101L)._1 - out(9102L)._1)
    val gap2 = math.abs(out(9101L)._2 - out(9102L)._2)
    assert(gap2 <= gap0 + 1e-12, "propagation must contract the pair's gap")
    out.foreach { case (id, (q, prop, delta)) =>
      assert(math.abs(delta - r6(prop - r6(q))) < 1e-12, s"delta mismatch for $id")
    }
  }

  test("p28: two-round blend matches a JVM replay over the same pair graph") {
    graft.Memo.release(spark)
    val docs = plantedP28
    val q0 = docs.select(col("doc_id"),
      TextFns.tokenCount(col("text")).cast("double").as("nt"),
      TextFns.alphaRatio(col("text")).as("ar"),
      TextFns.stopwordRatio(col("text")).as("sr"))
      .select(col("doc_id"),
        TextFns.qualityScoreOf(col("nt"), col("ar"), col("sr")).as("s"))
      .as[(Long, Double)].collect().toMap
    val pairs = graft.dedup.Dedup.sharedJaccardPairs(docs, 0.8)
      .select("d1", "d2").as[(Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((9101L, 9102L)),
      "exactly the planted pair must qualify")
    val nbrs = (pairs.map(p => p._1 -> p._2) ++ pairs.map(p => p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def step(s: Map[Long, Double]): Map[Long, Double] =
      s.map { case (id, v) =>
        id -> (nbrs.get(id) match {
          case Some(ns) => r6(0.5 * v + 0.5 * r6(ns.map(s).sum / ns.size))
          case None     => r6(v)
        })
      }
    val want = step(step(q0))
    val got = graft.operators.CorpusPipeline.propagateQuality(docs)
      .select(col("doc_id"), col("propagated")).as[(Long, Double)].collect().toMap
    graft.Memo.release(spark)
    got.foreach { case (id, v) =>
      assert(math.abs(v - want(id)) < 1e-9, s"doc $id: got $v want ${want(id)}")
    }
  }

  test("p28 plan: the corpus is never exchanged past the pair build — " +
    "score joins broadcast") {
    val df = graft.operators.CorpusPipeline.propagateQuality(tables.documents)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    // the d02 pair build legitimately shuffles; the propagation tail must
    // not add SMJ/shuffled-hash joins of the corpus-sized score frame
    assert(p.contains("BroadcastHashJoin"),
      s"neighbor joins must broadcast the pair-bounded side:\n$p")
  }

  test("p29: ledger stages partition the corpus and agree with p01/p02/p03") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents
    val ledger = graft.operators.CorpusPipeline.curationLedger(tables).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), Option(r.getString(3))))).toMap
    // total partition: every doc gets exactly one verdict
    assert(ledger.size === docs.count())
    // split present iff kept
    assert(ledger.values.forall { case (st, sp) => (st == "kept") == sp.isDefined })
    // the kept set is exactly p01's survivors minus the eval slice and
    // p02's contamination drops (the pipeline-order composition law)
    val p01 = graft.operators.CorpusPipeline.cleanCorpus(tables)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val p02Survivors = graft.operators.DataPipeline
      .decontaminate(docs, col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = ledger.collect { case (id, ("kept", _)) => id }.toSet
    assert(kept === p01.filter(id => id % 10 != 0 && p02Survivors.contains(id)),
      "kept = p01 survivors ∩ p02 survivors ∩ non-eval")
    // every doc p01 keeps but the ledger drops is charged to a
    // POST-p01 stage (eval carve-out or contamination), never re-judged
    val lateDrops = p01.filter(id => !kept.contains(id)).map(id => ledger(id)._1)
    assert(lateDrops.forall(Set("eval_holdout", "contaminated").contains),
      s"p01 survivors may only fall to post-p01 stages, got $lateDrops")
  }

  test("p30: ablation grid equals a direct filter at every (lang, threshold) cell") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents.select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val grid = graft.operators.DataPipeline.gateAblation(tables.documents).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(grid.nonEmpty)
    val langs = docs.map(_._1).distinct
    for (lang <- langs; t <- 100L to 1000L by 100L) {
      val all = docs.filter(_._1 == lang)
      val kept = all.filter(_._2 >= t)
      grid.get((lang, t)) match {
        case None => assert(kept.isEmpty, s"missing cell ($lang, $t) must mean zero kept")
        case Some((n, chars, dShare, cShare)) =>
          assert(n === kept.length.toLong, s"n_docs at ($lang, $t)")
          assert(chars === kept.map(_._2).sum, s"kept_chars at ($lang, $t)")
          assert(dShare === kept.length.toDouble / all.length)
          assert(cShare === kept.map(_._2).sum.toDouble / all.map(_._2).sum)
      }
    }
    // retention must be monotonically non-increasing along each lang row
    for (lang <- langs) {
      val row = (100L to 1000L by 100L).map(t => grid.get((lang, t)).map(_._1).getOrElse(0L))
      assert(row === row.sorted.reverse, s"non-monotone retention for $lang: $row")
    }
  }

  test("p31: keeper is the min-(priority, id) member of every d07 cluster") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents
    val sources = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val prio = graft.operators.DataPipeline.sourcePriority
    val clusters = graft.dedup.Clusters.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val rows = graft.operators.DataPipeline.sourcePriorityDedup(docs).collect()
    assert(rows.map(_.getLong(0)).toSet === members.keySet, "one row per cluster")
    rows.foreach { r =>
      val ms = members(r.getLong(0))
      val expect = ms.minBy(id => (prio.getOrElse(sources(id), prio.size), id))
      assert(r.getLong(1) === expect, s"keeper of cluster ${r.getLong(0)}")
      assert(r.getString(2) === sources(expect))
      assert(r.getLong(3) === ms.length.toLong)
      assert(r.getLong(4) === ms.map(sources).distinct.length.toLong)
      assert(r.getLong(5) === ms.length.toLong - 1)
    }
    // the rule must actually differ from d07's min-id keeper somewhere,
    // or the operator adds nothing over d07's keeper
    assert(rows.exists(r => r.getLong(1) !== members(r.getLong(0)).min),
      "no cluster where priority overrides min-id — fixture too weak")
  }

  test("p33: packing report matches a JVM recount of p05's offsets at every budget") {
    import org.apache.spark.sql.functions.col
    val base = graft.operators.DataPipeline.packSequences(tables.documents).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getInt(3).toLong, r.getLong(4)))
    val got = graft.operators.DataPipeline.packingEfficiency(tables.documents).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    val budgets = Seq(128L, 256L, 512L, 1024L)
    assert(got.keySet === budgets.flatMap(b => base.map(_._1).distinct.map(b -> _)).toSet)
    for (b <- budgets; src <- base.map(_._1).distinct) {
      val rows = base.filter(_._1 == src)
      val nSplit = rows.count(r => r._4 / b != (r._4 + r._3 - 1) / b).toLong
      val nSeqs = rows.groupBy(_._2).values
        .map(sh => (sh.map(_._3).sum + b - 1) / b).sum
      val total = rows.map(_._3).sum
      val (gd, gt, gs, gsp, gp) = got((b, src))
      assert(gd === rows.length.toLong && gt === total, s"($b, $src) totals")
      assert(gs === nSeqs, s"($b, $src) seqs")
      assert(gsp === nSplit, s"($b, $src) splits")
      assert(gp === (nSeqs * b - total).toDouble / (nSeqs * b), s"($b, $src) padding")
      assert(gp >= 0.0 && gp < 1.0)
    }
  }

  test("p39: manifest conserves tokens, pads only sequence tails, matches p09 regroup") {
    import org.apache.spark.sql.functions.col
    val spans = graft.operators.DataPipeline.packSpans(tables.documents).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    val got = graft.operators.DataPipeline.sequenceManifest(tables.documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getString(5), r.getLong(6)))).toMap
    val regroup = spans.groupBy(s => (s._2, s._3, s._4))
    assert(got.keySet === regroup.keySet)
    regroup.foreach { case (key, ss) =>
      val (nDocs, seqTok, comp, pad) = got(key)
      assert(nDocs === ss.length.toLong, s"$key n_docs")
      assert(seqTok === ss.map(_._5).sum, s"$key token mass")
      assert(pad === 512L - seqTok, s"$key padding")
      assert(comp === ss.sortBy(_._1).map(s => s"${s._1}x${s._5}").mkString(","),
        s"$key composition")
    }
    // only the LAST sequence of each (source, shard) may carry padding
    got.groupBy(k => (k._1._1, k._1._2)).foreach { case (g, seqs) =>
      val lastSeq = seqs.keys.map(_._3).max
      seqs.foreach { case ((_, _, sq), (_, _, _, pad)) =>
        if (sq != lastSeq) assert(pad === 0L, s"$g seq $sq must be full")
        else assert(pad >= 0L)
      }
    }
  }

  test("p41: incremental card equals the full p10 recompute on the union") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents
    val standing = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    val inc = graft.operators.DataPipeline.incrementalCard(standing, batch)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val full = graft.operators.DataPipeline.corpusCard(docs)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(inc === full, "incremental maintenance must equal the full recompute")
    // an empty batch is the identity
    val idle = graft.operators.DataPipeline
      .incrementalCard(docs, docs.where(col("doc_id") < 0))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val base = graft.operators.DataPipeline.corpusCard(docs)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(idle === base, "empty batch must change nothing")
    // a batch introducing a brand-new source appears with standing zeros
    import SparkTestSession.spark.implicits._
    val newSrc = Seq((900001L, "fresh text one", "en", "brand_new", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val withNew = graft.operators.DataPipeline.incrementalCard(docs, newSrc)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(withNew.contains("brand_new"))
    assert(withNew("brand_new").head === 1L, "new source counts only its batch docs")
  }

  test("p42: A-ES sample replays the JVM key computation; weights shift odds") {
    import org.apache.spark.sql.functions.col
    import java.security.MessageDigest
    def u32(salt: String, key: Long): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s"$salt$key".getBytes)
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val src = tables.documents.select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val keys = src.map { case (id, nc) =>
      (id, math.log((u32("p42:", id) + 1).toDouble / 4294967296.0) / math.max(nc, 1L))
    }
    val expIds = keys.sortBy { case (id, k) => (-k, id) }.take(100).map(_._1).toSet
    val got = graft.operators.DataPipeline.weightedSample(tables.documents).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.length === 100)
    assert(got.map(_._1).toSet === expIds, "top-100 selection replays")
    val keyMap = keys.toMap
    got.foreach { case (id, k) =>
      assert(k === BigDecimal(keyMap(id)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0, s"doc $id key")
    }
    // the weighted-odds law: long docs are overrepresented vs uniform odds
    val medianChars = src.map(_._2).sorted.apply(src.length / 2)
    val longShare = got.count { case (id, _) =>
      src.toMap.apply(id) > medianChars }.toDouble / got.length
    assert(longShare > 0.5, s"above-median-length share $longShare must exceed 1/2")
  }

  test("p43: the kept band is exactly the docs between the JVM p25/p75 NLLs") {
    import org.apache.spark.sql.functions.col
    val scores = graft.operators.TextQueries.unigramPpl(tables.documents)
      .select(col("doc_id"), col("avg_nll")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    def q(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val idx = (s.length - 1) * p
      val lo = s(idx.toInt)
      if (idx == idx.toInt) lo else lo + (idx - idx.toInt) * (s(idx.toInt + 1) - lo)
    }
    val (lo, hi) = (q(scores.map(_._2), 0.25), q(scores.map(_._2), 0.75))
    val expKept = scores.filter { case (_, s) => s >= lo && s <= hi }.map(_._1).toSet
    val got = graft.operators.DataPipeline.pplBandPrune(tables.documents).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSet === expKept, "band membership replays")
    // roughly the middle half survives; both tails are really gone
    assert(got.length >= scores.length / 2 - 2 && got.length <= scores.length * 3 / 4)
    val droppedLow = scores.filter(_._2 < lo)
    val droppedHigh = scores.filter(_._2 > hi)
    assert(droppedLow.nonEmpty && droppedHigh.nonEmpty, "both tails pruned")
    got.foreach { case (id, s, glo, ghi) =>
      assert(s >= lo && s <= hi, s"doc $id inside the band")
      assert(glo === BigDecimal(lo).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        + 0.0 && ghi === BigDecimal(hi).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0, "emitted bounds round the raw percentiles")
    }
  }

  test("p45: incremental manifest equals the full p21 recompute; deletion xors out") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents
    val standing = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> r.toSeq.tail).toMap
    val inc = m(graft.operators.DataPipeline.incrementalShardManifest(standing, batch))
    val full = m(graft.operators.DataPipeline.shardManifest(docs))
    assert(inc === full, "xor/min/max/sum merge equals the full recompute")
    // the xor algebra: removing the batch again restores the checksums
    val sm = graft.operators.DataPipeline.shardManifest(standing).collect()
      .map(r => r.getInt(0) -> r.getLong(5)).toMap
    val bm = graft.operators.DataPipeline.shardManifest(batch).collect()
      .map(r => r.getInt(0) -> r.getLong(5)).toMap
    full.foreach { case (shard, cols) =>
      val merged = cols.last.asInstanceOf[Long]
      assert((merged ^ bm.getOrElse(shard, 0L)) === sm.getOrElse(shard, 0L),
        s"shard $shard: xor-ing the batch back out restores the standing checksum")
    }
  }

  test("m07: alignment audit agrees with direct per-source counts") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val vecs = tables.embeddings.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val rows = graft.multimodal.Multimodal
      .modalityAlign(tables.documents, tables.embeddings).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val bySrc = docs.groupBy(_._2)
    bySrc.foreach { case (src, ds) =>
      val (n, withV, vOnly, rate) = rows(src)
      assert(n === ds.length.toLong)
      assert(withV === ds.count(d => vecs(d._1)).toLong, s"aligned count for $src")
      assert(vOnly === 0L, "doc-sourced rows carry no vec-only count")
      assert(rate === withV.toDouble / n)
    }
    val docIds = docs.map(_._1).toSet
    val orphans = vecs.count(v => !docIds(v)).toLong
    if (orphans > 0) assert(rows("(none)")._3 === orphans)
    else assert(!rows.contains("(none)"))
  }

  test("p34: planted eval near-dup is reported with its worst offender; clean docs absent") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // eval docs are % 10 == 0. Doc 11 is a light edit of eval doc 10
    // (jaccard above 0.8); doc 12 shares nothing; doc 13 near-dups BOTH
    // 10 and 20 — must report the higher-jaccard offender (20, identical).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (10L, base + "one two three"),
      (20L, base + "one two three four"),
      (11L, base + "one two three five"),
      (12L, "entirely different content with no shared trigrams at all here"),
      (13L, base + "one two three four")
    ).toDF("doc_id", "text")
    val got = graft.operators.DataPipeline.nearDupContaminationReport(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.contains(11L), "paraphrased doc must be reported")
    assert(!got.contains(12L), "clean doc must be absent")
    assert(got(13L)._1 === 20L, "worst offender wins (13 ≡ 20 exactly)")
    assert(got(13L)._2 === 1.0)
    got.values.foreach { case (_, j) => assert(j >= 0.8) }
    // report doc ids are train-side only
    assert(got.keySet.forall(_ % 10 != 0))
  }

  test("p32: phases are balanced deciles ordered easiest-first, shuffle is a permutation") {
    val rows = graft.operators.DataPipeline.curriculumOrder(tables.documents).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getLong(3)))
    val n = tables.documents.count()
    assert(rows.length.toLong === n)
    val byPhase = rows.groupBy(_._3)
    assert(byPhase.keySet === (1 to 10).toSet)
    // ntile balance: sizes differ by at most one
    val sizes = byPhase.view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"unbalanced deciles: $sizes")
    // easiest-first: no doc in a later phase reads easier than any doc in
    // an earlier one (ties at the boundary may equalize, never invert)
    for (p <- 1 to 9)
      assert(byPhase(p).map(_._2).min >= byPhase(p + 1).map(_._2).max - 1e-12,
        s"phase $p is not uniformly easier than phase ${p + 1}")
    // within-phase order is a clean permutation 1..size
    byPhase.foreach { case (p, ms) =>
      assert(ms.map(_._4).sorted.toSeq === (1L to ms.length.toLong), s"phase $p order")
    }
  }

  test("p35: membership replays from md5, weights are exact ppm, HT estimate is plausible") {
    val rows = graft.operators.DataPipeline.softSample(tables.documents).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val all = tables.documents.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // JVM replay of the membership rule and the ppm weight, doc by doc
    def u32(id: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"p35:$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    val expected = all.collect {
      case (id, nc) if u32(id) * 1000L < math.min(nc, 1000L) * 4294967296L =>
        id -> (1000000000L / math.min(nc, 1000L))
    }
    assert(rows.map(r => r._1 -> r._3).toMap === expected)
    // Horvitz–Thompson: Σ 1/p over the sample estimates |corpus|; bound
    // by 5σ of the exact per-doc Bernoulli variances (q72's rule)
    val est = rows.map(_._3).sum / 1e6
    val varSum = all.values.map { nc =>
      val p = math.min(nc, 1000L).toDouble / 1000.0
      (1 - p) / p
    }.sum
    assert(math.abs(est - all.size) <= 5 * math.sqrt(varSum) + 1e-9,
      s"HT estimate $est vs ${all.size} outside 5 sigma")
  }

  test("p36: skewed sources flatten to ~min size; membership replays from md5") {
    import spark.implicits._
    // big: 200 docs, small: 20 → big keeps at rate 0.1, small keeps all
    val docs = ((1L to 200L).map(i => (i, "big")) ++ (201L to 220L).map(i => (i, "small")))
      .map { case (id, s) => (id, s, 100L) }.toDF("doc_id", "source", "n_chars")
    val rows = graft.operators.DataPipeline.uniformRebalance(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def u32(salt: String, id: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$salt$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    // JVM replay: rate = ⌊1e6·20/200⌋ = 100000 for big, 1e6 for small
    val expected = (1L to 220L).flatMap { id =>
      val (src, srcN) = if (id <= 200) ("big", 200L) else ("small", 20L)
      val rate = 20L * 1000000L / srcN
      if (u32("p36:", id) * 1000000L < rate * 4294967296L)
        Some((id, src, srcN, rate, 1000000000000L / rate))
      else None
    }.toSet
    assert(rows.toSet === expected)
    // the small source keeps everything (rate 1e6 ⇒ u < 2^32 always)
    assert(rows.count(_._2 == "small") === 20)
    // the big source thins to ≈ 20 (Binomial(200, 0.1): 5σ ≈ 21)
    val bigKept = rows.count(_._2 == "big")
    assert(bigKept > 0 && bigKept < 42, s"big kept $bigKept of 200 at rate 0.1")
    // HT: kept big docs weigh 10× so the weighted size estimates 200
    val est = rows.filter(_._2 == "big").map(_._5).sum / 1e6
    assert(math.abs(est - 200.0) <= 5 * math.sqrt(200 * 0.1 * 0.9) * 10 + 1e-9)
  }

  test("p38: one restricted member taints the whole cluster; clean singletons stay clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 12).map(i => s"w$i").mkString(" "), "srcA"),   // near-dup of 2
      (2L, (1 to 11).map(i => s"w$i").mkString(" "), "srcBAD"), // restricted copy
      (3L, "completely different clean content here", "srcA"),  // clean singleton
      (4L, "another unrelated restricted document", "srcBAD")   // restricted singleton
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.DataPipeline.licenseTaint(docs, Seq("srcBAD")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((1L, false, true)), "clean copy of restricted text is tainted")
    assert(got(2L) === ((1L, true, true)))
    assert(got(3L) === ((3L, false, false)), "clean singleton untouched")
    assert(got(4L) === ((4L, true, true)), "restricted singleton taints itself only")
  }

  test("p37: overlap is attributed to BOTH rules' n_fail but NEITHER's n_unique") {
    import spark.implicits._
    // 30 distinct pure-alpha tokens: alpha ratio 60/89 ≈ 0.67, no dups
    val long = (for (a <- 'a' to 'e'; b <- 'a' to 'f') yield s"$a$b").mkString(" ")
    val docs = Seq(
      (1L, long),             // passes everything
      (2L, "only short"),     // too_short + dominant_token (1/2 > 0.2)
      (3L, "1 2 3 4 5"),      // too_short + low_alpha (top = 0.2, not >)
      (4L, long + " " + long) // repetitive_dups ALONE (dup 0.5, top 2/60)
    ).toDF("doc_id", "text")
    val rows = graft.operators.DataPipeline.gateAttribution(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet === Set("too_short", "too_long", "low_alpha",
      "repetitive_dups", "dominant_token"))
    // every failure here overlaps except doc 4's: n_fail counts all, the
    // double failures land in NO rule's n_unique
    assert(rows("too_short") === ((2L, 0L, 4L, 3L)), s"got ${rows("too_short")}")
    assert(rows("low_alpha") === ((1L, 0L, 4L, 3L)))
    assert(rows("dominant_token") === ((1L, 0L, 4L, 3L)))
    assert(rows("too_long") === ((0L, 0L, 4L, 3L)))
    assert(rows("repetitive_dups")._1 === 1L)
    assert(rows("repetitive_dups")._2 === 1L, "doc 4 fails dups alone")
    // conservation: Σ n_unique ≤ n_dropped ≤ Σ n_fail
    val uniq = rows.values.map(_._2).sum
    val fails = rows.values.map(_._1).sum
    val dropped = rows.values.head._4
    assert(uniq <= dropped && dropped <= fails)
  }

  test("p46: a delete request sweeps the requested doc's near-dup copy") {
    import spark.implicits._
    def md5Hash60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // find planted ids: one requested (md5 % 50 == 0), several not
    val reqId = (1L to 10000L).find(i => md5Hash60(s"forget:$i") % 50 == 0L).get
    val clean = (1L to 10000L).filter(i => md5Hash60(s"forget:$i") % 50 != 0L)
    val (copyId, aloneId, soloReqId) = (clean.head, clean(1),
      (reqId + 1 to 20000L).find(i => md5Hash60(s"forget:$i") % 50 == 0L).get)
    val dupText = (1 to 25).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (reqId, dupText, "a"),          // requested, near-dup of copyId
      (copyId, dupText, "a"),         // NOT requested — must be swept
      (aloneId, (1 to 25).map(i => s"z$i").mkString(" "), "a"), // retained
      (soloReqId, (1 to 25).map(i => s"y$i").mkString(" "), "b") // requested singleton
    ).toDF("doc_id", "text", "source")
    graft.Memo.release(spark)
    val got = DataPipeline.forgetPropagate(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    graft.Memo.release(spark)
    // source a: 3 docs, 1 requested, its verbatim copy swept, 1 retained
    assert(got("a") === ((3L, 1L, 1L, 1L,
      Some(md5Hash60((1 to 25).map(i => s"z$i").mkString(" "))))))
    // source b: the requested singleton deletes alone; nothing retained
    assert(got("b") === ((1L, 1L, 0L, 0L, None)))
  }

  test("p47: saturation counts every copy once, laws hold, order is stable") {
    import spark.implicits._
    // 30 docs: ids 1-20 unique texts, ids 21-30 duplicate texts 1-10 —
    // whichever admission batch sees a text second must NOT count it new
    val docs = ((1L to 20L).map(i => (i, (1 to 25).map(j => s"u$i-$j").mkString(" ")))
      ++ (21L to 30L).map(i => (i, (1 to 25).map(j => s"u${i - 20}-$j").mkString(" "))))
      .toDF("doc_id", "text")
    val got = DataPipeline.dedupSaturation(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._2).sum === 30L, "every doc in exactly one batch")
    assert(got.last._5 === 20L, "cumulative uniques end at the distinct-text count")
    got.foreach { case (b, nd, nn, ppm, _) =>
      assert(b >= 1 && b <= 10, "ten admission batches")
      assert(nn <= nd, "a batch cannot mint more uniques than docs")
      assert(ppm === nn * 1000000L / nd, "ppm identity")
    }
    val cums = got.map(_._5)
    assert(cums.zip(cums.drop(1)).forall { case (a, c) => a <= c },
      "cum_unique is monotone")
    val again = DataPipeline.dedupSaturation(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(again === got, "deterministic admission order")
  }

  test("p50: ranged batches keep every p47 conservation law and total") {
    import spark.implicits._
    val docs = ((1L to 20L).map(i => (i, (1 to 25).map(j => s"u$i-$j").mkString(" ")))
      ++ (21L to 30L).map(i => (i, (1 to 25).map(j => s"u${i - 20}-$j").mkString(" "))))
      .toDF("doc_id", "text")
    val exact = DataPipeline.dedupSaturation(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val ranged = DataPipeline.dedupSaturationRanged(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(_._1)
    // the ranged form trades exact tenths for zero sort — but the curve's
    // TOTALS are batching-invariant: same corpus mass, same unique mass
    assert(ranged.map(_._2).sum === exact.map(_._2).sum, "every doc in exactly one batch")
    assert(ranged.map(_._3).sum === exact.map(_._3).sum, "every text minted once")
    assert(ranged.last._4 === exact.last._4, "final cum_unique identical")
    ranged.foreach { case (b, nd, nn, _) =>
      assert(b >= 1 && b <= 10, "prefix scaling lands in [1, batches]")
      assert(nn <= nd, "a batch cannot mint more uniques than docs")
    }
    val cums = ranged.map(_._4)
    assert(cums.zip(cums.drop(1)).forall { case (a, c) => a <= c },
      "cum_unique is monotone")
    // batch assignment is a pure function of doc_id — rerun identical
    val again = DataPipeline.dedupSaturationRanged(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(_._1)
    assert(again === ranged, "deterministic scan-local batching")
  }

  test("p51: epoch plan caps repeats, grants within cap, flags exactly the capped") {
    import spark.implicits._
    // sources sized so the quota forces: uncapped single-epoch (huge),
    // multi-epoch repeat (small), capped (tiny)
    def doc(src: String, i: Long, n: Int) =
      (i, (1 to n).map(j => s"w$j").mkString(" "), src)
    val docs = ((1L to 40L).map(doc("huge", _, 100))
      ++ (41L to 44L).map(doc("small", _, 50))
      ++ Seq(doc("tiny", 45L, 10))).toDF("doc_id", "text", "source")
    val got = DataPipeline.epochPlan(docs, alpha = 0.5, budget = 5000L,
        maxEpochs = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6), r.getLong(7)))).toMap
    got.foreach { case (src, (n, quota, granted, epochs, capped, rppm)) =>
      assert(granted <= 4 * n, s"$src: granted beyond the epoch cap")
      assert(granted <= quota, s"$src: granted beyond the quota")
      assert(epochs === (granted + n - 1) / n, s"$src: epoch identity")
      assert(epochs <= 4, s"$src: epochs beyond cap")
      assert(capped === (quota > 4 * n), s"$src: capped flag identity")
      assert((rppm == 0L) === (granted <= n), s"$src: repeat share iff repeats")
    }
    assert(got("tiny")._5, "tiny source must hit the epoch cap")
    assert(got("tiny")._4 === 4L)
    assert(!got("huge")._5 && got("huge")._4 === 1L,
      "huge source serves its quota in one epoch")
  }

  test("p52: unimax caps the ceiling-bound sources and spends the budget exactly") {
    import spark.implicits._
    def doc(src: String, i: Long, n: Int) =
      (i, (1 to n).map(j => s"w$j").mkString(" "), src)
    // tiny (10 tok) and small (200 tok) hit the 4-epoch ceiling under a
    // 5000-token budget; huge (4000 tok) absorbs the re-leveled surplus
    val docs = ((1L to 40L).map(doc("huge", _, 100))
      ++ (41L to 44L).map(doc("small", _, 50))
      ++ Seq(doc("tiny", 45L, 10))).toDF("doc_id", "text", "source")
    val got = DataPipeline.unimaxWaterfill(docs, alpha = 0.5, budget = 5000L,
        maxEpochs = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5)))).toMap
    got.foreach { case (src, (n, wppm, cap, capped, alloc)) =>
      assert(cap === 4 * n, s"$src: cap identity")
      assert(alloc <= cap, s"$src: alloc beyond the epoch ceiling")
      assert(wppm >= 1L, s"$src: weight floored at 1 ppm")
      if (capped) assert(alloc === cap, s"$src: capped must yield its ceiling")
    }
    assert(got("tiny")._4 && got("small")._4, "ceiling-bound sources capped")
    assert(!got("huge")._4, "the big source absorbs the surplus")
    // exact conservation: caps + re-leveled remainder spend the budget
    assert(got.values.map(_._5).sum === 5000L, "budget spent exactly")
    // re-leveling: huge gets MORE than its raw temperature share
    // (floor(5000 * w_huge + 0.5) < alloc after the capped surplus frees up)
    val rawQuota = math.floor(5000.0 * (got("huge")._2 / 1e6) + 0.5).toLong
    assert(got("huge")._5 > rawQuota, "freed budget re-levels to uncapped sources")
  }

  test("p49: waterline caps small sources, conserves the budget, fair elsewhere") {
    import spark.implicits._
    def doc(src: String, i: Long, n: Int) =
      (i, (1 to n).map(j => s"w$j").mkString(" "), src)
    // sizes: tiny=10, small=50, big=400, huge=400 tokens; budget 300
    val docs = Seq(doc("tiny", 1L, 10), doc("small", 2L, 50),
      doc("big", 3L, 400), doc("huge", 4L, 400))
      .toDF("doc_id", "text", "source")
    val got = DataPipeline.waterfill(docs, 300L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(got("tiny") === ((10L, true, 10L)), "tiny taken whole")
    assert(got("small") === ((50L, true, 50L)), "small taken whole")
    val (bigA, hugeA) = (got("big")._3, got("huge")._3)
    assert(!got("big")._2 && !got("huge")._2, "large sources share the waterline")
    assert(math.abs(bigA - hugeA) <= 1L, "max-min fair within the remainder token")
    assert(Seq(got("tiny"), got("small"), got("big"), got("huge"))
      .map(_._3).sum === 300L, "budget exactly consumed")
    // a budget above the total degenerates to take-everything
    val all = DataPipeline.waterfill(docs, 100000L).collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(all.forall { case (n, a) => a === n }, "surplus budget takes all")
  }

  test("p54: the sampling plan realizes p52 allocations exactly") {
    import spark.implicits._
    def doc(src: String, i: Long, n: Int) =
      (i, (1 to n).map(j => s"w$j").mkString(" "), src)
    val docs = ((1L to 40L).map(doc("huge", _, 100))
      ++ (41L to 44L).map(doc("small", _, 50))
      ++ Seq(doc("tiny", 45L, 10))).toDF("doc_id", "text", "source")
    val got = DataPipeline.samplingPlan(docs, alpha = 0.5, budget = 5000L,
        maxEpochs = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    got.foreach { case (src, (n, alloc, capped, fe, tail, ppm)) =>
      assert(fe * n + tail === alloc, s"$src: epochs*n + tail = alloc")
      assert(tail >= 0 && tail < n, s"$src: tail is a proper remainder")
      assert(ppm === tail * 1000000L / n, s"$src: floor ppm rate")
      if (capped) assert(tail === 0L && fe === 4L,
        s"$src: a capped source reads exactly maxEpochs full passes")
    }
    assert(got("tiny")._3 && got("small")._3 && !got("huge")._3)
  }

  test("p56: the serpentine deal balances a planted arithmetic ladder exactly") {
    import spark.implicits._
    // sizes 10..5 over 3 workers: pass 0 deals 10,9,8 to w0,w1,w2 and
    // pass 1 deals 7,6,5 BACK as w2,w1,w0 — every worker lands on 15
    val manifest = Seq(
      (0, 1L, 10L), (1, 1L, 9L), (2, 1L, 8L),
      (3, 1L, 7L), (4, 1L, 6L), (5, 1L, 5L))
      .toDF("shard", "n_docs", "n_tokens")
    val got = DataPipeline.workerPlacementFor(manifest, nWorkers = 3)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(3), r.getInt(4), r.getLong(5), r.getLong(6)))).toMap
    // serpentine assignment: rank→worker = 1→0, 2→1, 3→2, 4→2, 5→1, 6→0
    assert(got(0) === ((1L, 0, 15L, 333333L)))
    assert(got(1) === ((2L, 1, 15L, 333333L)))
    assert(got(2) === ((3L, 2, 15L, 333333L)))
    assert(got(3) === ((4L, 2, 15L, 333333L)))
    assert(got(4) === ((5L, 1, 15L, 333333L)))
    assert(got(5) === ((6L, 0, 15L, 333333L)))
  }

  test("p56: ties rank deterministically and a short last pass stays serpentine") {
    import spark.implicits._
    // 4 shards, 3 workers: last pass has ONE shard — it must land on
    // worker 2 (odd pass starts from the top); equal sizes order by shard
    val manifest = Seq((7, 1L, 4L), (3, 1L, 4L), (9, 1L, 9L), (1, 1L, 2L))
      .toDF("shard", "n_docs", "n_tokens")
    val got = DataPipeline.workerPlacementFor(manifest, nWorkers = 3)
      .collect().map(r => r.getInt(0) -> ((r.getLong(3), r.getInt(4)))).toMap
    assert(got(9) === ((1L, 0)), "largest first")
    assert(got(3) === ((2L, 1)), "tie broken by shard id: 3 before 7")
    assert(got(7) === ((3L, 2)))
    assert(got(1) === ((4L, 2)), "odd pass deals from the last worker back")
  }

  test("p57: the stride-window chunk rule covers every planted length class") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x" * 1500), // starts 1, 601, 1201 -> lens 800, 800, 300
      (2L, ""),         // empty doc -> exactly one empty chunk
      (3L, "y" * 600),  // fits one window -> one chunk, len 600
      (4L, "z" * 601))  // one char past the stride -> overlap tail chunk
      .toDF("doc_id", "text")
    val got = DataPipeline.chunkWindows(docs, width = 800, stride = 600)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got.keySet === Set((1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 0L), (3L, 0L), (4L, 0L), (4L, 1L)))
    assert(got((1L, 0L))._1 === 1L && got((1L, 0L))._2 === 800L)
    assert(got((1L, 1L))._1 === 601L && got((1L, 1L))._2 === 800L)
    assert(got((1L, 2L))._1 === 1201L && got((1L, 2L))._2 === 300L)
    assert(got((2L, 0L))._2 === 0L, "empty doc still manifests one chunk")
    assert(got((3L, 0L))._2 === 600L)
    assert(got((4L, 0L))._2 === 601L && got((4L, 1L))._2 === 1L)
    // same-content chunks hash identically: doc 1's two full windows are
    // both 800 x's
    assert(got((1L, 0L))._3 === got((1L, 1L))._3)
  }

  test("p59: source-pair shared-chunk matrix matches a hand-built fixture") {
    import spark.implicits._
    // wire copy "syndicated text" runs in all three sources; srcA and
    // srcB additionally share "regional copy"; each has one unique doc.
    // width>=text so each doc is exactly one chunk; distinct sets:
    //   A = {synd, regional, ua}  B = {synd, regional, ub}  C = {synd, uc}
    val docs = Seq(
      (1L, "syndicated text", "srcA"), (2L, "syndicated text", "srcB"),
      (3L, "syndicated text", "srcC"), (4L, "regional copy", "srcA"),
      (5L, "regional copy", "srcB"), (6L, "regional copy", "srcB"),
      (7L, "unique to a", "srcA"), (8L, "unique to b", "srcB"),
      (9L, "unique to c", "srcC"))
      .toDF("doc_id", "text", "source")
    val got = DataPipeline.chunkSyndication(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet === Set(("srcA", "srcB"), ("srcA", "srcC"),
      ("srcB", "srcC")))
    // A∩B = {synd, regional} (2), |A|=3, |B|=3 -> J = 2/4
    assert(got(("srcA", "srcB")) === ((2L, 3L, 3L, 500000L)))
    // A∩C = {synd} (1), |C|=2 -> J = 1/4
    assert(got(("srcA", "srcC")) === ((1L, 3L, 2L, 250000L)))
    assert(got(("srcB", "srcC")) === ((1L, 3L, 2L, 250000L)))
  }

  test("p58: maintained census equals a full rebuild on the union (touched hashes)") {
    import spark.implicits._
    val standing = Seq((1L, "alpha body"), (2L, "beta body")).toDF("doc_id", "text")
    val batch = Seq((3L, "alpha body"), (4L, "gamma body"),
      (5L, "gamma body")).toDF("doc_id", "text")
    val got = DataPipeline.incrementalChunkCensus(
        DataPipeline.chunkCensus(standing), batch)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // the rebuild-on-union reference, restricted to batch hashes
    val want = DataPipeline.chunkCensus(standing.unionByName(batch))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size === 2, "two distinct batch hashes touched")
    got.foreach { case (h, (old, add, nw, status)) =>
      assert(old + add === nw)
      assert(nw === want(h), s"merged count must equal the union rebuild for $h")
      assert(status === (if (old == 0L) "new" else "grown"))
    }
    assert(got.values.count(_._4 == "grown") === 1, "alpha grew")
    assert(got.values.count(_._4 == "new") === 1, "gamma is new")
  }

  test("p58 plan: the standing census is probed by a broadcast join, never shuffled") {
    import spark.implicits._
    val standing = Seq((1L, "alpha body")).toDF("doc_id", "text")
    val batch = Seq((2L, "alpha body")).toDF("doc_id", "text")
    // disable size-based auto-broadcast so only the HINTED direction can
    // produce broadcast joins — the old right-outer form passed this
    // test vacuously (Spark size-broadcast the tiny LEFT side, the
    // opposite of the contract, while dropping the unhonorable hint)
    val thKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thKey)
    spark.conf.set(thKey, "-1")
    try {
      val plan = DataPipeline.incrementalChunkCensus(
          DataPipeline.chunkCensus(standing), batch)
        .queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi, BuildRight"),
        s"standing census must be STREAMED through a broadcast semi probe:\n$plan")
      assert(plan.contains("LeftOuter, BuildRight"),
        s"the touched slice must broadcast back to the batch frame:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("RightOuter"),
        s"no shuffled join may touch the standing census:\n$plan")
    } finally spark.conf.set(thKey, prev)
  }

  test("p57: hash_dups counts corpus-wide duplicate chunks across documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared paragraph body"),
      (2L, "shared paragraph body"), // exact duplicate of doc 1
      (3L, "something else"))
      .toDF("doc_id", "text")
    val got = DataPipeline.chunkWindows(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(got(1L) === 2L && got(2L) === 2L, "duplicate chunk seen twice")
    assert(got(3L) === 1L)
  }

  test("p55: unique-mass weights credit cross-source duplicates to the keeper") {
    import spark.implicits._
    // doc 1 (srcA) and doc 3 (srcB) are exact duplicates after
    // normalization (case AND whitespace differ); keeper = global min
    // doc_id -> srcA. Token counts follow the t01/string_split(' ')
    // convention, so doc 1's triple space counts the empties: 5 tokens.
    val docs = Seq(
      (1L, "dup   text here", "srcA"),
      (2L, "unique a", "srcA"),
      (3L, "Dup text HERE", "srcB"),
      (4L, "unique b words", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = DataPipeline.effectiveMixture(docs, alpha = 0.5).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
    // raw: srcA = 5 + 2 = 7, srcB = 3 + 3 = 6
    assert(got("srcA")._1 === 7L && got("srcB")._1 === 6L)
    // unique: srcA keeps both (keeper of the dup pair), srcB loses doc 3
    assert(got("srcA")._2 === 7L && got("srcB")._2 === 3L)
    assert(got("srcA")._6 === 0L, "no duplicated mass in srcA")
    assert(got("srcB")._6 === 3L * 1000000L / 6L, "half of srcB is dup mass")
    // the weight shift moves share toward the source with real mass
    assert(got("srcA")._5 > 0.0 && got("srcB")._5 < 0.0)
    // p08 discipline: weights are 6-dp rounded and sum to ~1 per family
    Seq(got("srcA")._3 + got("srcB")._3, got("srcA")._4 + got("srcB")._4)
      .foreach(sum => assert(math.abs(sum - 1.0) < 2e-6))
  }

  test("p60: anneal endpoints are exact and each source moves monotonically") {
    val rows = graft.operators.DataPipeline
      .mixtureAnneal(tables.documents, alpha = 0.5, phases = 5,
        budget = 1000000L)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("phase"),
        r.getAs[Long]("start_ppm"), r.getAs[Long]("end_ppm"),
        r.getAs[Long]("w_ppm"), r.getAs[Long]("phase_tokens")))
    val bySource = rows.groupBy(_._1)
    val nSources = bySource.size
    assert(rows.length == nSources * 5)
    bySource.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      // phase 0 exactly uniform, final phase exactly the temperature ppm
      assert(sorted.head._5 == 1000000L / nSources)
      assert(sorted.last._5 == sorted.last._4)
      // monotone toward the end weight (linear integer interpolation)
      val diffs = sorted.map(_._5).sliding(2).map { case Array(a, b) => b - a }
      val sign = (sorted.last._4 - sorted.head._3).sign
      diffs.foreach(d => assert(d * sign >= 0, s"non-monotone step in $rs"))
      // phase quota is the exact integer share of the per-phase budget
      sorted.foreach { case (_, _, _, _, w, q) =>
        assert(q == 200000L * w / 1000000L)
      }
    }
    // each phase's weights stay within rounding of a full mixture
    rows.groupBy(_._2).values.foreach { ph =>
      val tot = ph.map(_._5).sum
      assert(math.abs(tot - 1000000L) <= ph.length + nSources,
        s"phase mass $tot drifts past rounding slack")
    }
  }

  test("p61: planted aligned leak is caught with exact severity; clean eval doc is zero") {
    import spark.implicits._
    val para = ("x" * 200) + ("y" * 200)   // two full aligned windows
    val docs = Seq(
      // eval doc 0: first 400 chars copied verbatim into train doc 1
      (0L, para + ("e" * 100), "eval_src"),
      (1L, para + ("t" * 300), "train_src"),
      // eval doc 10: nothing shared
      (10L, "z" * 350, "eval_src"),
      // train-only noise
      (3L, "w" * 500, "train_src"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.DataPipeline
      .chunkDecontaminate(docs, org.apache.spark.sql.functions.col("doc_id") % 10 === 0,
        width = 200, stride = 100)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    // doc 0: 500 chars -> 5 windows (stride 100); windows at offsets 0,100,
    // 200 replay inside doc 1's aligned copy (full-width 200-char windows);
    // offset-300 window (y*100 + e*100) and the 100-char tail do not
    assert(got(0L)._1 == 5L)
    assert(got(0L)._2 == 3L, s"expected 3 hit windows, got ${got(0L)}")
    assert(got(0L)._3 == 3L * 1000000L / 5L && got(0L)._4)
    // doc 10: 4 windows, zero hits, not compromised
    assert(got(10L) == ((4L, 0L, 0L, false)))
  }

  test("p62: length-sorted batching never pads more than arrival order; fixture exact") {
    import spark.implicits._
    // corpus-wide law on real data
    val plan = graft.operators.DataPipeline
      .lengthBucketedBatches(tables.documents).collect()
    // token_sum is strategy-invariant, so comparing padded totals IS
    // comparing total waste
    val padded = plan.groupBy(_.getString(0)).view.mapValues(rs =>
      rs.map(_.getLong(4)).sum).toMap
    assert(padded("length_sorted") <= padded("arrival"),
      s"sorted batching must not pad more: $padded")
    // planted fixture, batchSize 2: lengths 1,1,5,5 sorted -> batches
    // (1,1) and (5,5), zero waste; arrival (1,5),(1,5) wastes 4/12 each
    val docs = Seq((1L, "a"), (2L, "b b b b b"), (3L, "c"),
      (4L, "d d d d d")).toDF("doc_id", "text")
    val got = graft.operators.DataPipeline
      .lengthBucketedBatches(docs, batchSize = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("length_sorted", 0L)) == ((2L, 1L, 2L, 0L)))
    assert(got(("length_sorted", 1L)) == ((2L, 5L, 10L, 0L)))
    assert(got(("arrival", 0L)) == ((2L, 5L, 10L, 4L * 1000000L / 10L)))
    assert(got(("arrival", 1L)) == ((2L, 5L, 10L, 4L * 1000000L / 10L)))
  }
}
