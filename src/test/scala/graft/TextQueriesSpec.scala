package graft

import graft.operators.TextQueries
import org.scalatest.funsuite.AnyFunSuite

/** Construction-cost contract for the LM-scoring queries: composing the
  * plan must be free. Round-6 finding: t06/t09 fired corpus jobs from
  * `.head()` scalars DURING DataFrame construction — a caller composing
  * plans paid scans it never asked to run, and every retry re-paid them.
  * Both scalars are now 1-row broadcast crossJoins (the q33
  * scalar-subquery shape). */
class TextQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("t12: diversity fractions match hand-computed values") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b c"), // n=4 types=3 hapax=2(b,c); bigrams [a a, a b, b c] all distinct
      (2L, "x"),       // single token; whole-text pseudo-bigram (the t05 rule)
      (3L, "a a a")    // bigrams [a a, a a] → distinct 1 of 2
    ).toDF("doc_id", "text")
    val got = TextQueries.lexicalDiversity(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got(1L) === ((4L, 3L, 2L, 3.0 / 4, 2.0 / 3, 1.0)))
    assert(got(2L) === ((1L, 1L, 1L, 1.0, 1.0, 1.0)))
    assert(got(3L) === ((3L, 1L, 0L, 1.0 / 3, 0.0, 0.5)))
  }

  test("t13: vocabulary jaccard matches hand-computed overlap per source pair") {
    import spark.implicits._
    // vocab A = {a, b, c}; B = {b, c, d}; C = {x}
    val docs = Seq(
      (1L, "A", "a b"), (2L, "A", "b c"),
      (3L, "B", "b c d"),
      (4L, "C", "x")
    ).toDF("doc_id", "source", "text")
    val got = TextQueries.vocabOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // pairs without common tokens (A-C, B-C) produce no row — jaccard 0
    assert(got.keySet === Set(("A", "B")))
    assert(got(("A", "B")) === ((3L, 3L, 2L, 2.0 / 4)))
  }

  test("t15: JSD matches the hand-computed value; disjoint-vocab pairs emit no row") {
    import spark.implicits._
    // A: p(a)=2/3, p(b)=1/3; B: mirrored; C: disjoint vocabulary
    val docs = Seq(
      (1L, "A", "a a b"),
      (2L, "B", "a b b"),
      (3L, "C", "x")
    ).toDF("doc_id", "source", "text")
    Memo.release(spark)
    val got = TextQueries.jsDivergence(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    Memo.release(spark)
    // KL(P||M) = 2/3·ln(4/3) + 1/3·ln(2/3), symmetric here, so JSD = that
    val expected = 2.0 / 3 * math.log(4.0 / 3) + 1.0 / 3 * math.log(2.0 / 3)
    assert(got.keySet === Set(("A", "B")),
      "disjoint-vocab pairs (JSD = ln 2) produce no row, the t13 convention")
    assert(got(("A", "B"))._1 === 2L)
    assert(math.abs(got(("A", "B"))._2 - expected) < 1e-6)
  }

  test("t17: OOV counts match hand-computed values under the deterministic vocab cut") {
    import spark.implicits._
    // corpus freq: a=4, b=3, c=2, d=1, e=1 → top-3 vocab = {a, b, c}
    // (d/e tie at 1 but fall outside V anyway; within-V ties order by token)
    val docs = Seq(
      (1L, "a a b c d"),  // 1 OOV of 5
      (2L, "a b c e"),    // 1 OOV of 4
      (3L, "a b a")       // 0 OOV
    ).toDF("doc_id", "text")
    Memo.release(spark)
    val got = TextQueries.oovRate(docs, vocabSize = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    Memo.release(spark)
    assert(got(1L) === ((5L, 1L, 0.2)))
    assert(got(2L) === ((4L, 1L, 0.25)))
    assert(got(3L) === ((3L, 0L, 0.0)))
  }

  test("t17 plan: vocab cut is TakeOrdered (per-partition heaps), vocab broadcasts back") {
    val df = TextQueries.t17OovRate(SparkTestSession.tables)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V must be a bounded heap merge, never a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the V-row vocab must broadcast onto the token frame:\n$p")
  }

  test("t16: half-English half-German doc flags; monolingual and tiny docs do not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is in the hat and it is a cat"),
      (2L, "the a of and to in is it " + "der die das ist ein nicht der acht"),
      (3L, "x")
    ).toDF("doc_id", "text")
    val got = TextQueries.codeSwitch(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(got(1L) === (("en", "en", false)))
    assert(got(2L) === (("en", "de", true)),
      "halves voting for different languages must flag the doc")
    assert(got(3L) === (("und", "und", false)), "empty first half degrades to und")
  }

  test("t18: planted cross-doc chrome scores as boilerplate; unique text scores zero") {
    import spark.implicits._
    val chrome = "copyright acme corp all rights reserved"
    val planted = Seq(
      (1L, s"$chrome unique alpha beta gamma delta content one"),
      (2L, s"$chrome other epsilon zeta eta theta content two"),
      (3L, s"$chrome third iota kappa lambda mu content three"),
      (4L, "entirely original words nothing shared here at all")
    ).toDF("doc_id", "text")
    graft.Memo.release(spark)
    val got = TextQueries.boilerplate(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.Memo.release(spark)
    // the chrome prefix contributes 3-gram shingles with df = 3; each
    // doc's unique tail has df = 1 — JVM recount per doc
    def sh(s: String): Set[Seq[String]] =
      s.split(" ").toSeq.sliding(3).toSet
    val docs = Map(1L -> s"$chrome unique alpha beta gamma delta content one",
      2L -> s"$chrome other epsilon zeta eta theta content two",
      3L -> s"$chrome third iota kappa lambda mu content three",
      4L -> "entirely original words nothing shared here at all")
    val all = docs.toSeq.flatMap { case (id, s) => sh(s).map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    docs.foreach { case (id, s) =>
      val mine = sh(s)
      val boiler = mine.count(g => all(g) >= 3)
      val (n, b, f) = got(id)
      assert(n === mine.size.toLong && b === boiler.toLong, s"doc $id")
      assert(f === boiler.toDouble / mine.size, s"doc $id frac")
    }
    assert(got(4L)._2 === 0L, "unique doc carries no boilerplate")
    assert(got(1L)._3 > 0.0, "chrome-bearing doc must score > 0")
  }

  test("t14: zipf slope/r2 match a JVM least-squares fit and slope is negative") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = TextQueries.t14ZipfFit(tables).collect()
    // JVM re-derivation: per-source token frequencies -> rank desc -> OLS
    val freqs = tables.documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("freq"))
      .as[(String, String, Long)].collect()
      .groupBy(_._1)
    assert(rows.length === freqs.size)
    rows.foreach { r =>
      val fs = freqs(r.getString(0))
        .map(t => (t._3, t._2)).sortBy { case (f, tok) => (-f, tok) }
      assert(r.getLong(1) === fs.length.toLong, "n_types = vocabulary size")
      val pts = fs.zipWithIndex.map { case ((f, _), i) =>
        (math.log((i + 1).toDouble), math.log(f.toDouble)) }
      val n = pts.length.toDouble
      val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val syy = pts.map(p => (p._2 - my) * (p._2 - my)).sum
      val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
      val slope = sxy / sxx
      assert(math.abs(r.getDouble(2) - slope) < 1e-5, s"slope ${r.getDouble(2)} vs $slope")
      assert(math.abs(r.getDouble(3) - (sxy * sxy) / (sxx * syy)) < 1e-5, "r2")
      assert(r.getDouble(2) < 0, "token frequency must decay with rank")
    }
  }

  test("t10: tf-idf keywords match hand-computed scores and ranks") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian")
    ).toDF("doc_id", "text")
    // N=3; idf(t) = ln(4/(df+1)) + 1: df(apple)=1, df(banana)=2,
    // df(cherry)=1, df(durian)=1
    val idf1 = math.log(2.0) + 1 // df = 1
    val idf2 = math.log(4.0 / 3) + 1 // df = 2
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val got = TextQueries.tfidfKeywords(docs, k = 3)
      .as[(Long, Int, String, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      (1L, 1, "apple", r6(2 * idf1)),
      (1L, 2, "banana", r6(idf2)),
      (2L, 1, "cherry", r6(idf1)),
      (2L, 2, "banana", r6(idf2)),
      (3L, 1, "durian", r6(3 * idf1))))
  }

  test("t11: readability counts and flesch match a hand-derived document") {
    import spark.implicits._
    val docs = Seq((1L, "Hello world. It is sunny!")).toDF("doc_id", "text")
    val r = TextQueries.readability(docs)
      .as[(Long, Int, Int, Int, Double)].collect().head
    // words: hello/world./it/is/sunny! = 5; sentence runs: "." "!" = 2;
    // vowel-group syllables: he-llo 2, world 1, it 1, is 1, su-nny+y 2 = 7
    assert(r._2 === 5 && r._3 === 2 && r._4 === 7)
    assert(r._5 === 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (7.0 / 5.0))
  }

  test("t06/t07/t10 share one persisted token frame (tokenize once per session)") {
    Memo.release(spark)
    val t = tables
    TextQueries.t06UnigramPpl(t).count() // materializes the shared frame
    val plan7 = TextQueries.t07TokenEntropy(t).queryExecution.executedPlan.toString
    val plan10 = TextQueries.t10TfidfKeywords(t).queryExecution.executedPlan.toString
    assert(plan7.contains("InMemoryTableScan"),
      s"t07 must read the shared token cache:\n$plan7")
    assert(plan10.contains("InMemoryTableScan"),
      s"t10 must read the shared token cache:\n$plan10")
    // one cache entry per (session, corpus) — not one per query
    assert(TextQueries.sharedTokens(t.documents) eq TextQueries.sharedTokens(t.documents))
    Memo.release(spark)
  }

  test("t10 plan: df table broadcast back to the term counts — no sort-merge join") {
    Memo.release(spark)
    val df = TextQueries.t10TfidfKeywords(tables)
    df.collect()
    val p = SparkTestSession.finalPlan(df)
    assert(p.contains("BroadcastExchange"),
      s"the vocab-sized df table (and the 1-row N) must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    Memo.release(spark)
  }

  test("t06/t09 perplexity DataFrames launch zero jobs at construction") {
    val t = tables
    t.documents.schema // relation creation (schema read) outside the probe
    val sc = spark.sparkContext
    sc.setJobGroup("tq-construct", "construction probe")
    val d1 = TextQueries.t06UnigramPpl(t)
    val d2 = TextQueries.t09BigramPpl(t)
    // marker action in a DIFFERENT group: the listener bus is ordered, so
    // once the marker job is visible, any construction-time job would be
    // visible too — no sleep-and-hope
    sc.setJobGroup("tq-marker", "construction probe marker")
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup("tq-marker").isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("tq-marker").nonEmpty,
      "marker job never observed")
    assert(sc.statusTracker.getJobIdsForGroup("tq-construct").isEmpty,
      "constructing t06/t09 must launch zero jobs")
    // the folded scalars still compute the same surface
    assert(d1.count() > 0 && d2.count() > 0)
  }

  test("t09: prefix counts ride a w1 window — the LM join-back is gone") {
    val t = tables
    val df = TextQueries.t09BigramPpl(t)
    val plan = df.queryExecution.optimizedPlan
    // the r16 shape: bigram counts → w1-partitioned window sum (c1) →
    // broadcast score join. The former lm2 ⋈ lm1 prefix join re-exchanged
    // the vocabulary-bounded LM twice; exactly TWO joins remain (the 1-row
    // vocab crossJoin + the corpus ⋈ broadcast LM scoring join)
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.length == 2,
      s"expected 2 joins (vocab cross + scoring), got ${joins.length}:\n$plan")
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty, s"the prefix count must be a window sum over w1:\n$plan")
    Memo.release(spark)
  }

  test("t19: encoding-noise counts match hand-planted damage") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean plain ascii text"),
      (2L, "quotes gone â€œwrongâ€ and cafÃ©"), // two 'â€' + one 'Ã'
      (3L, "bad\u0001byte\u0002run\ttab ok"),   // two C0 controls, tab exempt
      (4L, "lost�char"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = TextQueries.encodingNoise(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    val (_, rep1, ctl1, moj1, frac1, clean1) = got(1L)
    assert((rep1, ctl1, moj1, frac1, clean1) === ((0, 0, 0, 0.0, true)))
    val (n2, rep2, ctl2, moj2, frac2, clean2) = got(2L)
    assert((rep2, ctl2, moj2) === ((0, 0, 3)))
    assert(frac2 === 3.0 / n2 && !clean2)
    val (_, rep3, ctl3, moj3, _, clean3) = got(3L)
    assert((rep3, ctl3, moj3, clean3) === ((0, 2, 0, false)))
    val (n4, rep4, _, _, frac4, _) = got(4L)
    assert(rep4 === 1 && frac4 === 1.0 / n4)
    assert(got(5L) === ((0, 0, 0, 0, 0.0, true)), "empty doc: guarded division")
  }

  test("t20: novelty is 1 for the first doc, 0 for its copy, partial for a remix") {
    import spark.implicits._
    graft.Memo.release(spark)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 3 trigram shingles, all first
      (2L, "alpha beta gamma delta epsilon"), // exact copy: nothing novel
      // shares shingle "alpha beta gamma" with doc 1; adds 2 new ones
      (3L, "alpha beta gamma zeta eta")
    ).toDF("doc_id", "text")
    val got = TextQueries.noveltyScore(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.Memo.release(spark)
    assert(got(1L) === ((3L, 3L, 1.0)), "the first arrival is fully novel")
    assert(got(2L) === ((3L, 0L, 0.0)), "an exact copy adds nothing")
    assert(got(3L) === ((3L, 2L, 2.0 / 3.0)), "the remix adds only its new shingles")
  }

  test("t21: Gini separates uniform, concentrated and hand-computed distributions") {
    import spark.implicits._
    val docs = Seq(
      // uniform: every token once -> every (2i - V - 1) weight sums to 0
      (1L, "uni", "a b c d"),
      // concentrated: one token dominates
      (2L, "conc", "x x x x x x x x x y z"),
      // hand-computed: freqs {a:1, b:2, c:3} ascending -> V=3, T=6
      // num = (2*1-4)*1 + (2*2-4)*2 + (2*3-4)*3 = -2 + 0 + 6 = 4
      // gini = 4 / (3*6) = 2/9
      (3L, "hand", "c c c b b a")
    ).toDF("doc_id", "source", "text")
    val got = graft.operators.TextQueries.tokenGini(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.Memo.release(spark)
    assert(got("uni") === ((4L, 4L, 0.0)), "uniform mass has zero concentration")
    assert(got("hand") === ((3L, 6L, 4.0 / 18.0)), "hand-computed Gini")
    // conc: ascending (freq, token) order is (y,1),(z,1),(x,9) -> ranks
    // 1,2,3 (freq tie y/z broken by token); V=3, T=11,
    // num = (2-4)*1 + (4-4)*1 + (6-4)*9 = -2 + 0 + 18 = 16; gini = 16/33
    assert(got("conc") === ((3L, 11L, 16.0 / 33.0)), "dominant token concentrates mass")
    assert(got("conc")._3 > got("uni")._3, "concentration must rank above uniform")
  }

  test("t22: duplicate-trigram coverage matches hand-computed position sets") {
    import spark.implicits._
    val docs = Seq(
      // loop: trigrams abc,bca,cab,abc,bca,cab,abc — every position dup-covered
      (1L, "a b c a b c a b c"),
      // all-distinct: no repeated trigram
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      // partial: xyz repeats at gram positions 0 and 3 -> covered {0..5} of 10
      (3L, "x y z x y z q r s t"),
      // shorter than n: no trigrams at all
      (4L, "a b")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextQueries.dupNgramCoverage(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((9, 9, 1.0)), "a pure loop is fully covered")
    assert(got(2L) === ((9, 0, 0.0)), "distinct text has zero coverage")
    assert(got(3L) === ((10, 6, 0.6)), "one repeated phrase covers both spans")
    assert(got(4L) === ((2, 0, 0.0)), "docs shorter than n have no n-grams")
  }

  test("t23: language margin matches hand-computed hit counts") {
    import spark.implicits._
    val docs = Seq(
      // en hits: the, of, the = 3; de hits: 0 -> margin (3-0)/6
      (1L, "the house of cards the end"),
      // en: the(1), and(1) = 2; de: der(1), und(1) = 2 -> tie, guess en, margin 0
      (2L, "the der und and"),
      // no stopword hits anywhere -> und, margin 0
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextQueries.langMargin(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    assert(got(1L) === (("en", 3, 0, 6, 0.5)), "clean english has full margin")
    assert(got(2L) === (("en", 2, 2, 4, 0.0)), "a tie has zero margin (fixed tie order picks en)")
    assert(got(3L)._1 === "und", "no hits anywhere is unknown")
    assert(got(3L)._5 === 0.0)
  }

  test("t24: hapax profile matches hand-computed type-frequency counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c c c"), // tokens=6 types=3 hapax=1(b) dis=1(a); c has tf 3
      (2L, "x y"),         // all hapax
      (3L, "z z")          // one dis legomenon, zero hapax
    ).toDF("doc_id", "text")
    val got = TextQueries.hapaxProfile(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(1L) === ((6L, 3L, 1L, 1L, 1.0 / 3)))
    assert(got(2L) === ((2L, 2L, 2L, 0L, 1.0)))
    assert(got(3L) === ((2L, 1L, 0L, 1L, 0.0)))
    // corpus law on the real fixture: identities hold on every doc
    TextQueries.t24Hapax(tables).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "types <= tokens")
      assert(r.getLong(3) + r.getLong(4) <= r.getLong(2), "hapax + dis <= types")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("t25: code doc routes to code, prose to prose, with hand-checked counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "def main(args): return foo(x); class Bar { int myVar = snake_case(camelCase); }"),
      (2L, "the quiet river wound through the valley and the morning light settled on it")
    ).toDF("doc_id", "text")
    val got = TextQueries.codeScore(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // doc 1: chars in [{}()[];=<>] — main(args) 2, foo(x); 3, { 1, = 1,
    // snake_case(camelCase); 3, } 1 → 11 (':' is NOT in the class);
    // keywords: def, return, class, int = 4 (main(args): etc. are not
    // bare tokens); idents: myVar, snake_case, camelCase → 3
    assert(got(1L)._1 === 11L, "symbol count")
    assert(got(1L)._2 === 4L, "keyword count")
    assert(got(1L)._3 === 3L, "identifier count")
    assert(got(1L)._5, "code doc must flag")
    assert(got(2L)._1 === 0L && got(2L)._2 === 0L && got(2L)._3 === 0L)
    assert(!got(2L)._5, "prose must not flag")
  }

  test("t26: planted PII is counted per class and density-flagged") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@example.com or alice@test.org at 555-123-4567 from 10.0.0.1"),
      (2L, "no personal information lives in this perfectly ordinary sentence at all")
    ).toDF("doc_id", "text")
    val got = TextQueries.piiDensity(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got(1L)._1 === 2L && got(1L)._2 === 1L && got(1L)._3 === 1L)
    assert(got(1L)._5, "4 hits in ~70 chars is way past 1/kchar")
    assert(got(2L) === ((0L, 0L, 0L, 0.0, false)))
    // consistency with the p04 redactor on the real corpus: per-doc class
    // sums equal p04's n_redacted (same patterns by construction)
    val dens = TextQueries.t26PiiDensity(tables).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) + r.getLong(2) + r.getLong(3))).toMap
    graft.operators.DataPipeline.scrub(tables.documents).collect().foreach { r =>
      assert(dens(r.getLong(0)) === r.getInt(2).toLong,
        s"detector and redactor disagree on doc ${r.getLong(0)}")
    }
  }

  test("t28: blocklist gate — rate, breadth and phrase routes each block independently") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow slow slow words here and more ordinary filler text"), // rate route
      (2L, "slow null error appear once each in this long enough padded document body"), // breadth (3 distinct)
      (3L, "a perfectly clean sentence with a slow scan phrase inside"), // phrase route
      (4L, "one slow word in a long document " + ("filler " * 30).trim) // grazes: no block
    ).toDF("doc_id", "text")
    val got = TextQueries.blocklistGate(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(5)))).toMap
    assert(got(1L)._4 && got(1L)._1 === 3L, "high rate must block")
    assert(got(2L)._4 && got(2L)._2 === 3L, "lexicon breadth must block")
    assert(got(3L)._4 && got(3L)._3 === 1L, "phrase must block even at low token rate")
    assert(!got(4L)._4, "a single graze in a long doc passes")
  }

  test("t27: keyness matches a JVM contingency recount; planted keyword surfaces") {
    import spark.implicits._
    // srcA is saturated with 'zebra'; srcB with ordinary shared words.
    // 6+ occurrences clear the df >= 5 floor.
    val docs = Seq(
      (1L, "A", "zebra zebra zebra common words here"),
      (2L, "A", "zebra zebra zebra more common words"),
      (3L, "B", "common words here again and again"),
      (4L, "B", "more common words here too again")
    ).toDF("doc_id", "source", "text")
    Memo.release(spark)
    val got = TextQueries.chi2Keyness(docs, k = 3, minDf = 5).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    Memo.release(spark)
    val topA = got.filter(_._1 == "A").minBy(_._2)
    assert(topA._3 === "zebra", s"zebra must be source A's top keyword: ${got.toSeq}")
    assert(topA._4 === 6L)
    // JVM recount of zebra's cell: a=6, b=0, c=A-total-6, d=B-total
    val all = Seq("A" -> "zebra zebra zebra common words here",
      "A" -> "zebra zebra zebra more common words",
      "B" -> "common words here again and again",
      "B" -> "more common words here too again")
      .flatMap { case (s, t) => t.split(" ").map(s -> _) }
    val aTotal = all.count(_._1 == "A").toLong
    val bTotal = all.count(_._1 == "B").toLong
    val nTot = aTotal + bTotal
    val (a, b) = (6L, 0L); val c = aTotal - a; val d = bTotal
    val chi2 = nTot.toDouble * (a.toDouble * d - b.toDouble * c) * (a.toDouble * d - b.toDouble * c) /
      ((a + b).toDouble * (c + d).toDouble * (a + c).toDouble * (b + d).toDouble)
    assert(math.abs(topA._5 - chi2) < 1e-6, s"chi2 ${topA._5} vs JVM $chi2")
  }

  test("t29: burstiness equals a JVM brute force with zeros included; Poisson/clump poles behave") {
    import spark.implicits._
    // "fn" spreads one-per-doc (minimum VMR for its mass); "burst" puts
    // its whole mass in one doc (maximum clumping at equal frequency)
    val docs = Seq(
      (1L, "fn burst burst burst burst"),
      (2L, "fn pad"), (3L, "fn pad"), (4L, "fn pad")
    ).toDF("doc_id", "text")
    Memo.release(spark)
    val got = TextQueries.burstiness(docs, minDf = 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // JVM brute force over the padded per-doc count vectors (zeros real)
    def vmr(counts: Seq[Long]): Double = {
      val n = counts.length.toDouble
      val mean = counts.sum / n
      val varp = counts.map(c => (c - mean) * (c - mean)).sum / n
      varp / mean
    }
    assert(got("fn") === ((4L, 4L, vmr(Seq(1, 1, 1, 1)))))
    assert(got("burst") === ((1L, 4L, vmr(Seq(4, 0, 0, 0)))))
    // equal total mass (4 each): the clumped token must read far burstier
    assert(got("burst")._3 > got("fn")._3 + 2.0)
    Memo.release(spark)
    // real-fixture law: VMR ≥ the exact minimum (all-equal counts) and the
    // algebraic identity holds for every row
    val all = tables.documents.count().toDouble
    TextQueries.t29Burstiness(tables).collect().foreach { r =>
      val (df, s1, v) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(v >= 0.0)
      // minimum VMR for given (df, s1): mass spread as evenly as possible
      assert(s1 >= df && df <= all.toLong)
    }
  }

  test("t30: heaps fit matches a JVM least-squares; all-unique vs saturated poles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // src "uniq": every token fresh → types = tokens → β = 1 exactly.
    // src "temp": constant 2-type vocabulary at any length → β = 0.
    val docs = Seq(
      (1L, "uniq", "a1 a2 a3"), (2L, "uniq", "b1 b2 b3 b4 b5 b6"),
      (3L, "uniq", "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
      (4L, "temp", "x y"), (5L, "temp", "x y x y"),
      (6L, "temp", "x y x y x y x y")
    ).toDF("doc_id", "source", "text")
    Memo.release(spark)
    val got = TextQueries.heapsFit(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("uniq") === ((3L, 1.0, 1.0)), "all-unique shard must fit beta = 1 exactly")
    assert(got("temp")._2 === 0.0, "saturated-vocabulary shard must fit beta = 0")
    Memo.release(spark)
    // real fixture: JVM OLS re-derivation per source (the t14 pattern)
    val perDoc = tables.documents
      .select(col("source"), col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .as[(String, Long, Seq[String])].collect()
      .map { case (s, _, toks) => (s, math.log(toks.length.toDouble),
        math.log(toks.distinct.length.toDouble)) }
      .groupBy(_._1)
    TextQueries.t30HeapsFit(tables).collect().foreach { r =>
      val pts = perDoc(r.getString(0)).map(p => (p._2, p._3))
      val n = pts.length.toDouble
      val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
      assert(r.getLong(1) === pts.length.toLong)
      assert(math.abs(r.getDouble(2) - sxy / sxx) < 1e-5,
        s"${r.getString(0)}: beta ${r.getDouble(2)} vs JVM ${sxy / sxx}")
      assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1.0 + 1e-9,
        "vocabulary grows, sub-linearly or linearly at most")
    }
  }

  test("t32: planted cross-language copies surface; clean corpora stay silent") {
    import SparkTestSession.spark.implicits._
    val docs = Seq(
      (1L, "the same exact text", "en"),
      (2L, "the same exact text", "de"),   // conflict with 1
      (3L, "the same exact text", "en"),   // copy, same lang — no new label
      (4L, "unrelated text entirely", "en") // clean
    ).toDF("doc_id", "text", "lang")
    val got = graft.operators.TextQueries.langConflicts(docs).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)) ===
      ((3L, 2L, "de,en", 1L)))
    // the raw synthetic corpus has no conflicts — the audit stays empty
    assert(graft.operators.TextQueries.langConflicts(tables.documents).count() === 0L)
  }

  test("t33: MSTTR replays a JVM segment scan; repeats score below varied text") {
    import SparkTestSession.spark.implicits._
    val varied = (1 to 100).map(i => s"u$i").mkString(" ")       // TTR 1 per segment
    val loop = (1 to 100).map(i => s"r${i % 10}").mkString(" ") // 10 types per segment
    val short = "too few tokens here"                            // no full segment
    val docs = Seq((1L, varied), (2L, loop), (3L, short)).toDF("doc_id", "text")
    val got = graft.operators.TextQueries.msttr(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((2L, 1.0)), "all-distinct text scores 1")
    assert(got(2L) === ((2L, 0.2)), "10-type loop scores 10/50")
    assert(!got.contains(3L), "sub-segment docs drop")
    // corpus replay
    val corpus = graft.operators.TextQueries.msttr(tables.documents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val texts = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      val segs = toks.grouped(50).filter(_.length == 50).toSeq
      if (segs.isEmpty) assert(!corpus.contains(id), s"doc $id")
      else {
        val sumTypes = segs.map(_.distinct.length).sum
        val exp = BigDecimal(sumTypes.toDouble / (segs.length * 50))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(corpus(id) === ((segs.length.toLong, exp)), s"doc $id")
      }
    }
  }

  test("t31: deflate ratio separates boilerplate from varied text; dups ratio-equal") {
    import SparkTestSession.spark.implicits._
    val spam = ("lorem ipsum " * 200).trim
    val varied = (1 to 200).map(i => s"w${i * 7919 % 9973}x${i * 104729 % 999}").mkString(" ")
    val docs = Seq((1L, spam), (2L, varied), (3L, spam), (4L, "")).toDF("doc_id", "text")
    val got = graft.operators.TextQueries.compressRatio(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // byte exactness + JVM replay of the deflate length
    def deflateLen(s: String): Long = {
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    Seq(1L -> spam, 2L -> varied, 3L -> spam).foreach { case (id, s) =>
      val (nb, nd, _) = got(id)
      assert(nb === s.getBytes("UTF-8").length.toLong, s"doc $id bytes")
      assert(nd === deflateLen(s), s"doc $id deflate length")
    }
    assert(got(1L) === got(3L), "identical docs get identical signals")
    assert(got(1L)._3.get < got(2L)._3.get / 2,
      "repeated boilerplate compresses far below varied text")
    assert(got(4L)._3.isEmpty, "empty doc has a null ratio, not a division blow-up")
    // corpus sanity: every ratio positive and bounded
    val corpus = graft.operators.TextQueries.compressRatio(tables.documents).collect()
    assert(corpus.length.toLong === tables.documents.count())
    corpus.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 1.5, s"doc ${r.getLong(0)} ratio")
    }
  }

  test("q106: AUC matches hand-computed pair probability, ties half-credit") {
    import SparkTestSession.spark.implicits._
    val labeled = Seq(
      // source a: pos {0.9, 0.7} vs neg {0.8, 0.5} → U = 3 of 4 pairs
      ("a", true, 0.9), ("a", true, 0.7), ("a", false, 0.8), ("a", false, 0.5),
      // source b: one tied pair at 0.6 → exactly half credit
      ("b", true, 0.6), ("b", false, 0.6),
      // source c: perfect separation → AUC 1
      ("c", true, 0.9), ("c", true, 0.8), ("c", false, 0.1),
      // source d: all one class → filtered out
      ("d", true, 0.4)
    ).toDF("source", "pos", "s")
    val got = graft.operators.TextQueries.aucOf(labeled).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      "a" -> ((2L, 2L, 750000L)),
      "b" -> ((1L, 1L, 500000L)),
      "c" -> ((2L, 1L, 1000000L))))
  }

  test("t34: a welded pair out-ranks frequent-but-independent words") {
    import SparkTestSession.spark.implicits._
    // "new york" always adjacent (perfect collocation); "the" is the most
    // frequent token but pairs with everything; filler varies
    val docs = (1L to 6L).map(i =>
      (i, s"the new york office the f$i desk the new york the f$i room"))
      .toSeq.toDF("doc_id", "text")
    val got = graft.operators.TextQueries.collocations(docs, minCount = 5, topK = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val top = got.minBy(_._1)
    assert((top._2, top._3) === (("new", "york")), "the welded pair ranks first")
    assert(top._4 === 12L && top._5 === 12L && top._6 === 12L,
      "12 adjacent occurrences, both words exclusive to the pair")
    assert(top._7 === 1000000L, "perfect Dice in exact ppm")
    got.foreach { case (_, _, _, nab, na, nb, dice) =>
      assert(dice === 2L * nab * 1000000L / (na + nb), "ppm identity")
      assert(nab >= 5L, "minCount respected")
    }
    assert(got.map(_._1).sorted === (1 to got.size).toArray, "gapless ranks")
  }

  test("t35: transfer matrix replays the JVM smoothing algebra; self-score is best") {
    import SparkTestSession.spark.implicits._
    val docs = Seq(
      (1L, "a a a b", "sA"), (2L, "a b b a", "sA"),
      (3L, "c c d", "sB"), (4L, "d c c", "sB"),
      (5L, "a b c d", "sC")
    ).toDF("doc_id", "text", "source")
    graft.Memo.release(SparkTestSession.spark)
    val got = graft.operators.TextQueries.lmTransfer(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val counts = Map(
      "sA" -> Map("a" -> 5L, "b" -> 3L),
      "sB" -> Map("c" -> 4L, "d" -> 2L),
      "sC" -> Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L))
    val v = 4L
    for (m <- counts.keys; d <- counts.keys) {
      val nS = counts(m).values.sum
      val nT = counts(d).values.sum
      val nll = counts(d).map { case (w, cT) =>
        cT * (math.log(nS + v) - math.log(counts(m).getOrElse(w, 0L) + 1.0))
      }.sum / nT
      val (gn, gnll) = got((m, d))
      assert(gn === nT, s"$m->$d token count")
      assert(math.abs(gnll - nll) < 2e-6, s"$m->$d avg_nll replay")
    }
    for (s <- counts.keys) {
      val self = got((s, s))._2
      counts.keys.filter(_ != s).foreach { m =>
        assert(self <= got((m, s))._2,
          s"data $s: own model scores no worse than $m's")
      }
    }
  }

  test("t36: the coverage curve is monotone, saturates at 1, replays JVM counts") {
    import SparkTestSession.spark.implicits._
    // 8 'a', 4 'b', 2 'c', 1 'd', 1 'e' → total 16
    val docs = Seq((1L, "a a a a b b c d"), (2L, "a a a a b b c e"))
      .toDF("doc_id", "text")
    graft.Memo.release(SparkTestSession.spark)
    val got = graft.operators.TextQueries.coverageCurve(docs, Seq(1, 2, 3, 4, 8))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got(1) === ((1L, 8L, 16L, 500000L)), "top-1 = 'a' covers half")
    assert(got(2) === ((2L, 12L, 16L, 750000L)))
    assert(got(3) === ((3L, 14L, 16L, 875000L)))
    assert(got(4) === ((4L, 15L, 16L, 937500L)), "tie d<e: d enters at V=4")
    assert(got(8) === ((5L, 16L, 16L, 1000000L)), "full vocab saturates at 1")
    val cov = got.toSeq.sortBy(_._1).map(_._2._4)
    assert(cov.zip(cov.drop(1)).forall { case (a, b) => a <= b }, "monotone")
  }

  test("q107: calibration buckets conserve counts and keep exact ppm identities") {
    val docs = SparkTestSession.tables.documents
    val rows = graft.operators.TextQueries.calibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).sum === docs.count(), "every doc in exactly one bucket")
    rows.foreach { case (b, n, np, rate, gap) =>
      assert(b >= 0 && b <= 9)
      assert(np >= 0 && np <= n)
      assert(rate === np * 1000000L / n, "ppm identity")
      assert(gap === math.abs(rate - (b * 100000L + 50000L)), "midpoint gap identity")
    }
  }

  test("t40: script profile counts classes exactly and picks dominant deterministically") {
    import spark.implicits._
    val docs = Seq(
      // mixed: 5 latin + 6 cyrillic + 2 digits + 2 spaces -> cyrillic wins
      (1L, "hello привет 42", "en", "s0"),
      // tie: 3 latin vs 3 greek -> earlier class (latin) wins the tie
      (2L, "abcαβγ", "en", "s1"),
      // no scripted chars at all -> dominant 'none', purity 0
      (3L, "!!! ???", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextQueries.scriptProfile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val s0 = got("s0")
    assert(s0.getLong(1) === 15L, "n_chars counts codepoints")
    assert(s0.getLong(2) === 5L && s0.getLong(3) === 2L
      && s0.getLong(4) === 6L, "latin/digit/cyrillic exact")
    assert(s0.getLong(8) === 13L && s0.getString(9) === "cyrillic")
    assert(s0.getLong(10) === 6L * 1000000L / 13L, "floor ppm purity")
    assert(got("s1").getString(9) === "latin", "ties resolve to the earlier class")
    assert(got("s2").getString(9) === "none" && got("s2").getLong(10) === 0L)
  }

  test("t39: fertility aggregates the t01 primitives per language exactly") {
    import spark.implicits._
    // en: "hello world" -> 2 words, 2 bpeish, 11 chars
    //     "a1 b!"       -> 2 words, 4 bpeish (a,1,b,!), 5 chars
    // de: "zwei"        -> 1 word, 1 bpeish, 4 chars
    val docs = Seq(
      (1L, "hello world", "en", "s0"),
      (2L, "a1 b!", "en", "s0"),
      (3L, "zwei", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextQueries.fertility(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = got("en")
    assert(en.getLong(1) === 2L && en.getLong(2) === 4L && en.getLong(3) === 6L)
    assert(en.getDouble(4) === 6.0 / 4.0, "fertility = bpeish / words")
    assert(en.getDouble(5) === 16.0 / 6.0, "chars per token")
    val de = got("de")
    assert(de.getLong(2) === 1L && de.getDouble(4) === 1.0
      && de.getDouble(5) === 4.0)
  }

  test("t41: structural marker counts match a hand-counted markdown doc") {
    import spark.implicits._
    val md = "intro\n# Title\n\nsee http://x and https://y" +
      "\n- item one\n- item two\n|a|b|\n<b>x</b>"
    val docs = Seq((1L, md, "en", "s0")).toDF("doc_id", "text", "lang", "source")
    val r = TextQueries.structureProfile(docs).collect()
      .map(x => x.getString(0) -> x).toMap.apply("s0")
    val nc = md.length.toLong
    assert(r.getLong(1) === 1L && r.getLong(2) === nc)
    assert(r.getLong(3) === 2L, "links: http + https")
    assert(r.getLong(4) === 2L, "tags: <b> and </b>")
    assert(r.getLong(5) === 3L, "pipes in |a|b|")
    assert(r.getLong(6) === 1L, "one newline-heading")
    assert(r.getLong(7) === 2L, "two bullets")
    assert(r.getLong(8) === 1L, "one paragraph break")
    assert(r.getLong(9) === 2L * 1000000L / nc, "floor ppm density")
  }

  test("t41: overlapping paragraph candidates count non-overlapping (\\n\\n\\n is ONE)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\n\n\nb", "en", "s0"),   // one non-overlapping \n\n match
      (2L, "a\n\n\n\nb", "en", "s1")) // exactly two
      .toDF("doc_id", "text", "lang", "source")
    val got = TextQueries.structureProfile(docs).collect()
      .map(x => x.getString(0) -> x.getLong(8)).toMap
    assert(got("s0") === 1L)
    assert(got("s1") === 2L)
  }
}
